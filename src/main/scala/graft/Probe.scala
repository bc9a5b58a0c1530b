package graft

import org.apache.spark.sql.SparkSession

import java.io.PrintStream
import java.nio.file.{Files, Paths}

/** The measurement probe: one main, five modes, all timed by [[Harness]]
  * in the [[Bench]] session shape.
  *
  * {{{
  * sbt "runMain graft.Probe list"
  * sbt "runMain graft.Probe time    <qs|all> [dir] [reps]"
  * sbt "runMain graft.Probe trace   <qs> [dir]"
  * sbt "runMain graft.Probe ab      <qs|all> <arm> <arm> [arm...]"
  * sbt "runMain graft.Probe explain <qs|all> [dir] [outDir tag]"
  * }}}
  *
  *  - `list` prints every declared query name, sorted.
  *  - `time` runs `reps` rounds (default 3) over the queries, rounds
  *    outside and queries inside, printing each run's build / plan /
  *    execute split with its work counters, then the min-of-`reps` total.
  *  - `trace` runs each query twice (the second run is past codegen and
  *    warm-up) and prints every Spark job and completed stage it started.
  *  - `ab` times each query min-of-2 under each arm, the arms interleaved
  *    per query so host drift hits all of them alike. An arm is `k=v;k=v`
  *    of runtime session confs, or `-` for none; it runs over
  *    `SPARK_GRAFT_SF_DIR`. Context-level confs are set as `-Dspark.*` JVM properties,
  *    which the session reads at start.
  *  - `explain` prints each query's formatted physical plan, or writes it
  *    to `outDir/<query>_<tag>.txt`.
  *
  * `qs` is a comma-separated list of declared query names; `dir` defaults
  * to `SPARK_GRAFT_SF_DIR`. A failed run prints `FAIL` where its time
  * would be and counts in no total.
  */
object Probe {

  private val Usage =
    "usage: graft.Probe list | time <qs|all> [dir] [reps] | trace <qs> [dir]" +
      " | ab <qs|all> <arm> <arm> [arm...] | explain <qs|all> [dir] [outDir tag]"

  def main(args: Array[String]): Unit = {
    val out = System.out
    def dir = args.lift(2).getOrElse(envDir)
    args.toList match {
      case "list" :: Nil => list(out)
      case "time" :: qs :: rest if rest.size <= 2 =>
        val picks = names(qs)
        val reps = rest.lift(1).fold(3)(_.toInt)
        probe(dir, warmed = true)(time(_, out, picks, dir, reps))
      case "trace" :: qs :: rest if rest.size <= 1 =>
        val picks = names(qs)
        probe(dir, warmed = true)(s => picks.foreach(trace(s, out, _, dir)))
      case "ab" :: qs :: arms if arms.size >= 2 =>
        val picks = names(qs)
        val confs = arms.map(arm)
        val d = envDir
        probe(d, warmed = true)(ab(_, out, picks, d, confs))
      case "explain" :: qs :: rest if rest.size <= 1 || rest.size == 3 =>
        val picks = names(qs)
        val to = if (rest.size == 3) Some((rest(1), rest(2))) else None
        probe(dir, warmed = false)(explain(_, out, picks, dir, to))
      case _ =>
        System.err.println(Usage)
        sys.exit(2)
    }
  }

  private def envDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
    throw new IllegalArgumentException("no dir given and SPARK_GRAFT_SF_DIR is unset"))

  private def probe(dir: String, warmed: Boolean)(f: SparkSession => Unit): Unit = {
    val spark = Harness.session(dir)
    try {
      if (warmed) Harness.warm(spark, dir)
      f(spark)
    } finally spark.stop()
  }

  /** `all`, or the comma-separated names, each one a declared query. */
  private def names(qs: String): Seq[String] = {
    val known = SparkEntry.queries.keySet
    if (qs == "all") known.toSeq.sorted
    else {
      val want = qs.split(',').map(_.trim).toSeq
      val unknown = want.filterNot(known)
      require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
      want
    }
  }

  /** The runtime session confs of one `ab` arm: `k=v;k=v`, or `-`. */
  private[graft] def arm(spec: String): Map[String, String] =
    if (spec == "-") Map.empty
    else spec.split(';').map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => k.trim -> v.trim
        case _ => throw new IllegalArgumentException(s"arm entry '$kv' is not k=v")
      }
    }.toMap

  def list(out: PrintStream): Unit =
    SparkEntry.allQ.map(_.name).sorted.foreach(out.println)

  def time(spark: SparkSession, out: PrintStream, qs: Seq[String],
      dir: String, reps: Int): Unit = Harness.counting(spark) { c =>
    out.println("query,rep,build_s,plan_s,exec_s,total_s,jobs,stages,tasks,task_s,gc_s")
    val runs = for (rep <- 1 to reps; q <- qs) yield {
      c.reset()
      val r = Harness.run(spark, dir, q)
      c.settle()
      out.println(r.fold(e => s"$q,$rep,FAIL,${e.getClass.getSimpleName}", t =>
        f"$q,$rep,${t.build}%.3f,${t.plan}%.3f,${t.execute}%.3f,${t.total}%.3f," +
          f"${c.jobs},${c.stages},${c.tasks},${c.taskSeconds}%.2f,${c.gcSeconds}%.2f"))
      q -> r
    }
    out.println(s"== min-of-$reps total_s ==")
    qs.foreach { q =>
      val rs = runs.collect { case (`q`, r) => r }
      out.println(
        if (rs.exists(_.isLeft)) s"$q,FAIL"
        else f"$q,${rs.collect { case Right(t) => t.total }.min}%.3f")
    }
  }

  def trace(spark: SparkSession, out: PrintStream, q: String, dir: String): Unit =
    Harness.counting(spark) { c =>
      (1 to 2).foreach { rep =>
        c.reset()
        val r = Harness.run(spark, dir, q)
        c.settle()
        val total = r.fold(e => s"FAIL ${e.getClass.getSimpleName}",
          t => f"total=${t.total}%.2fs")
        out.println(s"== $q rep$rep $total jobs=${c.jobs} stages=${c.stages} ==")
        c.jobRows.foreach { j =>
          val d = j.desc.replaceAll("\\s+", " ").take(60)
          out.println(f"  job${j.id}%-4d ${j.seconds}%6.3fs stages=${j.stages}%-3d $d")
        }
        c.stageRows.foreach { s =>
          out.println(f"  stage${s.id}%-4d wall=${s.seconds}%6.3fs tasks=${s.tasks}%-3d " +
            f"taskrun=${s.taskSeconds}%6.2fs gc=${s.gcSeconds}%5.2fs  ${s.name}")
        }
      }
    }

  def ab(spark: SparkSession, out: PrintStream, qs: Seq[String], dir: String,
      arms: Seq[Map[String, String]]): Unit = Harness.counting(spark) { c =>
    val labels = arms.indices.map(i => ('a' + i).toChar.toString)
    labels.zip(arms).foreach { case (l, a) =>
      out.println(s"# $l: " +
        (if (a.isEmpty) "-" else a.map { case (k, v) => s"$k=$v" }.mkString(";")))
    }
    out.println(("query" +: (labels.map(_ + "_s") ++ labels.map(_ + "_jobs")))
      .mkString(","))
    val base = arms.flatMap(_.keys).distinct.map(k => k -> spark.conf.getOption(k))
    def under(a: Map[String, String], q: String): (Option[Double], Int) = {
      a.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        c.reset()
        val r = Harness.run(spark, dir, q)
        c.settle()
        (r.toOption.map(_.total), c.jobs)
      } finally base.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    val totals = Array.fill(arms.size)(0.0)
    qs.foreach { q =>
      val runs = for (_ <- 1 to 2; (a, i) <- arms.zipWithIndex) yield i -> under(a, q)
      val mins = arms.indices.map { i =>
        val ts = runs.collect { case (`i`, (t, _)) => t }
        if (ts.forall(_.isDefined)) Some(ts.flatten.min) else None
      }
      val jobs = arms.indices.map(i => runs.collectFirst { case (`i`, (_, j)) => j }.get)
      // a failed arm takes the query out of every total, so they compare
      if (mins.forall(_.isDefined)) mins.flatten.zipWithIndex.foreach {
        case (t, i) => totals(i) += t
      }
      out.println((q +: (mins.map(_.fold("FAIL")(t => f"$t%.2f")) ++
        jobs.map(_.toString))).mkString(","))
    }
    out.println(("TOTAL" +: (totals.map(t => f"$t%.2f").toSeq ++ arms.map(_ => "")))
      .mkString(","))
  }

  def explain(spark: SparkSession, out: PrintStream, qs: Seq[String],
      dir: String, to: Option[(String, String)]): Unit = {
    to.foreach { case (outDir, _) => Files.createDirectories(Paths.get(outDir)) }
    qs.foreach { q =>
      val text = Harness.planText(SparkEntry.queries(q)(spark, dir), 400)
      to match {
        case Some((outDir, tag)) =>
          val path = Paths.get(outDir, s"${q}_$tag.txt")
          Files.writeString(path, s"== $q ($tag, $dir) ==\n$text\n")
          out.println(s"wrote $path")
        case None =>
          out.println(s"== $q ==\n$text")
      }
    }
  }
}
