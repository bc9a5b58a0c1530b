package graft

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

/** The probe modes and the harness under them, driven on the suite
  * session over sf0.001 with one cheap query: each mode's output lines
  * keep the shape the probe documents.
  */
class ProbeSpec extends SparkSpec {

  private val q = "q_groupby_sum"

  private def lines(f: PrintStream => Unit): Seq[String] = {
    val buf = new ByteArrayOutputStream
    f(new PrintStream(buf, true, UTF_8))
    new String(buf.toByteArray, UTF_8).linesIterator.toSeq
  }

  private def messages(e: Throwable): Seq[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.toString).toSeq

  test("list prints every declared query name, sorted") {
    assert(lines(Probe.list) === SparkEntry.allQ.map(_.name).sorted)
  }

  test("time prints a split-and-counters row per run, then min-of-N per query") {
    val ls = lines(Probe.time(spark, _, Seq(q), sfDir, 2))
    assert(ls.head === "query,rep,build_s,plan_s,exec_s,total_s,jobs,stages,tasks,task_s,gc_s")
    val Run = ("""q_groupby_sum,(\d),(\d+\.\d{3}),(\d+\.\d{3}),(-?\d+\.\d{3}),""" +
      """(\d+\.\d{3}),(\d+),(\d+),(\d+),\d+\.\d{2},\d+\.\d{2}""").r
    val reps = ls.slice(1, 3).map {
      case Run(rep, build, plan, exec, total, jobs, stages, tasks) =>
        assert(math.abs(build.toDouble + plan.toDouble + exec.toDouble -
          total.toDouble) < 0.005)
        assert(jobs.toInt >= 1 && stages.toInt >= 1 && tasks.toInt >= stages.toInt)
        rep.toInt
      case l => fail(s"not a run row: $l")
    }
    assert(reps === Seq(1, 2))
    assert(ls(3) === "== min-of-2 total_s ==")
    assert(ls(4).matches("""q_groupby_sum,\d+\.\d{3}"""))
    assert(ls.size === 5)
  }

  test("trace prints two runs, each followed by its job and stage rows") {
    val ls = lines(Probe.trace(spark, _, q, sfDir))
    val Head = """== q_groupby_sum rep(\d) total=\d+\.\d{2}s jobs=(\d+) stages=(\d+) ==""".r
    // every job names the span it ran in
    val Job = """  job\d+ +-?\d+\.\d{3}s stages=\d+ +q_groupby_sum (build|execute)"""
    val Stage = """  stage\d+ +wall= *-?\d+\.\d{3}s tasks=\d+ +taskrun= *\d+\.\d{2}s gc= *\d+\.\d{2}s  .*"""
    var at = 0
    for (rep <- 1 to 2) {
      val (jobs, stages) = ls(at) match {
        case Head(r, j, s) => assert(r.toInt === rep); (j.toInt, s.toInt)
        case l => fail(s"not a run header: $l")
      }
      assert(jobs >= 1 && stages >= 1)
      assert(ls.slice(at + 1, at + 1 + jobs).forall(_.matches(Job)))
      assert(ls.slice(at + 1 + jobs, at + 1 + jobs + stages).forall(_.matches(Stage)))
      at += 1 + jobs + stages
    }
    assert(at === ls.size)
  }

  test("ab prints one row per query under interleaved arms and restores the confs") {
    val key = "spark.sql.adaptive.enabled"
    val before = spark.conf.getOption(key)
    val ls = lines(Probe.ab(spark, _, Seq(q), sfDir,
      Seq(Probe.arm("-"), Probe.arm(s"$key=false"))))
    assert(ls.take(3) === Seq("# a: -", s"# b: $key=false", "query,a_s,b_s,a_jobs,b_jobs"))
    assert(ls(3).matches("""q_groupby_sum,\d+\.\d{2},\d+\.\d{2},\d+,\d+"""))
    assert(ls(4).matches("""TOTAL,\d+\.\d{2},\d+\.\d{2},,"""))
    assert(ls.size === 5)
    assert(spark.conf.getOption(key) === before)
  }

  test("ab marks a failing arm FAIL and keeps the query out of TOTAL") {
    val ls = lines(Probe.ab(spark, _, Seq(q), sfDir,
      Seq(Probe.arm("-"), Probe.arm("spark.sql.files.maxPartitionBytes=0"))))
    assert(ls(3).matches("""q_groupby_sum,\d+\.\d{2},FAIL,\d+,\d+"""))
    assert(ls(4) === "TOTAL,0.00,0.00,,")
  }

  test("explain prints a formatted plan, or writes one file per query") {
    val printed = lines(Probe.explain(spark, _, Seq(q), sfDir, None))
    assert(printed.take(2) === Seq(s"== $q ==", "== Physical Plan =="))
    val dir = java.nio.file.Paths.get(tempDir("probe-explain"))
    val file = dir.resolve(s"${q}_t.txt")
    assert(lines(Probe.explain(spark, _, Seq(q), sfDir, Some((dir.toString, "t")))) ===
      Seq(s"wrote $file"))
    assert(Files.readString(file).startsWith(s"== $q (t, $sfDir) ==\n== Physical Plan ==\n"))
  }

  test("Harness.measure returns a failure, not a time, when the query throws") {
    val atRun = Harness.measure(spark, "raise")(
      spark.range(1).selectExpr("raise_error('probe boom')"))
    assert(atRun.left.toOption.exists(messages(_).exists(_.contains("probe boom"))))
    val atBuild = Harness.measure(spark, "build")(
      throw new IllegalStateException("no frame"))
    assert(atBuild.left.toOption.map(_.getMessage) === Some("no frame"))
  }

  test("sizeDerivedPartitions warns once on stderr and returns 1 for a missing dir") {
    val missing = s"${tempDir("probe-size")}/absent"
    val buf = new ByteArrayOutputStream
    val err = System.err
    System.setErr(new PrintStream(buf, true, UTF_8))
    val parts = try BenchConf.sizeDerivedPartitions(missing) finally System.setErr(err)
    assert(parts === 1)
    val warned = new String(buf.toByteArray, UTF_8).linesIterator
      .filter(_.contains(missing)).toSeq
    assert(warned.size === 1 && warned.head.contains("NoSuchFileException"))
  }
}
