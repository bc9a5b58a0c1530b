package graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

/** The one measurement harness of the timing tools ([[Bench]], [[Probe]],
  * [[ScaleCheck]]): the bench session, its warm-up, the timed run, and a
  * listener that counts the work a run does.
  *
  * A timed run drops cached data and collects garbage OUTSIDE the timing,
  * then writes the query to the `noop` sink: every column of every row
  * computes (a bare `count()` lets Catalyst prune most of the plan) while
  * sink I/O stays out of the number.
  */
object Harness {

  /** Local cores of the bench session (`SPARK_GRAFT_CPUS`, default 32). */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** The [[BenchConf]] session at `local[cpus]`, sized for `dir`. */
  def session(dir: String): SparkSession = {
    val spark = BenchConf(SparkSession.builder().master(s"local[$cpus]"), dir)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Session start-up, codegen, and every table's footer read and ingest
    * re-layout (`Tables.load`), paid here so no timed run is charged for
    * them.
    */
  def warm(spark: SparkSession, dir: String): Unit = {
    spark.range(1000000).selectExpr("sum(id)").collect()
    Tables.all.foreach(t => Tables.load(spark, dir, t).count())
  }

  /** Wall seconds of one timed run. `build` makes the DataFrame, eager
    * artifact builds and checkpoints included; `plan` is the write's
    * optimization and physical planning as Spark's planning tracker
    * books them; `execute` is the rest of the write.
    */
  final case class Run(total: Double, build: Double, plan: Double) {
    def execute: Double = total - build - plan
  }

  /** One timed run of the declared query `q` over `dir`. */
  def run(spark: SparkSession, dir: String, q: String): Either[Throwable, Run] = {
    val fn = SparkEntry.queries(q)
    measure(spark, q)(fn(spark, dir))
  }

  /** One timed run of `build`: a failure, not a time, when it throws. Its
    * jobs are described `<label> build`, or `<label> execute` for the write,
    * whose planning runs inside it.
    */
  def measure(spark: SparkSession, label: String)(
      build: => DataFrame): Either[Throwable, Run] = {
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty("spark.job.description")
    spark.catalog.clearCache()
    System.gc()
    val writes = new ConcurrentLinkedQueue[QueryExecution]()
    // the noop write plans in a nested command execution of its own,
    // reported as "overwrite"; no build step writes that way
    val planned = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (f == "overwrite") writes.add(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(planned)
    val t0 = System.nanoTime()
    try {
      sc.setJobDescription(s"$label build")
      val df = build
      val t1 = System.nanoTime()
      sc.setJobDescription(s"$label execute")
      df.write.format("noop").mode("overwrite").save()
      val t2 = System.nanoTime()
      org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
      val planMs = writes.asScala.toSeq.flatMap { qe =>
        Seq("optimization", "planning").flatMap(qe.tracker.phases.get)
      }.map(_.durationMs).sum
      Right(Run((t2 - t0) / 1e9, (t1 - t0) / 1e9,
        math.min(planMs / 1e3, (t2 - t1) / 1e9)))
    } catch {
      case e: Throwable =>
        System.err.println(s"[harness] $label failed: $e")
        Left(e)
    } finally {
      sc.setJobDescription(outer)
      spark.listenerManager.unregister(planned)
    }
  }

  final case class JobRow(id: Int, seconds: Double, stages: Int, desc: String)

  final case class StageRow(id: Int, seconds: Double, tasks: Int,
      taskSeconds: Double, gcSeconds: Double, name: String)

  /** Counts the Spark jobs, stages, tasks, task-seconds and GC-seconds a
    * session runs, and keeps one row per job and per completed stage.
    * Listener events arrive asynchronously: read after [[settle]].
    */
  final class Counters private[Harness] (sc: SparkContext) extends SparkListener {
    private val started = TrieMap.empty[Int, (Long, Int, String)]
    private val ended = TrieMap.empty[Int, Long]
    private val done = TrieMap.empty[(Int, Int), StageRow]

    /** Deliver every pending event. */
    def settle(): Unit = org.apache.spark.graft.ListenerBus.drain(sc)

    /** Deliver pending events, then forget everything counted so far. */
    def reset(): Unit = {
      settle()
      started.clear(); ended.clear(); done.clear()
    }

    def jobs: Int = started.size
    def stages: Int = done.size
    def tasks: Int = done.values.map(_.tasks).sum
    def taskSeconds: Double = done.values.map(_.taskSeconds).sum
    def gcSeconds: Double = done.values.map(_.gcSeconds).sum

    def jobRows: Seq[JobRow] = started.toSeq.sortBy(_._1).map {
      case (id, (t0, st, desc)) =>
        JobRow(id, ended.get(id).fold(-1.0)(t => (t - t0) / 1e3), st, desc)
    }

    def stageRows: Seq[StageRow] = done.toSeq.sortBy(_._1).map(_._2)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val desc = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse("")
      started.put(e.jobId, (e.time, e.stageIds.size, desc))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      ended.put(e.jobId, e.time)

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val wall = (for (a <- i.completionTime; b <- i.submissionTime)
        yield (a - b) / 1e3).getOrElse(-1.0)
      val m = Option(i.taskMetrics)
      // the first line of the call-site details names the operator site
      val site = i.details.linesIterator.nextOption().getOrElse("")
      done.put((i.stageId, i.attemptNumber()), StageRow(i.stageId, wall,
        i.numTasks, m.fold(0.0)(_.executorRunTime / 1e3),
        m.fold(0.0)(_.jvmGCTime / 1e3), i.name.take(40) + " @ " + site.take(60)))
    }
  }

  /** `f` with [[Counters]] listening on the session; removed afterwards. */
  def counting[A](spark: SparkSession)(f: Counters => A): A = {
    val sc = spark.sparkContext
    val c = new Counters(sc)
    sc.addSparkListener(c)
    try f(c)
    finally sc.removeSparkListener(c)
  }

  /** The formatted physical plan, capped at `maxLines`: iterative queries
    * print every cache's nested build plan, and the evidence is in the
    * top operators and scans, which formatted mode prints first.
    */
  def planText(df: DataFrame, maxLines: Int): String = {
    val full = df.queryExecution.explainString(FormattedMode).trim
    val lines = full.linesIterator.toSeq
    if (lines.size <= maxLines) full
    else lines.take(maxLines).mkString("\n") +
      s"\n... [truncated: ${lines.size - maxLines} more lines " +
      "of nested cache build plans]"
  }
}
