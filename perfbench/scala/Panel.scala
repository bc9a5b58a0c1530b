package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable.ArrayBuffer

/** A fixed panel of declared queries, each run to the `noop` sink, timed
  * warm in one session.
  *
  * A set-up drops the program's artifacts and cached data, starts a new
  * session and runs a first pass in it, which pays the ingest re-layout
  * and the artifact builds; the timed passes run in the last set-up's
  * session, with the program's memos filled.
  */
final class Panel(run: Run, queries: Seq[String], tables: Seq[String],
    outDir: String) {

  private val data = run.data
  private val entry = graft.SparkEntry.queries
  private var session: SparkSession = run.spark

  /** The planned queries the session ran since the last `take`. */
  private object Plans extends QueryExecutionListener {
    private val seen = ArrayBuffer.empty[QueryExecution]
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      seen.synchronized(seen += qe)
    def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    def take(): Seq[QueryExecution] = seen.synchronized {
      val r = seen.toSeq
      seen.clear()
      r
    }
  }

  private def newSession(): Unit = {
    graft.ops.Artifacts.invalidate(data)
    run.spark.catalog.clearCache()
    session = run.spark.newSession()
    if (run.traced) session.listenerManager.register(Plans)
  }

  /** Nodes of the final physical plan, through adaptive stages. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case o => o +: o.children.flatMap(nodes)
  }

  private def shape(qes: Seq[QueryExecution]): Map[String, Any] = {
    val ns = qes.flatMap(qe => nodes(qe.executedPlan))
    def phaseMs(qe: QueryExecution, p: String) =
      qe.tracker.phases.get(p).map(_.durationMs).getOrElse(0L)
    Map(
      "plans.plan_s" -> qes.map(qe => phaseMs(qe, "optimization") + phaseMs(qe, "planning")).sum / 1e3,
      "plans.exchanges" -> ns.count(_.isInstanceOf[ShuffleExchangeLike]),
      "plans.sorts" -> ns.count(_.isInstanceOf[SortExec]),
      "plans.smj" -> ns.count(_.isInstanceOf[SortMergeJoinExec]),
      "plans.shj" -> ns.count(_.isInstanceOf[ShuffledHashJoinExec]),
      "plans.bhj" -> ns.count(_.isInstanceOf[BroadcastHashJoinExec]))
  }

  /** Resident cached data and the count of persisted RDDs. */
  private def resident(): Map[String, Any] = {
    val sc = run.spark.sparkContext
    val info = sc.getRDDStorageInfo
    Map(
      "artifacts.cached_mb" -> Run.mb(info.map(i => i.memSize + i.diskSize).sum),
      "artifacts.persistent_rdds" -> sc.getPersistentRDDs.size)
  }

  /** Load the panel's tables: the first load in a session re-lays them
    * out (the program's ingest step); later loads hit its memo.
    */
  private def ingest(pass: Int): Unit = {
    val span = s"tables#$pass"
    run.op(pass, "tables.ingest", counted = false) {
      run.meter.enter(span)
      tables.foreach(graft.Tables.load(session, data, _))
    } { _ =>
      (true, if (!run.traced) Map.empty else {
        val c = run.meter.of(span)
        Map("tables.ingest_write_mb" -> Run.mb(c.written), "tables.ingest_jobs" -> c.jobs)
      })
    }
  }

  private def query(pass: Int, q: String): Unit = {
    val span = s"$q#$pass"
    run.op(pass, q) {
      Plans.take()
      run.meter.enter(span + "/build")
      val t0 = System.nanoTime()
      val df = entry(q)(session, data)
      val t1 = System.nanoTime()
      run.meter.enter(span + "/exec")
      df.write.format("noop").mode("overwrite").save()
      ((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9)
    } { case (buildS, saveS) =>
      (true, if (!run.traced) Map.empty else {
        val build = run.meter.of(span + "/build")
        val plan = shape(Plans.take())
        val planS = plan("plans.plan_s").asInstanceOf[Double]
        Map("ops.build_s" -> buildS, "ops.build_jobs" -> build.jobs,
          "exec.execute_s" -> (saveS - planS)) ++ plan ++
          Run.fields("exec.", run.meter.of(span + "/exec")) ++
          Run.fields("build.", build) ++ resident()
      })
    }
  }

  def apply(): Map[String, Any] = {
    def pass(i: Int): Unit = {
      ingest(i)
      queries.foreach(query(i, _))
    }
    val setupS = run.setUps { i => newSession(); pass(i) }
    run.timed(pass)
    val heap = Run.liveHeapMb()
    // outputs for the oracle check: the timed session's own plans,
    // outside the timing
    val errors = queries.flatMap { q =>
      try {
        entry(q)(session, data).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$q")
        None
      } catch { case e: Throwable => Some(q -> e.toString) }
    }.toMap
    val oracle = graft.SparkEntry.oracleSql.filter { case (q, _) => queries.contains(q) }
    Json.write(s"$outDir/oracle_sql.json", oracle)
    Map("setup_s" -> setupS, "ops" -> run.ops, "heap_mb" -> heap,
      "queries" -> queries, "tables" -> tables, "output_errors" -> errors)
  }
}
