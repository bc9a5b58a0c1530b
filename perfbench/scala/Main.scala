package perfbench

import java.lang.management.ManagementFactory

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import scala.collection.mutable.ArrayBuffer

/** One benchmark run in one JVM: set up, run timed passes of a workload
  * for a fixed time, write every operation's record as JSON.
  *
  * Arguments (all `--key value`): workload, seed, seconds, trace (0|1),
  * cores, data (panel input dir), local (Spark scratch dir), outputs
  * (panel query outputs), out (result file).
  */
object Main {

  /** The analytic panel's queries and the tables they read. */
  val PanelQueries = Seq(
    "q_join_inner", "q_mod_histogram", "q_brand_affinity",
    "q_sessionize", "q_degree_stats", "q_calibration", "q_sql_window")
  val PanelTables = Seq(
    "nation", "customer", "supplier", "part", "orders", "lineitem", "events")

  /** Set-ups per run; `setup_s` is their median. The first runs on a
    * cold JVM, the others warm the JIT before timing.
    */
  val SetUps: Map[String, Int] = Map("mr_mod100" -> 7, "analytic_warm" -> 3)

  /** Untimed passes after the set-ups: the MapReduce loop's C2 code is
    * still settling after seven set-ups.
    */
  val WarmUps: Map[String, Int] = Map("mr_mod100" -> 6, "analytic_warm" -> 0)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val cores = opts("cores").toInt
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val data = opts("data")
    val spark = graft.BenchConf(SparkSession.builder().master(s"local[$cores]"), data)
      .config("spark.local.dir", opts("local"))
      .config("spark.sql.warehouse.dir", opts("local") + "/warehouse")
      .config("spark.hadoop.fs.file.impl", classOf[ConfinedFS].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionUpS = (System.currentTimeMillis() - jvmStart) / 1e3
    val meter = new Meter(spark.sparkContext, traced)
    val run = new Run(spark, meter, workload, opts("seed").toLong, seconds, traced, data, cores)
    val result = workload match {
      case "mr_mod100" => new Mod100(run).apply()
      case "analytic_warm" =>
        new Panel(run, PanelQueries, PanelTables, outDir = opts("outputs")).apply()
      case w => sys.error(s"unknown workload $w")
    }
    Json.write(opts("out"), result ++ Map(
      "cores" -> cores, "session_up_s" -> sessionUpS,
      "warmups" -> WarmUps(workload),
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions").toInt))
    spark.stop()
  }
}

/** State shared by a run's passes. */
final class Run(val spark: SparkSession, val meter: Meter, val workload: String,
    val seed: Long, val seconds: Double, val traced: Boolean, val data: String,
    val cores: Int) {
  private val cpu = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs: Long = cpu.getProcessCpuTime

  val ops = ArrayBuffer.empty[Map[String, Any]]

  /** Time `work` as operation `name` of pass `pass` (a negative pass is
    * a set-up's). The record gets the wall and CPU time of `work` and
    * the counters of every Spark job it started; after the timing,
    * `check` tells whether the result is right and adds fields. A throw
    * or a failed check marks the operation failed.
    */
  def op[A](pass: Int, name: String, counted: Boolean = true)(work: => A)(
      check: A => (Boolean, Map[String, Any])): Unit = {
    meter.drain()
    val before = meter.total.copy()
    val c0 = cpuNs
    val t0 = System.nanoTime()
    val res = scala.util.Try(work)
    val wall = (System.nanoTime() - t0) / 1e9
    val cpuS = (cpuNs - c0) / 1e9
    meter.enter(null)
    meter.drain()
    val d = meter.total - before
    val (ok, extra, err) = res.flatMap(r => scala.util.Try(check(r))) match {
      case scala.util.Success((ok, extra)) => (ok, extra, if (ok) "" else "check failed")
      case scala.util.Failure(e) => (false, Map.empty[String, Any], e.toString)
    }
    ops += Map[String, Any](
      "pass" -> pass, "op" -> name, "counted" -> counted, "ok" -> ok,
      "error" -> err, "wall_s" -> wall, "cpu_s" -> cpuS,
      "shuffle_mb" -> Run.mb(d.shuffleWrite), "scan_mb" -> Run.mb(d.scan)) ++ extra
  }

  /** Set up `SetUps(workload)` times, the i-th as pass -i; the wall time
    * of each.
    */
  def setUps(setUp: Int => Unit): Seq[Double] =
    (1 to Main.SetUps(workload)).map { i =>
      val t0 = System.nanoTime()
      setUp(-i)
      val s = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[perfbench] set-up $i: $s%.2f s")
      s
    }

  /** `WarmUps(workload)` untimed passes, numbered from 0, then timed
    * passes until `seconds` have elapsed; whole passes only.
    */
  def timed(pass: Int => Unit): Unit = {
    val w = Main.WarmUps(workload)
    (0 until w).foreach(pass)
    val t0 = System.nanoTime()
    var i = w
    while (i == w || (System.nanoTime() - t0) / 1e9 < seconds) {
      System.gc()
      pass(i)
      i += 1
    }
  }
}

object Run {
  def mb(bytes: Long): Double = bytes / 1048576.0

  /** Heap in use after full collections, in MB. The pauses let Spark's
    * cleaner drop the blocks of objects the previous collection freed.
    */
  def liveHeapMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    mb(ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }

  /** Spark work counters as JSON fields, prefixed. */
  def fields(prefix: String, c: Counters): Map[String, Any] = Map(
    s"${prefix}jobs" -> c.jobs, s"${prefix}stages" -> c.stages,
    s"${prefix}tasks" -> c.tasks, s"${prefix}task_s" -> c.taskMs / 1e3,
    s"${prefix}task_cpu_s" -> c.taskCpuNs / 1e9, s"${prefix}gc_s" -> c.gcMs / 1e3,
    s"${prefix}shuffle_write_mb" -> mb(c.shuffleWrite),
    s"${prefix}shuffle_read_mb" -> mb(c.shuffleRead),
    s"${prefix}spill_mb" -> mb(c.spill), s"${prefix}scan_mb" -> mb(c.scan),
    s"${prefix}write_mb" -> mb(c.written))
}

/** Writes maps, sequences and numbers as a JSON file. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def write(path: String, v: Any): Unit =
    mapper.writeValue(new java.io.File(path), v)
}
