package perfbench

import graft.core.{Clients, JobHandle, JobState, MapReduceClient, MapReduceJob, Stage}
import org.apache.spark.rdd.RDD

import scala.collection.mutable.ArrayBuffer

/** The reference's test1 workload: seeded ints, mod-100 histogram. */
object Mod100 {
  val Pairs = 600000
  val Slices = 8
  val Keys = 100

  /** The ints of input slice `i`: the same for Spark and for the check. */
  def ints(seed: Long, i: Int): Iterator[Int] = {
    val r = new java.util.SplittableRandom(seed * 1000003L + i)
    Iterator.fill(Pairs / Slices)(r.nextInt(Int.MaxValue))
  }

  /** The histogram counted in plain Scala, apart from the program. */
  def expected(seed: Long): Array[Long] = {
    val h = new Array[Long](Keys)
    for (i <- 0 until Slices; k <- ints(seed, i)) h(k % Keys) += 1
    h
  }

  /** A fold client: the ported ModHistogram counts values, so under
    * `startCombining` (one pre-summed value per key and task) it would
    * report task counts, not pair counts.
    */
  final class SumHistogram extends MapReduceClient[Int, Null, Int, Int, Int, Int] {
    def map(key: Int, value: Null): IterableOnce[(Int, Int)] =
      Iterator.single(math.floorMod(key, Keys) -> 1)
    def reduce(key: Int, values: Iterable[Int]): IterableOnce[(Int, Int)] =
      Iterator.single(key -> values.sum)
  }

  /** Stage never goes back; percentage never falls within a stage. */
  def monotone(states: Seq[JobState]): Boolean =
    states.zip(states.drop(1)).forall { case (a, b) =>
      a.stage.id < b.stage.id || (a.stage == b.stage && a.percentage <= b.percentage)
    }
}

final class Mod100(run: Run) {
  import Mod100._

  private val sc = run.spark.sparkContext
  private val seed = run.seed
  private val want = expected(seed)

  /** A `JobHandle.state` poller running until the job is done. */
  private final class Poller(h: JobHandle[Int, Int]) extends Thread("state-poller") {
    val states = ArrayBuffer.empty[JobState]
    val latencyNs = ArrayBuffer.empty[Long]
    setDaemon(true)
    override def run(): Unit =
      while (!h.isDone) {
        val t0 = System.nanoTime()
        val s = h.state
        latencyNs += System.nanoTime() - t0
        states += s
        Thread.sleep(2)
      }
  }

  private def call(pass: Int, path: String, input: RDD[(Int, Null)]): Unit =
    run.op(pass, path) {
      val h = path match {
        case "hash" => MapReduceJob.start(run.spark, input, new Clients.ModHistogram(Keys), run.cores)
        case "combine" => MapReduceJob.startCombining(run.spark, input, new SumHistogram,
          (a: Int, b: Int) => a + b, run.cores)
        case "order" => MapReduceJob.startOrderingOnly(run.spark, input,
          new Clients.ModHistogram(Keys), run.cores)
      }
      val poller = new Poller(h)
      poller.start()
      val out = h.waitForJob()
      poller.join()
      (h, poller, out)
    } { case (h, poller, out) =>
      val states = poller.states.toSeq :+ h.state
      val got = new Array[Long](Keys)
      var keysOk = out.length == Keys
      out.foreach { case (k, n) =>
        if (k >= 0 && k < Keys) got(k) += n else keysOk = false
      }
      val ok = keysOk && got.sum == Pairs && got.sameElements(want) &&
        monotone(states) && states.last == JobState(Stage.Done, 100f)
      val lat = poller.latencyNs.sorted
      (ok, if (!run.traced) Map.empty else
        Run.fields("core.", run.meter.of(h.groupId)) ++ Map(
          "core.state_polls" -> states.size,
          "core.state_poll_ms" -> (if (lat.isEmpty) 0.0 else lat(lat.size / 2) / 1e6)))
    }

  /** A fresh input: the seeded pairs generated inside Spark, cached. */
  private def input(): RDD[(Int, Null)] = {
    val seed = this.seed
    val rdd = sc.parallelize(0 until Slices, Slices)
      .flatMap(i => ints(seed, i).map(k => (k, null: Null)))
      .setName("mod100-input")
      .cache()
    rdd.count()
    rdd
  }

  def apply(): Map[String, Any] = {
    var in: RDD[(Int, Null)] = null
    def pass(i: Int): Unit = Seq("hash", "combine", "order").foreach(call(i, _, in))
    // a set-up: the input generated and cached anew, then a first pass
    val setupS = run.setUps { i =>
      if (in != null) in.unpersist(blocking = true)
      in = input()
      pass(i)
    }
    run.timed(pass)
    Map("setup_s" -> setupS, "ops" -> run.ops,
      "heap_mb" -> Run.liveHeapMb(), "pairs" -> Pairs)
  }
}
