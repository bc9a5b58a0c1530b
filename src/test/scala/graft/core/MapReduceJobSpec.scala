package graft.core

import graft.SparkSpec

/** Parity suite for the typed MapReduce runtime (SURVEY §7.6):
  * reference test1/test4 semantics, the SampleClient workload, the
  * ordering-only grouping contract, multi-job isolation, and progress
  * monotonicity.
  */
class MapReduceJobSpec extends SparkSpec {

  private def sc = spark.sparkContext

  // ── SampleClient char-count (A13) on the reference's own input ───────
  private val sampleStrings = Seq(
    "This string is full of characters",
    "Multithreading is awesome",
    "race conditions are bad")

  private def expectedCharCounts(ss: Seq[String]): Map[Char, Int] =
    ss.flatten.groupBy(identity).view.mapValues(_.size).toMap

  test("charcount matches in-memory expected (hash path)") {
    val input = sc.parallelize(sampleStrings.map(s => (null: Null, s)), 3)
    val out = MapReduceJob.start(spark, input, new Clients.CharCount, 4).waitForJob()
    assert(out.toMap === expectedCharCounts(sampleStrings))
  }

  test("charcount matches via combining path (map-side combine)") {
    val input = sc.parallelize(sampleStrings.map(s => (null: Null, s)), 3)
    val out = MapReduceJob
      .startCombining(spark, input, new Clients.CharCount, (a: Int, b: Int) => a + b, 4)
      .waitForJob()
    assert(out.toMap === expectedCharCounts(sampleStrings))
  }

  // ── test1 semantics (A14): 100k seeded ints, mod-100 histogram ───────
  // Golden .txt values embed glibc rand()'s stream (FIXTURES.md §1.1), so
  // expected counts are recomputed from the same generated ints.
  test("mod-100 histogram: seeded 100k ints, mass conservation") {
    val rnd = new scala.util.Random(0)
    val ints = Array.fill(100000)(rnd.nextInt(Int.MaxValue))
    val expected = ints.groupBy(math.floorMod(_, 100)).view.mapValues(_.length).toMap
    val input = sc.parallelize(ints.toIndexedSeq.map(i => (i, null: Null)), 8)
    val out = MapReduceJob.start(spark, input, new Clients.ModHistogram(), 4).waitForJob()
    assert(out.length === 100)
    assert(out.map(_._2).sum === 100000, "histogram mass must equal input size")
    assert(out.toMap === expected)
  }

  // ── ordering-only keys (SURVEY §7.4-1) ───────────────────────────────
  // Key type with a lawful Ordering but identity hashCode: the hash path
  // would scatter equal keys; the parity path must group them correctly
  // using only !(a<b) && !(b<a) — `JobContext.cpp:102-104`.
  test("ordering-only path groups keys with no usable hashCode/equals") {
    import MapReduceJobSpec._
    val input = sc.parallelize((0 until 1000).map(i => (i, null: Null)), 8)
    val out = MapReduceJob.startOrderingOnly(spark, input, new OKeyClient, 4).waitForJob()
    assert(out.toMap === (0 until 10).map(k => k -> 100).toMap)
  }

  test("ordering-only path starts 2 Spark jobs: the range sample and the run") {
    import MapReduceJobSpec._
    val input = sc.parallelize((0 until 1000).map(i => (i, null: Null)), 8)
    val handle = MapReduceJob.startOrderingOnly(spark, input, new OKeyClient, 4)
    handle.waitForJob()
    org.apache.spark.graft.ListenerBus.drain(sc)
    assert(sc.statusTracker.getJobIdsForGroup(handle.groupId).length === 2)
  }

  test("ordering-only path on empty input") {
    import MapReduceJobSpec._
    val input = sc.parallelize(Seq.empty[(Int, Null)], 2)
    assert(MapReduceJob.startOrderingOnly(spark, input, new IdClient, 4).waitForJob().isEmpty)
  }

  // ── test4 semantics (A12): concurrent independent jobs ───────────────
  test("four concurrent jobs are isolated (test4 analog)") {
    val handles = (0 until 4).map { seed =>
      val rnd = new scala.util.Random(seed)
      val ints = IndexedSeq.fill(20000)(rnd.nextInt(Int.MaxValue))
      val input = sc.parallelize(ints.map(i => (i, null: Null)), 4)
      val expected = ints.groupBy(math.floorMod(_, 100)).view.mapValues(_.length).toMap
      (MapReduceJob.start(spark, input, new Clients.ModHistogram(), 4), expected)
    }
    handles.foreach { case (h, expected) =>
      assert(h.waitForJob().toMap === expected)
    }
  }

  // ── distributed sink path (the 100-TB shape: no driver collect) ──────
  test("plan() writes results to a distributed sink and matches q_charcount") {
    import spark.implicits._
    val docs = graft.Tables.load(spark, sfPath("0.001"), "documents")
      .select("text").collect().map(r => (null: Null, r.getString(0))).toIndexedSeq
    val input = sc.parallelize(docs, 4)
    val out = java.nio.file.Files.createTempDirectory("mr-sink").toString
    MapReduceJob.plan(input, new Clients.CharCount, 4)
      .map { case (c, n) => (c.toString, n) } // Char has no Spark encoder
      .toDF("ch", "cnt")
      .write.mode("overwrite").parquet(s"$out/chars")
    val fromSink = spark.read.parquet(s"$out/chars")
      .groupBy("ch").agg(org.apache.spark.sql.functions.sum("cnt").as("cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val fromQuery = graft.SparkEntry.queries("q_charcount")(spark, sfPath("0.001"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(fromSink === fromQuery)
  }

  // ── cancellation (the reference's Q5 destructor-cancel, done safely) ─
  test("cancel() stops a running job; waitForJob surfaces the cancellation") {
    import MapReduceJobSpec._
    val input = sc.parallelize((0 until 2000).map(i => (i, null: Null)), 8)
    val h = MapReduceJob.start(spark, input, new SlowClient, 4)
    while (h.state.stage == Stage.Undefined) Thread.sleep(10) // let it start
    h.cancel()
    val thrown = intercept[Exception](h.waitForJob())
    assert(thrown.getMessage.toLowerCase.contains("cancel"),
      s"expected a cancellation error, got: ${thrown.getMessage}")
  }

  // ── live shuffle % (reference `JobContext.cpp:109-112` analog) ───────
  // Shuffle % = records fetched / records written, fed by executor
  // heartbeats (100ms in SparkSpec) while the single reduce task drains
  // its fetch iterator. SlowHashKey's deliberately expensive hashCode
  // stretches the drain past several heartbeats so the poller must see
  // an intermediate percentage — the flatline the reference never had.
  test("shuffle stage reports a live percentage strictly between 0 and 100") {
    import MapReduceJobSpec._
    val input = sc.parallelize((0 until 40000).map(i => (i, null: Null)), 8)
    val h = MapReduceJob.start(spark, input, new SlowHashClient, 1)
    val shufflePcts = scala.collection.mutable.ArrayBuffer.empty[Float]
    while (!h.isDone) {
      val st = h.state
      if (st.stage == Stage.Shuffle) shufflePcts += st.percentage
      Thread.sleep(5)
    }
    val out = h.waitForJob()
    assert(out.toMap === (0 until 10).map(k => k -> 4000).toMap)
    assert(shufflePcts.exists(p => p > 0f && p < 100f),
      s"expected a live shuffle percentage, saw only: ${shufflePcts.distinct}")
    assert(shufflePcts.toSeq === shufflePcts.toSeq.sorted,
      s"shuffle percentage must be monotone: $shufflePcts")
  }

  // ── progress monotonicity (SampleClient polling analog, SURVEY §5) ───
  test("job state advances monotonically to Done/100%") {
    import MapReduceJobSpec._
    val input = sc.parallelize((0 until 400).map(i => (i, null: Null)), 8)
    val h = MapReduceJob.start(spark, input, new SlowClient, 4)
    var seen = List.empty[JobState]
    while (!h.isDone) {
      seen ::= h.state
      Thread.sleep(10)
    }
    val out = h.waitForJob()
    assert(h.state === JobState(Stage.Done, 100f))
    assert(out.toMap === (0 until 10).map(k => k -> 40).toMap)
    val stagesSeen = seen.reverse.map(_.stage.id)
    assert(stagesSeen === stagesSeen.sorted, s"stages must only advance: $stagesSeen")
    // percentage monotone within each stage
    seen.reverse.groupBy(_.stage).foreach { case (_, states) =>
      val ps = states.map(_.percentage)
      assert(ps === ps.sorted, s"percentage must be monotone: $ps")
    }
  }
}

/** Serializable fixtures — top-level so closures never capture the suite. */
object MapReduceJobSpec {

  /** Key with a lawful Ordering but identity equals/hashCode. */
  final class OKey(val v: Int) extends Serializable
  object OKey {
    implicit val ord: Ordering[OKey] = Ordering.by(_.v)
  }

  final class OKeyClient extends MapReduceClient[Int, Null, OKey, Int, Int, Int] {
    def map(k: Int, v: Null): IterableOnce[(OKey, Int)] =
      Iterator.single(new OKey(math.floorMod(k, 10)) -> 1)
    def reduce(key: OKey, values: Iterable[Int]): IterableOnce[(Int, Int)] =
      Iterator.single(key.v -> values.size)
  }

  final class IdClient extends MapReduceClient[Int, Null, Int, Int, Int, Int] {
    def map(k: Int, v: Null): IterableOnce[(Int, Int)] = Iterator.single(k -> 1)
    def reduce(key: Int, values: Iterable[Int]): IterableOnce[(Int, Int)] =
      Iterator.single(key -> values.size)
  }

  /** Key whose hashCode burns ~15µs of CPU: hashing happens once per
    * record on the shuffle WRITE side (partitioner) and again per record
    * on the READ side (group-map insert), stretching the fetch/drain
    * phase to observable length without touching any Spark internals.
    */
  final class SlowHashKey(val v: Int) extends Serializable {
    override def hashCode: Int = { SlowHashKey.burn(); v }
    override def equals(o: Any): Boolean = o match {
      case k: SlowHashKey => k.v == v
      case _              => false
    }
  }
  object SlowHashKey {
    @volatile var sink: Long = 0L
    def burn(): Unit = {
      // LCG chain: data-dependent, so the JIT cannot fold the loop away
      var acc = sink | 1L
      var i = 0
      while (i < 30000) {
        acc = acc * 6364136223846793005L + 1442695040888963407L + i
        i += 1
      }
      sink = acc
    }
  }

  final class SlowHashClient extends MapReduceClient[Int, Null, SlowHashKey, Int, Int, Int] {
    def map(k: Int, v: Null): IterableOnce[(SlowHashKey, Int)] =
      Iterator.single(new SlowHashKey(math.floorMod(k, 10)) -> 1)
    def reduce(key: SlowHashKey, values: Iterable[Int]): IterableOnce[(Int, Int)] =
      Iterator.single(key.v -> values.size)
  }

  final class SlowClient extends MapReduceClient[Int, Null, Int, Int, Int, Int] {
    def map(k: Int, v: Null): IterableOnce[(Int, Int)] = {
      Thread.sleep(5)
      Iterator.single(math.floorMod(k, 10) -> 1)
    }
    def reduce(key: Int, values: Iterable[Int]): IterableOnce[(Int, Int)] = {
      Thread.sleep(20)
      Iterator.single(key -> values.size)
    }
  }
}
