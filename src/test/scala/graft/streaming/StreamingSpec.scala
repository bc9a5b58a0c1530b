package graft.streaming

import graft.{SparkEntry, SparkSpec, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import java.nio.file.Files

/** Streaming behaviors the DuckDB oracle cannot check (FIXTURES.md §3):
  * file-source replay with Trigger.AvailableNow, batch-twin agreement,
  * watermark late-data handling, in-stream dedup, custom state.
  */
class StreamingSpec extends SparkSpec {

  /** sf0.001 events split into per-day parquet batch files. */
  private lazy val batchDir: String = {
    val dir = tempDir("graft-stream")
    val ev = Tables.load(spark, sfDir, "events")
    ev.withColumn("day", dayofmonth(col("ts")))
      .repartition(col("day"))
      .write.partitionBy("day").mode("overwrite").parquet(s"$dir/staging")
    // flatten partition dirs into sequential batch files (arrival order)
    val staged = new java.io.File(s"$dir/staging")
    val out = new java.io.File(s"$dir/in"); out.mkdirs()
    val t0 = System.currentTimeMillis() - 3600 * 1000
    staged.listFiles().filter(_.getName.startsWith("day="))
      .sortBy(_.getName.stripPrefix("day=").toInt).zipWithIndex // numeric: day=2 < day=10
      .foreach { case (d, i) =>
        d.listFiles().filter(_.getName.endsWith(".parquet")).zipWithIndex.foreach {
          case (f, j) =>
            val dst = new java.io.File(out, f"batch$i%03d-$j.parquet")
            Files.copy(f.toPath, dst.toPath)
            // the file source orders by modification time; same-instant
            // copies would tie and replay out of event-time order
            dst.setLastModified(t0 + i * 1000L + j)
        }
      }
    s"$dir/in"
  }

  private def batchEvents: DataFrame = Tables.load(spark, sfDir, "events")

  test("streaming tumbling window agrees with its batch twin (and the oracle'd query)") {
    val streamed = StreamingOps.runToMemory(
      StreamingOps.tumbling(StreamingOps.readEventStream(spark, batchDir)),
      "t_tumble", OutputMode.Complete())
      .orderBy("ws", "event_type").collect()
    val batch = SparkEntry.queries("q_tumbling_window")(spark, sfDir).collect()
    assert(streamed.map(_.toSeq).toSeq === batch.map(_.toSeq).toSeq)
  }

  test("streaming sliding window agrees with its batch twin") {
    val streamed = StreamingOps.runToMemory(
      StreamingOps.sliding(StreamingOps.readEventStream(spark, batchDir)),
      "t_slide", OutputMode.Complete())
      .orderBy("ws", "event_type").collect()
    val batch = StreamingOps.sliding(batchEvents)
      .orderBy("ws", "event_type").collect()
    assert(streamed.map(_.toSeq).toSeq === batch.map(_.toSeq).toSeq)
  }

  test("session_window agrees between streaming, batch, and the lag+cumsum formulation") {
    val streamed = StreamingOps.runToMemory(
      StreamingOps.sessionWindows(StreamingOps.readEventStream(spark, batchDir)),
      "t_sess", OutputMode.Complete())
      .orderBy("user_id", "sess_start").collect()
    val batch = StreamingOps.sessionWindows(batchEvents)
      .orderBy("user_id", "sess_start").collect()
    assert(streamed.map(_.toSeq).toSeq === batch.map(_.toSeq).toSeq)

    // cross-formulation: q_sessionize (lag + cumulative sum) must carve
    // the same sessions: compare (user, start, n_events) triples.
    // session_window's `end` is last_ts + gap, q_sessionize's is last ts —
    // compare starts and sizes, the invariant part.
    val viaWindow = batch.map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(3))).toSeq
    val viaLag = SparkEntry.queries("q_sessionize")(spark, sfDir)
      .orderBy("user_id", "sess_start")
      .collect().map(r => (r.getLong(0),
        r.getTimestamp(r.fieldIndex("sess_start")), r.getLong(r.fieldIndex("n_events")))).toSeq
    assert(viaWindow === viaLag)
  }

  test("drained session state finishes to batch q_sessionize AND " +
      "q_session_stats exactly") {
    // r9 verdict item 7: the session family's drained-Complete twin.
    // Precondition that makes the gap-boundary semantics coincide: the
    // built-in session_window opens a new session at gap ≥ 30 min, the
    // batch lag+cumsum at gap > 30 min — assert no inter-event gap is
    // EXACTLY 30 min, so the two carve identical sessions.
    val byUser = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    val boundary = batchEvents
      .withColumn("gap", unix_micros(col("ts"))
        - lag(unix_micros(col("ts")), 1).over(byUser))
      .filter(col("gap") === 1800L * 1000000L).count()
    assert(boundary === 0L,
      s"$boundary exact-30-min gaps — twin precondition does not hold")

    val sink = StreamingOps.runToMemory(
      StreamingOps.sessionWindows(StreamingOps.readEventStream(spark, batchDir)),
      "t_sessfin", OutputMode.Complete())
    val drained = spark.createDataFrame(
      java.util.Arrays.asList(sink.collect(): _*), sink.schema)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map(String.valueOf)).toSet
    val sessS = rows(StreamingOps.sessionizeFinish(drained))
    val sessB = rows(SparkEntry.queries("q_sessionize")(spark, sfDir))
    assert(sessB.nonEmpty && sessS === sessB,
      "drained session state diverged from batch q_sessionize")
    val statsS = rows(StreamingOps.sessionStatsFinish(drained))
    val statsB = rows(SparkEntry.queries("q_session_stats")(spark, sfDir))
    assert(statsB.nonEmpty && statsS === statsB,
      "drained session state diverged from batch q_session_stats")
  }

  test("watermark drops late rows in append mode") {
    import spark.implicits._
    val dir = tempDir("graft-late")
    val in = s"$dir/in"; new java.io.File(in).mkdirs()
    def write(name: String, rows: Seq[(Long, String, Long, String, Double, String)]): Unit =
      rows.toDF("event_id", "ts_s", "user_id", "event_type", "value", "props")
        .select(col("event_id"), to_timestamp(col("ts_s")).as("ts"), col("user_id"),
          col("event_type"), col("value"), col("props"))
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/tmp_$name")
    def move(name: String): Unit = {
      val src = new java.io.File(s"$dir/tmp_$name").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(src.toPath, new java.io.File(in, s"$name.parquet").toPath)
    }
    // Spark's stateful operators filter late events with the watermark of
    // the PREVIOUS microbatch (two-watermark scheme of SPARK-40925:
    // lateEvents lags eviction by one batch — observed in the executed
    // plan as `StateStoreSave ... Append, <late wm>, <eviction wm>`). So
    // the late row must arrive two batches after the rows that advance
    // the watermark past it: b1 (day 10) → b2 (day 12, on-time; after it
    // BOTH watermarks are ≥ Jan 10) → b3 (day-1 row, now behind even the
    // lagging late-events watermark → dropped). maxFilesPerTrigger=1
    // forces one file per microbatch within a single AvailableNow run.
    write("b1", Seq((1L, "2024-01-10 10:00:00", 1L, "click", 1.0, "{}"),
      (2L, "2024-01-10 11:00:00", 1L, "click", 1.0, "{}")))
    move("b1")
    Thread.sleep(1100) // distinct mod-times → deterministic file order
    write("b2", Seq((3L, "2024-01-12 09:00:00", 1L, "click", 1.0, "{}")))
    move("b2")
    Thread.sleep(1100)
    write("b3", Seq((4L, "2024-01-01 00:00:00", 9L, "click", 99.0, "{}"))) // LATE
    move("b3")
    val stream = StreamingOps.tumbling(
      spark.readStream.schema(StreamingOps.eventSchema)
        .option("maxFilesPerTrigger", "1").parquet(in))
    val q = stream.writeStream.format("memory").queryName("t_late")
      .outputMode(OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val emitted = spark.table("t_late").collect()
    // day-10 window closed (watermark passed it) and must be emitted
    // exactly once with both on-time rows; the late day-1 row must not
    // have created a day-1 window.
    val days = emitted.map(r => (r.getTimestamp(0), r.getLong(2))).toMap
    assert(days.exists { case (ts, cnt) => ts.toString.startsWith("2024-01-10") && cnt == 2 })
    assert(!days.keys.exists(_.toString.startsWith("2024-01-01")), "late row must be dropped")
  }

  test("stream-static enrichment join agrees with its batch twin") {
    val dim = batchEvents.select(col("user_id")).distinct()
      .withColumn("segment", pmod(col("user_id"), lit(10)))
    val streamed = StreamingOps.runToMemory(
      StreamingOps.enrichWithDim(StreamingOps.readEventStream(spark, batchDir), dim),
      "t_enrich", OutputMode.Append())
      .orderBy("event_id").collect()
    val batch = StreamingOps.enrichWithDim(batchEvents, dim)
      .orderBy("event_id").collect()
    assert(streamed.length === batch.length)
    assert(streamed.map(_.toSeq).toSeq === batch.map(_.toSeq).toSeq)
    assert(streamed.forall(!_.isNullAt(streamed.head.fieldIndex("segment"))))
  }

  test("in-stream exact dedup by event_id") {
    import spark.implicits._
    val dir = tempDir("graft-dedup")
    val in = s"$dir/in"; new java.io.File(in).mkdirs()
    val rows = Seq(
      (1L, "2024-01-10 10:00:00", 1L, "click", 1.0, "{}"),
      (1L, "2024-01-10 10:00:01", 1L, "click", 1.0, "{}"), // dup id
      (2L, "2024-01-10 10:05:00", 1L, "view", 2.0, "{}"))
    rows.toDF("event_id", "ts_s", "user_id", "event_type", "value", "props")
      .select(col("event_id"), to_timestamp(col("ts_s")).as("ts"), col("user_id"),
        col("event_type"), col("value"), col("props"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/tmp")
    new java.io.File(s"$dir/tmp").listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach(f => Files.copy(f.toPath, new java.io.File(in, "b0.parquet").toPath))
    val out = StreamingOps.runToMemory(
      StreamingOps.dedupStream(StreamingOps.readEventStream(spark, in)),
      "t_dedup", OutputMode.Append())
    assert(out.select("event_id").collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L))
  }

  test("flatMapGroupsWithState sessionizer matches the batch session count") {
    import spark.implicits._
    val ev = Tables.load(spark, sfDir, "events")
      .select(col("event_id"), col("ts"), col("user_id"), col("value"))
      .as[StreamingOps.Ev]
    val out = StreamingOps.statefulSessionCount(ev)
      .collect().map(u => u.user_id -> (u.sessions.toLong, u.events)).toMap
    val expected = SparkEntry.queries("q_sessionize")(spark, sfDir)
      .groupBy("user_id")
      .agg(max("sess_id").as("sessions"), sum("n_events").as("events"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out === expected)
  }

  test("checkpointed query restart processes only new files") {
    val dir = tempDir("graft-ckpt")
    val in = s"$dir/in"; new java.io.File(in).mkdirs()
    val ckpt = s"$dir/ckpt"
    val ev = Tables.load(spark, sfDir, "events")
    def stage(name: String, dayLo: Int, dayHi: Int): Long = {
      val part = ev.filter(dayofmonth(col("ts")).between(dayLo, dayHi))
      part.coalesce(1).write.mode("overwrite").parquet(s"$dir/tmp_$name")
      new java.io.File(s"$dir/tmp_$name").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .foreach(f => Files.copy(f.toPath, new java.io.File(in, s"$name.parquet").toPath))
      part.count()
    }
    def runOnce(): org.apache.spark.sql.streaming.StreamingQueryProgress = {
      val q = StreamingOps.tumbling(StreamingOps.readEventStream(spark, in))
        .writeStream.format("memory").queryName("t_ckpt")
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Complete())
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      q.recentProgress.last
    }
    val n1 = stage("b1", 1, 5)
    val p1 = runOnce()
    assert(p1.numInputRows === n1)
    val n2 = stage("b2", 6, 8)
    val p2 = runOnce()
    // restart from the checkpoint: only the new file is read
    assert(p2.numInputRows === n2, s"restart reprocessed old data: ${p2.numInputRows} vs $n2")
    // and the complete-mode sink reflects ALL data (state restored)
    val total = spark.table("t_ckpt").agg(sum("cnt")).head().getLong(0)
    assert(total === n1 + n2)
  }

  test("foreachBatch parquet sink captures the whole replay, idempotently") {
    val dir = tempDir("graft-fb")
    val stream = StreamingOps.dedupStream(StreamingOps.readEventStream(spark, batchDir))
    StreamingOps.runToParquet(stream, s"$dir/out", s"$dir/ckpt")
    val written = spark.read.parquet(s"$dir/out")
    assert(written.count() === Tables.load(spark, sfDir, "events").count())
    // re-run with the same checkpoint: nothing new to process, output unchanged
    StreamingOps.runToParquet(stream, s"$dir/out", s"$dir/ckpt")
    assert(spark.read.parquet(s"$dir/out").count() ===
      Tables.load(spark, sfDir, "events").count())
  }

  test("stream-stream join agrees with its batch twin") {
    val streamed = StreamingOps.runToMemory(
      StreamingOps.purchaseWithinDayOfSignup(StreamingOps.readEventStream(spark, batchDir)),
      "t_ssj", OutputMode.Append())
      .orderBy("user_id", "signup_ts", "purchase_ts").collect()
    val batch = StreamingOps.purchaseWithinDayOfSignup(batchEvents)
      .orderBy("user_id", "signup_ts", "purchase_ts").collect()
    assert(batch.nonEmpty, "fixture should produce signup->purchase matches")
    assert(streamed.map(_.toSeq).toSeq === batch.map(_.toSeq).toSeq)
  }

  test("stateful streaming funnel converges to batch q_funnel") {
    import spark.implicits._
    val stream = StreamingOps.readEventStream(spark, batchDir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      .as[StreamingOps.TypedEv]
    val out = StreamingOps.runToMemory(
      StreamingOps.statefulFunnel(stream).toDF(), "t_funnel", OutputMode.Update())
    // stage is monotone per user: the max-stage row is the final state
    val fin = out.groupBy("user_id")
      .agg(max(struct(col("stage"), col("t_view"), col("t_click"),
        col("t_purchase"))).as("b"))
      .select(col("user_id"), col("b.t_view"), col("b.t_click"),
        col("b.t_purchase"), col("b.stage"))
      .filter(col("stage") >= 1)  // batch funnel starts at the view stage
      .orderBy("user_id").collect()
    val batch = SparkEntry.queries("q_funnel")(spark, sfDir)
      .orderBy("user_id").collect()
    assert(batch.nonEmpty && fin.nonEmpty)
    assert(fin.map(_.toSeq).toSeq === batch.map(_.toSeq).toSeq)
  }

  test("stateful streaming transitions converge to batch q_transitions") {
    import spark.implicits._
    val stream = StreamingOps.readEventStream(spark, batchDir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      .as[StreamingOps.TypedEv]
    val deltas = StreamingOps.runToMemory(
      StreamingOps.statefulTransitions(stream).toDF(), "t_trans", OutputMode.Append())
    // fold the delta stream into the live matrix: counts + row-normalized
    // probabilities, the exact shape q_transitions computes by rescan
    // (folded driver-side — the memory-sink view can't self-join, and
    // spec scale is a few thousand delta rows)
    val rows = deltas.select("cur", "nxt").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val nOut = rows.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val live = rows.groupBy(identity).view.mapValues(_.length.toLong).toSeq
      .map { case ((c, n), k) => (c, n, k, k.toDouble / nOut(c)) }
      .sortBy(t => (t._1, t._2))
    val batch = SparkEntry.queries("q_transitions")(spark, sfDir)
      .orderBy("cur", "nxt").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(batch.nonEmpty && live.nonEmpty)
    assert(live === batch)
  }

  test("EventTimeTimeout sessionizer emits exactly the watermark-cleared sessions") {
    import spark.implicits._
    val stream = spark.readStream.schema(StreamingOps.eventSchema)
      .option("maxFilesPerTrigger", "3").parquet(batchDir)
      .withWatermark("ts", "1 hour")
      .select(col("event_id"), col("ts"), col("user_id"), col("value"))
      .as[StreamingOps.Ev]
    val q = StreamingOps.sessionizeWithTimeout(stream).toDF()
      .writeStream.format("memory").queryName("t_ett")
      .outputMode(OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val emitted = spark.table("t_ett")
      .select("user_id", "sess_start", "sess_end", "n_events")
      .collect().map(_.toSeq).toSet

    // expected: every batch session whose (end + 30min) the final
    // watermark (max ts - 1h) has passed; later sessions of a user close
    // event-driven, so only each user's LAST session depends on the
    // watermark.
    val maxTs = batchEvents.agg(max(col("ts"))).head().getTimestamp(0).getTime
    val finalWatermarkMs = maxTs - 3600L * 1000
    val sessions = SparkEntry.queries("q_sessionize")(spark, sfDir)
      .select("user_id", "sess_start", "sess_end", "n_events").collect()
    val lastEndByUser = sessions.groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getTimestamp(2).getTime).max).toMap
    val expected = sessions.filter { r =>
      val end = r.getTimestamp(2).getTime
      end < lastEndByUser(r.getLong(0)) || end + 30L * 60 * 1000 < finalWatermarkMs
    }.map(_.toSeq).toSet
    assert(emitted === expected)
  }

  test("stateful weekly churn deltas converge to batch q_churn") {
    import spark.implicits._
    val stream = spark.readStream.schema(StreamingOps.eventSchema)
      .option("maxFilesPerTrigger", "3").parquet(batchDir)
      .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
      .withWatermark("wk", "1 hour")
      .as[StreamingOps.UserWeek]
    val q = StreamingOps.statefulChurn(stream).toDF()
      .writeStream.format("memory").queryName("t_churn")
      .outputMode(OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val emitted = spark.table("t_churn").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getString(2))).toSet

    // expected: every (user, week) is an "active" delta; churn at w emits
    // event-driven when the user's next active week skips w+7d, or
    // timeout-driven for the LAST active week once the final watermark
    // (max wk - 1h) passes w + 14d (the empty successor week elapsed).
    val weekMs = 7L * 86400 * 1000
    val byUser = batchEvents
      .select(col("user_id"), date_trunc("week", col("ts")).as("wk")).distinct()
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toVector).toMap
    val finalWatermarkMs = byUser.valuesIterator.map(_.last).max - 3600L * 1000
    val expected = byUser.flatMap { case (uid, wks) =>
      val active = wks.map(w => (uid, w, "active"))
      val eventChurn = wks.sliding(2).collect {
        case Vector(w1, w2) if w2 > w1 + weekMs => (uid, w1, "churn")
      }
      val tailChurn =
        if (wks.last + 2 * weekMs < finalWatermarkMs) Seq((uid, wks.last, "churn"))
        else Seq.empty
      active ++ eventChurn ++ tailChurn
    }.toSet
    assert(emitted === expected)

    // and the delta stream folds to the batch matrix on decided weeks
    // (wk + 14d behind the watermark, and not the global final week)
    val lastWk = byUser.valuesIterator.flatten.max
    val decided = (w: Long) => w + 2 * weekMs < finalWatermarkMs && w < lastWk
    val folded = emitted.toSeq.groupBy(_._2).collect {
      case (w, ds) if decided(w) =>
        val a = ds.count(_._3 == "active").toLong
        val c = ds.count(_._3 == "churn").toLong
        (w, a, c, c.toDouble / a)
    }.toSeq.sortBy(_._1)
    val batch = SparkEntry.queries("q_churn")(spark, sfDir).collect()
      .map(r => (r.getTimestamp(0).getTime, r.getLong(1), r.getLong(2), r.getDouble(3)))
      .filter(t => decided(t._1)).toSeq.sortBy(_._1)
    assert(batch.nonEmpty && folded.nonEmpty)
    assert(folded === batch)
  }

  test("stateful last-touch attribution converges to batch q_attribution") {
    import spark.implicits._
    val stream = StreamingOps.readEventStream(spark, batchDir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"))
      .as[StreamingOps.ValEv]
    val deltas = StreamingOps.runToMemory(
      StreamingOps.statefulAttribution(stream).toDF(), "t_attr",
      OutputMode.Append())
      .select("channel", "value").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    // fold driver-side in exact decimal — the batch census sums dec2
    val folded = deltas.groupBy(_._1).view.mapValues { vs =>
      val rev = vs.map(v => BigDecimal(v._2).setScale(2, BigDecimal.RoundingMode.HALF_UP))
        .sum.toDouble
      (vs.length.toLong, rev)
    }.toMap
    val batch = SparkEntry.queries("q_attribution")(spark, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(batch.nonEmpty && folded.nonEmpty)
    assert(folded === batch)
  }

  test("Misra-Gries sketch as streaming state keeps the heavy-hitter guarantee") {
    val k = 4
    val stream = StreamingOps.readEventStream(spark, batchDir)
      .select(col("event_type").as("token"))
    val out = StreamingOps.runToMemory(
      StreamingOps.heavyHitterCandidates(stream, k),
      "t_mg", OutputMode.Complete())
    val cands = out.head().getSeq[String](0).toSet
    val types = batchEvents.select("event_type").collect().map(_.getString(0))
    val n = types.length
    val exact = types.groupBy(identity).view.mapValues(_.length).toMap
    val mustSurvive = exact.collect {
      case (t, c) if c.toLong * (k + 1) > n => t
    }.toSet
    assert(mustSurvive.nonEmpty, "fixture has no heavy hitters to check")
    assert((mustSurvive -- cands).isEmpty,
      s"streaming sketch lost heavy hitters: ${mustSurvive -- cands}")
  }

  test("streaming HLL audience sketches drain to the batch overlap estimates") {
    val stream = StreamingOps.readEventStream(spark, batchDir)
      .select(col("event_type"), col("user_id"))
    val out = StreamingOps.runToMemory(
      StreamingOps.overlapSketches(stream), "t_hll", OutputMode.Complete())
    // pairwise I-E over the drained sketches == batch q_overlap_sketch
    val sk = out.select(col("event_type").as("ta"), col("sk").as("sk_a"))
    val sk2 = out.select(col("event_type").as("tb"), col("sk").as("sk_b"))
    val streamed = sk.crossJoin(sk2).filter(col("ta") < col("tb"))
      .select(col("ta"), col("tb"),
        (hll_sketch_estimate(col("sk_a")) + hll_sketch_estimate(col("sk_b"))
          - hll_sketch_estimate(hll_union(col("sk_a"), col("sk_b"))))
          .as("est_both"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val batch = graft.ops.Approx.overlapSketchEst(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1))
        -> r.getLong(r.fieldIndex("est_both"))).toMap
    assert(streamed.nonEmpty)
    assert(streamed === batch, "drained sketch census diverged from batch")
  }

  test("ansariCounts is mergeable: disjoint-half censuses sum to the whole") {
    // the law behind the two-sample streaming twin: the (v, c1, c2)
    // census of any partition union is the cell-wise sum of the parts
    import org.apache.spark.sql.functions._
    val orders = Tables.load(spark, sfDir, "orders")
    val whole = graft.ops.ModelEval.ansariCounts(orders).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val a = graft.ops.ModelEval.ansariCounts(
      orders.filter(col("o_orderkey") % 2 === 0))
    val b = graft.ops.ModelEval.ansariCounts(
      orders.filter(col("o_orderkey") % 2 =!= 0))
    val merged = a.select(col("v"), col("c1"), col("c2"))
      .unionByName(b.select(col("v"), col("c1"), col("c2")))
      .groupBy("v").agg(sum(col("c1")).as("c1"), sum(col("c2")).as("c2"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(whole.nonEmpty && merged === whole,
      "half-censuses did not merge to the whole-corpus census")
  }

  test("scoreCensus is mergeable: disjoint-half censuses sum to the whole") {
    // the law behind the fourth twin: per-score counts from disjoint
    // event halves must SUM to the whole-corpus census — what lets
    // Complete-mode state absorb micro-batches in any order
    val events = Tables.load(spark, sfDir, "events")
    val whole = graft.ops.ModelEval.scoreCensus(events).collect()
      .map(r => r.getDouble(0) -> (r.getLong(1), r.getLong(2))).toMap
    val a = graft.ops.ModelEval.scoreCensus(
      events.filter(col("event_id") % 2 === 0)).collect()
      .map(r => r.getDouble(0) -> (r.getLong(1), r.getLong(2))).toMap
    val b = graft.ops.ModelEval.scoreCensus(
      events.filter(col("event_id") % 2 =!= 0)).collect()
      .map(r => r.getDouble(0) -> (r.getLong(1), r.getLong(2))).toMap
    val merged = (a.keySet ++ b.keySet).map { v =>
      val (c1, p1) = a.getOrElse(v, (0L, 0L))
      val (c2, p2) = b.getOrElse(v, (0L, 0L))
      v -> (c1 + c2, p1 + p2)
    }.toMap
    assert(whole.nonEmpty && merged === whole,
      "half-censuses did not merge to the whole-corpus score census")
  }

  test("drained score census finishes to batch AUC, PR-curve, KS-model " +
      "and DeLong exactly") {
    // round 12 (fourth twin family): the per-score census is the
    // ranking-quality battery's sufficient statistic — one live
    // Complete-mode state, four readouts of the model monitor
    val dir = tempDir("graft-events-score")
    Tables.load(spark, sfDir, "events")
      .repartition(4) // several files = several source-arrival batches
      .write.mode("overwrite").parquet(s"$dir/in")
    val sink = StreamingOps.runToMemory(
      StreamingOps.scoreCounts(
        StreamingOps.readEventStream(spark, s"$dir/in")),
      "t_score", OutputMode.Complete())
    val counts = spark.createDataFrame(
      java.util.Arrays.asList(sink.collect(): _*), sink.schema)
    val finishes = Seq[(String, org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame)](
      "q_auc" -> graft.ops.ModelEval.aucFinish,
      "q_pr_curve" -> graft.ops.ModelEval.prCurveFinish,
      "q_ks_model" -> graft.ops.ModelEval.ksModelFinish,
      "q_auc_delong" -> graft.ops.ModelEval.aucDelongFinish)
    for ((qn, fin) <- finishes) {
      val st = fin(counts).collect().map(_.toString).toSet
      val ba = SparkEntry.queries(qn)(spark, sfDir).collect()
        .map(_.toString).toSet
      assert(ba.nonEmpty && st === ba,
        s"drained score census diverged from batch $qn")
    }
  }

  test("drained two-sample value census finishes to batch Tukey-quick " +
      "AND CvM exactly") {
    // round 11: the urgent-vs-rest value census is the two-sample
    // battery's sufficient statistic — one live Complete-mode state,
    // here read out to the pocket test and the integrated-ECDF test
    val dir = tempDir("graft-orders-2s")
    Tables.load(spark, sfDir, "orders")
      .repartition(4)
      .write.mode("overwrite").parquet(s"$dir/in")
    val sink = StreamingOps.runToMemory(
      StreamingOps.ansariValueCounts(
        StreamingOps.readOrderStream(spark, s"$dir/in")),
      "t_twosample", OutputMode.Complete())
    val counts = spark.createDataFrame(
      java.util.Arrays.asList(sink.collect(): _*), sink.schema)
    val tqS = graft.ops.ModelEval.tukeyQuickFinish(counts).collect()
      .map(_.toString).toSet
    val tqB = SparkEntry.queries("q_tukey_quick")(spark, sfDir).collect()
      .map(_.toString).toSet
    assert(tqB.nonEmpty && tqS === tqB,
      "drained value census diverged from batch Tukey-quick")
    val cvS = graft.ops.ModelEval.cvmTwoSampleFinish(counts).collect()
      .map(_.toString).toSet
    val cvB = SparkEntry.queries("q_cvm_two_sample")(spark, sfDir)
      .collect().map(_.toString).toSet
    assert(cvB.nonEmpty && cvS === cvB,
      "drained value census diverged from batch CvM")
    // round-11 twin completion: the whole two-sample battery reads the
    // SAME drained state — seven readouts of one Complete-mode census
    val finishes = Seq[(String, org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame)](
      "q_ansari_bradley" -> (df => graft.ops.ModelEval.ansariBradleyFinish(df)),
      "q_cucconi" -> (df => graft.ops.ModelEval.cucconiFinish(df)),
      "q_lepage" -> (df => graft.ops.ModelEval.lepageFinish(df)),
      "q_bws_test" -> (df => graft.ops.ModelEval.bwsFinish(df)),
      "q_fligner_policello" -> (df => graft.ops.ModelEval.flignerPolicelloFinish(df)),
      // round 12: the circular-CvM lens is the EIGHTH readout
      "q_watson_u2" -> (df => graft.ops.ModelEval.watsonU2Finish(df)),
      // round 13: energy distance is the NINTH readout of the same
      // Complete-mode state (the drained census takes the ranking
      // path inside the finish; batch reads the pinned artifact —
      // bit-equal either way)
      "q_energy_distance" -> (df => graft.ops.ModelEval.energyDistanceFinish(df)))
    for ((qn, fin) <- finishes) {
      val st = fin(counts).collect().map(_.toString).toSet
      val ba = SparkEntry.queries(qn)(spark, sfDir).collect()
        .map(_.toString).toSet
      assert(ba.nonEmpty && st === ba,
        s"drained value census diverged from batch $qn")
    }
  }

  test("drained drift-count state finishes to batch q_ks_drift exactly") {
    val dir = tempDir("graft-docs")
    Tables.load(spark, sfDir, "documents")
      .repartition(4) // several files = several source-arrival batches
      .write.mode("overwrite").parquet(s"$dir/in")
    val sink = StreamingOps.runToMemory(
      StreamingOps.driftCounts(StreamingOps.readDocStream(spark, s"$dir/in")),
      "t_drift", OutputMode.Complete())
    // rebuild the (bounded) drained state as a standalone frame: the
    // memory-sink view can't appear on both sides of ksFinish's grid
    // self-join (conflicting-reference resolution fails on MemoryPlan)
    val counts = spark.createDataFrame(
      java.util.Arrays.asList(sink.collect(): _*), sink.schema)
    val streamed = graft.ops.Curation.ksFinish(counts).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val batch = SparkEntry.queries("q_ks_drift")(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(batch.nonEmpty && streamed === batch,
      "drained drift state diverged from batch KS")
    // r10 verdict item 7: the SAME drained count state also finishes to
    // the Kuiper lens — one live Complete-mode census, two readouts
    val streamedKuiper = graft.ops.Curation.kuiperFinish(counts).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val batchKuiper = SparkEntry.queries("q_kuiper_drift")(spark, sfDir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(batchKuiper.nonEmpty && streamedKuiper === batchKuiper,
      "drained drift state diverged from batch Kuiper")
  }

  test("drained PSI census finishes to batch q_psi exactly") {
    val dir = tempDir("graft-psi")
    Tables.load(spark, sfDir, "events")
      .repartition(4) // several files = several source-arrival batches
      .write.mode("overwrite").parquet(s"$dir/in")
    val sink = StreamingOps.runToMemory(
      StreamingOps.psiCounts(StreamingOps.readEventStream(spark, s"$dir/in")),
      "t_psi", OutputMode.Complete())
    val counts = spark.createDataFrame(
      java.util.Arrays.asList(sink.collect(): _*), sink.schema)
    val streamed = graft.ops.ModelEval.psiFinish(counts).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4)))
      .toSet
    val batch = SparkEntry.queries("q_psi")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4)))
      .toSet
    assert(batch.nonEmpty && streamed === batch,
      "drained PSI census diverged from batch q_psi")
  }

  test("drained log-loss census finishes to batch q_log_loss exactly") {
    val dir = tempDir("graft-logloss")
    Tables.load(spark, sfDir, "events")
      .repartition(4)
      .write.mode("overwrite").parquet(s"$dir/in")
    val sink = StreamingOps.runToMemory(
      StreamingOps.logLossCounts(StreamingOps.readEventStream(spark, s"$dir/in")),
      "t_logloss", OutputMode.Complete())
    val counts = spark.createDataFrame(
      java.util.Arrays.asList(sink.collect(): _*), sink.schema)
    val streamed = graft.ops.ModelEval.logLossFinish(counts).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    val batch = SparkEntry.queries("q_log_loss")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(batch.nonEmpty && streamed === batch,
      "drained log-loss census diverged from batch q_log_loss")
  }

  test("drained confusion census finishes to batch q_confusion_multi exactly") {
    val dir = tempDir("graft-confusion")
    Tables.load(spark, sfDir, "events")
      .repartition(4)
      .write.mode("overwrite").parquet(s"$dir/in")
    val sink = StreamingOps.runToMemory(
      StreamingOps.confusionCounts(StreamingOps.readEventStream(spark, s"$dir/in")),
      "t_confusion", OutputMode.Complete())
    val cells = spark.createDataFrame(
      java.util.Arrays.asList(sink.collect(): _*), sink.schema)
    val streamed = graft.ops.ModelEval.confusionFinish(cells).collect()
      .map(_.toString).toSet
    val batch = SparkEntry.queries("q_confusion_multi")(spark, sfDir).collect()
      .map(_.toString).toSet
    assert(batch.nonEmpty && streamed === batch,
      "drained confusion census diverged from batch q_confusion_multi")
  }

  test("drained McNemar census finishes to batch q_mcnemar exactly") {
    val dir = tempDir("graft-mcnemar")
    Tables.load(spark, sfDir, "events")
      .repartition(4)
      .write.mode("overwrite").parquet(s"$dir/in")
    val sink = StreamingOps.runToMemory(
      StreamingOps.mcnemarCounts(StreamingOps.readEventStream(spark, s"$dir/in")),
      "t_mcnemar", OutputMode.Complete())
    val census = spark.createDataFrame(
      java.util.Arrays.asList(sink.collect(): _*), sink.schema)
    val streamed = graft.ops.ModelEval.mcnemarFinish(census).collect()
      .map(_.toString).toSet
    val batch = SparkEntry.queries("q_mcnemar")(spark, sfDir).collect()
      .map(_.toString).toSet
    assert(batch.nonEmpty && streamed === batch,
      "drained McNemar census diverged from batch q_mcnemar")
  }

  test("drained decay census finishes to batch q_decayed_popularity exactly") {
    val dir = tempDir("graft-decay")
    Tables.load(spark, sfDir, "events")
      .repartition(4)
      .write.mode("overwrite").parquet(s"$dir/in")
    val sink = StreamingOps.runToMemory(
      StreamingOps.decayCounts(StreamingOps.readEventStream(spark, s"$dir/in")),
      "t_decay", OutputMode.Complete())
    val census = spark.createDataFrame(
      java.util.Arrays.asList(sink.collect(): _*), sink.schema)
    val streamed = graft.ops.EventTime.decayFinish(census).collect()
      .map(_.toString).toSet
    val batch = SparkEntry.queries("q_decayed_popularity")(spark, sfDir)
      .collect().map(_.toString).toSet
    assert(batch.nonEmpty && streamed === batch,
      "drained decay census diverged from batch q_decayed_popularity")
  }

  test("drained ANOVA census finishes to batch q_anova exactly") {
    val dir = tempDir("graft-anova")
    Tables.load(spark, sfDir, "events")
      .repartition(4)
      .write.mode("overwrite").parquet(s"$dir/in")
    val sink = StreamingOps.runToMemory(
      StreamingOps.anovaCounts(StreamingOps.readEventStream(spark, s"$dir/in")),
      "t_anova", OutputMode.Complete())
    val census = spark.createDataFrame(
      java.util.Arrays.asList(sink.collect(): _*), sink.schema)
    val streamed = graft.ops.ModelEval.anovaFinish(census).collect()
      .map(_.toString).toSet
    val batch = SparkEntry.queries("q_anova")(spark, sfDir).collect()
      .map(_.toString).toSet
    assert(batch.nonEmpty && streamed === batch,
      "drained ANOVA census diverged from batch q_anova")
  }

  test("drained ANOVA census finishes to batch q_tukey_hsd exactly") {
    // the SAME streaming state serves the omnibus F and the post-hoc
    // pair table — one live census, two readouts
    val dir = tempDir("graft-tukey")
    Tables.load(spark, sfDir, "events")
      .repartition(4)
      .write.mode("overwrite").parquet(s"$dir/in")
    val sink = StreamingOps.runToMemory(
      StreamingOps.anovaCounts(StreamingOps.readEventStream(spark, s"$dir/in")),
      "t_tukey", OutputMode.Complete())
    val census = spark.createDataFrame(
      java.util.Arrays.asList(sink.collect(): _*), sink.schema)
    val streamed = graft.ops.ModelEval.tukeyFinish(census).collect()
      .map(_.toString).toSet
    val batch = SparkEntry.queries("q_tukey_hsd")(spark, sfDir).collect()
      .map(_.toString).toSet
    assert(batch.nonEmpty && streamed === batch,
      "drained ANOVA census diverged from batch q_tukey_hsd")
  }

  test("drained effect-size census finishes to batch q_effect_sizes exactly") {
    val dir = tempDir("graft-effect")
    Tables.load(spark, sfDir, "customer")
      .repartition(4)
      .write.mode("overwrite").parquet(s"$dir/in")
    val sink = StreamingOps.runToMemory(
      StreamingOps.effectCounts(
        StreamingOps.readCustomerStream(spark, s"$dir/in")),
      "t_effect", OutputMode.Complete())
    val census = spark.createDataFrame(
      java.util.Arrays.asList(sink.collect(): _*), sink.schema)
    val streamed = graft.ops.ModelEval.effectFinish(census).collect()
      .map(_.toString).toSet
    val batch = SparkEntry.queries("q_effect_sizes")(spark, sfDir)
      .collect().map(_.toString).toSet
    assert(batch.nonEmpty && streamed === batch,
      "drained effect-size census diverged from batch q_effect_sizes")
  }

  test("drained calibration census finishes to batch q_calibration exactly") {
    val dir = tempDir("graft-calib")
    Tables.load(spark, sfDir, "events")
      .repartition(4)
      .write.mode("overwrite").parquet(s"$dir/in")
    val sink = StreamingOps.runToMemory(
      StreamingOps.calibCounts(StreamingOps.readEventStream(spark, s"$dir/in")),
      "t_calib", OutputMode.Complete())
    val counts = spark.createDataFrame(
      java.util.Arrays.asList(sink.collect(): _*), sink.schema)
    val streamed = graft.ops.ModelEval.calibFinish(counts).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4)))
      .toSet
    val batch = SparkEntry.queries("q_calibration")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4)))
      .toSet
    assert(batch.nonEmpty && streamed === batch,
      "drained calibration census diverged from batch q_calibration")
  }

  test("drained lang-drift state finishes to batch q_tvd_drift exactly") {
    val dir = tempDir("graft-docs-tvd")
    Tables.load(spark, sfDir, "documents")
      .repartition(4)
      .write.mode("overwrite").parquet(s"$dir/in")
    val sink = StreamingOps.runToMemory(
      StreamingOps.langDriftCounts(StreamingOps.readDocStream(spark, s"$dir/in")),
      "t_tvd", OutputMode.Complete())
    val counts = spark.createDataFrame(
      java.util.Arrays.asList(sink.collect(): _*), sink.schema)
    val streamed = graft.ops.Curation.tvdFinish(counts).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val batch = SparkEntry.queries("q_tvd_drift")(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(batch.nonEmpty && streamed === batch,
      "drained lang-drift state diverged from batch TVD")
  }

  test("drained day census finishes to batch q_changepoint exactly") {
    val dir = tempDir("graft-orders-cusum")
    Tables.load(spark, sfDir, "orders")
      .repartition(4)
      .write.mode("overwrite").parquet(s"$dir/in")
    val sink = StreamingOps.runToMemory(
      StreamingOps.cusumCounts(StreamingOps.readOrderStream(spark, s"$dir/in")),
      "t_cusum", OutputMode.Complete())
    val counts = spark.createDataFrame(
      java.util.Arrays.asList(sink.collect(): _*), sink.schema)
    def key(r: org.apache.spark.sql.Row) =
      // day renders as LocalDateTime via the stream sink and Timestamp
      // via batch collect — compare the date prefix, midnight either way
      (r.getString(0), String.valueOf(r.get(1)).take(10), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5), r.getDouble(6))
    val streamed = graft.ops.EventTime.cusumFinish(counts).collect()
      .map(key).toSet
    val batch = SparkEntry.queries("q_changepoint")(spark, sfDir).collect()
      .map(key).toSet
    assert(batch.nonEmpty && streamed === batch,
      "drained CUSUM day census diverged from batch changepoint")
  }

  test("drained day census finishes to batch q_rolling_median exactly") {
    // same Complete-mode discipline as the CUSUM twin: the per-day
    // revenue census is the mergeable state, the trailing-7 median is
    // pure finishing arithmetic — all-integer, so drain ≡ batch
    val dir = tempDir("graft-orders-med")
    Tables.load(spark, sfDir, "orders")
      .repartition(4)
      .write.mode("overwrite").parquet(s"$dir/in")
    val sink = StreamingOps.runToMemory(
      StreamingOps.medianCounts(StreamingOps.readOrderStream(spark, s"$dir/in")),
      "t_med", OutputMode.Complete())
    val counts = spark.createDataFrame(
      java.util.Arrays.asList(sink.collect(): _*), sink.schema)
    def key(r: org.apache.spark.sql.Row) =
      (String.valueOf(r.get(0)).take(10), r.getLong(1))
    val streamed = graft.ops.EventTime.medianFinish(counts).collect()
      .map(key).toSet
    val batch = SparkEntry.queries("q_rolling_median")(spark, sfDir).collect()
      .map(key).toSet
    assert(batch.nonEmpty && streamed === batch,
      "drained day census diverged from batch rolling median")
  }

  test("drained day census finishes to batch q_pettitt AND q_bartels_rank") {
    // the round-10 rank-test family rides the SAME Complete-mode
    // per-day revenue census as rolling_median/pinball/forecast_eval —
    // one live state, now five readouts. Midranks, the Pettitt U_t
    // prefix walk and the Bartels RVN integers are all deterministic
    // finishing arithmetic over the drained census, so drain ≡ batch
    // bit-for-bit at any trigger.
    val dir = tempDir("graft-orders-rank")
    Tables.load(spark, sfDir, "orders")
      .repartition(4)
      .write.mode("overwrite").parquet(s"$dir/in")
    val sink = StreamingOps.runToMemory(
      StreamingOps.medianCounts(StreamingOps.readOrderStream(spark, s"$dir/in")),
      "t_rank", OutputMode.Complete())
    val counts = spark.createDataFrame(
      java.util.Arrays.asList(sink.collect(): _*), sink.schema)
    val petS = graft.ops.EventTime.pettittFinish(counts).collect()
      .map(_.toString).toSet
    val petB = SparkEntry.queries("q_pettitt")(spark, sfDir).collect()
      .map(_.toString).toSet
    assert(petB.nonEmpty && petS === petB,
      "drained day census diverged from batch Pettitt")
    val barS = graft.ops.EventTime.bartelsFinish(counts).collect()
      .map(_.toString).toSet
    val barB = SparkEntry.queries("q_bartels_rank")(spark, sfDir).collect()
      .map(_.toString).toSet
    assert(barB.nonEmpty && barS === barB,
      "drained day census diverged from batch Bartels RVN")
    // round 11: the sign test is the sixth readout of the same state
    val sgS = graft.ops.EventTime.signFinish(counts).collect()
      .map(_.toString).toSet
    val sgB = SparkEntry.queries("q_sign_test")(spark, sfDir).collect()
      .map(_.toString).toSet
    assert(sgB.nonEmpty && sgS === sgB,
      "drained day census diverged from batch sign test")
  }

  test("drained day census finishes to batch q_pinball_loss exactly") {
    // the r8 forecast-loss readout rides the SAME per-day revenue
    // census the rolling-median twin maintains (one live Complete-mode
    // state, two readouts — the ANOVA/Tukey discipline): quantile
    // selection + dec38 loss masses are pure finishing arithmetic over
    // the drained state, integer-exact until the display division
    val dir = tempDir("graft-orders-pinball")
    Tables.load(spark, sfDir, "orders")
      .repartition(4)
      .write.mode("overwrite").parquet(s"$dir/in")
    val sink = StreamingOps.runToMemory(
      StreamingOps.medianCounts(StreamingOps.readOrderStream(spark, s"$dir/in")),
      "t_pinball", OutputMode.Complete())
    val counts = spark.createDataFrame(
      java.util.Arrays.asList(sink.collect(): _*), sink.schema)
    val streamed = graft.ops.EventTime.pinballFinish(counts).collect()
      .map(_.toString).toSet
    val batch = SparkEntry.queries("q_pinball_loss")(spark, sfDir).collect()
      .map(_.toString).toSet
    assert(batch.nonEmpty && streamed === batch,
      "drained day census diverged from batch pinball loss")
  }

  test("drained error census finishes to batch q_error_burn exactly") {
    // per-day (total, errors) Complete-mode state; exact counts, so the
    // trailing-7 burn-rate finish is bit-equal to batch at any trigger
    val dir = tempDir("graft-events-err")
    Tables.load(spark, sfDir, "events")
      .repartition(4)
      .write.mode("overwrite").parquet(s"$dir/in")
    val sink = StreamingOps.runToMemory(
      StreamingOps.errorCounts(StreamingOps.readEventStream(spark, s"$dir/in")),
      "t_err", OutputMode.Complete())
    val counts = spark.createDataFrame(
      java.util.Arrays.asList(sink.collect(): _*), sink.schema)
    def key(r: org.apache.spark.sql.Row) =
      (String.valueOf(r.get(0)).take(10), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5), r.getDouble(6))
    val streamed = graft.ops.EventTime.errorFinish(counts).collect()
      .map(key).toSet
    val batch = SparkEntry.queries("q_error_burn")(spark, sfDir).collect()
      .map(key).toSet
    assert(batch.nonEmpty && streamed === batch,
      "drained error census diverged from batch error burn")
  }

  test("drained feed census finishes to batch q_calendar_gaps AND q_freshness") {
    // ONE Complete-mode (priority, day) state, TWO readouts — the
    // chi2/tvd shared-census discipline applied to ingest monitoring
    val dir = tempDir("graft-orders-feed")
    Tables.load(spark, sfDir, "orders")
      .repartition(4)
      .write.mode("overwrite").parquet(s"$dir/in")
    val sink = StreamingOps.runToMemory(
      StreamingOps.feedCounts(StreamingOps.readOrderStream(spark, s"$dir/in")),
      "t_feed", OutputMode.Complete())
    val counts = spark.createDataFrame(
      java.util.Arrays.asList(sink.collect(): _*), sink.schema)
    def dayStr(v: Any) = String.valueOf(v).take(10)
    val gapsS = graft.ops.EventTime.gapsFinish(counts).collect()
      .map(r => (r.getString(0), dayStr(r.get(1)), r.getLong(2))).toSet
    val gapsB = SparkEntry.queries("q_calendar_gaps")(spark, sfDir).collect()
      .map(r => (r.getString(0), dayStr(r.get(1)), r.getLong(2))).toSet
    assert(gapsB.nonEmpty && gapsS === gapsB,
      "drained feed census diverged from batch calendar gaps")
    val freshS = graft.ops.EventTime.freshnessFinish(counts).collect()
      .map(r => (r.getString(0), dayStr(r.get(1)), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5))).toSet
    val freshB = SparkEntry.queries("q_freshness")(spark, sfDir).collect()
      .map(r => (r.getString(0), dayStr(r.get(1)), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5))).toSet
    assert(freshB.nonEmpty && freshS === freshB,
      "drained feed census diverged from batch freshness")
  }

  test("drained lang census finishes to batch q_chi2 exactly") {
    // the SAME Complete-mode (source, lang) census state as the TVD
    // twin, finished through the chi2 lens — one state, two readouts
    val dir = tempDir("graft-docs-chi2")
    Tables.load(spark, sfDir, "documents")
      .repartition(4)
      .write.mode("overwrite").parquet(s"$dir/in")
    val sink = StreamingOps.runToMemory(
      StreamingOps.langDriftCounts(StreamingOps.readDocStream(spark, s"$dir/in")),
      "t_chi2", OutputMode.Complete())
    val counts = spark.createDataFrame(
      java.util.Arrays.asList(sink.collect(): _*), sink.schema)
    val streamed = graft.ops.Curation.chi2Finish(counts).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getLong(4), r.getDouble(5))).toSet
    val batch = SparkEntry.queries("q_chi2")(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getLong(4), r.getDouble(5))).toSet
    assert(batch.nonEmpty && streamed === batch,
      "drained lang census diverged from batch chi2")
  }

  test("drained lang census finishes to batch q_g_test exactly") {
    // the THIRD readout of the same Complete-mode (source, lang)
    // census state (tvd → chi2 → G log-likelihood ratio) — one live
    // state, three batch-exact lenses
    val dir = tempDir("graft-docs-gtest")
    Tables.load(spark, sfDir, "documents")
      .repartition(4)
      .write.mode("overwrite").parquet(s"$dir/in")
    val sink = StreamingOps.runToMemory(
      StreamingOps.langDriftCounts(StreamingOps.readDocStream(spark, s"$dir/in")),
      "t_gtest", OutputMode.Complete())
    val counts = spark.createDataFrame(
      java.util.Arrays.asList(sink.collect(): _*), sink.schema)
    val streamed = graft.ops.Curation.gTestFinish(counts).collect()
      .map(_.toString).toSet
    val batch = SparkEntry.queries("q_g_test")(spark, sfDir).collect()
      .map(_.toString).toSet
    assert(batch.nonEmpty && streamed === batch,
      "drained lang census diverged from batch G-test")
  }

  test("drained seasonality census finishes to batch q_seasonality exactly") {
    val sink = StreamingOps.runToMemory(
      StreamingOps.seasonalityCounts(
        StreamingOps.readEventStream(spark, batchDir)),
      "t_season", OutputMode.Complete())
    val census = spark.createDataFrame(
      java.util.Arrays.asList(sink.collect(): _*), sink.schema)
    val streamed = graft.ops.EventTime.seasonFinish(census).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5))).toSet
    val batch = SparkEntry.queries("q_seasonality")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5))).toSet
    assert(batch.nonEmpty && streamed === batch,
      "drained seasonality census diverged from batch")
  }

  test("drained dow×type census finishes to batch q_seasonality_index exactly") {
    val sink = StreamingOps.runToMemory(
      StreamingOps.seasonIdxCounts(
        StreamingOps.readEventStream(spark, batchDir)),
      "t_seasonidx", OutputMode.Complete())
    val census = spark.createDataFrame(
      java.util.Arrays.asList(sink.collect(): _*), sink.schema)
    val streamed = graft.ops.EventTime.seasonIdxFinish(census).collect()
      .map(_.toSeq.toList).toSet
    val batch = SparkEntry.queries("q_seasonality_index")(spark, sfDir)
      .collect().map(_.toSeq.toList).toSet
    assert(batch.nonEmpty && streamed === batch,
      "drained dow×type census diverged from batch seasonality index")
  }

  test("drained weekly type census finishes to batch q_type_share_drift exactly") {
    val sink = StreamingOps.runToMemory(
      StreamingOps.typeShareCounts(
        StreamingOps.readEventStream(spark, batchDir)),
      "t_typeshare", OutputMode.Complete())
    val census = spark.createDataFrame(
      java.util.Arrays.asList(sink.collect(): _*), sink.schema)
    val streamed = graft.ops.EventTime.typeShareFinish(census).collect()
      .map(_.toSeq.toList).toSet
    val batch = SparkEntry.queries("q_type_share_drift")(spark, sfDir)
      .collect().map(_.toSeq.toList).toSet
    assert(batch.nonEmpty && streamed === batch,
      "drained weekly type census diverged from batch mix drift")
  }

  test("stateful EWMA's final per-user state is bit-equal to batch q_ewma") {
    import spark.implicits._
    val stream = StreamingOps.readEventStream(spark, batchDir)
      .select(col("event_id"), col("ts"), col("user_id"), col("value"))
      .as[StreamingOps.Ev]
    val rows = StreamingOps.runToMemory(
      StreamingOps.statefulEwma(stream).toDF(), "t_ewma", OutputMode.Append())
      .collect()
    // in-order delivery here, so the late-arrival detector must stay quiet
    assert(!rows.exists(_.getBoolean(3)),
      "ewma flagged late arrivals under in-order delivery")
    val deltas =
      rows.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // the stream's final value per user = the delta of the user's
    // event-time-last event
    val lastEv = batchEvents
      .select(col("user_id"), col("ts"), col("event_id"))
      .collect()
      .groupBy(_.getLong(0)).view.mapValues(rows =>
        rows.maxBy(r => (r.getTimestamp(1).getTime, r.getLong(2))).getLong(2))
      .toMap
    val batch = SparkEntry.queries("q_ewma")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(batch.nonEmpty && deltas.nonEmpty)
    batch.foreach { case (uid, (nEvents, ewma)) =>
      val streamed = deltas((uid, lastEv(uid)))
      assert(streamed === ewma, s"user $uid: stream $streamed vs batch $ewma")
      assert(deltas.keys.count(_._1 == uid).toLong === nEvents)
    }
  }

  test("drained (week, bin) census finishes to batch q_psi_timeline exactly") {
    val sink = StreamingOps.runToMemory(
      StreamingOps.psiTimelineCells(
        StreamingOps.readEventStream(spark, batchDir)),
      "t_psitl", OutputMode.Complete())
    val census = spark.createDataFrame(
      java.util.Arrays.asList(sink.collect(): _*), sink.schema)
    val streamed = graft.ops.EventTime.psiTimelineFinish(census).collect()
      .map(_.toSeq.toList).toSet
    val batch = SparkEntry.queries("q_psi_timeline")(spark, sfDir)
      .collect().map(_.toSeq.toList).toSet
    assert(batch.nonEmpty && streamed === batch,
      "drained (week, bin) census diverged from batch PSI timeline")
  }

  test("stateful velocity flag census equals batch q_velocity_flags") {
    import spark.implicits._
    val stream = StreamingOps.readEventStream(spark, batchDir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      .as[StreamingOps.TypedEv]
    val rows = StreamingOps.runToMemory(
      StreamingOps.statefulVelocity(stream).toDF(),
      "t_velocity", OutputMode.Append())
      .collect()
    val streamed = rows
      .groupBy(_.getString(2))
      .view.mapValues(rs =>
        (rs.length.toLong, rs.count(_.getBoolean(4)).toLong))
      .toMap
    val batch = SparkEntry.queries("q_velocity_flags")(spark, sfDir)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(batch.nonEmpty && streamed === batch,
      s"stream flag census $streamed diverged from batch $batch")
  }

  test("stateful time-weighted average folds to batch q_time_weighted_avg") {
    import spark.implicits._
    val stream = StreamingOps.readEventStream(spark, batchDir)
      .select(col("event_id"), col("ts"), col("user_id"), col("value"))
      .as[StreamingOps.Ev]
    val folded = StreamingOps.runToMemory(
      StreamingOps.statefulTwa(stream).toDF(), "t_twa", OutputMode.Append())
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_intervals"),
        sum(col("dt_us")).cast("long").as("total_us"),
        sum(col("num_c")).cast("long").as("num_c"))
      .select(col("user_id"), col("n_intervals"), col("total_us"),
        (col("num_c").cast("double")
          / (lit(100.0) * col("total_us").cast("double"))).as("twa"))
      .orderBy("user_id").collect()
    val batch = SparkEntry.queries("q_time_weighted_avg")(spark, sfDir)
      .collect()
    assert(folded.nonEmpty)
    assert(folded.map(_.toSeq).toSeq === batch.map(_.toSeq).toSeq)
  }

  test("kill-and-restart: interrupted run resumes from its durable checkpoint exactly-once") {
    // The recovery path the drain≡batch twins never exercise: a
    // rate-limited file-source query (1 file per microbatch, periodic
    // trigger) is STOPPED mid-stream with most of its input
    // unprocessed, then restarted against the same checkpoint dir. The
    // restart must resume from the committed offsets — and if the kill
    // landed between a foreachBatch write and its offset commit, the
    // replayed batch id overwrites its own directory (the
    // exactly-once-by-idempotence contract of runToParquet) — so the
    // final sink holds every input event exactly once.
    import org.apache.spark.sql.streaming.Trigger
    val dir = tempDir("graft-kill")
    val in = s"$dir/in"
    val ev = Tables.load(spark, sfDir, "events")
    val total = ev.count()
    ev.repartition(16).write.mode("overwrite").parquet(in)

    def rateLimited = spark.readStream.schema(StreamingOps.eventSchema)
      .option("maxFilesPerTrigger", 1).parquet(in)

    val q = rateLimited.writeStream
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          b.write.mode("overwrite").parquet(s"$dir/out/batch_id=$id")
      }
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(Trigger.ProcessingTime("100 milliseconds"))
      .start()
    val deadline = System.currentTimeMillis() + 120000
    while (q.recentProgress.count(_.numInputRows > 0) < 3
        && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    q.stop() // the kill: most of the 16 file-batches are still pending
    val killed = spark.read.parquet(s"$dir/out").count()
    assert(killed > 0, "no microbatch committed before the kill")
    assert(killed < total,
      s"kill landed after the full drain ($killed rows) — nothing left to recover")

    // restart against the same checkpoint: AvailableNow drains the rest
    StreamingOps.runToParquet(rateLimited, s"$dir/out", s"$dir/ckpt")
    val fin = spark.read.parquet(s"$dir/out")
    assert(fin.count() === total,
      s"loss or duplication across the restart: ${fin.count()} vs $total")
    // event_id is unique in the fixture, so distinct-count proves
    // no event was dropped OR double-delivered by the recovery
    assert(fin.select("event_id").distinct().count() === total,
      "restart double-delivered or dropped events")
  }

  test("drained quasi-id census finishes to batch q_k_anonymity exactly") {
    // the live privacy monitor: the equivalence-class census is
    // Complete-mode state bounded by the quasi-id combo space; exact
    // counts, so the k<5 violator readout is bit-equal to batch
    val dir = tempDir("graft-cust-kanon")
    Tables.load(spark, sfDir, "customer")
      .repartition(4)
      .write.mode("overwrite").parquet(s"$dir/in")
    val sink = StreamingOps.runToMemory(
      StreamingOps.kAnonCounts(
        StreamingOps.readCustomerStream(spark, s"$dir/in")),
      "t_kanon", OutputMode.Complete())
    val counts = spark.createDataFrame(
      java.util.Arrays.asList(sink.collect(): _*), sink.schema)
    def key(r: org.apache.spark.sql.Row) =
      (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3))
    val streamed = graft.ops.Relational.kAnonFinish(counts).collect()
      .map(key).toSet
    val batch = SparkEntry.queries("q_k_anonymity")(spark, sfDir).collect()
      .map(key).toSet
    assert(batch.nonEmpty && streamed === batch,
      "drained quasi-id census diverged from batch k-anonymity")
  }

  test("drained power-sum census finishes to batch q_jarque_bera exactly") {
    val dir = tempDir("graft-cust-jb")
    Tables.load(spark, sfDir, "customer")
      .repartition(4)
      .write.mode("overwrite").parquet(s"$dir/in")
    val sink = StreamingOps.runToMemory(
      StreamingOps.jbCounts(
        StreamingOps.readCustomerStream(spark, s"$dir/in")),
      "t_jb", OutputMode.Complete())
    val census = spark.createDataFrame(
      java.util.Arrays.asList(sink.collect(): _*), sink.schema)
    val streamed = graft.ops.ModelEval.jbFinish(census).collect()
      .map(_.toString).toSet
    val batch = SparkEntry.queries("q_jarque_bera")(spark, sfDir)
      .collect().map(_.toString).toSet
    assert(batch.nonEmpty && streamed === batch,
      "drained power-sum census diverged from batch q_jarque_bera")
  }

  test("drained arrival census finishes to batch q_poisson_dispersion exactly") {
    val dir = tempDir("graft-pois")
    Tables.load(spark, sfDir, "events")
      .repartition(4)
      .write.mode("overwrite").parquet(s"$dir/in")
    val sink = StreamingOps.runToMemory(
      StreamingOps.poisCounts(
        StreamingOps.readEventStream(spark, s"$dir/in")),
      "t_pois", OutputMode.Complete())
    val census = spark.createDataFrame(
      java.util.Arrays.asList(sink.collect(): _*), sink.schema)
    val streamed = graft.ops.EventTime.poisFinish(census).collect()
      .map(_.toString).toSet
    val batch = SparkEntry.queries("q_poisson_dispersion")(spark, sfDir)
      .collect().map(_.toString).toSet
    assert(batch.nonEmpty && streamed === batch,
      "drained arrival census diverged from batch q_poisson_dispersion")
  }

  test("drained day census finishes to batch q_forecast_eval exactly") {
    // third readout of the medianCounts Complete-mode state (after
    // rolling-median): the d-7 backtest re-scores each trigger without
    // an order-history rescan; integer sums, so drain ≡ batch
    val dir = tempDir("graft-orders-fcast")
    Tables.load(spark, sfDir, "orders")
      .repartition(4)
      .write.mode("overwrite").parquet(s"$dir/in")
    val sink = StreamingOps.runToMemory(
      StreamingOps.medianCounts(StreamingOps.readOrderStream(spark, s"$dir/in")),
      "t_fcast", OutputMode.Complete())
    val counts = spark.createDataFrame(
      java.util.Arrays.asList(sink.collect(): _*), sink.schema)
    def key(r: org.apache.spark.sql.Row) =
      (String.valueOf(r.get(0)).take(10), r.getLong(1), r.getLong(2),
        r.getDouble(3))
    val streamed = graft.ops.EventTime.forecastFinish(counts).collect()
      .map(key).toSet
    val batch = SparkEntry.queries("q_forecast_eval")(spark, sfDir).collect()
      .map(key).toSet
    assert(batch.nonEmpty && streamed === batch,
      "drained day census diverged from batch forecast backtest")
  }

  test("drained day census finishes to batch q_mase exactly") {
    // FOURTH readout of the medianCounts Complete-mode state (after
    // rolling-median, forecast backtest): the live forecast-accuracy
    // monitor re-scores each trigger without an order-history rescan;
    // exact dec38 sums, so drain ≡ batch
    val dir = tempDir("graft-orders-mase")
    Tables.load(spark, sfDir, "orders")
      .repartition(4)
      .write.mode("overwrite").parquet(s"$dir/in")
    val sink = StreamingOps.runToMemory(
      StreamingOps.medianCounts(StreamingOps.readOrderStream(spark, s"$dir/in")),
      "t_mase", OutputMode.Complete())
    val counts = spark.createDataFrame(
      java.util.Arrays.asList(sink.collect(): _*), sink.schema)
    val streamed = graft.ops.EventTime.maseFinish(counts).collect()
      .map(_.toString).toSet
    val batch = SparkEntry.queries("q_mase")(spark, sfDir).collect()
      .map(_.toString).toSet
    assert(batch.nonEmpty && streamed === batch,
      "drained day census diverged from batch q_mase")
  }

  test("drained day census finishes to batch q_tracking_signal exactly") {
    // FIFTH readout of the medianCounts Complete-mode state: the live
    // forecast-bias monitor re-scores each trigger without an
    // order-history rescan; exact dec38 sums, so drain ≡ batch
    val dir = tempDir("graft-orders-ts")
    Tables.load(spark, sfDir, "orders")
      .repartition(4)
      .write.mode("overwrite").parquet(s"$dir/in")
    val sink = StreamingOps.runToMemory(
      StreamingOps.medianCounts(StreamingOps.readOrderStream(spark, s"$dir/in")),
      "t_tsig", OutputMode.Complete())
    val counts = spark.createDataFrame(
      java.util.Arrays.asList(sink.collect(): _*), sink.schema)
    val streamed = graft.ops.EventTime.trackingFinish(counts).collect()
      .map(_.toString).toSet
    val batch = SparkEntry.queries("q_tracking_signal")(spark, sfDir)
      .collect().map(_.toString).toSet
    assert(batch.nonEmpty && streamed === batch,
      "drained day census diverged from batch q_tracking_signal")
  }

  test("drained shard census finishes to batch q_export_shards exactly") {
    // the live export manifest: counts/sums/XORs are order-free
    // mergeable state, so the drained 16-row census equals the batch
    // manifest bit-for-bit at any trigger
    val dir = tempDir("graft-docs-shard")
    Tables.load(spark, sfDir, "documents")
      .repartition(4)
      .write.mode("overwrite").parquet(s"$dir/in")
    val sink = StreamingOps.runToMemory(
      StreamingOps.shardCounts(StreamingOps.readDocStream(spark, s"$dir/in")),
      "t_shard", OutputMode.Complete())
    val counts = spark.createDataFrame(
      java.util.Arrays.asList(sink.collect(): _*), sink.schema)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val streamed = graft.ops.Curation.shardFinish(counts).collect()
      .map(key).toSet
    val batch = SparkEntry.queries("q_export_shards")(spark, sfDir).collect()
      .map(key).toSet
    assert(batch.nonEmpty && streamed === batch,
      "drained shard census diverged from the batch export manifest")
  }

  test("drained confusion census finishes to batch q_fairness_gaps exactly") {
    // the live parity monitor: the 5-row cohort confusion census is
    // all counts, so the drained state's rates and DP gaps equal the
    // batch audit bit-for-bit
    val dir = tempDir("graft-events-fair")
    Tables.load(spark, sfDir, "events")
      .repartition(4)
      .write.mode("overwrite").parquet(s"$dir/in")
    val sink = StreamingOps.runToMemory(
      StreamingOps.fairnessCounts(StreamingOps.readEventStream(spark, s"$dir/in")),
      "t_fair", OutputMode.Complete())
    val counts = spark.createDataFrame(
      java.util.Arrays.asList(sink.collect(): _*), sink.schema)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6))
    val streamed = graft.ops.ModelEval.fairnessFinish(counts).collect()
      .map(key).toSet
    val batch = SparkEntry.queries("q_fairness_gaps")(spark, sfDir).collect()
      .map(key).toSet
    assert(batch.nonEmpty && streamed === batch,
      "drained confusion census diverged from the batch fairness audit")
  }

  test("streaming trend moments fold to the oracled batch regression exactly") {
    // q_regression is five mergeable sums + finalization: the drained
    // stream's Complete-mode moments must finalize to the batch answer
    // bit-for-bit (same DECIMAL accumulation, same rounding rule).
    val streamed = StreamingOps.trendFromMoments(
      StreamingOps.runToMemory(
        StreamingOps.trendMoments(StreamingOps.readEventStream(spark, batchDir)),
        "t_trend", OutputMode.Complete()))
      .orderBy("event_type").collect()
    val batch = SparkEntry.queries("q_regression")(spark, sfDir)
      .collect()
    assert(streamed.nonEmpty)
    assert(streamed.map(_.toSeq).toSeq === batch.map(_.toSeq).toSeq)
  }
}
