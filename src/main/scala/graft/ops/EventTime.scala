package graft.ops

import graft.{Q, Tables}
import graft.Q._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

/** Tier C — event-time windowing over the `events` table (SURVEY.md §2.C).
  *
  * The reference is batch-only with no notion of time (nothing in any file
  * handles timestamps); these are the batch twins of the Structured
  * Streaming queries in `graft.streaming` — same `window()`/session logic,
  * so the streaming path is oracle-checked through its batch twin.
  *
  * Scale notes: `window()` is a plain projection (each row maps to 1 or
  * `ceil(len/slide)` windows) feeding a partial+final hash aggregation —
  * no driver-side state; sessionization uses one shuffle by `user_id`
  * (the natural 100-TB partitioning for per-user state) and in streaming
  * maps to `session_window` with watermark-bounded state.
  */
object EventTime {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** Poisson-dispersion sufficient statistic: the (type, day) integer
    * arrival-count census. Mergeable Complete-mode streaming state
    * (calendar bounded); [[poisFinish]] over a drained state equals
    * batch q_poisson_dispersion exactly — a live burstiness monitor.
    */
  def poisCensus(events: DataFrame): DataFrame =
    events
      .select(col("event_type"), col("ts").cast("date").as("d"))
      .groupBy("event_type", "d")
      .agg(count(lit(1)).cast("long").as("n"))

  /** Poisson-dispersion readout over the census (batch or drained
    * stream state): Σn/Σn² exact longs, row-local IEEE finisher.
    */
  def poisFinish(cen: DataFrame): DataFrame =
    cen
      .groupBy("event_type")
      .agg(count(lit(1)).cast("long").as("d_days"),
        sum(col("n")).cast("long").as("s1"),
        sum(col("n") * col("n")).cast("long").as("s2"))
      .select(col("event_type"), col("d_days"),
        (col("s1").cast("double") / col("d_days").cast("double"))
          .as("mean_n"),
        (col("s2").cast("double") / col("d_days").cast("double")
          - (col("s1").cast("double") / col("d_days").cast("double"))
            * (col("s1").cast("double")
              / col("d_days").cast("double"))).as("var_n"))
      .select(col("event_type"), col("d_days"),
        round(col("mean_n"), 12).as("mean_n"),
        round(col("var_n"), 12).as("var_n"),
        when(col("d_days") <= 1 || col("mean_n") <= 0,
          lit(null).cast("double"))
          .otherwise(round(col("var_n") / col("mean_n"), 12))
          .as("dispersion"),
        when(col("d_days") <= 1 || col("mean_n") <= 0,
          lit(null).cast("double"))
          .otherwise(round(col("d_days").cast("double") * col("var_n")
            / col("mean_n"), 6)).as("chi2"))
      .orderBy("event_type")

  /** Decayed-popularity sufficient statistic: the calendar-bounded
    * (type, day) census (counts + exact DECIMAL cent sums). Mergeable,
    * so the streaming twin keeps exactly this frame as Complete-mode
    * state — the decay weighting re-anchors on the CURRENT max date at
    * every trigger, which a pre-weighted running sum could never do.
    */
  def decayCensus(events: DataFrame): DataFrame =
    events
      .select(col("event_type"), col("ts").cast("date").as("d"),
        (dec2(col("value")) * 100).cast("long").as("cents"))
      .groupBy("event_type", "d")
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("cents").cast("decimal(38,0)")).as("sc"))

  /** Decayed-popularity readout over the census (batch or drained
    * stream state): exact 2^(62−age) bigint-shift weights, DECIMAL
    * weighted sums, ÷2^62 exact finisher.
    */
  def decayFinish(cen: DataFrame): DataFrame = {
    val anchor = cen.agg(max(col("d")).as("maxd"))
    cen.crossJoin(broadcast(anchor))
      .select(col("event_type"), col("n"), col("sc"),
        expr("""CASE WHEN datediff(maxd, d) <= 62
                  THEN shiftleft(CAST(1 AS BIGINT),
                    CAST(62 - datediff(maxd, d) AS INT))
                  ELSE CAST(0 AS BIGINT) END""").as("w"))
      .groupBy("event_type")
      .agg(sum(col("n")).cast("long").as("n_events"),
        sum(col("w").cast("decimal(38,0)") * col("n")).as("sw"),
        sum(col("w").cast("decimal(38,0)") * col("sc")).as("swv"))
      .select(col("event_type"), col("n_events"),
        (col("sw").cast("double")
          / lit(4611686018427387904L).cast("double"))
          .as("decayed_count"),
        (col("swv").cast("double")
          / lit(4611686018427387904L).cast("double") / 100.0)
          .as("decayed_value"))
      .orderBy("event_type")
  }

  /** Seasonality sufficient statistic: the dow×type census (counts +
    * decimal value sums). Mergeable, so the streaming twin keeps exactly
    * this frame as Complete-mode state — same contract as
    * [[graft.ops.Curation.ksCounts]].
    */
  def seasonCounts(events: DataFrame): DataFrame =
    events
      .select(((datediff(col("ts").cast("date"),
        lit("1970-01-01").cast("date")) + 4) % 7).cast("long").as("dow"),
        col("event_type"), col("value"))
      .groupBy("dow", "event_type")
      .agg(count(lit(1)).cast("long").as("cnt"),
        sum(dec2(col("value"))).as("sum_dec"))

  /** Finishing arithmetic of q_seasonality over the bounded census:
    * marginal-share windows on the ≤7×|types| grid, each one IEEE
    * division of exact counts.
    */
  def seasonFinish(census: DataFrame): DataFrame = {
    val w7 = Window.partitionBy("dow")
    val wt = Window.partitionBy("event_type")
    census
      .select(col("dow"), col("event_type"), col("cnt"),
        col("sum_dec").cast("double").as("sum_val"),
        (col("cnt").cast("double")
          / sum(col("cnt")).over(w7).cast("double")).as("share_of_dow"),
        (col("cnt").cast("double")
          / sum(col("cnt")).over(wt).cast("double")).as("share_of_type"))
      .orderBy("dow", "event_type")
  }

  val queries: Seq[Q] = Seq(

    // ── tumbling 1-day event-time window ─────────────────────────────────
    Q("q_tumbling_window",
      (s, dir) => t(s, dir, "events")
        .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
        .agg(count(lit(1)).as("cnt"), sumDec2(col("value")).as("sum_val"))
        .select(col("w.start").as("ws"), col("event_type"), col("cnt"), col("sum_val"))
        .orderBy("ws", "event_type"),
      Some("""SELECT date_trunc('day', ts) AS ws, event_type,
                count(*) AS cnt,
                CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_val
              FROM events GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ── sliding 3-day window, 1-day slide ────────────────────────────────
    // Each event lands in exactly 3 windows (starts d-2, d-1, d); Spark's
    // window() is epoch-aligned, so the oracle enumerates the same starts.
    Q("q_sliding_window",
      (s, dir) => t(s, dir, "events")
        .groupBy(window(col("ts"), "3 days", "1 day").as("w"), col("event_type"))
        .agg(count(lit(1)).as("cnt"), sumDec2(col("value")).as("sum_val"))
        .select(col("w.start").as("ws"), col("event_type"), col("cnt"), col("sum_val"))
        .orderBy("ws", "event_type"),
      Some("""SELECT ws, event_type, count(*) AS cnt,
                CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_val
              FROM (SELECT unnest(generate_series(
                      date_trunc('day', ts) - INTERVAL 2 DAY,
                      date_trunc('day', ts), INTERVAL 1 DAY)) AS ws,
                    event_type, value
                    FROM events)
              GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ── sessionization: 30-min inactivity gap per user ───────────────────
    // Batch formulation: lag + cumulative-sum of session-start flags —
    // one shuffle by user_id, then a per-user sort inside WindowExec.
    // Streaming twin: session_window($"ts", "30 minutes") in
    // graft.streaming.StreamingOps.
    Q("q_sessionize",
      (s, dir) => {
        val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val gapUs = unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(byUser)
        t(s, dir, "events")
          .withColumn("new_sess",
            when(gapUs.isNull || gapUs > 1800L * 1000000L, 1L).otherwise(0L))
          .withColumn("sess_id",
            sum(col("new_sess")).over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy("user_id", "sess_id")
          .agg(min(col("ts")).as("sess_start"), max(col("ts")).as("sess_end"),
            count(lit(1)).as("n_events"), sumDec2(col("value")).as("sum_val"))
          .orderBy("user_id", "sess_id")
      },
      Some("""WITH x AS (
                SELECT user_id, event_id, ts, value,
                  CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                       THEN 1 ELSE 0 END AS new_sess
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
              y AS (
                SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS UNBOUNDED PRECEDING) AS sess_id
                FROM x)
              SELECT user_id, CAST(sess_id AS BIGINT) AS sess_id,
                min(ts) AS sess_start, max(ts) AS sess_end,
                count(*) AS n_events,
                CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_val
              FROM y GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ── ordered-sequence funnel: view → click → purchase per user ────────
    // The conversion-funnel operator (MATCH_RECOGNIZE territory — Spark
    // has no built-in): the earliest time each user completes each stage
    // IN ORDER (a click counts only at-or-after the first view, a
    // purchase only at-or-after that click). Cascaded per-stage
    // aggregations: each stage is a scan filtered to ONE event type —
    // the equality predicate pushes into the parquet scan, so stage k
    // reads |that type| rows, not |events| — joined to the (users-sized,
    // one row per user) previous frontier and min-reduced again. Every
    // shuffle is keyed user_id; no window sort, no per-user timeline
    // materialization. LEFT joins keep drop-off visible: stage counts
    // the deepest stage reached (0-3).
    Q("q_funnel",
      (s, dir) => {
        val ev = t(s, dir, "events")
        def stage(typ: String, prev: DataFrame, prevT: String, outT: String) =
          ev.filter(col("event_type") === typ)
            .join(prev, "user_id")
            .filter(col("ts") >= col(prevT))
            .groupBy("user_id").agg(min(col("ts")).as(outT))
        val s1 = ev.filter(col("event_type") === "view")
          .groupBy("user_id").agg(min(col("ts")).as("t_view"))
        val s2 = stage("click", s1, "t_view", "t_click")
        val s3 = stage("purchase", s2, "t_click", "t_purchase")
        s1.join(s2, Seq("user_id"), "left").join(s3, Seq("user_id"), "left")
          .select(col("user_id"), col("t_view"), col("t_click"), col("t_purchase"),
            (lit(1L) + col("t_click").isNotNull.cast("long")
              + col("t_purchase").isNotNull.cast("long")).as("stage"))
          .orderBy("user_id")
      },
      Some("""WITH s1 AS (
                SELECT user_id, min(ts) AS t_view FROM events
                WHERE event_type = 'view' GROUP BY 1),
              s2 AS (
                SELECT e.user_id, min(e.ts) AS t_click
                FROM events e JOIN s1 USING (user_id)
                WHERE e.event_type = 'click' AND e.ts >= s1.t_view GROUP BY 1),
              s3 AS (
                SELECT e.user_id, min(e.ts) AS t_purchase
                FROM events e JOIN s2 USING (user_id)
                WHERE e.event_type = 'purchase' AND e.ts >= s2.t_click GROUP BY 1)
              SELECT s1.user_id, s1.t_view, s2.t_click, s3.t_purchase,
                CAST(1 + (s2.user_id IS NOT NULL)::INT
                       + (s3.user_id IS NOT NULL)::INT AS BIGINT) AS stage
              FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
              ORDER BY s1.user_id""")),

    // ── resample to a daily grid + forward fill ──────────────────────────
    // The time-series regularization op: each user's event stream becomes
    // a dense daily series over [first, last] active day — missing days
    // materialize with the PREVIOUS day's value carried forward (and
    // flagged). Spine generation is row-local (sequence per user off a
    // tiny (user, min, max) agg), the join is keyed (user, day), and the
    // fill is one running last-non-null window per user — the same
    // union-merge discipline as q_join_asof: nothing here materializes
    // more than |users| × active-span rows, and nothing compares
    // cross-user. day_val is computed ONCE in the decimal agg and only
    // copied by the fill, so the oracle stays bit-stable.
    Q("q_resample_ffill",
      (s, dir) => {
        val daily = t(s, dir, "events")
          .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
          .agg(sumDec2(col("value")).as("day_val"))
        val spine = daily.groupBy("user_id")
          .agg(min("day").as("d0"), max("day").as("d1"))
          .select(col("user_id"),
            explode(sequence(col("d0"), col("d1"), expr("INTERVAL 1 DAY"))).as("day"))
        val w = Window.partitionBy("user_id").orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        spine.join(daily, Seq("user_id", "day"), "left")
          .select(col("user_id"), col("day"),
            last(col("day_val"), ignoreNulls = true).over(w).as("val_filled"),
            col("day_val").isNull.cast("long").as("is_gap"))
          .orderBy("user_id", "day")
      },
      Some("""WITH daily AS (
                SELECT user_id, date_trunc('day', ts) AS day,
                  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS day_val
                FROM events GROUP BY 1, 2),
              spine AS (
                SELECT user_id, unnest(generate_series(min(day), max(day),
                  INTERVAL 1 DAY)) AS day
                FROM daily GROUP BY user_id)
              SELECT s.user_id, s.day,
                last_value(d.day_val IGNORE NULLS) OVER (
                  PARTITION BY s.user_id ORDER BY s.day
                  ROWS UNBOUNDED PRECEDING) AS val_filled,
                CAST(d.day_val IS NULL AS BIGINT) AS is_gap
              FROM spine s LEFT JOIN daily d USING (user_id, day)
              ORDER BY s.user_id, s.day""")),

    // ── cohort retention matrix ──────────────────────────────────────────
    // The product-analytics staple: users cohorted by first-activity
    // week, each later week's active count binned by week offset. Two
    // user-keyed aggregations and one join — the (user, week) activity
    // set collapses BEFORE the join (distinct = partial agg), so the
    // join carries one row per active user-week, and the final matrix
    // is bounded by weeks², not events. All-integer output.
    Q("q_retention",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val cohort = ev.groupBy("user_id")
          .agg(date_trunc("week", min(col("ts"))).as("cohort_wk"))
        val active = ev
          .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
          .distinct()
        active.join(cohort, "user_id")
          .groupBy(col("cohort_wk"),
            (datediff(col("wk"), col("cohort_wk")) / 7).cast("long").as("wk_offset"))
          .agg(countDistinct(col("user_id")).as("active_users"))
          .orderBy("cohort_wk", "wk_offset")
      },
      Some("""WITH cohort AS (
                SELECT user_id, date_trunc('week', min(ts)) AS cohort_wk
                FROM events GROUP BY 1),
              active AS (
                SELECT DISTINCT user_id, date_trunc('week', ts) AS wk
                FROM events)
              SELECT c.cohort_wk,
                CAST(date_diff('day', c.cohort_wk, a.wk) / 7 AS BIGINT) AS wk_offset,
                COUNT(DISTINCT a.user_id) AS active_users
              FROM active a JOIN cohort c USING (user_id)
              GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ── z-score outlier flagging per event type ──────────────────────────
    // The metric-cleaning pass before any value aggregation: per-type
    // mean/σ from the same decimal-moment formulation as q_stats_agg
    // (order-free sums → identical doubles in both engines; every
    // arithmetic op mirrored left-to-right), then each row scored in one
    // broadcast-joined projection — stats are #event-types rows,
    // genuinely constant-size, so the hint is correct at any SF. Rows
    // with |z| > 3 emit; the corpus never shuffles.
    Q("q_anomaly_zscore",
      (s, dir) => {
        val v = dec2(col("value"))
        val stats = t(s, dir, "events")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            // integral-rounded BIGINT moments → the double conversion is
            // EXACT in both engines (DuckDB's decimal→double cast can be
            // 1 ulp off on >15-digit sums; see q_stats_agg)
            round(sum(v), 0).cast("long").as("svi"),
            round(sum(v * v), 0).cast("long").as("svvi"))
          .select(col("event_type"), col("n"),
            col("svi").cast("double").as("sv"), col("svvi").cast("double").as("svv"))
          .select(col("event_type"), (col("sv") / col("n")).as("mean_v"),
            sqrt((col("svv") - col("sv") * col("sv") / col("n"))
              / (col("n") - 1)).as("sd_v"))
        val z = (dec2(col("value")).cast("double") - col("mean_v")) / col("sd_v")
        t(s, dir, "events")
          .join(broadcast(stats), "event_type")
          .select(col("event_id"), col("event_type"), z.as("z"))
          .filter(abs(col("z")) > 3.0)
          .orderBy("event_id")
      },
      Some("""WITH m AS (
                SELECT event_type, COUNT(*) AS n,
                  CAST(CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 0) AS BIGINT) AS DOUBLE) AS sv,
                  CAST(CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))
                    * CAST(value AS DECIMAL(18,2))), 0) AS BIGINT) AS DOUBLE) AS svv
                FROM events GROUP BY 1),
              s AS (
                SELECT event_type, sv / n AS mean_v,
                  sqrt((svv - sv * sv / n) / (n - 1)) AS sd_v
                FROM m)
              SELECT e.event_id, e.event_type,
                (CAST(CAST(e.value AS DECIMAL(18,2)) AS DOUBLE) - s.mean_v)
                  / s.sd_v AS z
              FROM events e JOIN s USING (event_type)
              WHERE abs((CAST(CAST(e.value AS DECIMAL(18,2)) AS DOUBLE) - s.mean_v)
                        / s.sd_v) > 3
              ORDER BY e.event_id""")),

    // ── interval sweep: max concurrent sessions per day ──────────────────
    // The capacity-planning op: sessions (30-min-gap, as q_sessionize)
    // become ±1 deltas at their bounds, concurrency is the running sum
    // over time, and the answer is each day's peak. A global ordered
    // cumsum is a one-partition sort — instead the q_join_range
    // decomposition: per-day partial sums roll into a carry table (one
    // row per HOUR — bounded by the calendar, broadcastable at any SF),
    // and each hour's sweep runs independently with its carry prefix.
    // The sweep era is an HOUR while the OUTPUT stays per day: each
    // hour's peak is greatest(carry at hour start, max running value in
    // the hour), and the day rollup takes the max of its hours' peaks —
    // identical to the single-day sweep because every hour's carry is
    // either the day-start carry or an earlier delta's running value,
    // both already in the max. At 100× volume the per-era window
    // partition holds one HOUR of net-deltas, not one day — the knob
    // that keeps sweep partitions bounded (drop to minutes at higher
    // density). Deltas collapse to one net per timestamp first (ends
    // apply before starts at the same instant, so the per-ts post-net
    // value IS the within-ts peak), and an era that only loses sessions
    // peaks at its carry — hence greatest(carry, max cc). All-integer.
    Q("q_concurrency",
      (s, dir) => {
        val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val gapUs = unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(byUser)
        val sessions = t(s, dir, "events")
          .withColumn("new_sess",
            when(gapUs.isNull || gapUs > 1800L * 1000000L, 1L).otherwise(0L))
          .withColumn("sess_id", sum(col("new_sess"))
            .over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy("user_id", "sess_id")
          .agg(min(col("ts")).as("t0"), max(col("ts")).as("t1"))
        val deltas = sessions.select(col("t0").as("ts"), lit(1L).as("d"))
          .unionByName(sessions.select(col("t1").as("ts"), lit(-1L).as("d")))
          .groupBy("ts").agg(sum("d").as("net"))
          .withColumn("era", date_trunc("hour", col("ts")))
        val eras = deltas.groupBy("era").agg(sum("net").as("era_net"))
        val wE = Window.orderBy("era")
          .rowsBetween(Window.unboundedPreceding, -1)
        val carry = eras.select(col("era"),
          coalesce(sum("era_net").over(wE), lit(0L)).as("carry"))
        val wIn = Window.partitionBy("era").orderBy("ts")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        deltas.join(broadcast(carry), "era")
          .withColumn("cc", col("carry") + sum("net").over(wIn))
          .groupBy("era")
          .agg(greatest(max(col("carry")), max(col("cc"))).as("hour_peak"))
          .groupBy(date_trunc("day", col("era")).as("era"))
          .agg(max(col("hour_peak")).as("max_concurrency"))
          .orderBy("era")
      },
      Some("""WITH x AS (
                SELECT user_id, event_id, ts,
                  CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                       THEN 1 ELSE 0 END AS new_sess
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
              y AS (
                SELECT *, SUM(new_sess) OVER (PARTITION BY user_id
                  ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sess_id
                FROM x),
              sess AS (
                SELECT user_id, sess_id, min(ts) AS t0, max(ts) AS t1
                FROM y GROUP BY 1, 2),
              deltas AS (
                SELECT ts, CAST(SUM(d) AS BIGINT) AS net,
                  date_trunc('day', ts) AS era
                FROM (SELECT t0 AS ts, 1 AS d FROM sess
                      UNION ALL SELECT t1, -1 FROM sess)
                GROUP BY 1),
              eras AS (SELECT era, SUM(net) AS era_net FROM deltas GROUP BY 1),
              carry AS (
                SELECT era, CAST(COALESCE(SUM(era_net) OVER (ORDER BY era
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS carry
                FROM eras),
              cc AS (
                SELECT d.era, c.carry,
                  CAST(c.carry + SUM(d.net) OVER (PARTITION BY d.era
                    ORDER BY d.ts ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cc
                FROM deltas d JOIN carry c USING (era))
              SELECT era, GREATEST(MAX(carry), MAX(cc)) AS max_concurrency
              FROM cc GROUP BY 1 ORDER BY 1""")),

    // ── event-path transition matrix ─────────────────────────────────────
    // Per-user next-event pairs (lead over the user timeline — ONE
    // shuffle on user_id, the state stays per-user) aggregated into the
    // Markov transition counts path analysis starts from. The matrix is
    // #types² rows — constant-size output from any event volume; the
    // probability is an exact int ratio (single IEEE division, bit-equal
    // in both engines).
    Q("q_transitions",
      (s, dir) => {
        val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val pairs = t(s, dir, "events")
          .select(col("user_id"), col("event_type").as("cur"),
            lead(col("event_type"), 1).over(byUser).as("nxt"))
          .filter(col("nxt").isNotNull)
        val outDeg = pairs.groupBy("cur").agg(count(lit(1)).as("n_out"))
        pairs.groupBy("cur", "nxt").agg(count(lit(1)).as("cnt"))
          .join(broadcast(outDeg), "cur")
          .select(col("cur"), col("nxt"), col("cnt"),
            (col("cnt").cast("double") / col("n_out")).as("p"))
          .orderBy("cur", "nxt")
      },
      Some("""WITH pairs AS (
                SELECT user_id, event_type AS cur,
                  lead(event_type) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) AS nxt
                FROM events),
              p2 AS (SELECT cur, nxt FROM pairs WHERE nxt IS NOT NULL),
              deg AS (SELECT cur, count(*) AS n_out FROM p2 GROUP BY 1)
              SELECT p.cur, p.nxt, count(*) AS cnt,
                CAST(count(*) AS DOUBLE) / MAX(d.n_out) AS p
              FROM p2 p JOIN deg d USING (cur)
              GROUP BY p.cur, p.nxt ORDER BY 1, 2""")),

    // ── Bowker symmetry test on the event-transition matrix ─────────────
    // McNemar's k×k generalization (q_mcnemar is the 2×2): is the user
    // next-event flow SYMMETRIC — view→click as often as click→view —
    // or directional? χ²_B = Σ_{i<j} (n_ij − n_ji)²/(n_ij + n_ji),
    // dof = #pairs with traffic. Same per-user lead() pass as
    // q_transitions collapses the corpus to the ≤|types|² transition
    // census; the pair grid is a full self-merge of its upper/lower
    // triangles (catalog-bounded). Terms are exact-int ratios
    // (identical doubles both engines), the total a pair-pinned fold —
    // zero rounding anywhere.
    Q("q_bowker_symmetry",
      (s, dir) => {
        val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val cnts = t(s, dir, "events")
          .select(col("user_id"), col("event_type").as("cur"),
            lead(col("event_type"), 1).over(byUser).as("nxt"))
          .filter(col("nxt").isNotNull && col("nxt") =!= col("cur"))
          .groupBy("cur", "nxt").agg(count(lit(1)).cast("long").as("c"))
        val ab = cnts.filter(col("cur") < col("nxt"))
          .select(col("cur").as("ta"), col("nxt").as("tb"),
            col("c").as("n_ab"))
        val ba = cnts.filter(col("cur") > col("nxt"))
          .select(col("nxt").as("ta"), col("cur").as("tb"),
            col("c").as("n_ba"))
        // persist: the grid feeds the fold AND the output projection
        val grid = Artifacts.persist(ab.join(ba, Seq("ta", "tb"), "full")
          .select(col("ta"), col("tb"),
            coalesce(col("n_ab"), lit(0L)).as("n_ab"),
            coalesce(col("n_ba"), lit(0L)).as("n_ba"))
          .withColumn("term",
            ((col("n_ab") - col("n_ba")) * (col("n_ab") - col("n_ba")))
              .cast("double")
              / (col("n_ab") + col("n_ba")).cast("double")))
        val tot = grid.agg(
          expr("""aggregate(array_sort(collect_list(struct(ta, tb, term))),
                    CAST(0 AS DOUBLE), (a, x) -> a + x.term)""")
            .as("chi2_bowker"),
          count(lit(1)).cast("long").as("dof"))
        grid.crossJoin(broadcast(tot))
          .select(col("ta"), col("tb"), col("n_ab"), col("n_ba"),
            col("term"), col("chi2_bowker"), col("dof"))
          .orderBy("ta", "tb")
      },
      Some("""WITH pairs AS (
                SELECT user_id, event_type AS cur,
                  lead(event_type) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) AS nxt
                FROM events),
              cnts AS (
                SELECT cur, nxt, CAST(count(*) AS BIGINT) AS c
                FROM pairs
                WHERE nxt IS NOT NULL AND nxt <> cur
                GROUP BY 1, 2),
              ab AS (SELECT cur AS ta, nxt AS tb, c AS n_ab
                     FROM cnts WHERE cur < nxt),
              ba AS (SELECT nxt AS ta, cur AS tb, c AS n_ba
                     FROM cnts WHERE cur > nxt),
              grid AS (
                SELECT COALESCE(ab.ta, ba.ta) AS ta,
                  COALESCE(ab.tb, ba.tb) AS tb,
                  COALESCE(n_ab, 0) AS n_ab, COALESCE(n_ba, 0) AS n_ba,
                  CAST((COALESCE(n_ab, 0) - COALESCE(n_ba, 0))
                      * (COALESCE(n_ab, 0) - COALESCE(n_ba, 0)) AS DOUBLE)
                    / CAST(COALESCE(n_ab, 0) + COALESCE(n_ba, 0)
                      AS DOUBLE) AS term
                FROM ab FULL JOIN ba ON ab.ta = ba.ta AND ab.tb = ba.tb),
              tot AS (
                SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(term ORDER BY ta, tb)), (a, x) -> a + x)
                    AS chi2_bowker,
                  CAST(count(*) AS BIGINT) AS dof
                FROM grid)
              SELECT ta, tb, n_ab, n_ba, term, chi2_bowker, dof
              FROM grid, tot ORDER BY ta, tb""")),

    // ── weekly churn (the flip side of q_retention) ──────────────────────
    // Per week: actives, and how many of them do NOT return the next
    // week. The (user, week) activity set collapses first (partial-agg
    // distinct); churn is a LEFT ANTI join of week w's actives against
    // week w+1's — user-keyed, no window, output bounded by #weeks. The
    // final (observed) week has no successor and is excluded, exactly as
    // a dashboard would. churn_rate is one exact-int IEEE division.
    Q("q_churn",
      (s, dir) => {
        val active = t(s, dir, "events")
          .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
          .distinct()
        val nxt = active.select(col("user_id"),
          (col("wk") - expr("INTERVAL 7 DAY")).as("wk"))
        val lastWk = active.agg(max(col("wk")).as("last_wk"))
        val churned = active.join(nxt, Seq("user_id", "wk"), "left_anti")
          .groupBy("wk").agg(count(lit(1)).as("n_churned"))
        active.groupBy("wk").agg(count(lit(1)).as("n_active"))
          .join(churned, Seq("wk"), "left")
          .join(broadcast(lastWk), col("wk") < col("last_wk"))
          .select(col("wk"), col("n_active"),
            coalesce(col("n_churned"), lit(0L)).as("n_churned"),
            (coalesce(col("n_churned"), lit(0L)).cast("double")
              / col("n_active")).as("churn_rate"))
          .orderBy("wk")
      },
      Some("""WITH active AS (
                SELECT DISTINCT user_id, date_trunc('week', ts) AS wk
                FROM events),
              churned AS (
                SELECT a.wk, count(*) AS n_churned
                FROM active a
                WHERE NOT EXISTS (
                  SELECT 1 FROM active n
                  WHERE n.user_id = a.user_id
                    AND n.wk = a.wk + INTERVAL 7 DAY)
                GROUP BY 1)
              SELECT a.wk, count(*) AS n_active,
                CAST(COALESCE(MAX(c.n_churned), 0) AS BIGINT) AS n_churned,
                CAST(COALESCE(MAX(c.n_churned), 0) AS DOUBLE) / count(*) AS churn_rate
              FROM active a LEFT JOIN churned c ON a.wk = c.wk
              WHERE a.wk < (SELECT max(wk) FROM active)
              GROUP BY a.wk ORDER BY a.wk""")),

    // ── interval overlap metering: session-seconds per calendar day ──────
    // The usage-metering op (billing, capacity reports): sessions (30-min
    // gap, exactly q_sessionize's bounds) are clipped against every day
    // they touch and the overlap durations aggregate per day. The
    // day-span fan-out is ROW-LOCAL (sequence over the session's days —
    // bounded by session length, ~1-2 rows) and the final agg keys on
    // calendar days, so partial aggs collapse to a bounded matrix before
    // the shuffle. All arithmetic is integer microseconds clipped by
    // least/greatest — exact in both engines; seconds surface via one
    // integer division AFTER the sum.
    Q("q_interval_overlap",
      (s, dir) => {
        val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val gapUs = unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(byUser)
        val sessions = t(s, dir, "events")
          .withColumn("new_sess",
            when(gapUs.isNull || gapUs > 1800L * 1000000L, 1L).otherwise(0L))
          .withColumn("sess_id",
            sum(col("new_sess")).over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy("user_id", "sess_id")
          .agg(min(col("ts")).as("sess_start"), max(col("ts")).as("sess_end"))
        sessions
          .select(col("sess_start"), col("sess_end"),
            explode(sequence(date_trunc("day", col("sess_start")),
              date_trunc("day", col("sess_end")), expr("INTERVAL 1 DAY"))).as("day_start"))
          .select(col("day_start"),
            (least(unix_micros(col("sess_end")),
              unix_micros(col("day_start") + expr("INTERVAL 1 DAY")))
              - greatest(unix_micros(col("sess_start")),
                unix_micros(col("day_start")))).as("ov_us"))
          .groupBy("day_start")
          .agg(count(lit(1)).as("n_sessions"),
            expr("sum(ov_us) div 1000000").as("busy_secs"))
          .orderBy("day_start")
      },
      Some("""WITH x AS (
                SELECT user_id, event_id, ts,
                  CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                       THEN 1 ELSE 0 END AS new_sess
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
              y AS (
                SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS UNBOUNDED PRECEDING) AS sess_id
                FROM x),
              sess AS (
                SELECT user_id, sess_id, min(ts) AS sess_start, max(ts) AS sess_end
                FROM y GROUP BY 1, 2),
              sp AS (
                SELECT sess_start, sess_end,
                  unnest(generate_series(date_trunc('day', sess_start),
                    date_trunc('day', sess_end), INTERVAL 1 DAY)) AS day_start
                FROM sess)
              SELECT day_start, count(*) AS n_sessions,
                CAST(SUM(LEAST(epoch_us(sess_end), epoch_us(day_start + INTERVAL 1 DAY))
                  - GREATEST(epoch_us(sess_start), epoch_us(day_start))) AS BIGINT)
                  // 1000000 AS busy_secs
              FROM sp GROUP BY 1 ORDER BY 1""")),

    // ── last-touch attribution ───────────────────────────────────────────
    // Marketing attribution: each purchase credits the user's most recent
    // marketing touch (click/view) STRICTLY before it, if within 7 days —
    // else 'direct'. One user-keyed window with a running last-non-null
    // over the preceding frame (the q_join_asof union-merge trick inside
    // a single table: touches and purchases share the timeline, so no
    // join at all). Revenue sums in DECIMAL; the attribution census is
    // bounded by #channels at any SF.
    Q("q_attribution",
      (s, dir) => {
        val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        val ev = t(s, dir, "events")
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type"), col("value"))
          .withColumn("touch_ts",
            when(col("event_type").isin("click", "view"), col("ts")))
          .withColumn("touch_type",
            when(col("event_type").isin("click", "view"), col("event_type")))
        ev
          .withColumn("last_touch_ts", last(col("touch_ts"), ignoreNulls = true).over(byUser))
          .withColumn("last_touch_type", last(col("touch_type"), ignoreNulls = true).over(byUser))
          .filter(col("event_type") === "purchase")
          .select(
            when(col("last_touch_ts").isNull
              || unix_micros(col("ts")) - unix_micros(col("last_touch_ts"))
                 > 7L * 86400 * 1000000, "direct")
              .otherwise(col("last_touch_type")).as("channel"),
            col("value"))
          .groupBy("channel")
          .agg(count(lit(1)).as("n_purchases"), sumDec2(col("value")).as("revenue"))
          .orderBy("channel")
      },
      Some("""WITH ev AS (
                SELECT user_id, ts, event_id, event_type, value,
                  CASE WHEN event_type IN ('click', 'view') THEN ts END AS touch_ts,
                  CASE WHEN event_type IN ('click', 'view') THEN event_type END AS touch_type
                FROM events),
              lt AS (
                SELECT *,
                  last_value(touch_ts IGNORE NULLS) OVER w AS last_touch_ts,
                  last_value(touch_type IGNORE NULLS) OVER w AS last_touch_type
                FROM ev
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
              SELECT CASE WHEN last_touch_ts IS NULL
                            OR epoch_us(ts) - epoch_us(last_touch_ts) > 604800000000
                          THEN 'direct' ELSE last_touch_type END AS channel,
                count(*) AS n_purchases,
                CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS revenue
              FROM lt WHERE event_type = 'purchase'
              GROUP BY 1 ORDER BY channel""")),

    // ── gaps-and-islands: per-user consecutive-day activity streaks ──────
    // The classic SQL islands construct (streaks, uptime runs, contiguous
    // coverage) via the row_number-difference trick: for each user's
    // DISTINCT activity days, day_num − row_number is constant exactly
    // within a run of consecutive days, so one user-keyed window turns
    // runs into group keys — no self-join, no recursion. Scale shape:
    // events collapse to (user, day) in a partial-agg distinct FIRST
    // (days-sized, ≤ calendar × users), then the only window partitions
    // by user — the natural 100-TB key; output is one row per user.
    Q("q_gaps_islands",
      (s, dir) => {
        val days = t(s, dir, "events")
          .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
          .select(col("user_id"),
            datediff(col("d"), lit("1970-01-01")).cast("long").as("dn"))
        val w = Window.partitionBy("user_id").orderBy("dn")
        days
          .select(col("user_id"), col("dn"),
            (col("dn") - row_number().over(w)).as("grp"))
          .groupBy("user_id", "grp")
          .agg(count(lit(1)).as("len"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_islands"),
            max(col("len")).as("longest_streak"),
            sum(col("len")).as("active_days"))
          .orderBy("user_id")
      },
      Some("""WITH days AS (
                SELECT DISTINCT user_id,
                  date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS dn
                FROM events),
              g AS (
                SELECT user_id, dn,
                  dn - row_number() OVER (PARTITION BY user_id ORDER BY dn) AS grp
                FROM days),
              isl AS (SELECT user_id, grp, count(*) AS len FROM g GROUP BY 1, 2)
              SELECT user_id, count(*) AS n_islands, MAX(len) AS longest_streak,
                CAST(SUM(len) AS BIGINT) AS active_days
              FROM isl GROUP BY 1 ORDER BY 1""")),

    // ── A/B experiment readout (Welch t-statistic) ───────────────────────
    // The experimentation op: cohorts by user_id parity, metric = per-USER
    // purchase revenue (user-level aggregation first — the correct unit of
    // analysis; event-level variance understates user correlation), then
    // per-variant moments → means, variances, and the Welch t-statistic.
    // Scale shape: one user-keyed partial agg (events → user totals), one
    // 2-group moment agg, one 1-row pivot — nothing bigger than users
    // ever shuffles. Determinism: moment sums go through DECIMAL and
    // round to integral BIGINT before the double cast (the q_stats_agg
    // rule — DuckDB's decimal→double cast double-rounds past 15
    // significant digits); downstream is identical-operand IEEE
    // arithmetic (div/sqrt are correctly rounded — bit-stable; log/exp
    // would not be).
    Q("q_ab_test",
      (s, dir) => {
        val perUser = t(s, dir, "events")
          .select(col("user_id"),
            when(col("event_type") === "purchase", dec2(col("value")))
              .otherwise(dec2(lit(0))).as("v"))
          .groupBy("user_id").agg(sum(col("v")).as("ux"))
          .select((col("user_id") % 2).as("variant"), col("ux"))
        val m = perUser.groupBy("variant")
          .agg(count(lit(1)).as("n"),
            round(sum(col("ux")), 0).cast("long").cast("double").as("sx"),
            round(sum(col("ux") * col("ux")), 0).cast("long").cast("double").as("sxx"))
          .select(col("variant"), col("n"),
            (col("sx") / col("n")).as("mean"),
            ((col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1)).as("vr"))
        m.groupBy()
          .agg(max(when(col("variant") === 0, col("n"))).as("n_a"),
            max(when(col("variant") === 1, col("n"))).as("n_b"),
            max(when(col("variant") === 0, col("mean"))).as("mean_a"),
            max(when(col("variant") === 1, col("mean"))).as("mean_b"),
            max(when(col("variant") === 0, col("vr"))).as("var_a"),
            max(when(col("variant") === 1, col("vr"))).as("var_b"))
          .select(col("n_a"), col("n_b"), col("mean_a"), col("mean_b"),
            (col("mean_a") - col("mean_b")).as("mean_diff"),
            ((col("mean_a") - col("mean_b"))
              / sqrt(col("var_a") / col("n_a") + col("var_b") / col("n_b")))
              .as("t_welch"))
      },
      Some("""WITH pu AS (
                SELECT user_id,
                  SUM(CASE WHEN event_type = 'purchase'
                      THEN CAST(value AS DECIMAL(18,2))
                      ELSE CAST(0 AS DECIMAL(18,2)) END) AS ux
                FROM events GROUP BY 1),
              m AS (
                SELECT user_id % 2 AS variant, COUNT(*) AS n,
                  CAST(CAST(ROUND(SUM(ux), 0) AS BIGINT) AS DOUBLE) AS sx,
                  CAST(CAST(ROUND(SUM(ux * ux), 0) AS BIGINT) AS DOUBLE) AS sxx
                FROM pu GROUP BY 1),
              v AS (SELECT variant, n, sx / n AS mean,
                      (sxx - sx * sx / n) / (n - 1) AS vr FROM m)
              SELECT
                MAX(CASE WHEN variant = 0 THEN n END) AS n_a,
                MAX(CASE WHEN variant = 1 THEN n END) AS n_b,
                MAX(CASE WHEN variant = 0 THEN mean END) AS mean_a,
                MAX(CASE WHEN variant = 1 THEN mean END) AS mean_b,
                MAX(CASE WHEN variant = 0 THEN mean END)
                  - MAX(CASE WHEN variant = 1 THEN mean END) AS mean_diff,
                (MAX(CASE WHEN variant = 0 THEN mean END)
                  - MAX(CASE WHEN variant = 1 THEN mean END))
                  / sqrt(MAX(CASE WHEN variant = 0 THEN vr END)
                           / MAX(CASE WHEN variant = 0 THEN n END)
                         + MAX(CASE WHEN variant = 1 THEN vr END)
                           / MAX(CASE WHEN variant = 1 THEN n END)) AS t_welch
              FROM v"""))
,
    // ── top user journey prefixes (first-3-event paths) ──────────────────
    // The sequence-analytics op: each user's first three events (ordered
    // by event time, ties broken by event_id) collapse to a ">"-joined
    // path string; the census ranks the most common onboarding journeys.
    // Scale shape: ONE shuffle by user_id for the per-user rank (window
    // parallelism = |users|, per-task state = one user's events), the
    // rn<=3 filter bounds everything downstream at 3 rows per user, and
    // the path census partial-aggs to ≤|distinct paths| per task. Path
    // cardinality is bounded by |event_types|³ — the final top-20 sort is
    // over a constant-size relation.
    Q("q_session_paths",
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        t(s, dir, "events")
          .select(col("user_id"), col("event_type"),
            row_number().over(w).cast("long").as("rn"))
          .filter(col("rn") <= 3)
          .groupBy("user_id")
          .agg(concat_ws(">",
            expr("transform(array_sort(collect_list(struct(rn, event_type))), x -> x.event_type)"))
            .as("path"))
          .groupBy("path")
          .agg(count(lit(1)).as("n_users"))
          .orderBy(col("n_users").desc, col("path"))
          .limit(20)
      },
      Some("""WITH r AS (
                SELECT user_id, event_type,
                  row_number() OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) AS rn
                FROM events),
              p AS (
                SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
                FROM r WHERE rn <= 3 GROUP BY 1)
              SELECT path, count(*) AS n_users
              FROM p GROUP BY 1 ORDER BY n_users DESC, path LIMIT 20""")),

    // ── per-group OLS trend (least-squares slope over event time) ────────
    // The metric-trend op: for each event type, the least-squares line of
    // event value against day-of-year. One partial+final moment
    // aggregation (n, Σx, Σx², Σy, Σxy) — the whole regression is five
    // mergeable sums, the canonical "statistics as one agg pass" shape
    // that holds at any SF. Determinism: x is exact BIGINT days; y-sums
    // run in DECIMAL and round to integral BIGINT before the double cast
    // (the q_stats_agg rule); slope/intercept are then identical-operand
    // IEEE arithmetic — bit-stable in both engines.
    Q("q_regression",
      (s, dir) => {
        val ev = t(s, dir, "events")
          .select(col("event_type"),
            datediff(col("ts").cast("date"), lit("2024-01-01")).cast("long").as("x"),
            dec2(col("value")).as("y"))
        ev.groupBy("event_type")
          .agg(
            count(lit(1)).cast("double").as("n"),
            sum(col("x")).cast("double").as("sx"),
            sum(col("x") * col("x")).cast("double").as("sxx"),
            round(sum(col("y")), 0).cast("long").cast("double").as("sy"),
            round(sum(col("x") * col("y")), 0).cast("long").cast("double").as("sxy"))
          .select(col("event_type"), col("n").cast("long").as("n"),
            ((col("n") * col("sxy") - col("sx") * col("sy"))
              / (col("n") * col("sxx") - col("sx") * col("sx"))).as("slope"),
            ((col("sy") - (col("n") * col("sxy") - col("sx") * col("sy"))
              / (col("n") * col("sxx") - col("sx") * col("sx")) * col("sx"))
              / col("n")).as("intercept"))
          .orderBy("event_type")
      },
      Some("""WITH ev AS (
                SELECT event_type,
                  CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS x,
                  CAST(value AS DECIMAL(18,2)) AS y
                FROM events),
              m AS (
                SELECT event_type,
                  CAST(COUNT(*) AS DOUBLE) AS n,
                  CAST(SUM(x) AS DOUBLE) AS sx,
                  CAST(SUM(x * x) AS DOUBLE) AS sxx,
                  CAST(CAST(ROUND(SUM(y), 0) AS BIGINT) AS DOUBLE) AS sy,
                  CAST(CAST(ROUND(SUM(x * y), 0) AS BIGINT) AS DOUBLE) AS sxy
                FROM ev GROUP BY 1)
              SELECT event_type, CAST(n AS BIGINT) AS n,
                (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
                (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n AS intercept
              FROM m ORDER BY event_type""")),

    // ── time-weighted average (duration-weighted event value) ────────────
    // The metric sampled-state telemetry needs: each event's value holds
    // until the user's NEXT event, so the mean weights by holding time,
    // not by event count. One user-keyed window (lead) — the q_join_asof
    // shuffle shape — then Σ(value·Δt) in DECIMAL (value at 2 decimals ×
    // integer micros — exact, order-free) and ONE double division. The
    // user's last event has no successor and carries no weight, same
    // exclusion in both engines.
    Q("q_time_weighted_avg",
      (s, dir) => {
        val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
        t(s, dir, "events")
          .select(col("user_id"), dec2(col("value")).as("v"),
            (lead(unix_micros(col("ts")), 1).over(byUser)
              - unix_micros(col("ts"))).as("dt_us"))
          .filter(col("dt_us").isNotNull)
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_intervals"),
            sum(col("dt_us")).cast("long").as("total_us"),
            // exact decimal Σ(v·Δt) surfaced as INTEGER hundredths: a
            // big-decimal→double cast rounds TWICE in DuckDB (hugeint,
            // then /10^scale) — integer→double is one rounding in both
            (sum(col("v") * col("dt_us")) * 100).cast("long").as("num_c"))
          .select(col("user_id"), col("n_intervals"), col("total_us"),
            (col("num_c").cast("double")
              / (lit(100.0) * col("total_us").cast("double"))).as("twa"))
          .orderBy("user_id")
      },
      Some("""WITH iv AS (
                SELECT user_id, CAST(value AS DECIMAL(18,2)) AS v,
                  lead(epoch_us(ts)) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) - epoch_us(ts) AS dt_us
                FROM events),
              agg AS (
                SELECT user_id, COUNT(*) AS n_intervals,
                  CAST(SUM(dt_us) AS BIGINT) AS total_us,
                  CAST(SUM(v * dt_us) * 100 AS BIGINT) AS num_c
                FROM iv WHERE dt_us IS NOT NULL GROUP BY 1)
              SELECT user_id, n_intervals, total_us,
                CAST(num_c AS DOUBLE)
                  / (100.0 * CAST(total_us AS DOUBLE)) AS twa
              FROM agg ORDER BY user_id""")),

    // ── cohort LTV triangle ──────────────────────────────────────────────
    // The growth-analytics staple q_retention counts users for — this one
    // follows the MONEY: cohort = first-event WEEK (the synthetic stream
    // spans one month, so weeks give a real triangle; production would
    // use months), age = weeks since, cell = (distinct actives, decimal
    // value total). Users fold to their cohort ONCE (min-agg, no
    // window), the cohort rides a users-sized equi-join back onto
    // events, and the triangle is a partial+final agg over a
    // calendar-bounded key space.
    Q("q_cohort_ltv",
      (s, dir) => {
        val cohorts = t(s, dir, "events")
          .groupBy("user_id")
          .agg(date_trunc("week", min(col("ts"))).as("cohort"))
        t(s, dir, "events")
          .join(cohorts, "user_id")
          .select(col("cohort"), col("user_id"),
            (datediff(date_trunc("week", col("ts")).cast("date"),
              col("cohort").cast("date")) / 7).cast("long").as("age"),
            dec2(col("value")).as("v"))
          .groupBy("cohort", "age")
          .agg(countDistinct(col("user_id")).as("n_users"),
            sum(col("v")).cast("double").as("total_value"))
          .orderBy("cohort", "age")
      },
      Some("""WITH f AS (
                SELECT user_id, date_trunc('week', MIN(ts)) AS cohort
                FROM events GROUP BY 1),
              ev AS (
                SELECT e.user_id, f.cohort,
                  CAST(date_diff('day', CAST(f.cohort AS DATE),
                    CAST(date_trunc('week', e.ts) AS DATE)) // 7
                    AS BIGINT) AS age,
                  CAST(e.value AS DECIMAL(18,2)) AS v
                FROM events e JOIN f USING (user_id))
              SELECT CAST(cohort AS TIMESTAMP) AS cohort, age,
                COUNT(DISTINCT user_id) AS n_users,
                CAST(SUM(v) AS DOUBLE) AS total_value
              FROM ev GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ── time-to-convert percentiles (first view → first purchase) ────────
    // The funnel's latency twin: per converted user, the exact micros
    // from first view to first purchase, rank-selected per acquisition
    // cohort DAY — partitioning the percentile window by cohort keeps
    // parallelism calendar-bounded instead of one global sort over
    // every converted user. Both firsts are min-aggs; the
    // t1 >= t0 guard drops purchase-before-view users in both engines.
    Q("q_funnel_time",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val fv = ev.filter(col("event_type") === "view")
          .groupBy("user_id").agg(min(col("ts")).as("t0"))
        val fp = ev.filter(col("event_type") === "purchase")
          .groupBy(col("user_id").as("p_user")).agg(min(col("ts")).as("t1"))
        val d = fv.join(fp, col("user_id") === col("p_user"))
          .filter(col("t1") >= col("t0"))
          .select(date_trunc("day", col("t0")).as("cohort"), col("user_id"),
            (unix_micros(col("t1")) - unix_micros(col("t0"))).as("dt_us"))
        val w = Window.partitionBy("cohort").orderBy(col("dt_us"), col("user_id"))
        d
          .select(col("cohort"), col("dt_us"),
            row_number().over(w).cast("long").as("rn"),
            count(lit(1)).over(Window.partitionBy("cohort")).as("n"))
          .groupBy("cohort")
          .agg(max(col("n")).as("n_converted"),
            max(when(col("rn") === ceil(col("n") * 0.5), col("dt_us"))).as("p50_us"),
            max(when(col("rn") === ceil(col("n") * 0.9), col("dt_us"))).as("p90_us"))
          .orderBy("cohort")
      },
      Some("""WITH fv AS (
                SELECT user_id, MIN(ts) AS t0 FROM events
                WHERE event_type = 'view' GROUP BY 1),
              fp AS (
                SELECT user_id, MIN(ts) AS t1 FROM events
                WHERE event_type = 'purchase' GROUP BY 1),
              d AS (
                SELECT date_trunc('day', t0) AS cohort, user_id,
                  CAST(epoch_us(t1) - epoch_us(t0) AS BIGINT) AS dt_us
                FROM fv JOIN fp USING (user_id) WHERE t1 >= t0),
              r AS (
                SELECT cohort, dt_us,
                  CAST(row_number() OVER (PARTITION BY cohort
                    ORDER BY dt_us, user_id) AS BIGINT) AS rn,
                  CAST(COUNT(*) OVER (PARTITION BY cohort) AS BIGINT) AS n
                FROM d)
              SELECT CAST(cohort AS TIMESTAMP) AS cohort,
                MAX(n) AS n_converted,
                MAX(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT)
                    THEN dt_us END) AS p50_us,
                MAX(CASE WHEN rn = CAST(ceil(n * 0.9) AS BIGINT)
                    THEN dt_us END) AS p90_us
              FROM r GROUP BY 1 ORDER BY 1""")),

    // ── per-user EWMA (recency-weighted state readout) ───────────────────
    // The exponentially weighted moving average behind every "recent
    // activity" feature: s ← s/2 + v/2 per event in time order, one
    // state double per user. A recurrence can't partial-agg, so the plan
    // is the q_lm_score discipline: collect the user's (ts, event_id,
    // value) rows, sort the array, left-fold — FP op ORDER is pinned by
    // the sorted array, so both engines run the identical IEEE sequence.
    // Per-group state is the user's own history (the same bounded-state
    // caveat as sessionize); the streaming twin is a one-double
    // mapGroupsWithState. Scale shape: one shuffle on user_id, fold is
    // row-local.
    Q("q_ewma",
      (s, dir) => t(s, dir, "events")
        .select(col("user_id"),
          struct(col("ts"), col("event_id"), col("value")).as("ev"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          expr("""aggregate(array_sort(collect_list(ev)),
                    CAST(0 AS DOUBLE),
                    (a, x) -> a * 0.5 + x.value * 0.5)""").as("ewma"))
        .orderBy("user_id"),
      Some("""SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
                list_reduce(list_prepend(CAST(0 AS DOUBLE),
                  list(value ORDER BY ts, event_id)),
                  (a, x) -> a * 0.5 + x * 0.5) AS ewma
              FROM events GROUP BY 1 ORDER BY user_id""")),

    // ── audience overlap census (exact pairwise set intersections) ───────
    // The audience-analysis primitive: for every pair of event types, how
    // many users did BOTH, with exact Jaccard. Shape: one per-user
    // type-set aggregation (bounded by the type vocabulary) fanned out
    // row-locally into the pair census ([[Pairs.census]]) — the basket
    // discipline; the corpus never self-joins on user_id (the oracle's
    // self-join formulation is the semantic spec, not the plan). The
    // census's single cells are the per-type user counts, attached to
    // each pair cell by [[Pairs.withMarginals]], so events are scanned
    // once; Jaccard is exact integer arithmetic + one IEEE division. The
    // HLL twin (q_overlap_sketch) answers the same question from
    // pre-aggregated sketches without the set pass.
    Q("q_set_overlap",
      (s, dir) => Pairs.withMarginals(Pairs.census(
          t(s, dir, "events").select(col("user_id"), col("event_type")),
          "user_id", "event_type"))
        .filter(col("b").isNotNull)
        // pair cells hold no nulls; the fills only type the columns
        // non-null, as the join-based form wrote them
        .na.fill("").na.fill(0L)
        .select(col("a").as("ta"), col("b").as("tb"), col("n_a"), col("n_b"),
          col("n").as("n_both"),
          (col("n") / (col("n_a") + col("n_b") - col("n"))).as("jaccard"))
        .orderBy("ta", "tb"),
      Some("""WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
              pairs AS (
                SELECT a.event_type AS ta, b.event_type AS tb,
                  CAST(COUNT(*) AS BIGINT) AS n_both
                FROM ut a JOIN ut b ON a.user_id = b.user_id
                  AND a.event_type < b.event_type
                GROUP BY 1, 2),
              sz AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
                     FROM ut GROUP BY 1)
              SELECT ta, tb, za.n AS n_a, zb.n AS n_b, n_both,
                n_both / (za.n + zb.n - n_both) AS jaccard
              FROM pairs JOIN sz za ON ta = za.event_type
                JOIN sz zb ON tb = zb.event_type
              ORDER BY ta, tb""")),

    // ── autocorrelation of the daily order-arrival series ────────────────
    // Does order volume today predict volume k days out? Sample
    // autocorrelation r_k of the ZERO-FILLED daily order-count series
    // for lags 1..7, in the exact-integer style of q_ks_drift: with
    // n = days, S = Σx, Q2 = Σx², P_k = Σ x_t·x_{t+k} and H_k/T_k the
    // head/tail partial sums, both sides of
    //   r_k = (n²P_k − nS(H_k+T_k) + (n−k)S²) / (n²Q2 − nS²)
    // are int64-exact (counts ≤ 10³/day for centuries of data), and the
    // ONLY IEEE op is the final division. Scale shape: the corpus-sized
    // work is the per-day partial+final count agg; the dense series and
    // its ×7 lag self-join are CALENDAR-bounded (grow with time, not
    // data volume), like ksFinish's grid. Day index via datediff (no
    // double-valued epoch()), so both engines bucket identically.
    Q("q_autocorr",
      (s, dir) => {
        val dec38 = DecimalType(38, 0)
        val counts = t(s, dir, "orders")
          .select(datediff(col("o_orderdate").cast("date"),
            lit("1970-01-01").cast("date")).cast("long").as("d"))
          .groupBy("d").agg(count(lit(1)).cast("long").as("x"))
        // only the calendar bounds reach the driver; S, Q2 and every
        // product of them ride DECIMAL(38,0) COLUMNS (ADVICE r7:
        // n²·Σx² wraps a driver-side Long well before 100-TB volume,
        // while the oracle computes the same quantity in HUGEINT)
        val bounds = counts.agg(min(col("d")), max(col("d"))).head
        val (minD, maxD) = (bounds.getLong(0), bounds.getLong(1))
        val n = maxD - minD + 1 // calendar span — Long-safe forever
        val nC = lit(n).cast(dec38)
        // persisted: BOTH sides of the lag self-join AND the moments agg
        // read the spine — un-cached, each re-pays the orders scan
        // (guard-caught; zero-filled days contribute 0 to S and Q2, so
        // the spine's moments equal the census's)
        val dense = Artifacts.persist(s.range(minD, maxD + 1)
          .select(col("id").as("d"))
          .join(counts, Seq("d"), "left")
          .select(col("d"), coalesce(col("x"), lit(0L)).as("x")))
        val moments = dense.agg(
          sum(col("x")).cast(dec38).as("s1"),
          sum(col("x").cast(dec38) * col("x")).as("q2"))
          .select(col("s1"),
            (nC * nC * col("q2") - nC * col("s1") * col("s1")).as("den"))
        val ks = s.range(1, 8).select(col("id").as("k"))
        dense.crossJoin(ks)
          .select(col("k"), col("x").as("xa"), (col("d") + col("k")).as("d2"))
          .join(dense.select(col("d").as("d2"), col("x").as("xb")), "d2")
          .groupBy("k")
          .agg(sum(col("xa").cast(dec38) * col("xb")).as("p"),
            sum(col("xa")).cast(dec38).as("h"),
            sum(col("xb")).cast(dec38).as("tt"))
          .crossJoin(broadcast(moments))
          .select(col("k"),
            lit(n).minus(col("k")).cast("long").as("n_pairs"),
            (nC * nC * col("p") - nC * col("s1") * (col("h") + col("tt"))
              + (nC - col("k")) * col("s1") * col("s1")).as("numd"),
            col("den"))
          .select(col("k"), col("n_pairs"),
            col("numd").cast("long").as("num"),
            (col("numd").cast("double") / col("den").cast("double"))
              .as("r"))
          .orderBy("k")
      },
      Some("""WITH c AS (
                SELECT DATE_DIFF('day', DATE '1970-01-01',
                    CAST(o_orderdate AS DATE)) AS d,
                  CAST(COUNT(*) AS BIGINT) AS x
                FROM orders GROUP BY 1),
              mm AS (SELECT MIN(d) AS mn, MAX(d) AS mx,
                       CAST(MAX(d) - MIN(d) + 1 AS BIGINT) AS n,
                       SUM(x) AS s, SUM(x * x) AS q2 FROM c),
              dense AS (
                SELECT g.d, COALESCE(c.x, 0) AS x
                FROM (SELECT UNNEST(generate_series(
                        (SELECT mn FROM mm), (SELECT mx FROM mm))) AS d) g
                  LEFT JOIN c ON g.d = c.d),
              lags AS (SELECT UNNEST(generate_series(1, 7)) AS k),
              pairs AS (
                SELECT l.k, a.x AS xa, b.x AS xb
                FROM dense a CROSS JOIN lags l
                  JOIN dense b ON b.d = a.d + l.k),
              agg AS (
                SELECT k, SUM(xa * xb) AS p, SUM(xa) AS h, SUM(xb) AS tt
                FROM pairs GROUP BY 1)
              SELECT CAST(k AS BIGINT) AS k,
                CAST(mm.n - k AS BIGINT) AS n_pairs,
                CAST(mm.n * mm.n * p - mm.n * mm.s * (h + tt)
                  + (mm.n - k) * mm.s * mm.s AS BIGINT) AS num,
                CAST(mm.n * mm.n * p - mm.n * mm.s * (h + tt)
                  + (mm.n - k) * mm.s * mm.s AS DOUBLE)
                  / CAST(mm.n * mm.n * q2 - mm.n * mm.s * mm.s AS DOUBLE) AS r
              FROM agg, mm ORDER BY k""")),

    // ── Ljung–Box portmanteau over the daily order series ────────────────
    // q_autocorr reads the lag structure one coefficient at a time; the
    // Ljung–Box Q aggregates lags 1..10 into ONE whiteness test:
    // Q = n(n+2)·Σ_k r_k²/(n−k). Exact carriers all the way to the
    // per-lag division: on the centered series y_t = n·x_t − S (integer
    // — no FP mean subtraction), r_k = Σ y_t·y_{t+k} / Σ y_t², both
    // sums exact BIGINTs over the calendar-bounded dense day spine.
    // The 10-term Σ r²/(n−k) is a pinned sorted fold (every input
    // bit-identical across engines, so the fold is too). Scale shape:
    // one orders scan collapses to the ≤|days| census; spine,
    // lag joins, and the fold are calendar-bounded.
    Q("q_ljung_box",
      (s, dir) => {
        val counts = t(s, dir, "orders")
          .select(datediff(col("o_orderdate").cast("date"),
            lit("1970-01-01").cast("date")).cast("long").as("d"))
          .groupBy("d").agg(count(lit(1)).cast("long").as("x"))
        val stats = counts.agg(min(col("d")), max(col("d")),
          sum(col("x"))).head
        val (minD, maxD) = (stats.getLong(0), stats.getLong(1))
        val bigS = stats.getLong(2)
        val n = maxD - minD + 1
        val dense = s.range(minD, maxD + 1)
          .select(col("id").as("d"))
          .join(counts, Seq("d"), "left")
          .select(col("d"),
            (lit(n) * coalesce(col("x"), lit(0L)) - lit(bigS)).as("y"))
        val denF = dense.agg(sum(col("y") * col("y")).cast("long").as("den"))
        val ks = s.range(1, 11).select(col("id").as("k"))
        val byLag = dense.crossJoin(ks)
          .select(col("k"), col("y").as("ya"), (col("d") + col("k")).as("d2"))
          .join(dense.select(col("d").as("d2"), col("y").as("yb")), "d2")
          .groupBy("k")
          .agg(sum(col("ya") * col("yb")).cast("long").as("num"))
          .crossJoin(broadcast(denF))
          .select(col("k"), (lit(n) - col("k")).cast("long").as("n_pairs"),
            (col("num").cast("double") / col("den").cast("double")).as("r"))
        val tot = byLag
          .select(col("k"),
            (col("r") * col("r") / (lit(n) - col("k")).cast("double"))
              .as("term"))
          .agg(expr("""aggregate(array_sort(collect_list(struct(k, term))),
                         CAST(0 AS DOUBLE), (a, x) -> a + x.term)""")
            .as("sq"))
          .select(round(lit((n * (n + 2)).toDouble) * col("sq"), 6)
            .as("lb_q"))
        byLag.crossJoin(broadcast(tot))
          .select(col("k").cast("long").as("k"), col("n_pairs"),
            round(col("r"), 12).as("r"), col("lb_q"),
            lit(10L).as("dof"))
          .orderBy("k")
      },
      Some("""WITH c AS (
                SELECT DATE_DIFF('day', DATE '1970-01-01',
                    CAST(o_orderdate AS DATE)) AS d,
                  CAST(COUNT(*) AS BIGINT) AS x
                FROM orders GROUP BY 1),
              mm AS (SELECT MIN(d) AS mn, MAX(d) AS mx,
                       CAST(MAX(d) - MIN(d) + 1 AS BIGINT) AS n,
                       SUM(x) AS s FROM c),
              dense AS (
                SELECT g.d, CAST(mm.n * COALESCE(c.x, 0) - mm.s AS BIGINT)
                    AS y
                FROM (SELECT UNNEST(generate_series(
                        (SELECT mn FROM mm), (SELECT mx FROM mm))) AS d) g
                  LEFT JOIN c ON g.d = c.d, mm),
              den AS (SELECT SUM(y * y) AS den FROM dense),
              lags AS (SELECT UNNEST(generate_series(1, 10)) AS k),
              bylag AS (
                SELECT l.k, CAST(SUM(a.y * b.y) AS BIGINT) AS num
                FROM dense a CROSS JOIN lags l
                  JOIN dense b ON b.d = a.d + l.k
                GROUP BY 1),
              rr AS (
                SELECT k, CAST((SELECT n FROM mm) - k AS BIGINT) AS n_pairs,
                  CAST(num AS DOUBLE) / CAST((SELECT den FROM den) AS DOUBLE)
                    AS r
                FROM bylag),
              tot AS (
                SELECT round(CAST(mm.n * (mm.n + 2) AS DOUBLE)
                    * list_reduce(list_prepend(CAST(0 AS DOUBLE),
                        list(rr.r * rr.r / CAST(mm.n - rr.k AS DOUBLE)
                          ORDER BY rr.k)),
                      (a, x) -> a + x), 6) AS lb_q
                FROM rr, mm GROUP BY mm.n)
              SELECT CAST(rr.k AS BIGINT) AS k, rr.n_pairs,
                round(rr.r, 12) AS r, tot.lb_q, CAST(10 AS BIGINT) AS dof
              FROM rr, tot ORDER BY rr.k""")),

    // ── day-of-week × event-type seasonality contingency ─────────────────
    // The calendar-profile report behind every staffing / anomaly
    // baseline: the dow×type contingency census with each cell's share
    // of its day row and of its type column. Day-of-week is derived
    // arithmetically from the datediff day index ((d+4) mod 7, 0=Sun) —
    // NOT from dayofweek()/dow(), whose numbering conventions differ
    // between engines. Census is one partial+final agg to a ≤7×|types|
    // frame; marginal shares are windows over that bounded grid, each a
    // single IEEE division of exact counts.
    Q("q_seasonality",
      (s, dir) => seasonFinish(seasonCounts(t(s, dir, "events"))),
      Some("""WITH g AS (
                SELECT (DATE_DIFF('day', DATE '1970-01-01', CAST(ts AS DATE))
                    + 4) % 7 AS dow,
                  event_type, CAST(COUNT(*) AS BIGINT) AS cnt,
                  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_val
                FROM events GROUP BY 1, 2)
              SELECT CAST(dow AS BIGINT) AS dow, event_type, cnt, sum_val,
                CAST(cnt AS DOUBLE) / CAST(SUM(cnt) OVER
                  (PARTITION BY dow) AS DOUBLE) AS share_of_dow,
                CAST(cnt AS DOUBLE) / CAST(SUM(cnt) OVER
                  (PARTITION BY event_type) AS DOUBLE) AS share_of_type
              FROM g ORDER BY dow, event_type""")),

    // ── burstiness of inter-event gaps per event type ────────────────────
    // Are arrivals Poisson-like or bursty? Goh & Barabási's
    // B = (σ−μ)/(σ+μ) over the per-user inter-event gaps of each type
    // (−1 regular, 0 Poisson, →1 bursty). Gaps are WHOLE SECONDS from
    // exact microsecond timestamps (ties broken by event_id so lag() is
    // a total order); moments stay exact: Σg fits int64, Σg² and the
    // variance numerator n·Σg² − (Σg)² accumulate in DECIMAL (both
    // engines sum decimals exactly, order-free). The IEEE tail — two
    // divisions, one correctly-rounded sqrt, one ratio — is bit-stable
    // on identical inputs. Shape: ONE shuffle by user (the natural
    // per-user state partitioning), lag within (user, type), then a
    // partial+final agg to |types| rows.
    Q("q_burstiness",
      (s, dir) => {
        val w = Window.partitionBy("user_id", "event_type")
          .orderBy("us", "event_id")
        val gaps = t(s, dir, "events")
          .select(col("user_id"), col("event_type"), col("event_id"),
            unix_micros(col("ts")).as("us"))
          .select(col("event_type"),
            (col("us") - lag(col("us"), 1).over(w)).as("g_us"))
          .select(col("event_type"), expr("g_us div 1000000").as("g"))
          .filter(col("g").isNotNull)
        gaps.groupBy("event_type")
          .agg(count(lit(1)).as("n_gaps"),
            sum(col("g")).as("sum_g"),
            sum((col("g") * col("g")).cast(DecimalType(38, 0))).as("q2"))
          .select(col("event_type"), col("n_gaps"), col("sum_g"),
            (col("n_gaps").cast(DecimalType(38, 0)) * col("q2")
              - col("sum_g").cast(DecimalType(38, 0))
                * col("sum_g").cast(DecimalType(38, 0))).cast("double")
              ./(col("n_gaps").cast("double") * col("n_gaps").cast("double"))
              .as("variance"))
          .select(col("event_type"), col("n_gaps"), col("sum_g"),
            col("variance"),
            ((sqrt(col("variance"))
              - col("sum_g").cast("double") / col("n_gaps").cast("double"))
              / (sqrt(col("variance"))
                + col("sum_g").cast("double") / col("n_gaps").cast("double")))
              .as("burstiness"))
          .orderBy("event_type")
      },
      Some("""WITH e AS (
                SELECT user_id, event_type, event_id,
                  epoch_us(ts) AS us
                FROM events),
              g AS (
                SELECT event_type,
                  (us - lag(us, 1) OVER (PARTITION BY user_id, event_type
                    ORDER BY us, event_id)) // 1000000 AS g
                FROM e),
              a AS (
                SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_gaps,
                  CAST(SUM(g) AS BIGINT) AS sum_g,
                  SUM(g * g) AS q2
                FROM g WHERE g IS NOT NULL GROUP BY 1),
              v AS (
                SELECT event_type, n_gaps, sum_g,
                  CAST(n_gaps * q2 - sum_g * sum_g AS DOUBLE)
                    / (CAST(n_gaps AS DOUBLE) * CAST(n_gaps AS DOUBLE))
                    AS variance
                FROM a)
              SELECT event_type, n_gaps, sum_g, variance,
                (sqrt(variance) - CAST(sum_g AS DOUBLE)
                   / CAST(n_gaps AS DOUBLE))
                / (sqrt(variance) + CAST(sum_g AS DOUBLE)
                   / CAST(n_gaps AS DOUBLE)) AS burstiness
              FROM v ORDER BY event_type""")),

    // ── event-time lateness census (watermark sizing input) ──────────────
    // THE question before configuring any streaming watermark: when
    // events arrive, how far behind the per-user event-time high-water
    // mark are they? Arrival order here is the standard multiplexed-
    // ingest shape — per-type upstream feeds replayed feed-by-feed,
    // arrival key (event_type, event_id) — exactly how late data arises
    // when one topic lags another (the fixture's event_id alone is
    // ts-sorted: zero lateness, no signal). lateness_s = running
    // max(ts) − ts in whole seconds, folded by bit length into a
    // ≤40-row histogram (bucket b covers [2^(b−1), 2^b) s; on-time
    // lands in bucket 1 — the same power-of-2 folding as the degree
    // census). A 1-hour watermark is justified iff the mass above
    // bucket 12 (~2¹² s) is negligible — this query IS that readout.
    // Shape: one shuffle by user (running max is a per-user window),
    // then a partial+final agg to the bucket frame.
    Q("q_lateness",
      (s, dir) => {
        val w = Window.partitionBy("user_id")
          .orderBy("event_type", "event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, dir, "events")
          .select(col("user_id"), col("event_type"), col("event_id"),
            unix_micros(col("ts")).as("us"))
          .select((max(col("us")).over(w) - col("us")).as("late_us"))
          .select(expr("late_us div 1000000").as("late_s"))
          .select(length(bin(col("late_s"))).cast("long").as("bucket"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n_events"))
          .orderBy("bucket")
      },
      Some("""WITH l AS (
                SELECT (MAX(epoch_us(ts)) OVER (PARTITION BY user_id
                    ORDER BY event_type, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING
                    AND CURRENT ROW) - epoch_us(ts)) // 1000000 AS late_s
                FROM events)
              SELECT CAST(length(bin(late_s)) AS BIGINT) AS bucket,
                CAST(COUNT(*) AS BIGINT) AS n_events
              FROM l GROUP BY 1 ORDER BY bucket""")),

    // ── CUSUM changepoint: where did each priority's revenue level shift? ─
    // The offline mean-shift detector (Page's CUSUM in its exact
    // centered-prefix form): per order priority, the day k maximizing
    // |Σ_{i≤k}(x_i − x̄)| over the daily revenue-cents series. Kept
    // integer-exact by multiplying through by n:
    // cusum_num_k = n·prefix_k − k·total (cents·days, int64 to ~10¹⁵
    // days×cents), so the arg-max and its tiebreak (earliest day) are
    // bit-deterministic; the two emitted means divide exact ints ONCE.
    // Scale shape: the fact table collapses in a (priority, day) census
    // FIRST — every window after runs on the calendar-bounded day frame
    // (the q_autocorr discipline); argmax is a grouped top-1 sort on
    // that frame, never a data-sized global sort.
    Q("q_changepoint",
      (s, dir) => cusumFinish(cusumDaily(t(s, dir, "orders"))),
      Some("""WITH daily AS (
                SELECT o_orderpriority, o_orderdate AS day,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                    AS BIGINT) AS cents
                FROM orders GROUP BY 1, 2),
              scored AS (
                SELECT o_orderpriority, day,
                  CAST(row_number() OVER w AS BIGINT) AS k,
                  CAST(SUM(cents) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                    AND CURRENT ROW) AS BIGINT) AS prefix,
                  CAST(COUNT(*) OVER (PARTITION BY o_orderpriority)
                    AS BIGINT) AS n_days,
                  CAST(SUM(cents) OVER (PARTITION BY o_orderpriority)
                    AS BIGINT) AS total
                FROM daily
                WINDOW w AS (PARTITION BY o_orderpriority ORDER BY day)),
              cus AS (
                SELECT o_orderpriority, day, k, n_days,
                  n_days * prefix - k * total AS cusum_num, prefix, total
                FROM scored),
              pick AS (
                SELECT *, row_number() OVER (PARTITION BY o_orderpriority
                  ORDER BY abs(cusum_num) DESC, day) AS rn
                FROM cus)
              SELECT o_orderpriority, day AS change_day, k, n_days,
                cusum_num,
                CAST(prefix AS DOUBLE) / CAST(k AS DOUBLE) / 100.0
                  AS mean_before,
                CAST(total - prefix AS DOUBLE)
                  / CAST(n_days - k AS DOUBLE) / 100.0 AS mean_after
              FROM pick WHERE rn = 1 ORDER BY o_orderpriority""")),

    // ── trailing-7-row exact sliding median of daily revenue ─────────────
    // The robust smoother a mean-based rolling average can't replace
    // (one whale day drags a mean for a week; the median shrugs). Exact
    // and FP-free: daily revenue in integer cents, the trailing window
    // is 7 ROWS (row-based on both engines — immune to calendar gaps),
    // and the median of 7 values is the 4th-smallest — a row-local
    // `element_at(sort_array(...), 4)` over the collected frame. Scale
    // shape: the fact table collapses in the day census FIRST
    // (q_autocorr discipline); the unpartitioned ORDER BY day window
    // runs on the calendar-bounded frame (~2.5k rows at ANY SF), and
    // the 7-element sort is a constant. The oracle rank-selects the
    // same element through a rn-banded self-join — value-identical
    // under ties because selection is by position in the VALUE order.
    Q("q_rolling_median",
      (s, dir) => medianFinish(medianDaily(t(s, dir, "orders"))),
      Some("""WITH days AS (
                SELECT date_trunc('day', o_orderdate) AS day,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                    AS BIGINT) AS cents
                FROM orders GROUP BY 1),
              rn AS (SELECT day, cents,
                  row_number() OVER (ORDER BY day) AS rn FROM days),
              j AS (
                SELECT a.day AS day, b.cents AS cents,
                  row_number() OVER (PARTITION BY a.day
                    ORDER BY b.cents, b.rn) AS k
                FROM rn a JOIN rn b ON b.rn BETWEEN a.rn - 6 AND a.rn
                WHERE a.rn >= 7)
              SELECT day, CAST(cents AS BIGINT) AS med_cents
              FROM j WHERE k = 4 ORDER BY day""")),

    // ── calendar-gap detection per priority stream ───────────────────────
    // The data-quality lens for ingest monitoring: days on which a feed
    // went silent. Fact rows collapse to the (priority, day) census
    // FIRST; one lead() over the calendar-bounded census finds every
    // consecutive-day pair more than one day apart. Output is the gap
    // list (start day + missing-day count) — bounded by the calendar ×
    // priorities at any SF, and integer-exact (datediff of
    // day-truncated timestamps agrees across engines under the pinned
    // UTC session zone).
    Q("q_calendar_gaps",
      (s, dir) => gapsFinish(feedDaily(t(s, dir, "orders"))),
      Some("""WITH days AS (
                SELECT o_orderpriority,
                  date_trunc('day', o_orderdate) AS day
                FROM orders GROUP BY 1, 2),
              g AS (
                SELECT o_orderpriority, day,
                  lead(day) OVER (PARTITION BY o_orderpriority
                    ORDER BY day) AS nd
                FROM days)
              SELECT o_orderpriority, day AS gap_start,
                CAST(date_diff('day', day, nd) - 1 AS BIGINT)
                  AS missing_days
              FROM g
              WHERE nd IS NOT NULL AND date_diff('day', day, nd) > 1
              ORDER BY o_orderpriority, gap_start""")),

    // ── exact trailing-7-day active users (rolling WAU) ──────────────────
    // The engagement metric every dashboard wants and naive SQL computes
    // as |days| corpus rescans: distinct users active in the 7-day
    // window ending each day. Distributed shape: collapse events to the
    // (user, day) distinct FIRST, fan each user-day out ROW-LOCALLY to
    // the ≤7 window-end days it supports (sequence — no self-join), and
    // count distinct users per end day. The fan-out is a constant ×7 on
    // the user-day frame; the distinct shuffle keys on (day, user) and
    // partial-aggregates, so work is linear in user-days at any SF —
    // never days × corpus. End days semi-join to OBSERVED days so both
    // engines agree on the output grid. (Exact by design; at extreme
    // populations the same fan-out feeds HLL sketches per day —
    // q_sketch_rollup's mergeable path.)
    Q("q_rolling_distinct",
      (s, dir) => {
        val ud = t(s, dir, "events")
          .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
          .distinct()
        val dayset = ud.select(col("day").as("d")).distinct()
        ud.select(col("user_id"),
            explode(expr(
              "sequence(day, day + interval 6 days, interval 1 day)"))
              .as("d"))
          .join(dayset, Seq("d"), "left_semi")
          .groupBy("d")
          .agg(countDistinct(col("user_id")).as("wau"))
          .orderBy("d")
      },
      Some("""WITH ud AS (
                SELECT DISTINCT user_id, date_trunc('day', ts) AS day
                FROM events),
              ds AS (SELECT DISTINCT day AS d FROM ud)
              SELECT d, count(DISTINCT user_id) AS wau
              FROM ds JOIN ud ON ud.day BETWEEN d - INTERVAL 6 DAY AND d
              GROUP BY 1 ORDER BY d""")),

    // ── error-rate SLI with trailing-7-day burn rate ─────────────────────
    // The SRE readout over the event stream: per-day error share plus
    // the 7-ROW trailing error budget burn against a fixed 1% SLO.
    // Events collapse in the (day, total, errors) census FIRST (the
    // error flag folds map-side); both trailing sums are one rows-frame
    // window on the calendar-bounded census — rows-based on BOTH
    // engines, so calendar gaps cannot desynchronize the frames. Counts
    // exact int64; the two rates are identical division chains.
    Q("q_error_burn",
      (s, dir) => errorFinish(errorDaily(t(s, dir, "events"))),
      Some("""WITH days AS (
                SELECT date_trunc('day', ts) AS day,
                  CAST(COUNT(*) AS BIGINT) AS n_total,
                  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0
                    END) AS BIGINT) AS n_err
                FROM events GROUP BY 1),
              wnd AS (
                SELECT day, n_total, n_err,
                  CAST(SUM(n_err) OVER w AS BIGINT) AS err7,
                  CAST(SUM(n_total) OVER w AS BIGINT) AS tot7
                FROM days
                WINDOW w AS (ORDER BY day
                  ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
              SELECT day, n_total, n_err, err7, tot7,
                CAST(n_err AS DOUBLE) / CAST(n_total AS DOUBLE)
                  AS err_rate,
                CAST(err7 AS DOUBLE) / CAST(tot7 AS DOUBLE) / 0.01
                  AS burn_rate
              FROM wnd ORDER BY day""")),

    // ── feed freshness / staleness census ────────────────────────────────
    // The ingest-ops readout next to q_calendar_gaps: per priority
    // stream, when did it last deliver (days behind the global
    // high-water mark) and is its volume trending (last-7-days vs the
    // 7 before, anchored at the GLOBAL max day so all feeds share one
    // comparison window). Fact rows collapse in the (priority, day)
    // census FIRST; the global max is a 1-row broadcast (the
    // q_histogram_numeric stats pattern); output is ≤ priorities rows.
    // All integer except the one guarded week-over-week division.
    Q("q_freshness",
      (s, dir) => freshnessFinish(feedDaily(t(s, dir, "orders"))),
      Some("""WITH days AS (
                SELECT o_orderpriority,
                  date_trunc('day', o_orderdate) AS day,
                  CAST(COUNT(*) AS BIGINT) AS n
                FROM orders GROUP BY 1, 2),
              g AS (SELECT MAX(day) AS gday FROM days),
              agg AS (
                SELECT o_orderpriority,
                  MAX(day) AS last_day, MAX(gday) AS gday,
                  CAST(SUM(CASE WHEN date_diff('day', day, gday) < 7
                    THEN n ELSE 0 END) AS BIGINT) AS n_last7,
                  CAST(SUM(CASE WHEN date_diff('day', day, gday)
                      BETWEEN 7 AND 13
                    THEN n ELSE 0 END) AS BIGINT) AS n_prev7
                FROM days, g GROUP BY 1)
              SELECT o_orderpriority, last_day,
                CAST(date_diff('day', last_day, gday) AS BIGINT)
                  AS days_stale,
                n_last7, n_prev7,
                CASE WHEN n_prev7 > 0 THEN
                  CAST(n_last7 AS DOUBLE) / CAST(n_prev7 AS DOUBLE)
                  ELSE 0.0 END AS wow_ratio
              FROM agg ORDER BY o_orderpriority"""))
    ,

    // ── seasonal-naive forecast evaluation (monthly SMAPE) ──────────────
    // The backtest a forecasting pipeline runs before trusting a model:
    // score the simplest seasonal baseline (forecast for day d = actual
    // at d−7) so every candidate model has a floor to beat. Reuses
    // [[medianDaily]]'s exact-cents day census (cross-query consistency
    // with q_rolling_median / its streaming twin), PERSISTED because the
    // calendar self-join consumes it twice (actual + forecast side —
    // un-persisted, two orders scans). SMAPE per month as a ratio of
    // exact-integer SUMS (Σ|a−f| / Σ(a+f)) — one IEEE division per
    // month, unlike per-day MAPE whose FP fold order would drift.
    Q("q_forecast_eval",
      (s, dir) => forecastFinish(Artifacts.persist(medianDaily(t(s, dir, "orders")))),
      Some("""WITH days AS (
                SELECT date_trunc('day', o_orderdate) AS day,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                    AS BIGINT) AS cents
                FROM orders GROUP BY 1),
              j AS (
                SELECT a.day, a.cents, f.cents AS f_cents
                FROM days a JOIN days f ON a.day = f.day + INTERVAL 7 DAY)
              SELECT date_trunc('month', day) AS month,
                count(*) AS n_days,
                CAST(SUM(abs(cents - f_cents)) AS BIGINT) AS abs_err_cents,
                CAST(SUM(abs(cents - f_cents)) AS DOUBLE)
                  / CAST(SUM(cents + f_cents) AS DOUBLE) AS smape
              FROM j GROUP BY 1 ORDER BY month""")),

    // ── paired sign test: week-over-week revenue direction ──────────────
    // The distribution-free "did revenue move up?" companion of
    // q_forecast_eval: each day pairs with day−7 by a CALENDAR self-join
    // (range semantics — a dark day drops the pair rather than silently
    // sliding to lag-7-rows, the ADVICE-r10 q_theil_u2 trap avoided by
    // construction), up/down counts are exact census integers, ties
    // (identical cents) drop per the classical test, and
    // z = (up − down)/√(up+down) is the ONE IEEE step. A fourth readout
    // of the [[medianDaily]] Complete-mode day-census state.
    Q("q_sign_test",
      (s, dir) => signFinish(medianDaily(t(s, dir, "orders"))),
      Some("""WITH days AS (
                SELECT date_trunc('day', o_orderdate) AS day,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                    AS BIGINT) AS cents
                FROM orders GROUP BY 1),
              j AS (
                SELECT a.cents, p.cents AS p_cents
                FROM days a JOIN days p ON a.day = p.day + INTERVAL 7 DAY)
              SELECT count(*) AS n_pairs,
                CAST(SUM(CASE WHEN cents > p_cents THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_up,
                CAST(SUM(CASE WHEN cents < p_cents THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_down,
                CASE WHEN SUM(CASE WHEN cents <> p_cents THEN 1 ELSE 0
                    END) = 0 THEN NULL
                  ELSE (CAST(SUM(CASE WHEN cents > p_cents THEN 1
                        ELSE 0 END) AS DOUBLE)
                      - CAST(SUM(CASE WHEN cents < p_cents THEN 1
                        ELSE 0 END) AS DOUBLE))
                    / sqrt(CAST(SUM(CASE WHEN cents > p_cents THEN 1
                        ELSE 0 END) AS DOUBLE)
                      + CAST(SUM(CASE WHEN cents < p_cents THEN 1
                        ELSE 0 END) AS DOUBLE)) END AS z_sign
              FROM j""")),

    // ── Diebold–Mariano forecast-comparison test ────────────────────────
    // The standard "is forecast 1 actually better?" test, completing
    // the backtest family (SMAPE/MASE/pinball/tracking/Theil-U₂ score
    // forecasts; DM decides between them): loss differential
    // dₜ = e₁ₜ² − e₂ₜ² between the naive (day−1) and seasonal-naive
    // (day−7) forecasts, both resolved by CALENDAR self-joins (range
    // semantics); DM = d̄/√(Var(d̄)) with the long-run variance
    // γ₀ + 2Σ_{k=1..6}γ_k (uniform weights, truncation at the h−1 = 6
    // of the 7-day horizon — Diebold–Mariano 1995). Squared cent
    // errors and dₜ are EXACT dec38 integers; the centered
    // autocovariances are position-pinned sorted folds over the
    // day-ordered series (the q_kpss_test machinery verbatim), so both
    // engines reduce identically. The variance can go negative under
    // uniform weights (the test's documented caveat) → NULL.
    Q("q_diebold_mariano",
      (s, dir) => {
        val dec38 = DecimalType(38, 0)
        val wDay = Window.orderBy("day")
        val daily = t(s, dir, "orders")
          .groupBy(datediff(col("o_orderdate").cast("date"),
            lit("1970-01-01").cast("date")).cast("long").as("day"))
          .agg((sum(dec2(col("o_totalprice"))) * 100).cast("long")
            .as("cents"))
        val l1 = daily.select((col("day") + 1).as("day"),
          col("cents").as("c1"))
        val l7 = daily.select((col("day") + 7).as("day"),
          col("cents").as("c7"))
        // dₜ in the EXACT-double domain: |e| < 2⁵³ cents, so the
        // error casts are exact and e₁²−e₂² is the identical IEEE
        // sequence on both engines; Σdₜ goes through a day-pinned
        // fold (a plain SUM of doubles is reduction-order-dependent,
        // and DuckDB's int128→double cast is not correctly rounded
        // above 2⁵³ — the divergence that killed the dec38 spelling)
        val d = daily.join(l1, "day").join(l7, "day")
          .select(col("day"),
            ((col("cents") - col("c1")).cast("double")
              * (col("cents") - col("c1")).cast("double")
              - (col("cents") - col("c7")).cast("double")
                * (col("cents") - col("c7")).cast("double")).as("dt"))
        val nf = d.agg(count(lit(1)).cast("long").as("n"),
          expr("""aggregate(array_sort(collect_list(struct(day, dt))),
                  CAST(0 AS DOUBLE), (a, x) -> a + x.dt)""").as("sd"))
        var e = d.crossJoin(broadcast(nf))
          .withColumn("cd", col("dt")
            - col("sd") / col("n").cast("double"))
        for (k <- 1 to 6)
          e = e.withColumn(s"p$k",
            coalesce(col("cd") * lead(col("cd"), k).over(wDay), lit(0.0)))
        def fold(c: String) =
          expr(s"""aggregate(array_sort(collect_list(struct(day, $c))),
                   CAST(0 AS DOUBLE), (a, x) -> a + x.$c)""")
        val aggCols =
          expr("""aggregate(array_sort(collect_list(struct(day, cd))),
                  CAST(0 AS DOUBLE), (a, x) -> a + x.cd * x.cd)""")
            .as("g0") +:
          (1 to 6).map(k => fold(s"p$k").as(s"g$k"))
        val agg = e.groupBy("n", "sd").agg(aggCols.head, aggCols.tail: _*)
        agg.select(col("n"),
            (col("sd").cast("double") / col("n").cast("double"))
              .as("dbar"),
            ((col("g0") + (col("g1") + col("g2") + col("g3") + col("g4")
              + col("g5") + col("g6")) * 2.0)
              / (col("n").cast("double") * col("n").cast("double")))
              .as("var_dbar"))
          .select(col("n"), col("dbar"), col("var_dbar"),
            when(col("var_dbar") <= 0 || col("n") < 2,
              lit(null).cast("double"))
              .otherwise(col("dbar") / sqrt(col("var_dbar")))
              .as("dm_stat"))
      },
      Some("""WITH daily AS (
                SELECT CAST(date_diff('day', DATE '1970-01-01',
                    CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                    AS BIGINT) AS cents
                FROM orders GROUP BY 1),
              d AS (
                SELECT a.day,
                  CAST(a.cents - l1.cents AS DOUBLE)
                    * CAST(a.cents - l1.cents AS DOUBLE)
                  - CAST(a.cents - l7.cents AS DOUBLE)
                    * CAST(a.cents - l7.cents AS DOUBLE) AS dt
                FROM daily a
                  JOIN daily l1 ON a.day = l1.day + 1
                  JOIN daily l7 ON a.day = l7.day + 7),
              nf AS (
                SELECT CAST(count(*) AS BIGINT) AS n,
                  list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(dt ORDER BY day)), (a, x) -> a + x) AS sd
                FROM d),
              e AS (
                SELECT day,
                  dt - sd / CAST(n AS DOUBLE) AS cd
                FROM d, nf),
              p AS (
                SELECT day, cd,
                  COALESCE(cd * lead(cd, 1) OVER (ORDER BY day), 0) AS p1,
                  COALESCE(cd * lead(cd, 2) OVER (ORDER BY day), 0) AS p2,
                  COALESCE(cd * lead(cd, 3) OVER (ORDER BY day), 0) AS p3,
                  COALESCE(cd * lead(cd, 4) OVER (ORDER BY day), 0) AS p4,
                  COALESCE(cd * lead(cd, 5) OVER (ORDER BY day), 0) AS p5,
                  COALESCE(cd * lead(cd, 6) OVER (ORDER BY day), 0) AS p6
                FROM e),
              agg AS (
                SELECT
                  list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(cd * cd ORDER BY day)), (a, x) -> a + x) AS g0,
                  list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(p1 ORDER BY day)), (a, x) -> a + x) AS g1,
                  list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(p2 ORDER BY day)), (a, x) -> a + x) AS g2,
                  list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(p3 ORDER BY day)), (a, x) -> a + x) AS g3,
                  list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(p4 ORDER BY day)), (a, x) -> a + x) AS g4,
                  list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(p5 ORDER BY day)), (a, x) -> a + x) AS g5,
                  list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(p6 ORDER BY day)), (a, x) -> a + x) AS g6
                FROM p),
              r AS (
                SELECT n,
                  CAST(sd AS DOUBLE) / CAST(n AS DOUBLE) AS dbar,
                  (g0 + (g1 + g2 + g3 + g4 + g5 + g6) * 2.0)
                    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
                    AS var_dbar
                FROM agg, nf)
              SELECT n, dbar, var_dbar,
                CASE WHEN var_dbar <= 0 OR n < 2 THEN NULL
                  ELSE dbar / sqrt(var_dbar) END AS dm_stat
              FROM r""")),

    // ── difference-sign test: monotone drift in successive days ─────────
    // The simplest randomness-against-trend check on the day census:
    // P = #(successive increases) among n−1 consecutive-census diffs,
    // E[P] = (n−1)/2, Var = (n+1)/12; z = (P − E)/√Var. Successive
    // means consecutive CENSUS observations by definition of the test
    // (no calendar assumption needed — the statistic is about the
    // observed sequence). All-integer until the one z.
    Q("q_difference_sign",
      (s, dir) => {
        val wDay = Window.orderBy("day")
        medianDaily(t(s, dir, "orders"))
          .select(col("day"), col("cents"),
            lag(col("cents"), 1).over(wDay).as("prev"))
          .filter(col("prev").isNotNull)
          .agg(count(lit(1)).as("n_diffs"),
            sum(when(col("cents") > col("prev"), 1L).otherwise(0L))
              .cast("long").as("n_up"))
          .select((col("n_diffs") + 1).cast("long").as("n_days"),
            col("n_up"),
            when(col("n_diffs") < 2, lit(null).cast("double"))
              .otherwise((col("n_up").cast("double")
                - col("n_diffs").cast("double") / 2.0)
                / sqrt((col("n_diffs") + 2).cast("double") / 12.0))
              .as("z_ds"))
      },
      Some("""WITH days AS (
                SELECT date_trunc('day', o_orderdate) AS day,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                    AS BIGINT) AS cents
                FROM orders GROUP BY 1),
              d AS (
                SELECT cents, lag(cents) OVER (ORDER BY day) AS prev
                FROM days QUALIFY prev IS NOT NULL),
              m AS (
                SELECT CAST(count(*) AS BIGINT) AS n_diffs,
                  CAST(SUM(CASE WHEN cents > prev THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_up
                FROM d)
              SELECT CAST(n_diffs + 1 AS BIGINT) AS n_days, n_up,
                CASE WHEN n_diffs < 2 THEN NULL
                  ELSE (CAST(n_up AS DOUBLE)
                      - CAST(n_diffs AS DOUBLE) / 2.0)
                    / sqrt(CAST(n_diffs + 2 AS DOUBLE) / 12.0)
                  END AS z_ds
              FROM m""")),

    // ── Foster–Stuart records test: trend via record counts ─────────────
    // Upper/lower RECORDS in the day-revenue series: uₜ = 1 iff day t
    // strictly exceeds every earlier day, lₜ the mirror. D = Σ(u−l)
    // detects trend, S = Σ(u+l) detects variance change;
    // Var(D) = 2·Σ_{t=2..n} 1/t (2(Hₙ−1)), summed by the pinned
    // ascending fold over the harmonic terms so both engines reduce
    // identically. Running extrema ride one unpartitioned window over
    // the calendar-bounded census (the q_adf_test discipline).
    Q("q_foster_stuart",
      (s, dir) => {
        val wPrev = Window.orderBy("day")
          .rowsBetween(Window.unboundedPreceding, -1)
        medianDaily(t(s, dir, "orders"))
          .select(col("day"), col("cents"),
            max(col("cents")).over(wPrev).as("pmax"),
            min(col("cents")).over(wPrev).as("pmin"))
          .agg(count(lit(1)).cast("long").as("n"),
            sum(when(col("pmax").isNotNull
              && col("cents") > col("pmax"), 1L).otherwise(0L))
              .cast("long").as("n_upper"),
            sum(when(col("pmin").isNotNull
              && col("cents") < col("pmin"), 1L).otherwise(0L))
              .cast("long").as("n_lower"))
          .select(col("n"), col("n_upper"), col("n_lower"),
            (col("n_upper") - col("n_lower")).as("d_stat"),
            (col("n_upper") + col("n_lower")).as("s_stat"),
            expr("""aggregate(sequence(2L, n),
              CAST(0 AS DOUBLE), (a, t) -> a + CAST(1 AS DOUBLE) / t)""")
              .as("hsum"))
          .select(col("n"), col("n_upper"), col("n_lower"),
            col("d_stat"), col("s_stat"),
            when(col("n") < 2 || col("hsum") <= 0,
              lit(null).cast("double"))
              .otherwise(col("d_stat").cast("double")
                / sqrt(lit(2.0) * col("hsum"))).as("z_fs"))
      },
      Some("""WITH days AS (
                SELECT date_trunc('day', o_orderdate) AS day,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                    AS BIGINT) AS cents
                FROM orders GROUP BY 1),
              r AS (
                SELECT cents,
                  MAX(cents) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
                    PRECEDING AND 1 PRECEDING) AS pmax,
                  MIN(cents) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
                    PRECEDING AND 1 PRECEDING) AS pmin
                FROM days),
              m AS (
                SELECT CAST(count(*) AS BIGINT) AS n,
                  CAST(SUM(CASE WHEN pmax IS NOT NULL AND cents > pmax
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_upper,
                  CAST(SUM(CASE WHEN pmin IS NOT NULL AND cents < pmin
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_lower
                FROM r),
              h AS (
                SELECT n, n_upper, n_lower,
                  CAST(n_upper - n_lower AS BIGINT) AS d_stat,
                  CAST(n_upper + n_lower AS BIGINT) AS s_stat,
                  list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list_transform(generate_series(2, n),
                      t -> CAST(1 AS DOUBLE) / t)), (a, x) -> a + x)
                    AS hsum
                FROM m)
              SELECT n, n_upper, n_lower, d_stat, s_stat,
                CASE WHEN n < 2 OR hsum <= 0 THEN NULL
                  ELSE CAST(d_stat AS DOUBLE) / sqrt(2.0 * hsum)
                  END AS z_fs
              FROM h""")),

    // ── 28-day rolling correlation (volume vs revenue co-movement) ──────
    // Does order count still predict revenue, or has ticket size
    // decoupled? Trailing-28-day Pearson between daily order count and
    // daily cents, over the calendar-bounded day census (≤ ~2.4k rows
    // at ANY SF — the q_rolling_median window discipline: the
    // unpartitioned window runs above the Aggregate, never on raw
    // orders). Window sums accumulate in DECIMAL(38,0) (daily cents² ×
    // 28 passes int64 at sf0.1 already; production daily volumes far
    // exceed it); the correlation is a few IEEE ops on identical
    // doubles per row.
    Q("q_rolling_corr",
      (s, dir) => {
        val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
        val days = t(s, dir, "orders")
          .groupBy(date_trunc("day", col("o_orderdate")).as("day"))
          .agg(count(lit(1)).as("n"),
            (sum(dec2(col("o_totalprice"))) * 100).cast("long").as("cents"))
        val w = Window.orderBy("day").rowsBetween(-27, 0)
        days.select(col("day"),
          count(lit(1)).over(w).as("c"),
          sum(col("n")).over(w).as("sx"),
          sum(col("cents").cast(DecimalType(38, 0))).over(w).as("sy"),
          sum(col("n").cast(DecimalType(38, 0)) * col("cents").cast(DecimalType(38, 0))).over(w)
            .as("sxy"),
          sum(col("n").cast(DecimalType(38, 0)) * col("n").cast(DecimalType(38, 0))).over(w)
            .as("sxx"),
          sum(col("cents").cast(DecimalType(38, 0)) * col("cents").cast(DecimalType(38, 0))).over(w)
            .as("syy"))
          .filter(col("c") === 28)
          .select(col("day"),
            ((col("c").cast("double") * col("sxy").cast("double")
              - col("sx").cast("double") * col("sy").cast("double"))
              / sqrt((col("c").cast("double") * col("sxx").cast("double")
                  - col("sx").cast("double") * col("sx").cast("double"))
                * (col("c").cast("double") * col("syy").cast("double")
                  - col("sy").cast("double") * col("sy").cast("double"))))
              .as("corr28"))
          .orderBy("day")
      },
      Some("""WITH days AS (
                SELECT date_trunc('day', o_orderdate) AS day,
                  count(*) AS n,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                    AS BIGINT) AS cents
                FROM orders GROUP BY 1),
              r AS (
                SELECT day,
                  CAST(COUNT(*) OVER w AS BIGINT) AS c,
                  CAST(SUM(n) OVER w AS BIGINT) AS sx,
                  SUM(CAST(cents AS HUGEINT)) OVER w AS sy,
                  SUM(CAST(n AS HUGEINT) * cents) OVER w AS sxy,
                  SUM(CAST(n AS HUGEINT) * n) OVER w AS sxx,
                  SUM(CAST(cents AS HUGEINT) * cents) OVER w AS syy
                FROM days
                WINDOW w AS (ORDER BY day
                  ROWS BETWEEN 27 PRECEDING AND CURRENT ROW))
              SELECT day,
                (CAST(c AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                / sqrt((CAST(c AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  * (CAST(c AS DOUBLE) * CAST(syy AS DOUBLE)
                    - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                  AS corr28
              FROM r WHERE c = 28 ORDER BY day""")),

    // ── weekly growth accounting (new / retained / resurrected / churned) ─
    // The user-accounting identity every growth report decomposes DAU
    // into: actives this week are NEW (first-ever week), RETAINED
    // (active last week too) or RESURRECTED (a gap behind them);
    // CHURNED counts last week's actives who went silent, attributed to
    // the week they missed. Shape: one distinct (user, week) census
    // (user-keyed shuffle), a users-sized first-week frame, and a
    // shifted self-join — every join keys on the SCALING user id, never
    // a broadcast; outputs are calendar-bounded. The identity
    // actives(w) = new + retained + resurrected is enforced by
    // construction (the three cases partition the census row).
    Q("q_growth_accounting",
      (s, dir) => {
        val uw = Artifacts.persist(t(s, dir, "events")
          .select(col("user_id").as("u"), date_trunc("week", col("ts")).as("w"))
          .distinct())
          // the census feeds the first-week frame, the shifted self-join
          // (both sides) and the churn anti-join — persist or pay four
          // event scans
        val first = uw.groupBy("u").agg(min(col("w")).as("w0"))
        val prev = uw.select(col("u"), expr("w + interval 7 days").as("w"),
          lit(1).as("was_prev"))
        val acc = uw.join(first, "u")
          .join(prev, Seq("u", "w"), "left")
          .groupBy("w")
          .agg(sum(when(col("w") === col("w0"), 1L).otherwise(0L))
            .as("n_new"),
            sum(when(col("was_prev").isNotNull && col("w") =!= col("w0"),
              1L).otherwise(0L)).as("n_retained"),
            sum(when(col("was_prev").isNull && col("w") =!= col("w0"),
              1L).otherwise(0L)).as("n_resurrected"))
        // churn is bounded to OBSERVED weeks: the +7d shift would
        // otherwise report every final-week active as churned in a
        // phantom week one past the end of the data
        val maxW = uw.agg(max(col("w")).as("w_max"))
        val churn = prev.select(col("u"), col("w"))
          .join(uw, Seq("u", "w"), "left_anti")
          .crossJoin(broadcast(maxW))
          .filter(col("w") <= col("w_max"))
          .groupBy("w").agg(count(lit(1)).as("n_churned"))
        acc.join(churn, Seq("w"), "full")
          .select(col("w").as("week"),
            coalesce(col("n_new"), lit(0L)).as("n_new"),
            coalesce(col("n_retained"), lit(0L)).as("n_retained"),
            coalesce(col("n_resurrected"), lit(0L)).as("n_resurrected"),
            coalesce(col("n_churned"), lit(0L)).as("n_churned"))
          .orderBy("week")
      },
      Some("""WITH uw AS (
                SELECT DISTINCT user_id AS u, date_trunc('week', ts) AS w
                FROM events),
              f AS (SELECT u, MIN(w) AS w0 FROM uw GROUP BY 1),
              prev AS (SELECT u, w + INTERVAL 7 DAY AS w FROM uw),
              cur AS (
                SELECT uw.w,
                  CASE WHEN uw.w = f.w0 THEN 1 ELSE 0 END AS is_new,
                  CASE WHEN p.u IS NOT NULL AND uw.w <> f.w0
                    THEN 1 ELSE 0 END AS is_ret,
                  CASE WHEN p.u IS NULL AND uw.w <> f.w0
                    THEN 1 ELSE 0 END AS is_res
                FROM uw JOIN f ON uw.u = f.u
                  LEFT JOIN prev p ON uw.u = p.u AND uw.w = p.w),
              a AS (
                SELECT w, CAST(SUM(is_new) AS BIGINT) AS n_new,
                  CAST(SUM(is_ret) AS BIGINT) AS n_retained,
                  CAST(SUM(is_res) AS BIGINT) AS n_resurrected
                FROM cur GROUP BY 1),
              c AS (
                SELECT p.w, CAST(COUNT(*) AS BIGINT) AS n_churned
                FROM prev p LEFT JOIN uw ON p.u = uw.u AND p.w = uw.w
                WHERE uw.u IS NULL
                  AND p.w <= (SELECT MAX(w) FROM uw) GROUP BY 1)
              SELECT COALESCE(a.w, c.w) AS week,
                CAST(COALESCE(n_new, 0) AS BIGINT) AS n_new,
                CAST(COALESCE(n_retained, 0) AS BIGINT) AS n_retained,
                CAST(COALESCE(n_resurrected, 0) AS BIGINT)
                  AS n_resurrected,
                CAST(COALESCE(n_churned, 0) AS BIGINT) AS n_churned
              FROM a FULL JOIN c ON a.w = c.w ORDER BY week""")),

    // ── DAU/WAU/MAU stickiness ratios ────────────────────────────────────
    // The engagement readout next to q_growth_accounting: per day, the
    // distinct-user counts over the trailing 1/7/28-day windows and the
    // DAU/WAU, DAU/MAU ratios. Trailing distinct counts do NOT
    // decompose from per-day counts (a user active twice in a week is
    // one WAU), so the exact shape is the q_rolling_distinct fan-out:
    // each (user, day) activity row contributes ROW-LOCALLY to the ≤7
    // (≤28) window-end days it falls in, then one distinct + census per
    // window size. Everything is keyed on the scaling user id or the
    // calendar; output is calendar-bounded. Ratios are IEEE divisions
    // of exact counts.
    Q("q_stickiness",
      (s, dir) => {
        // the (user, day) census feeds the DAU census and both fan-outs
        val ud = Artifacts.persist(t(s, dir, "events")
          .select(date_trunc("day", col("ts")).as("day"), col("user_id"))
          .distinct())
        val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
        def trailing(days: Int, name: String) = ud
          .select(explode(expr(
            s"sequence(day, day + interval ${days - 1} days, interval 1 day)"))
            .as("day"), col("user_id"))
          .distinct()
          .groupBy("day").agg(count(lit(1)).as(name))
        // inner join on the DAU frame drops the phantom trailing days
        // the fan-out extends past the data (the q_growth_accounting
        // churn-bound lesson)
        dau.join(trailing(7, "wau"), "day")
          .join(trailing(28, "mau"), "day")
          .select(col("day"), col("dau"), col("wau"), col("mau"),
            (col("dau").cast("double") / col("wau").cast("double"))
              .as("dau_wau"),
            (col("dau").cast("double") / col("mau").cast("double"))
              .as("dau_mau"))
          .orderBy("day")
      },
      Some("""WITH ud AS (
                SELECT DISTINCT date_trunc('day', ts) AS day, user_id
                FROM events),
              dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY 1),
              days AS (SELECT DISTINCT day FROM ud),
              wau AS (
                SELECT d.day, CAST(count(DISTINCT u.user_id) AS BIGINT) AS wau
                FROM days d JOIN ud u
                  ON u.day BETWEEN d.day - INTERVAL 6 DAY AND d.day
                GROUP BY 1),
              mau AS (
                SELECT d.day, CAST(count(DISTINCT u.user_id) AS BIGINT) AS mau
                FROM days d JOIN ud u
                  ON u.day BETWEEN d.day - INTERVAL 27 DAY AND d.day
                GROUP BY 1)
              SELECT dau.day, CAST(dau AS BIGINT) AS dau, wau, mau,
                CAST(dau AS DOUBLE) / CAST(wau AS DOUBLE) AS dau_wau,
                CAST(dau AS DOUBLE) / CAST(mau AS DOUBLE) AS dau_mau
              FROM dau JOIN wau ON dau.day = wau.day
                JOIN mau ON dau.day = mau.day
              ORDER BY dau.day""")),

    // ── day-of-week × hour activity heatmap ──────────────────────────────
    // The traffic-shape census capacity planning reads first: per
    // (dow, hour) cell, event volume, distinct users, and purchase
    // share. ONE partial+final agg to a ≤168-cell frame at any SF
    // (distinct users partial-aggregates per cell); the share is one
    // IEEE division of exact counts. Spark's dayofweek is 1=Sunday —
    // the oracle mirrors with dayofweek()+1.
    Q("q_activity_heatmap",
      (s, dir) => t(s, dir, "events")
        .select(dayofweek(col("ts")).cast("long").as("dow"),
          hour(col("ts")).cast("long").as("hour"),
          col("user_id"), col("event_type"))
        .groupBy("dow", "hour")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("n_purchases"))
        .select(col("dow"), col("hour"), col("n_events"), col("n_users"),
          col("n_purchases"),
          (col("n_purchases").cast("double") / col("n_events").cast("double"))
            .as("purchase_share"))
        .orderBy("dow", "hour"),
      Some("""SELECT CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,
                CAST(hour(ts) AS BIGINT) AS hour,
                count(*) AS n_events,
                CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
                CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_purchases,
                CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*) AS purchase_share
              FROM events GROUP BY 1, 2 ORDER BY dow, hour""")),

    // ── session-duration distribution (the q_sessionize readout) ─────────
    // What the sessionizer's output LOOKS like: sessions bucketed by
    // the bit length of their duration in seconds (the log₂ fold the
    // token/degree histograms use). Same gap-30-min session
    // construction as q_sessionize — one user-keyed window — then ONE
    // partial+final agg to a ≤64-bucket census; all-integer output.
    Q("q_session_stats",
      (s, dir) => {
        val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val gapUs = (unix_micros(col("ts"))
          - lag(unix_micros(col("ts")), 1).over(byUser))
        t(s, dir, "events")
          .withColumn("new_sess",
            when(gapUs.isNull || gapUs > 1800L * 1000000L, 1L).otherwise(0L))
          .withColumn("sess_id", sum(col("new_sess")).over(
            byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy("user_id", "sess_id")
          .agg(count(lit(1)).as("n_events"),
            expr("(unix_micros(max(ts)) - unix_micros(min(ts))) div 1000000")
              .as("dur_s"))
          .groupBy(length(bin(greatest(col("dur_s"), lit(1L)))).cast("long")
            .as("dur_bucket"))
          .agg(count(lit(1)).as("n_sessions"),
            sum(col("n_events")).as("n_events"),
            min(col("dur_s")).as("min_dur_s"),
            max(col("dur_s")).as("max_dur_s"))
          .orderBy("dur_bucket")
      },
      Some("""WITH x AS (
                SELECT user_id, event_id, ts,
                  CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                            > 1800000000
                       THEN 1 ELSE 0 END AS new_sess
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
              y AS (
                SELECT *, SUM(new_sess) OVER (PARTITION BY user_id
                  ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sess_id
                FROM x),
              sess AS (
                SELECT user_id, sess_id,
                  CAST(count(*) AS BIGINT) AS n_events,
                  (epoch_us(max(ts)) - epoch_us(min(ts))) // 1000000 AS dur_s
                FROM y GROUP BY 1, 2)
              SELECT CAST(length(bin(greatest(dur_s, 1))) AS BIGINT)
                  AS dur_bucket,
                count(*) AS n_sessions,
                CAST(SUM(n_events) AS BIGINT) AS n_events,
                CAST(MIN(dur_s) AS BIGINT) AS min_dur_s,
                CAST(MAX(dur_s) AS BIGINT) AS max_dur_s
              FROM sess GROUP BY 1 ORDER BY dur_bucket""")),

    // ── time-to-first-purchase (activation latency census) ──────────────
    // Per user: hours from first-ever event to first purchase (users
    // who never purchase are counted separately — the activation-rate
    // denominator). TWO per-user min-aggs (user-keyed, partial-
    // aggregated; no window, no timeline materialization — the q_funnel
    // shape), one users-sized join, then a log₂-hour census.
    Q("q_time_to_first",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val first = ev.groupBy(col("user_id"))
          .agg(min(unix_micros(col("ts"))).as("t0"))
        val firstBuy = ev.filter(col("event_type") === "purchase")
          .groupBy(col("user_id"))
          .agg(min(unix_micros(col("ts"))).as("tp"))
        first.join(firstBuy, Seq("user_id"), "left")
          .select(when(col("tp").isNull, lit(-1L))
            .otherwise(length(bin(greatest(
              expr("(tp - t0) div 3600000000"), lit(1L)))).cast("long"))
            .as("hours_bucket"))
          .groupBy("hours_bucket")
          .agg(count(lit(1)).as("n_users"))
          .orderBy("hours_bucket")
      },
      Some("""WITH f AS (
                SELECT user_id, MIN(epoch_us(ts)) AS t0 FROM events
                GROUP BY 1),
              p AS (
                SELECT user_id, MIN(epoch_us(ts)) AS tp FROM events
                WHERE event_type = 'purchase' GROUP BY 1)
              SELECT CASE WHEN tp IS NULL THEN -1
                ELSE CAST(length(bin(greatest((tp - t0) // 3600000000, 1)))
                  AS BIGINT) END AS hours_bucket,
                count(*) AS n_users
              FROM f LEFT JOIN p USING (user_id)
              GROUP BY 1 ORDER BY hours_bucket""")),

    // ── time-bounded conversion funnel (the windowed q_funnel) ───────────
    // Real funnel definitions expire: a click only converts within 7
    // days of the first view, a purchase within 7 days of that click.
    // Same cascaded per-stage min-aggregation shape as q_funnel (each
    // stage's type equality pushes into the scan; every join is keyed
    // on the scaling user_id; no timeline materialization) with the
    // window bound riding the stage join's residual. Census output:
    // users per deepest-stage-reached.
    Q("q_window_funnel",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val bound = 7L * 86400L * 1000000L
        def stage(typ: String, prev: DataFrame, prevT: String, outT: String) =
          ev.filter(col("event_type") === typ)
            .join(prev, "user_id")
            .filter(col("ts") >= col(prevT)
              && unix_micros(col("ts")) <= unix_micros(col(prevT)) + bound)
            .groupBy("user_id").agg(min(col("ts")).as(outT))
        val s1 = ev.filter(col("event_type") === "view")
          .groupBy("user_id").agg(min(col("ts")).as("t_view"))
        val s2 = stage("click", s1, "t_view", "t_click")
        val s3 = stage("purchase", s2, "t_click", "t_purchase")
        s1.join(s2, Seq("user_id"), "left").join(s3, Seq("user_id"), "left")
          .select((lit(1L) + col("t_click").isNotNull.cast("long")
            + col("t_purchase").isNotNull.cast("long")).as("stage"))
          .groupBy("stage").agg(count(lit(1)).as("n_users"))
          .orderBy("stage")
      },
      Some("""WITH s1 AS (
                SELECT user_id, min(ts) AS t_view FROM events
                WHERE event_type = 'view' GROUP BY 1),
              s2 AS (
                SELECT e.user_id, min(e.ts) AS t_click
                FROM events e JOIN s1 USING (user_id)
                WHERE e.event_type = 'click' AND e.ts >= s1.t_view
                  AND epoch_us(e.ts) <= epoch_us(s1.t_view) + 604800000000
                GROUP BY 1),
              s3 AS (
                SELECT e.user_id, min(e.ts) AS t_purchase
                FROM events e JOIN s2 USING (user_id)
                WHERE e.event_type = 'purchase' AND e.ts >= s2.t_click
                  AND epoch_us(e.ts) <= epoch_us(s2.t_click) + 604800000000
                GROUP BY 1)
              SELECT CAST(1 + (s2.user_id IS NOT NULL)::INT
                       + (s3.user_id IS NOT NULL)::INT AS BIGINT) AS stage,
                count(*) AS n_users
              FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
              GROUP BY 1 ORDER BY stage""")),

    // ── Holt linear-trend smoothing + 7-day-ahead forecast ───────────────
    // The exponential-smoothing sibling of q_forecast_eval's seasonal
    // naive: level/trend recursion (α = 0.3, β = 0.1) over the daily
    // revenue census. The corpus collapses in ONE day census
    // (calendar-bounded); the recursion is a position-pinned row-local
    // fold over the sorted day array — a SEQUENTIAL op chain on
    // identical doubles, so both engines land on identical bits (the
    // q_ewma discipline, no rounding tolerance needed). Output: last
    // level/trend and the h = 7 linear forecast.
    Q("q_holt_smoothing",
      (s, dir) => {
        val daily = t(s, dir, "orders")
          .groupBy(date_trunc("day", col("o_orderdate")).as("day"))
          .agg((sum(dec2(col("o_totalprice"))) * 100).cast("long").as("cents"))
        daily
          .agg(sort_array(collect_list(struct(col("day"), col("cents"))))
            .as("ser"))
          .select(expr(
            """aggregate(
                 slice(ser, 2, size(ser) - 1),
                 named_struct(
                   'l', CAST(ser[0].cents AS DOUBLE) / 100.0,
                   'b', CAST(0 AS DOUBLE), 'n', 1L),
                 (a, x) -> named_struct(
                   'l', 0.3 * (CAST(x.cents AS DOUBLE) / 100.0)
                        + 0.7 * (a.l + a.b),
                   'b', 0.1 * ((0.3 * (CAST(x.cents AS DOUBLE) / 100.0)
                        + 0.7 * (a.l + a.b)) - a.l) + 0.9 * a.b,
                   'n', a.n + 1L))""").as("st"))
          .select(col("st.n").as("n_days"),
            col("st.l").as("level"), col("st.b").as("trend"),
            (col("st.l") + lit(7.0) * col("st.b")).as("forecast_7d"))
      },
      // the oracle carries the (level, trend) state through a recursive
      // CTE — DuckDB's list_reduce cannot hold a struct accumulator
      // over a differently-typed list; the per-step arithmetic is the
      // identical op sequence, so the doubles stay bit-equal
      Some("""WITH RECURSIVE daily AS (
                SELECT date_trunc('day', o_orderdate) AS day,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                    AS BIGINT) AS cents
                FROM orders GROUP BY 1),
              idx AS (
                SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i,
                  CAST(cents AS DOUBLE) / 100.0 AS v
                FROM daily),
              rec(i, l, b) AS (
                SELECT CAST(1 AS BIGINT), (SELECT v FROM idx WHERE i = 1),
                  CAST(0 AS DOUBLE)
                UNION ALL
                SELECT r.i + 1,
                  0.3 * x.v + 0.7 * (r.l + r.b),
                  0.1 * ((0.3 * x.v + 0.7 * (r.l + r.b)) - r.l)
                    + 0.9 * r.b
                FROM rec r JOIN idx x ON x.i = r.i + 1)
              SELECT i AS n_days, l AS level, b AS trend,
                l + 7.0 * b AS forecast_7d
              FROM rec WHERE i = (SELECT max(i) FROM idx)""")),

    // ── damped-trend Holt (the other M3 exponential-smoothing staple) ───
    // Completes the forecast benchmark trio (q_theta_method,
    // q_holt_winters): Gardner–McKenzie damping multiplies the trend by
    // φ = 0.98 each step, so long-horizon forecasts flatten instead of
    // extrapolating forever — the single most robust M3 method.
    //   l' = α·y + (1−α)·(l + φ·b),  b' = β·(l'−l) + (1−β)·φ·b
    // (α = 0.3, β = 0.1). Same pinned sorted fold over the
    // calendar-bounded daily census as q_holt_smoothing (Spark
    // `aggregate` struct fold ≡ DuckDB recursive CTE, identical op
    // sequence per step — bit-equal doubles, no rounding); the h=7
    // forecast multiplier Σ_{i=1..7} φⁱ is ONE pinned literal parsed
    // to the same double by both engines.
    Q("q_damped_holt",
      (s, dir) => {
        val daily = t(s, dir, "orders")
          .groupBy(date_trunc("day", col("o_orderdate")).as("day"))
          .agg((sum(dec2(col("o_totalprice"))) * 100).cast("long").as("cents"))
        daily
          .agg(sort_array(collect_list(struct(col("day"), col("cents"))))
            .as("ser"))
          .select(expr(
            """aggregate(
                 slice(ser, 2, size(ser) - 1),
                 named_struct(
                   'l', CAST(ser[0].cents AS DOUBLE) / 100.0,
                   'b', CAST(0 AS DOUBLE), 'n', 1L),
                 (a, x) -> named_struct(
                   'l', 0.3 * (CAST(x.cents AS DOUBLE) / 100.0)
                        + 0.7 * (a.l + 0.98 * a.b),
                   'b', 0.1 * ((0.3 * (CAST(x.cents AS DOUBLE) / 100.0)
                        + 0.7 * (a.l + 0.98 * a.b)) - a.l)
                        + 0.9 * (0.98 * a.b),
                   'n', a.n + 1L))""").as("st"))
          .select(col("st.n").as("n_days"),
            col("st.l").as("level"), col("st.b").as("trend"),
            (col("st.l") + lit(6.461848870910719) * col("st.b"))
              .as("forecast_7d"))
      },
      Some("""WITH RECURSIVE daily AS (
                SELECT date_trunc('day', o_orderdate) AS day,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                    AS BIGINT) AS cents
                FROM orders GROUP BY 1),
              idx AS (
                SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i,
                  CAST(cents AS DOUBLE) / 100.0 AS v
                FROM daily),
              rec(i, l, b) AS (
                SELECT CAST(1 AS BIGINT), (SELECT v FROM idx WHERE i = 1),
                  CAST(0 AS DOUBLE)
                UNION ALL
                SELECT r.i + 1,
                  0.3 * x.v + 0.7 * (r.l + 0.98 * r.b),
                  0.1 * ((0.3 * x.v + 0.7 * (r.l + 0.98 * r.b)) - r.l)
                    + 0.9 * (0.98 * r.b)
                FROM rec r JOIN idx x ON x.i = r.i + 1)
              SELECT i AS n_days, l AS level, b AS trend,
                l + 6.461848870910719 * b AS forecast_7d
              FROM rec WHERE i = (SELECT max(i) FROM idx)""")),

    // ── Holt–Winters triple smoothing (additive, weekly season) ─────────
    // Completes the exponential family (q_ewma = single,
    // q_holt_smoothing = double): level + trend + a 7-slot additive
    // dow seasonal state, α=0.3 β=0.1 γ=0.2. The recurrence is
    // inherently sequential — spelled as ONE sequential fold over the
    // day-sorted census (Spark `aggregate`, DuckDB `list_reduce`),
    // state = a flat 10-slot double vector [l, b, s₀..s₆, i] (DuckDB
    // 1.0's list_prepend must type-unify accumulator and elements, so
    // the state is a DOUBLE[] like the observations, not a struct).
    // Every step is rational-constant double arithmetic in the same
    // textual op order on both engines — bit-identical with NO
    // rounding (no libm anywhere). Cents stay exactly representable
    // (< 2⁵³) at any SF. The fold runs on the calendar-bounded census
    // on the driver-side of the agg — the corpus collapses in the ONE
    // day-census shuffle, the ~2.4k-step recurrence is O(days), the
    // same envelope as q_holt_smoothing's recursive CTE.
    // Dense-calendar assumption (ADVICE r10): the fold steps once per
    // CENSUS ROW, so "one step = one day" holds only when every day
    // has ≥1 order — true of this orders table; on a gapped calendar
    // a dark day is silently skipped rather than smoothed over (the
    // seasonal slot is still indexed by the TRUE dow, so slots never
    // misalign). Cross-engine parity is unaffected.
    Q("q_holt_winters",
      (s, dir) => {
        val daily = t(s, dir, "orders")
          .groupBy(datediff(col("o_orderdate").cast("date"),
            lit("1970-01-01").cast("date")).cast("long").as("day"))
          .agg((sum(dec2(col("o_totalprice"))) * 100).cast("long")
            .as("cents"))
          .select(col("day"),
            ((col("day") + 4) % 7).cast("double").as("dw"),
            col("cents").cast("double").as("y"))
        val lp = "0.3D * (x.y - element_at(acc, CAST(x.dw AS INT) + 3))" +
          " + 0.7D * (element_at(acc, 1) + element_at(acc, 2))"
        daily.agg(count(lit(1)).cast("long").as("n"),
            expr(s"""aggregate(
              array_sort(collect_list(struct(day, dw, y))),
              array(0.0D, 0.0D, 0.0D, 0.0D, 0.0D, 0.0D, 0.0D, 0.0D,
                    0.0D, 0.0D),
              (acc, x) -> CASE WHEN element_at(acc, 10) = 0.0D THEN
                  array(x.y, 0.0D, element_at(acc, 3), element_at(acc, 4),
                    element_at(acc, 5), element_at(acc, 6),
                    element_at(acc, 7), element_at(acc, 8),
                    element_at(acc, 9), 1.0D)
                ELSE
                  concat(
                    array(
                      $lp,
                      0.1D * (($lp) - element_at(acc, 1))
                        + 0.9D * element_at(acc, 2)),
                    transform(sequence(0, 6),
                      j -> CASE WHEN CAST(j AS DOUBLE) = x.dw
                        THEN 0.2D * (x.y - ($lp))
                          + 0.8D * element_at(acc, CAST(x.dw AS INT) + 3)
                        ELSE element_at(acc, CAST(j AS INT) + 3) END),
                    array(element_at(acc, 10) + 1.0D))
                END)""").as("st"))
          .select(col("n"),
            element_at(col("st"), 1).as("level"),
            element_at(col("st"), 2).as("trend"),
            element_at(col("st"), 3).as("s_sun"),
            element_at(col("st"), 4).as("s_mon"),
            element_at(col("st"), 5).as("s_tue"),
            element_at(col("st"), 6).as("s_wed"),
            element_at(col("st"), 7).as("s_thu"),
            element_at(col("st"), 8).as("s_fri"),
            element_at(col("st"), 9).as("s_sat"))
      },
      Some("""WITH daily AS (
                SELECT CAST(date_diff('day', DATE '1970-01-01',
                    CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                    AS BIGINT) AS cents
                FROM orders GROUP BY 1),
              arr AS (
                SELECT list([CAST((day + 4) % 7 AS DOUBLE),
                    CAST(cents AS DOUBLE)] ORDER BY day) AS xs,
                  CAST(COUNT(*) AS BIGINT) AS n
                FROM daily),
              fold AS (
                SELECT n,
                  list_reduce(
                    list_prepend([0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0,
                        0.0, 0.0, 0.0], xs),
                    (acc, x) -> CASE WHEN acc[10] = 0.0 THEN
                        [x[2], 0.0, acc[3], acc[4], acc[5], acc[6],
                         acc[7], acc[8], acc[9], 1.0]
                      ELSE
                        [0.3 * (x[2] - acc[CAST(x[1] AS INTEGER) + 3])
                           + 0.7 * (acc[1] + acc[2]),
                         0.1 * ((0.3 * (x[2]
                               - acc[CAST(x[1] AS INTEGER) + 3])
                             + 0.7 * (acc[1] + acc[2])) - acc[1])
                           + 0.9 * acc[2]]
                        || list_transform(range(7),
                             j -> CASE WHEN CAST(j AS DOUBLE) = x[1]
                               THEN 0.2 * (x[2] - (0.3 * (x[2]
                                     - acc[CAST(x[1] AS INTEGER) + 3])
                                   + 0.7 * (acc[1] + acc[2])))
                                 + 0.8 * acc[CAST(x[1] AS INTEGER) + 3]
                               ELSE acc[CAST(j AS INTEGER) + 3] END)
                        || [acc[10] + 1.0]
                      END) AS st
                FROM arr)
              SELECT n, st[1] AS level, st[2] AS trend,
                st[3] AS s_sun, st[4] AS s_mon, st[5] AS s_tue,
                st[6] AS s_wed, st[7] AS s_thu, st[8] AS s_fri,
                st[9] AS s_sat
              FROM fold""")),

    // ── Holt–Winters in-sample one-step SSE (fit quality) ───────────────
    // The r10-scoped seed: how well does the triple-smoothing state
    // actually track the series? One-step-ahead forecast at step t is
    // ŷ = l + b + s_dow read from the PRIOR state; the squared error
    // accumulates in an 11th fold slot — same recurrence, same
    // bit-identical rational-constant discipline as q_holt_winters
    // (the forecast subtraction, square, and add are the identical
    // IEEE op sequence on both engines), zero extra passes: the whole
    // statistic is one more slot in the ONE sequential fold over the
    // day-sorted census. RMSE = √(SSE/(n−1)) — n−1 forecasted steps
    // (the first observation only initializes the level). Same
    // dense-calendar note as q_holt_winters.
    Q("q_holt_winters_sse",
      (s, dir) => {
        val daily = t(s, dir, "orders")
          .groupBy(datediff(col("o_orderdate").cast("date"),
            lit("1970-01-01").cast("date")).cast("long").as("day"))
          .agg((sum(dec2(col("o_totalprice"))) * 100).cast("long")
            .as("cents"))
          .select(col("day"),
            ((col("day") + 4) % 7).cast("double").as("dw"),
            col("cents").cast("double").as("y"))
        val lp = "0.3D * (x.y - element_at(acc, CAST(x.dw AS INT) + 3))" +
          " + 0.7D * (element_at(acc, 1) + element_at(acc, 2))"
        val ferr = "(x.y - (element_at(acc, 1) + element_at(acc, 2)" +
          " + element_at(acc, CAST(x.dw AS INT) + 3)))"
        daily.agg(count(lit(1)).cast("long").as("n"),
            expr(s"""aggregate(
              array_sort(collect_list(struct(day, dw, y))),
              array(0.0D, 0.0D, 0.0D, 0.0D, 0.0D, 0.0D, 0.0D, 0.0D,
                    0.0D, 0.0D, 0.0D),
              (acc, x) -> CASE WHEN element_at(acc, 10) = 0.0D THEN
                  array(x.y, 0.0D, element_at(acc, 3), element_at(acc, 4),
                    element_at(acc, 5), element_at(acc, 6),
                    element_at(acc, 7), element_at(acc, 8),
                    element_at(acc, 9), 1.0D, 0.0D)
                ELSE
                  concat(
                    array(
                      $lp,
                      0.1D * (($lp) - element_at(acc, 1))
                        + 0.9D * element_at(acc, 2)),
                    transform(sequence(0, 6),
                      j -> CASE WHEN CAST(j AS DOUBLE) = x.dw
                        THEN 0.2D * (x.y - ($lp))
                          + 0.8D * element_at(acc, CAST(x.dw AS INT) + 3)
                        ELSE element_at(acc, CAST(j AS INT) + 3) END),
                    array(element_at(acc, 10) + 1.0D,
                      element_at(acc, 11) + $ferr * $ferr))
                END)""").as("st"))
          .select(col("n"),
            element_at(col("st"), 11).as("sse"),
            when(col("n") <= 1, lit(null).cast("double"))
              .otherwise(sqrt(element_at(col("st"), 11)
                / (col("n") - 1).cast("double"))).as("rmse_one_step"))
      },
      Some("""WITH daily AS (
                SELECT CAST(date_diff('day', DATE '1970-01-01',
                    CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                    AS BIGINT) AS cents
                FROM orders GROUP BY 1),
              arr AS (
                SELECT list([CAST((day + 4) % 7 AS DOUBLE),
                    CAST(cents AS DOUBLE)] ORDER BY day) AS xs,
                  CAST(COUNT(*) AS BIGINT) AS n
                FROM daily),
              fold AS (
                SELECT n,
                  list_reduce(
                    list_prepend([0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0,
                        0.0, 0.0, 0.0, 0.0], xs),
                    (acc, x) -> CASE WHEN acc[10] = 0.0 THEN
                        [x[2], 0.0, acc[3], acc[4], acc[5], acc[6],
                         acc[7], acc[8], acc[9], 1.0, 0.0]
                      ELSE
                        [0.3 * (x[2] - acc[CAST(x[1] AS INTEGER) + 3])
                           + 0.7 * (acc[1] + acc[2]),
                         0.1 * ((0.3 * (x[2]
                               - acc[CAST(x[1] AS INTEGER) + 3])
                             + 0.7 * (acc[1] + acc[2])) - acc[1])
                           + 0.9 * acc[2]]
                        || list_transform(range(7),
                             j -> CASE WHEN CAST(j AS DOUBLE) = x[1]
                               THEN 0.2 * (x[2] - (0.3 * (x[2]
                                     - acc[CAST(x[1] AS INTEGER) + 3])
                                   + 0.7 * (acc[1] + acc[2])))
                                 + 0.8 * acc[CAST(x[1] AS INTEGER) + 3]
                               ELSE acc[CAST(j AS INTEGER) + 3] END)
                        || [acc[10] + 1.0,
                            acc[11] + (x[2] - (acc[1] + acc[2]
                                + acc[CAST(x[1] AS INTEGER) + 3]))
                              * (x[2] - (acc[1] + acc[2]
                                + acc[CAST(x[1] AS INTEGER) + 3]))]
                      END) AS st
                FROM arr)
              SELECT n, st[11] AS sse,
                CASE WHEN n <= 1 THEN NULL
                  ELSE sqrt(st[11] / CAST(n - 1 AS DOUBLE)) END
                  AS rmse_one_step
              FROM fold""")),

    // ── Theta-method forecast (the M3 classic; round-12 seed) ───────────
    // Completes the exponential family with its strongest competition
    // benchmark member: decompose the daily-revenue series into the
    // θ=0 line (OLS linear trend — exact dec38 normal-equation sums
    // over integer (t, cents), two pinned double divisions) and the
    // θ=2 line z_t = 2y_t − (a + b·t); SES(α=0.5, l₀=z₁) over z is one
    // more q_holt_winters-style pinned fold (sorted collect_list,
    // DOUBLE[] state); the h=1 forecast averages the SES level with
    // the trend extrapolation. The t-index row_number rides the
    // calendar-bounded daily census (the q_runs_test dense-calendar
    // class — never a data-sized window).
    Q("q_theta_method",
      (s, dir) => {
        val dec38 = DecimalType(38, 0)
        val daily = t(s, dir, "orders")
          .groupBy(datediff(col("o_orderdate").cast("date"),
            lit("1970-01-01").cast("date")).cast("long").as("day"))
          .agg((sum(dec2(col("o_totalprice"))) * 100).cast("long")
            .as("cents"))
        // localCheckpoint (r12 ADVICE): the calendar-bounded ranked
        // frame (~thousands of rows) feeds BOTH the OLS sums agg and
        // the SES fold — pinned, the orders corpus is scanned once
        val ranked = daily
          .select(row_number().over(Window.orderBy("day")).cast("long")
            .as("t"), col("cents"))
          .localCheckpoint(false)
        val ols = ranked.agg(
            count(lit(1)).cast("long").as("n"),
            sum(col("t").cast(dec38)).as("st"),
            sum(col("cents").cast(dec38)).as("sy"),
            sum(col("t").cast(dec38) * col("t")).as("st2"),
            sum(col("t").cast(dec38) * col("cents")).as("sty"))
          .select(col("n"), col("st"), col("sy"),
            when(col("n") < 2, lit(null).cast("double"))
              .otherwise((col("n").cast(dec38) * col("sty")
                - col("st") * col("sy")).cast("double")
                / (col("n").cast(dec38) * col("st2")
                  - col("st") * col("st")).cast("double")).as("b"))
          .select(col("n"), col("b"),
            ((col("sy").cast("double")
              - col("b") * col("st").cast("double"))
              / col("n").cast("double")).as("a"))
          .localCheckpoint(false)
        ranked.crossJoin(broadcast(ols))
          .select(col("t"), col("n"), col("a"), col("b"),
            (col("cents").cast("double") * 2.0
              - (col("a") + col("b") * col("t").cast("double"))).as("z"))
          .groupBy("n", "a", "b")
          .agg(expr("""aggregate(array_sort(collect_list(struct(t, z))),
              array(0.0D, 0.0D),
              (acc, x) -> CASE WHEN element_at(acc, 2) = 0.0D
                THEN array(x.z, 1.0D)
                ELSE array(0.5D * x.z + 0.5D * element_at(acc, 1),
                  element_at(acc, 2) + 1.0D) END)""").as("st"))
          .select(col("n"), col("a").as("intercept"),
            col("b").as("slope"),
            element_at(col("st"), 1).as("ses_theta2"),
            (element_at(col("st"), 1) * 0.5
              + (col("a") + col("b") * (col("n") + 1).cast("double"))
                * 0.5).as("forecast_1"))
      },
      Some("""WITH daily AS (
                SELECT CAST(date_diff('day', DATE '1970-01-01',
                    CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                    AS BIGINT) AS cents
                FROM orders GROUP BY 1),
              ranked AS (
                SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT)
                    AS t,
                  cents
                FROM daily),
              sums AS (
                SELECT CAST(COUNT(*) AS BIGINT) AS n,
                  SUM(CAST(t AS HUGEINT)) AS st,
                  SUM(CAST(cents AS HUGEINT)) AS sy,
                  SUM(CAST(t AS HUGEINT) * t) AS st2,
                  SUM(CAST(t AS HUGEINT) * cents) AS sty
                FROM ranked),
              ols AS (
                SELECT n,
                  CASE WHEN n < 2 THEN NULL
                    ELSE CAST(CAST(n AS HUGEINT) * sty - st * sy
                        AS DOUBLE)
                      / CAST(CAST(n AS HUGEINT) * st2 - st * st
                        AS DOUBLE) END AS b,
                  st, sy
                FROM sums),
              ols2 AS (
                SELECT n, b,
                  (CAST(sy AS DOUBLE) - b * CAST(st AS DOUBLE))
                    / CAST(n AS DOUBLE) AS a
                FROM ols),
              zs AS (
                SELECT o.n, o.a, o.b,
                  list([CAST(r.t AS DOUBLE),
                    CAST(r.cents AS DOUBLE) * 2.0
                      - (o.a + o.b * CAST(r.t AS DOUBLE))]
                    ORDER BY r.t) AS xs
                FROM ranked r, ols2 o
                GROUP BY o.n, o.a, o.b),
              fold AS (
                SELECT n, a, b,
                  list_reduce(
                    list_prepend([0.0, 0.0], xs),
                    (acc, x) -> CASE WHEN acc[2] = 0.0
                      THEN [x[2], 1.0]
                      ELSE [0.5 * x[2] + 0.5 * acc[1], acc[2] + 1.0]
                      END) AS st
                FROM zs)
              SELECT n, a AS intercept, b AS slope,
                st[1] AS ses_theta2,
                st[1] * 0.5 + (a + b * CAST(n + 1 AS DOUBLE)) * 0.5
                  AS forecast_1
              FROM fold""")),

    // ── day-of-week seasonality index per event type ─────────────────────
    // The normalized seasonal profile (share within type ÷ share
    // overall): index > 1 = that type over-indexes on that weekday.
    // One partial+final agg to the ≤7×5 census; per-type and per-dow
    // marginals are census-over-census; the index is exact-count
    // arithmetic with two divisions, NULL-free by construction.
    Q("q_seasonality_index",
      (s, dir) => seasonIdxFinish(seasonIdxCounts(t(s, dir, "events"))),
      Some("""WITH cells AS (
                SELECT CAST(dayofweek(ts) + 1 AS BIGINT) AS dow, event_type,
                  CAST(count(*) AS BIGINT) AS n
                FROM events GROUP BY 1, 2),
              pt AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS n_type
                     FROM cells GROUP BY 1),
              pd AS (SELECT dow, CAST(SUM(n) AS BIGINT) AS n_dow
                     FROM cells GROUP BY 1),
              t AS (SELECT CAST(SUM(n) AS BIGINT) AS n_all FROM cells)
              SELECT cells.dow, cells.event_type, n,
                (CAST(n AS DOUBLE) / CAST(n_type AS DOUBLE))
                  / (CAST(n_dow AS DOUBLE) / CAST(n_all AS DOUBLE))
                  AS seasonal_index
              FROM cells JOIN pt ON cells.event_type = pt.event_type
                JOIN pd ON cells.dow = pd.dow, t
              ORDER BY cells.dow, cells.event_type""")),

    // ── per-user activity distribution (the event-side power-law lens) ──
    // Events per user folded into log₂ buckets — q_degree_stats for the
    // event stream, and the skew readout the user-keyed shuffles in
    // this family are sized against. Two partial+final aggs.
    Q("q_user_activity_hist",
      (s, dir) => t(s, dir, "events")
        .groupBy("user_id").agg(count(lit(1)).as("n_events"))
        .groupBy(length(bin(col("n_events"))).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("n_events")).as("n_events"),
          min(col("n_events")).as("min_events"),
          max(col("n_events")).as("max_events"))
        .orderBy("bucket"),
      Some("""WITH u AS (
                SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
                FROM events GROUP BY 1)
              SELECT CAST(length(bin(n_events)) AS BIGINT) AS bucket,
                count(*) AS n_users,
                CAST(SUM(n_events) AS BIGINT) AS n_events,
                CAST(MIN(n_events) AS BIGINT) AS min_events,
                CAST(MAX(n_events) AS BIGINT) AS max_events
              FROM u GROUP BY 1 ORDER BY bucket""")),

    // ── user lifespan census ─────────────────────────────────────────────
    // Engagement-duration lens: per user, the span from first to last
    // event, folded into week bands. One user-keyed partial+final agg
    // (min/max/count), then a bounded band census — the span stays in
    // the exact integer day domain (datediff of DATEs), so the band
    // boundary cannot flip between engines.
    Q("q_user_lifespan",
      (s, dir) => t(s, dir, "events")
        .groupBy("user_id")
        .agg(datediff(max(col("ts").cast("date")),
            min(col("ts").cast("date"))).cast("long").as("span_days"),
          count(lit(1)).as("n_events"))
        .groupBy(expr("span_days div 7").as("week_band"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("n_events")).cast("long").as("total_events"),
          (sum(col("n_events")).cast("double")
            / count(lit(1)).cast("double")).as("events_per_user"))
        .orderBy("week_band"),
      Some("""WITH u AS (
                SELECT user_id,
                  CAST(date_diff('day', CAST(MIN(ts) AS DATE),
                    CAST(MAX(ts) AS DATE)) AS BIGINT) AS span_days,
                  CAST(count(*) AS BIGINT) AS n_events
                FROM events GROUP BY 1)
              SELECT span_days // 7 AS week_band,
                count(*) AS n_users,
                CAST(SUM(n_events) AS BIGINT) AS total_events,
                CAST(SUM(n_events) AS DOUBLE) / count(*) AS events_per_user
              FROM u GROUP BY 1 ORDER BY week_band""")),

    // ── inter-event gap percentiles per event type ──────────────────────
    // Cadence lens: p50/p90 of the time gap preceding each event, by the
    // event's type. The lag window partitions by user_id (parallelism =
    // population, never a funnel); gaps stay exact in the microsecond
    // integer domain; the per-type rank-select rides RangeRank (few
    // types × scaling gaps = exactly the single-task-window trap
    // q_group_percentiles solves) at rn = ceil(q·n).
    Q("q_inter_event_quantiles",
      (s, dir) => {
        val w = Window.partitionBy("user_id")
          .orderBy(col("us"), col("event_id")) // us monotone in ts
        val gaps = t(s, dir, "events")
          .select(col("user_id"), col("event_id"), col("event_type"),
            unix_micros(col("ts")).as("us"))
          .withColumn("gap_us", col("us") - lag(col("us"), 1).over(w))
          .filter(col("gap_us").isNotNull)
        val ranked = RangeRank.ranked(
          gaps.select(col("event_type"), col("gap_us"), col("event_id")),
          Seq("event_type"), Seq(col("gap_us"), col("event_id")))
        ranked
          .filter(col("rn") === expr("(n * 50 + 99) div 100")
            || col("rn") === expr("(n * 90 + 99) div 100"))
          .select(col("event_type"),
            when(col("rn") === expr("(n * 50 + 99) div 100"), 50L)
              .otherwise(90L).as("pct"),
            (col("gap_us").cast("double") / 1000000.0).as("gap_seconds"))
          .groupBy("event_type", "pct")
          .agg(min(col("gap_seconds")).as("gap_seconds"))
          .orderBy("event_type", "pct")
      },
      Some("""WITH g AS (
                SELECT event_type,
                  epoch_us(ts) - lag(epoch_us(ts)) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id) AS gap_us,
                  event_id
                FROM events),
              r AS (
                SELECT event_type, gap_us,
                  CAST(row_number() OVER (PARTITION BY event_type
                    ORDER BY gap_us, event_id) AS BIGINT) AS rn,
                  COUNT(*) OVER (PARTITION BY event_type) AS n
                FROM g WHERE gap_us IS NOT NULL),
              hits AS (
                SELECT event_type,
                  CASE WHEN rn = (n * 50 + 99) // 100 THEN 50
                       ELSE 90 END AS pct,
                  CAST(gap_us AS DOUBLE) / 1000000.0 AS gap_seconds
                FROM r
                WHERE rn = (n * 50 + 99) // 100
                   OR rn = (n * 90 + 99) // 100)
              SELECT event_type, CAST(pct AS BIGINT) AS pct,
                MIN(gap_seconds) AS gap_seconds
              FROM hits GROUP BY 1, 2 ORDER BY event_type, pct""")),

    // ── weekly event-mix drift (largest WoW share swing per type) ───────
    // The mix-shift monitor: weekly type shares from ONE persisted
    // (week, type) census; the week-over-week delta and its argmax live
    // entirely on the calendar-bounded share frame (windows over weeks ×
    // types, never over events). Shares are IEEE divisions of exact
    // counts, so the deltas — and the tie-broken argmax pick — are
    // bit-identical between engines.
    Q("q_type_share_drift",
      (s, dir) => typeShareFinish(typeShareCounts(t(s, dir, "events"))),
      Some("""WITH cells AS (
                SELECT CAST(date_trunc('week', ts) AS DATE) AS week,
                  event_type, CAST(count(*) AS BIGINT) AS n
                FROM events GROUP BY 1, 2),
              tot AS (SELECT week, CAST(SUM(n) AS BIGINT) AS n_week
                      FROM cells GROUP BY 1),
              sh AS (
                SELECT event_type, cells.week,
                  CAST(n AS DOUBLE) / CAST(n_week AS DOUBLE) AS share
                FROM cells JOIN tot ON cells.week = tot.week),
              d AS (
                SELECT event_type, week, share,
                  share - lag(share) OVER (PARTITION BY event_type
                    ORDER BY week) AS drift
                FROM sh),
              r AS (
                SELECT event_type, week, share, drift,
                  row_number() OVER (PARTITION BY event_type
                    ORDER BY abs(drift) DESC, week) AS rn
                FROM d WHERE drift IS NOT NULL)
              SELECT event_type, strftime(week, '%Y-%m-%d') AS peak_week,
                share, drift
              FROM r WHERE rn = 1 ORDER BY event_type""")),

    // ── Wald–Wolfowitz runs test on daily revenue ────────────────────────
    // Is the day-over-day revenue direction random, or does it trend/
    // mean-revert? Corpus-sized work is ONE (day, cents) census; the
    // sign sequence, run boundaries and the z statistic live on the
    // calendar-bounded frame (windows over ≤ days rows — the
    // q_rolling_median envelope). Signs come from exact-cents diffs
    // (zero diffs dropped identically in both engines); μ and σ are
    // IEEE expressions of the exact (n⁺, n⁻, runs) integers.
    Q("q_runs_test",
      (s, dir) => {
        val wDay = Window.orderBy("day")
        val signs = t(s, dir, "orders")
          .groupBy(datediff(col("o_orderdate").cast("date"),
            lit("1970-01-01").cast("date")).cast("long").as("day"))
          .agg((sum(dec2(col("o_totalprice"))) * 100).cast("long")
            .as("cents"))
          .withColumn("diff", col("cents") - lag(col("cents"), 1).over(wDay))
          .filter(col("diff").isNotNull && col("diff") =!= 0)
          .select(col("day"),
            when(col("diff") > 0, 1L).otherwise(-1L).as("sgn"))
        val runs = signs
          .withColumn("brk",
            when(lag(col("sgn"), 1).over(wDay).isNull
              || lag(col("sgn"), 1).over(wDay) =!= col("sgn"), 1L)
              .otherwise(0L))
          .agg(sum(when(col("sgn") === 1, 1L).otherwise(0L)).as("n_plus"),
            sum(when(col("sgn") === -1, 1L).otherwise(0L)).as("n_minus"),
            sum(col("brk")).cast("long").as("n_runs"))
        runs.select(col("n_plus"), col("n_minus"), col("n_runs"),
            (lit(2.0) * col("n_plus").cast("double")
              * col("n_minus").cast("double")
              / (col("n_plus") + col("n_minus")).cast("double") + 1.0)
              .as("mu"))
          .select(col("n_plus"), col("n_minus"), col("n_runs"), col("mu"),
            when(col("n_plus") === 0 || col("n_minus") === 0
              || (col("n_plus") + col("n_minus")) <= 1,
              lit(null).cast("double"))
              .otherwise((col("n_runs").cast("double") - col("mu"))
                / sqrt((col("mu") - 1.0) * (col("mu") - 2.0)
                  / (col("n_plus") + col("n_minus") - 1).cast("double")))
              .as("z"))
      },
      Some("""WITH daily AS (
                SELECT CAST(date_diff('day', DATE '1970-01-01',
                    CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                    AS BIGINT) AS cents
                FROM orders GROUP BY 1),
              d AS (
                SELECT day,
                  cents - lag(cents) OVER (ORDER BY day) AS diff
                FROM daily),
              s AS (
                SELECT day, CASE WHEN diff > 0 THEN 1 ELSE -1 END AS sgn
                FROM d WHERE diff IS NOT NULL AND diff <> 0),
              b AS (
                SELECT sgn,
                  CASE WHEN lag(sgn) OVER (ORDER BY day) IS NULL
                    OR lag(sgn) OVER (ORDER BY day) <> sgn
                    THEN 1 ELSE 0 END AS brk
                FROM s),
              agg AS (
                SELECT
                  CAST(SUM(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_plus,
                  CAST(SUM(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_minus,
                  CAST(SUM(brk) AS BIGINT) AS n_runs
                FROM b),
              m AS (
                SELECT n_plus, n_minus, n_runs,
                  2.0 * CAST(n_plus AS DOUBLE) * CAST(n_minus AS DOUBLE)
                    / CAST(n_plus + n_minus AS DOUBLE) + 1.0 AS mu
                FROM agg)
              SELECT n_plus, n_minus, n_runs, mu,
                CASE WHEN n_plus = 0 OR n_minus = 0 OR n_plus + n_minus <= 1
                  THEN NULL
                  ELSE (CAST(n_runs AS DOUBLE) - mu)
                    / sqrt((mu - 1.0) * (mu - 2.0)
                      / CAST(n_plus + n_minus - 1 AS DOUBLE)) END AS z
              FROM m""")),

    // ── Bartels rank test: von Neumann ratio of daily-revenue ranks ─────
    // The rank twin of q_runs_test: where runs only sees the SIGN of
    // each day-over-day move, Bartels' RVN = Σ(R_i−R_{i+1})²/Σ(R_i−R̄)²
    // measures how far successive daily-revenue RANKS jump — low ⇒
    // trending/sticky, high ⇒ mean-reverting — so a slow drift the runs
    // test reads as random still scores. Exact-integer end to end:
    // midranks ride the ×2 domain (value census → cum-before, the
    // q_kruskal_wallis idiom), numerator and denominator are dec38 sums
    // of integer squares (Σ(R−R̄)² ×4 collapses to Σm² − n(n+1)² since
    // Σm = n(n+1)), and the asymptotic z uses the exact rational
    // 4(n−2)(5n²−2n−9)/(5n(n+1)(n−1)²) — two casts, one division, one
    // sqrt of identical doubles. Corpus-sized work is ONE (day, cents)
    // census; ranks, diffs and folds live on the calendar-bounded frame
    // (~2.4k days at ANY scale factor, the q_runs_test envelope).
    Q("q_bartels_rank",
      (s, dir) => bartelsFinish(medianDaily(t(s, dir, "orders"))),
      Some("""WITH daily AS (
                SELECT CAST(date_diff('day', DATE '1970-01-01',
                    CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                    AS BIGINT) AS cents
                FROM orders GROUP BY 1),
              vc AS (
                SELECT cents, CAST(COUNT(*) AS BIGINT) AS n_c
                FROM daily GROUP BY 1),
              vm AS (
                SELECT cents,
                  2 * COALESCE(SUM(n_c) OVER (ORDER BY cents
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    + n_c + 1 AS midrank_x2
                FROM vc),
              r AS (
                SELECT d.day, vm.midrank_x2,
                  vm.midrank_x2 - lead(vm.midrank_x2)
                    OVER (ORDER BY d.day) AS dd
                FROM daily d JOIN vm USING (cents)),
              a AS (
                SELECT CAST(COUNT(*) AS BIGINT) AS n,
                  SUM(CAST(midrank_x2 AS HUGEINT) * midrank_x2) AS s2,
                  SUM(CASE WHEN dd IS NULL THEN CAST(0 AS HUGEINT)
                    ELSE CAST(dd AS HUGEINT) * dd END) AS num4
                FROM r),
              b AS (
                SELECT n, CAST(num4 AS BIGINT) AS num4,
                  CAST(s2 - CAST(n AS HUGEINT) * (n + 1) * (n + 1)
                    AS BIGINT) AS den4
                FROM a),
              c AS (
                SELECT n, num4, den4,
                  CASE WHEN den4 <= 0 THEN NULL
                    ELSE CAST(num4 AS DOUBLE) / CAST(den4 AS DOUBLE)
                    END AS rvn
                FROM b)
              SELECT n, num4, den4, rvn,
                CASE WHEN rvn IS NULL OR n < 4 THEN NULL
                  ELSE (rvn - 2.0) / sqrt(
                    CAST(CAST(4 AS HUGEINT) * (n - 2)
                      * (CAST(5 AS HUGEINT) * n * n - 2 * n - 9)
                      AS DOUBLE)
                    / CAST(CAST(5 AS HUGEINT) * n * (n + 1)
                      * (n - 1) * (n - 1) AS DOUBLE)) END AS z
              FROM c""")),

    // ── Pettitt change-point test on daily revenue ──────────────────────
    // WHERE does the revenue regime shift, distribution-free? The rank
    // sibling of q_changepoint: U_t = Σ_{i≤t}Σ_{j>t} sgn(x_i−x_j)
    // collapses to the exact-integer prefix identity
    // U_t = Σ_{i≤t} midrank_x2_i − t(n+1) (midranks carried ×2, so ties
    // stay integral), K = max|U_t| with the FIRST argmax day as the
    // change point (abs-desc, day-asc pick — deterministic in both
    // engines). The only FP is the readout λ = 6K²/(n³+n²) (the
    // p ≈ 2e^{−λ} exponent — exp itself is libm, so the exponent IS the
    // emitted statistic): K squared AFTER the double cast on both sides
    // (the q_gehan_wilcoxon overflow lesson), n³+n² exact in dec38.
    // One (day, cents) census scan; everything else calendar-bounded.
    Q("q_pettitt",
      (s, dir) => pettittFinish(medianDaily(t(s, dir, "orders"))),
      Some("""WITH daily AS (
                SELECT CAST(date_diff('day', DATE '1970-01-01',
                    CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                    AS BIGINT) AS cents
                FROM orders GROUP BY 1),
              vc AS (
                SELECT cents, CAST(COUNT(*) AS BIGINT) AS n_c
                FROM daily GROUP BY 1),
              vm AS (
                SELECT cents,
                  2 * COALESCE(SUM(n_c) OVER (ORDER BY cents
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    + n_c + 1 AS midrank_x2
                FROM vc),
              r AS (
                SELECT d.day,
                  CAST(row_number() OVER (ORDER BY d.day) AS BIGINT)
                    AS t_idx,
                  CAST(SUM(vm.midrank_x2) OVER (ORDER BY d.day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum_x2
                FROM daily d JOIN vm USING (cents)),
              nf AS (SELECT CAST(MAX(t_idx) AS BIGINT) AS n FROM r),
              us AS (
                SELECT r.day, nf.n,
                  r.cum_x2 - r.t_idx * (nf.n + 1) AS u
                FROM r, nf WHERE r.t_idx < nf.n),
              p AS (
                SELECT day, n, u,
                  row_number() OVER (ORDER BY abs(u) DESC, day) AS rn
                FROM us)
              SELECT n, day AS change_day, CAST(u AS BIGINT) AS u_change,
                CAST(abs(u) AS BIGINT) AS k_stat,
                6.0 * CAST(abs(u) AS DOUBLE) * CAST(abs(u) AS DOUBLE)
                  / CAST(CAST(n AS HUGEINT) * n * n
                    + CAST(n AS HUGEINT) * n AS DOUBLE) AS lambda
              FROM p WHERE rn = 1""")),

    // ── Dickey–Fuller unit-root t on daily revenue ──────────────────────
    // Is daily revenue a random walk (unit root) or mean-reverting?
    // The OLS Δy_t = α + ρ·y_{t−1} + ε readout, with the DF t = ρ̂/SE(ρ̂)
    // the emitted statistic (critical values are table lookups, not
    // arithmetic). Exact-moment discipline: all five sums (Σx, Σd, Σx²,
    // Σxd, Σd²) are dec38 integers off ONE day census, the centered
    // moments stay in the integer domain as n·Σx²−(Σx)² (never the
    // catastrophic 1e30−1e30 double subtraction — 100-TB cents make
    // Σx² ~ 4·10³⁰, far past int64 but comfortably inside dec38), and
    // ρ̂, s², SE, t are ONE pinned double sequence from the exact casts.
    // Calendar-bounded after the census; guards: n > 2, Sxx > 0, s² > 0.
    Q("q_adf_test",
      (s, dir) => {
        val dec38 = DecimalType(38, 0)
        val wDay = Window.orderBy("day")
        val pairs = t(s, dir, "orders")
          .groupBy(datediff(col("o_orderdate").cast("date"),
            lit("1970-01-01").cast("date")).cast("long").as("day"))
          .agg((sum(dec2(col("o_totalprice"))) * 100).cast("long")
            .as("cents"))
          .withColumn("x", lag(col("cents"), 1).over(wDay))
          .filter(col("x").isNotNull)
          .select(col("x"), (col("cents") - col("x")).as("d"))
        // cast INSIDE the sum (ADVICE r10): Σx is total revenue cents —
        // LongType accumulation has only ~3-4× headroom at the 100-TB
        // envelope and non-ANSI Spark wraps silently; DuckDB's SUM
        // already widens to HUGEINT
        val sums = pairs.agg(count(lit(1)).cast("long").as("n"),
          sum(col("x").cast(dec38)).as("sx"),
          sum(col("d").cast(dec38)).as("sd"),
          sum(col("x").cast(dec38) * col("x")).as("sx2"),
          sum(col("x").cast(dec38) * col("d")).as("sxd"),
          sum(col("d").cast(dec38) * col("d")).as("sd2"))
        sums.select(col("n"),
            (col("n") * col("sx2") - col("sx") * col("sx"))
              .cast("double").as("sxxn"),
            (col("n") * col("sxd") - col("sx") * col("sd"))
              .cast("double").as("sxyn"),
            (col("n") * col("sd2") - col("sd") * col("sd"))
              .cast("double").as("sddn"))
          .select(col("n"), col("sxxn"), col("sxyn"), col("sddn"),
            when(col("sxxn") <= 0, lit(null).cast("double"))
              .otherwise(col("sxyn") / col("sxxn")).as("rho"))
          .select(col("n"), col("rho"),
            when(col("rho").isNull || col("n") <= 2,
              lit(null).cast("double"))
              .otherwise(((col("sddn") - col("rho") * col("sxyn"))
                / col("n").cast("double"))
                / (col("n").cast("double") - 2.0)).as("s2"),
            col("sxxn"))
          .select(col("n"), col("rho"),
            when(col("s2").isNull || col("s2") <= 0,
              lit(null).cast("double"))
              .otherwise(col("rho")
                / sqrt(col("s2") * col("n").cast("double")
                  / col("sxxn"))).as("t_stat"))
      },
      Some("""WITH daily AS (
                SELECT CAST(date_diff('day', DATE '1970-01-01',
                    CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                    AS BIGINT) AS cents
                FROM orders GROUP BY 1),
              pairs AS (
                SELECT lag(cents) OVER (ORDER BY day) AS x,
                  cents - lag(cents) OVER (ORDER BY day) AS d
                FROM daily QUALIFY x IS NOT NULL),
              sums AS (
                SELECT CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(SUM(x) AS HUGEINT) AS sx,
                  CAST(SUM(d) AS HUGEINT) AS sd,
                  SUM(CAST(x AS HUGEINT) * x) AS sx2,
                  SUM(CAST(x AS HUGEINT) * d) AS sxd,
                  SUM(CAST(d AS HUGEINT) * d) AS sd2
                FROM pairs),
              mom AS (
                SELECT n,
                  CAST(n * sx2 - sx * sx AS DOUBLE) AS sxxn,
                  CAST(n * sxd - sx * sd AS DOUBLE) AS sxyn,
                  CAST(n * sd2 - sd * sd AS DOUBLE) AS sddn
                FROM sums),
              r AS (
                SELECT n, sxxn, sxyn, sddn,
                  CASE WHEN sxxn <= 0 THEN NULL
                    ELSE sxyn / sxxn END AS rho
                FROM mom),
              v AS (
                SELECT n, rho, sxxn,
                  CASE WHEN rho IS NULL OR n <= 2 THEN NULL
                    ELSE ((sddn - rho * sxyn) / CAST(n AS DOUBLE))
                      / (CAST(n AS DOUBLE) - 2.0) END AS s2
                FROM r)
              SELECT n, rho,
                CASE WHEN s2 IS NULL OR s2 <= 0 THEN NULL
                  ELSE rho / sqrt(s2 * CAST(n AS DOUBLE) / sxxn)
                  END AS t_stat
              FROM v""")),

    // ── Theil U₂: does weekly seasonality beat the naive forecast? ──────
    // The forecast-value readout on the raw day census: U =
    // √(Σ(y_t−y_{t−7})² / Σ(y_t−y_{t−1})²) compares the seasonal-naive
    // lag-7 forecast against the naive lag-1 — U < 1 means the weekly
    // cycle carries real signal, U ≥ 1 means yesterday is the better
    // predictor. Squared cent diffs are exact dec38 integers (diffs
    // squared IN the decimal domain — int64 overflows past ~3e9-cent
    // daily swings), restricted to days where BOTH lags exist so the
    // two sums cover the identical day set; one division + sqrt.
    // Dense-calendar assumption (ADVICE r10, the q_runs_test pattern):
    // lag(cents, 7) is over census ROWS, which equals "one week ago"
    // only when every day has ≥1 order — true of this orders table
    // (and of any dense daily rollup); on a gapped calendar the
    // comparison silently becomes lag-7-rows. Cross-engine parity is
    // unaffected (both engines share the spelling).
    Q("q_theil_u2",
      (s, dir) => {
        val dec38 = DecimalType(38, 0)
        val wDay = Window.orderBy("day")
        val diffs = t(s, dir, "orders")
          .groupBy(datediff(col("o_orderdate").cast("date"),
            lit("1970-01-01").cast("date")).cast("long").as("day"))
          .agg((sum(dec2(col("o_totalprice"))) * 100).cast("long")
            .as("cents"))
          .withColumn("l1", lag(col("cents"), 1).over(wDay))
          .withColumn("l7", lag(col("cents"), 7).over(wDay))
          .filter(col("l1").isNotNull && col("l7").isNotNull)
          .select((col("cents") - col("l7")).as("d7"),
            (col("cents") - col("l1")).as("d1"))
        diffs.agg(count(lit(1)).cast("long").as("n_days"),
            sum(col("d7").cast(dec38) * col("d7")).as("num"),
            sum(col("d1").cast(dec38) * col("d1")).as("den"))
          .select(col("n_days"),
            col("num").cast("double").as("sse_seasonal"),
            col("den").cast("double").as("sse_naive"))
          .select(col("n_days"), col("sse_seasonal"), col("sse_naive"),
            when(col("sse_naive") <= 0, lit(null).cast("double"))
              .otherwise(sqrt(col("sse_seasonal") / col("sse_naive")))
              .as("theil_u2"))
      },
      Some("""WITH daily AS (
                SELECT CAST(date_diff('day', DATE '1970-01-01',
                    CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                    AS BIGINT) AS cents
                FROM orders GROUP BY 1),
              diffs AS (
                SELECT cents - lag(cents, 7) OVER (ORDER BY day) AS d7,
                  cents - lag(cents, 1) OVER (ORDER BY day) AS d1
                FROM daily
                QUALIFY d7 IS NOT NULL AND d1 IS NOT NULL),
              sums AS (
                SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
                  SUM(CAST(d7 AS HUGEINT) * d7) AS num,
                  SUM(CAST(d1 AS HUGEINT) * d1) AS den
                FROM diffs)
              SELECT n_days,
                CAST(num AS DOUBLE) AS sse_seasonal,
                CAST(den AS DOUBLE) AS sse_naive,
                CASE WHEN CAST(den AS DOUBLE) <= 0 THEN NULL
                  ELSE sqrt(CAST(num AS DOUBLE) / CAST(den AS DOUBLE))
                  END AS theil_u2
              FROM sums""")),

    // ── KPSS level-stationarity η on daily revenue ──────────────────────
    // The complementary null to q_adf_test (ADF: H₀ = unit root; KPSS:
    // H₀ = stationary) — running both is the standard protocol, since
    // "fails to reject" alone is uninformative. η = n⁻²ΣS_t²/s̄²(l)
    // over mean residuals, Bartlett-kernel long-run variance at FIXED
    // lag l = 7 (the weekly cycle; the n^0.25 rule needs libm pow —
    // a pinned constant is both deterministic and the honest choice on
    // a daily series). Exactness: residuals ride the ×n integer domain
    // (e'_t = n·y_t − Σy, dec38), the cumsum S' stays exact dec38, and
    // every fold term (S'², e'·e'₊ⱼ) is a product of identical casts —
    // day-pinned folds, Bartlett weights 1−j/8 are exact binary
    // fractions, one final division. The ×n/×n² scalings cancel to
    // η = ΣS'² / (n·(g₀+2Σwⱼgⱼ)) — algebra in the scaladoc trail.
    // One day census; everything after is calendar-bounded.
    Q("q_kpss_test",
      (s, dir) => {
        val dec38 = DecimalType(38, 0)
        val wDay = Window.orderBy("day")
        val wCum = Window.orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val daily = t(s, dir, "orders")
          .groupBy(datediff(col("o_orderdate").cast("date"),
            lit("1970-01-01").cast("date")).cast("long").as("day"))
          .agg((sum(dec2(col("o_totalprice"))) * 100).cast("long")
            .as("cents"))
        // cast INSIDE the sum (ADVICE r10): sy is total revenue cents
        val nf = daily.agg(count(lit(1)).cast("long").as("n"),
          sum(col("cents").cast(dec38)).as("sy"))
        var e = daily.crossJoin(broadcast(nf))
          .withColumn("e",
            col("n").cast(dec38) * col("cents") - col("sy"))
          .withColumn("ed", col("e").cast("double"))
          .withColumn("sd", sum(col("e")).over(wCum).cast("double"))
        for (j <- 1 to 7)
          e = e.withColumn(s"p$j",
            coalesce(col("ed") * lead(col("ed"), j).over(wDay), lit(0.0)))
        def fold(c: String) =
          expr(s"""aggregate(array_sort(collect_list(struct(day, $c))),
                   CAST(0 AS DOUBLE), (a, x) -> a + x.$c)""")
        val aggCols =
          expr("""aggregate(array_sort(collect_list(struct(day, sd))),
                  CAST(0 AS DOUBLE), (a, x) -> a + x.sd * x.sd)""")
            .as("num") +:
          expr("""aggregate(array_sort(collect_list(struct(day, ed))),
                  CAST(0 AS DOUBLE), (a, x) -> a + x.ed * x.ed)""")
            .as("g0") +:
          (1 to 7).map(j => fold(s"p$j").as(s"g$j"))
        val agg = e.groupBy("n").agg(aggCols.head, aggCols.tail: _*)
        agg.select(col("n"),
            (col("g0") + (col("g1") * 0.875 + col("g2") * 0.75
              + col("g3") * 0.625 + col("g4") * 0.5 + col("g5") * 0.375
              + col("g6") * 0.25 + col("g7") * 0.125) * 2.0).as("s2term"),
            col("num"))
          .select(col("n"), lit(7L).as("lag_l"),
            when(col("s2term") <= 0, lit(null).cast("double"))
              .otherwise(col("num")
                / (col("n").cast("double") * col("s2term"))).as("eta"))
      },
      Some("""WITH daily AS (
                SELECT CAST(date_diff('day', DATE '1970-01-01',
                    CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                    AS BIGINT) AS cents
                FROM orders GROUP BY 1),
              nf AS (
                SELECT CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(SUM(cents) AS HUGEINT) AS sy
                FROM daily),
              e AS (
                SELECT day, n,
                  CAST(CAST(n AS HUGEINT) * cents - sy AS DOUBLE) AS ed,
                  CAST(SUM(CAST(n AS HUGEINT) * cents - sy)
                    OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS DOUBLE) AS sd
                FROM daily, nf),
              p AS (
                SELECT day, n, ed, sd,
                  COALESCE(ed * lead(ed, 1) OVER (ORDER BY day), 0) AS p1,
                  COALESCE(ed * lead(ed, 2) OVER (ORDER BY day), 0) AS p2,
                  COALESCE(ed * lead(ed, 3) OVER (ORDER BY day), 0) AS p3,
                  COALESCE(ed * lead(ed, 4) OVER (ORDER BY day), 0) AS p4,
                  COALESCE(ed * lead(ed, 5) OVER (ORDER BY day), 0) AS p5,
                  COALESCE(ed * lead(ed, 6) OVER (ORDER BY day), 0) AS p6,
                  COALESCE(ed * lead(ed, 7) OVER (ORDER BY day), 0) AS p7
                FROM e),
              agg AS (
                SELECT n,
                  list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(sd * sd ORDER BY day)), (a, x) -> a + x) AS num,
                  list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(ed * ed ORDER BY day)), (a, x) -> a + x) AS g0,
                  list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(p1 ORDER BY day)), (a, x) -> a + x) AS g1,
                  list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(p2 ORDER BY day)), (a, x) -> a + x) AS g2,
                  list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(p3 ORDER BY day)), (a, x) -> a + x) AS g3,
                  list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(p4 ORDER BY day)), (a, x) -> a + x) AS g4,
                  list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(p5 ORDER BY day)), (a, x) -> a + x) AS g5,
                  list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(p6 ORDER BY day)), (a, x) -> a + x) AS g6,
                  list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(p7 ORDER BY day)), (a, x) -> a + x) AS g7
                FROM p GROUP BY n),
              m AS (
                SELECT n,
                  g0 + (g1 * 0.875 + g2 * 0.75 + g3 * 0.625 + g4 * 0.5
                    + g5 * 0.375 + g6 * 0.25 + g7 * 0.125) * 2.0
                    AS s2term,
                  num
                FROM agg)
              SELECT n, CAST(7 AS BIGINT) AS lag_l,
                CASE WHEN s2term <= 0 THEN NULL
                  ELSE num / (CAST(n AS DOUBLE) * s2term) END AS eta
              FROM m""")),

    // ── two-group Poisson rate test: weekend vs weekday event rate ──────
    // Is the PER-DAY event rate different on weekends, exposure-
    // adjusted? The conditional-binomial spelling avoids every libm
    // trap: under H₀ equal rates, a | a+b ~ Bin(n, p₀ = E_a/(E_a+E_b))
    // with E the OBSERVED distinct active days per stratum (true
    // exposure, not 2/7 — dark days drop out of both sides), so
    // z = (a − n·p₀)/√(n·p₀(1−p₀)) is a pinned double sequence over
    // four exact census integers, and the rate ratio is two pinned
    // divisions. Engine-neutral (epoch+4)%7 dow (the q_weekend_effect
    // idiom). Corpus-sized work = ONE (day) census; 1-row finish.
    Q("q_poisson_rate_test",
      (s, dir) => {
        val days = t(s, dir, "events")
          .groupBy(datediff(col("ts").cast("date"),
            lit("1970-01-01").cast("date")).cast("long").as("day"))
          .agg(count(lit(1)).cast("long").as("n"))
          .select(col("n"),
            (((col("day") + 4) % 7) === 0 || ((col("day") + 4) % 7) === 6)
              .as("is_we"))
        days.agg(
            sum(when(col("is_we"), col("n")).otherwise(0L)).cast("long")
              .as("a"),
            sum(when(!col("is_we"), col("n")).otherwise(0L)).cast("long")
              .as("b"),
            sum(when(col("is_we"), 1L).otherwise(0L)).cast("long")
              .as("e_a"),
            sum(when(!col("is_we"), 1L).otherwise(0L)).cast("long")
              .as("e_b"))
          .select(col("a"), col("b"), col("e_a"), col("e_b"),
            when(col("e_a") === 0 || col("e_b") === 0 || col("b") === 0,
              lit(null).cast("double"))
              .otherwise((col("a").cast("double") / col("e_a").cast("double"))
                / (col("b").cast("double") / col("e_b").cast("double")))
              .as("rate_ratio"),
            when(col("e_a") === 0 || col("e_b") === 0
              || col("a") + col("b") === 0, lit(null).cast("double"))
              .otherwise(col("e_a").cast("double")
                / (col("e_a") + col("e_b")).cast("double")).as("p0"),
            ((col("a") + col("b")).cast("double")).as("nn"))
          .select(col("a"), col("b"), col("e_a"), col("e_b"),
            col("rate_ratio"),
            when(col("p0").isNull || col("p0") <= 0 || col("p0") >= 1,
              lit(null).cast("double"))
              .otherwise((col("a").cast("double") - col("nn") * col("p0"))
                / sqrt(col("nn") * col("p0") * (lit(1.0) - col("p0"))))
              .as("z"))
      },
      Some("""WITH days AS (
                SELECT CAST(date_diff('day', DATE '1970-01-01',
                    CAST(ts AS DATE)) AS BIGINT) AS day,
                  CAST(count(*) AS BIGINT) AS n
                FROM events GROUP BY 1),
              f AS (
                SELECT n,
                  ((day + 4) % 7 = 0 OR (day + 4) % 7 = 6) AS is_we
                FROM days),
              agg AS (
                SELECT
                  CAST(SUM(CASE WHEN is_we THEN n ELSE 0 END) AS BIGINT)
                    AS a,
                  CAST(SUM(CASE WHEN is_we THEN 0 ELSE n END) AS BIGINT)
                    AS b,
                  CAST(SUM(CASE WHEN is_we THEN 1 ELSE 0 END) AS BIGINT)
                    AS e_a,
                  CAST(SUM(CASE WHEN is_we THEN 0 ELSE 1 END) AS BIGINT)
                    AS e_b
                FROM f),
              m AS (
                SELECT a, b, e_a, e_b,
                  CASE WHEN e_a = 0 OR e_b = 0 OR b = 0 THEN NULL
                    ELSE (CAST(a AS DOUBLE) / CAST(e_a AS DOUBLE))
                      / (CAST(b AS DOUBLE) / CAST(e_b AS DOUBLE)) END
                    AS rate_ratio,
                  CASE WHEN e_a = 0 OR e_b = 0 OR a + b = 0 THEN NULL
                    ELSE CAST(e_a AS DOUBLE) / CAST(e_a + e_b AS DOUBLE)
                    END AS p0,
                  CAST(a + b AS DOUBLE) AS nn
                FROM agg)
              SELECT a, b, e_a, e_b, rate_ratio,
                CASE WHEN p0 IS NULL OR p0 <= 0 OR p0 >= 1 THEN NULL
                  ELSE (CAST(a AS DOUBLE) - nn * p0)
                    / sqrt(nn * p0 * (1.0 - p0)) END AS z
              FROM m""")),

    // ── payload-key fill-rate drift (schema drift monitor) ──────────────
    // Which JSON payload keys are appearing/disappearing week over
    // week? The projected (week, keys) frame is persisted — the weekly
    // event totals AND the key explode both read it (one events scan);
    // fill rates, WoW deltas and the per-key argmax live on the
    // calendar × key-vocabulary frame.
    Q("q_payload_key_drift",
      (s, dir) => {
        val base = Artifacts.persist(t(s, dir, "events")
          .select(date_trunc("week", col("ts")).cast("date").as("week"),
            expr("json_object_keys(props)").as("ks")))
        val wk = base.groupBy("week").agg(count(lit(1)).as("n_week"))
        val cells = base
          .select(col("week"), explode(col("ks")).as("key"))
          .groupBy("week", "key").agg(count(lit(1)).as("n"))
        val wLag = Window.partitionBy("key").orderBy("week")
        val pick = Window.partitionBy("key")
          .orderBy(col("abs_drift").desc, col("week"))
        cells.join(wk, "week")
          .select(col("key"), col("week"),
            (col("n").cast("double") / col("n_week").cast("double"))
              .as("fill"))
          .withColumn("drift", col("fill") - lag(col("fill"), 1).over(wLag))
          .filter(col("drift").isNotNull)
          .withColumn("abs_drift", abs(col("drift")))
          .withColumn("rn", row_number().over(pick))
          .filter(col("rn") === 1)
          .select(col("key"),
            date_format(col("week"), "yyyy-MM-dd").as("peak_week"),
            col("fill"), col("drift"))
          .orderBy("key")
      },
      Some("""WITH base AS (
                SELECT CAST(date_trunc('week', ts) AS DATE) AS week,
                  json_keys(props) AS ks
                FROM events),
              wk AS (SELECT week, CAST(count(*) AS BIGINT) AS n_week
                     FROM base GROUP BY 1),
              cells AS (
                SELECT week, key, CAST(count(*) AS BIGINT) AS n
                FROM (SELECT week, unnest(ks) AS key FROM base)
                GROUP BY 1, 2),
              f AS (
                SELECT key, cells.week,
                  CAST(n AS DOUBLE) / CAST(n_week AS DOUBLE) AS fill
                FROM cells JOIN wk ON cells.week = wk.week),
              d AS (
                SELECT key, week, fill,
                  fill - lag(fill) OVER (PARTITION BY key ORDER BY week)
                    AS drift
                FROM f),
              r AS (
                SELECT key, week, fill, drift,
                  row_number() OVER (PARTITION BY key
                    ORDER BY abs(drift) DESC, week) AS rn
                FROM d WHERE drift IS NOT NULL)
              SELECT key, strftime(week, '%Y-%m-%d') AS peak_week,
                fill, drift
              FROM r WHERE rn = 1 ORDER BY key""")),

    // ── power-user concentration ─────────────────────────────────────────
    // What share of all events comes from the top-1% / top-10% of
    // users? The per-user census's total order rides RangeRank (user
    // count grows with the population — the q_ltv_deciles shape on the
    // event stream); coverage at each cut is the exact-integer
    // inclusive prefix over the descending order.
    Q("q_power_user_share",
      (s, dir) => {
        val per = t(s, dir, "events")
          .groupBy("user_id").agg(count(lit(1)).as("cnt"))
        RangeRank.ranked(per, Seq.empty,
            Seq(col("cnt").desc, col("user_id")),
            prefixSums = Seq(RangeRank.PrefixSum(col("cnt"), "pre")))
          .select(col("rn"), col("n"), col("cnt"), col("pre"))
          .filter(col("rn") === expr("(n * 1 + 99) div 100")
            || col("rn") === expr("(n * 10 + 99) div 100"))
          .select(
            when(col("rn") === expr("(n * 1 + 99) div 100"), 1L)
              .otherwise(10L).as("top_pct"),
            col("rn").as("n_top_users"), col("n").as("n_users"),
            (col("pre") + col("cnt")).cast("long").as("covered_events"))
          .groupBy("top_pct")
          .agg(min(col("n_top_users")).as("n_top_users"),
            min(col("n_users")).as("n_users"),
            min(col("covered_events")).as("covered_events"))
          .orderBy("top_pct")
      },
      Some("""WITH per AS (
                SELECT user_id, CAST(count(*) AS BIGINT) AS cnt
                FROM events GROUP BY 1),
              r AS (
                SELECT cnt,
                  CAST(row_number() OVER (ORDER BY cnt DESC, user_id)
                    AS BIGINT) AS rn,
                  COUNT(*) OVER () AS n,
                  CAST(SUM(cnt) OVER (ORDER BY cnt DESC, user_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum
                FROM per),
              hits AS (
                SELECT CASE WHEN rn = (n * 1 + 99) // 100 THEN 1
                       ELSE 10 END AS top_pct,
                  rn AS n_top_users, n AS n_users, cum AS covered_events
                FROM r
                WHERE rn = (n * 1 + 99) // 100
                   OR rn = (n * 10 + 99) // 100)
              SELECT CAST(top_pct AS BIGINT) AS top_pct,
                CAST(MIN(n_top_users) AS BIGINT) AS n_top_users,
                CAST(MIN(n_users) AS BIGINT) AS n_users,
                CAST(MIN(covered_events) AS BIGINT) AS covered_events
              FROM hits GROUP BY 1 ORDER BY top_pct""")),

    // ── behavioral sequence motifs (MATCH_RECOGNIZE-style) ──────────────
    // Spark has no MATCH_RECOGNIZE; the composition answer: fold each
    // user's ordered type-initial string ROW-LOCALLY (one user-keyed
    // agg — bounded by the user's own activity, the collect-basket
    // class), then count literal motifs with non-overlapping regex
    // matching (both engines scan leftmost non-overlapping, so counts
    // agree by construction). Census output: per motif, carrier users
    // and total occurrences.
    Q("q_sequence_motifs",
      (s, dir) => {
        val seqs = Artifacts.persist(t(s, dir, "events")
          .select(col("user_id"),
            struct(unix_micros(col("ts")).as("us"),
              col("event_id"), substring(col("event_type"), 1, 1).as("i"))
              .as("e"))
          .groupBy("user_id")
          .agg(array_join(transform(sort_array(collect_list(col("e"))),
            x => x.getField("i")), "").as("seq")))
        seqs
          .select(col("user_id"),
            explode(array(lit("vp"), lit("ee"), lit("vvv"), lit("svp")))
              .as("motif"), col("seq"))
          .select(col("motif"),
            expr("regexp_count(seq, motif)").cast("long").as("n"))
          .groupBy("motif")
          .agg(sum(when(col("n") > 0, 1L).otherwise(0L)).as("n_users"),
            sum(col("n")).cast("long").as("n_occurrences"))
          .orderBy("motif")
      },
      Some("""WITH seqs AS (
                SELECT user_id,
                  string_agg(substring(event_type, 1, 1), ''
                    ORDER BY ts, event_id) AS seq
                FROM events GROUP BY 1),
              m AS (
                SELECT motif,
                  CAST(len(regexp_extract_all(seq, motif)) AS BIGINT) AS n
                FROM seqs, UNNEST(['vp', 'ee', 'vvv', 'svp']) AS t(motif))
              SELECT motif,
                CAST(SUM(CASE WHEN n > 0 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_users,
                CAST(SUM(n) AS BIGINT) AS n_occurrences
              FROM m GROUP BY 1 ORDER BY motif""")),

    // ── session bounce rate by entry type ───────────────────────────────
    // Share of single-event sessions, by the session's entry event type
    // — the landing-quality readout. Sessions from the q_session_stats
    // 30-minute gap rule (user-keyed windows, population parallelism);
    // the entry event is an exact min_by on the (us, event_id) total
    // order; ≤|types| output rows.
    Q("q_bounce_rate",
      (s, dir) => {
        val byUser = Window.partitionBy("user_id").orderBy("us", "event_id")
        val gapUs = col("us") - lag(col("us"), 1).over(byUser)
        t(s, dir, "events")
          .select(col("user_id"), col("event_id"), col("event_type"),
            unix_micros(col("ts")).as("us"))
          .withColumn("new_sess",
            when(gapUs.isNull || gapUs > 1800L * 1000000L, 1L).otherwise(0L))
          .withColumn("sess_id", sum(col("new_sess")).over(
            byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy("user_id", "sess_id")
          .agg(count(lit(1)).as("n_events"),
            min(struct(col("us"), col("event_id"), col("event_type")))
              .getField("event_type").as("entry_type"))
          .groupBy("entry_type")
          .agg(count(lit(1)).as("n_sessions"),
            sum(when(col("n_events") === 1, 1L).otherwise(0L))
              .as("n_bounce"))
          .select(col("entry_type"), col("n_sessions"), col("n_bounce"),
            (col("n_bounce").cast("double") / col("n_sessions").cast("double"))
              .as("bounce_rate"))
          .orderBy("entry_type")
      },
      Some("""WITH x AS (
                SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
                  CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (
                      PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
                    IS NULL
                    OR epoch_us(ts) - lag(epoch_us(ts)) OVER (
                      PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
                    > 1800 * 1000000 THEN 1 ELSE 0 END AS new_sess
                FROM events),
              s AS (
                SELECT user_id, event_id, event_type, us,
                  SUM(new_sess) OVER (PARTITION BY user_id
                    ORDER BY us, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS sess_id
                FROM x),
              e AS (
                SELECT user_id, sess_id, event_type,
                  row_number() OVER (PARTITION BY user_id, sess_id
                    ORDER BY us, event_id) AS rn
                FROM s),
              sess AS (
                SELECT user_id, sess_id, count(*) AS n_events,
                  MIN(CASE WHEN rn = 1 THEN event_type END) AS entry_type
                FROM e GROUP BY 1, 2)
              SELECT entry_type, count(*) AS n_sessions,
                CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_bounce,
                CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*) AS bounce_rate
              FROM sess GROUP BY 1 ORDER BY entry_type""")),

    // ── velocity flags (trailing-hour rate limiter readout) ─────────────
    // Fraud/abuse lens: events whose user fired ≥3 events in the
    // trailing hour. The RANGE window partitions by user_id in the
    // exact microsecond domain (population parallelism, per-user state
    // bounded by the hour); the flag census is ≤|types| rows.
    Q("q_velocity_flags",
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("us")
          .rangeBetween(-3600L * 1000000L, 0)
        t(s, dir, "events")
          .select(col("user_id"), col("event_type"),
            unix_micros(col("ts")).as("us"))
          .withColumn("velocity", count(lit(1)).over(w))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"),
            sum(when(col("velocity") >= 3, 1L).otherwise(0L))
              .as("n_flagged"))
          .select(col("event_type"), col("n_events"), col("n_flagged"),
            (col("n_flagged").cast("double") / col("n_events").cast("double"))
              .as("flag_rate"))
          .orderBy("event_type")
      },
      Some("""WITH v AS (
                SELECT event_type,
                  count(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
                    AS velocity
                FROM events)
              SELECT event_type, count(*) AS n_events,
                CAST(SUM(CASE WHEN velocity >= 3 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_flagged,
                CAST(SUM(CASE WHEN velocity >= 3 THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*) AS flag_rate
              FROM v GROUP BY 1 ORDER BY event_type""")),

    // ── hourly value profile ─────────────────────────────────────────────
    // Event VALUE by hour of day (the heatmap counts volume; this
    // weighs it): ≤24-row census, exact cents via the dec2 discipline,
    // one IEEE division per row.
    Q("q_value_by_hour",
      (s, dir) => t(s, dir, "events")
        .groupBy(hour(col("ts")).cast("long").as("hr"))
        .agg(count(lit(1)).as("n_events"),
          (sum(dec2(col("value"))) * 100).cast("long").as("cents"))
        .select(col("hr"), col("n_events"),
          (col("cents").cast("double") / col("n_events").cast("double")
            / 100.0).as("avg_value"))
        .orderBy("hr"),
      Some("""SELECT CAST(hour(ts) AS BIGINT) AS hr,
                count(*) AS n_events,
                CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT)
                  AS DOUBLE) / count(*) / 100.0 AS avg_value
              FROM events GROUP BY 1 ORDER BY hr""")),

    // ── payload fill rate by event type ─────────────────────────────────
    // Ingest-quality lens: which event types ship an actual JSON
    // payload (non-null, non-empty object)? One CASE-split partial+
    // final agg to the ≤|types| census — the row-level complement of
    // q_json_key_census's key-level view.
    Q("q_props_fill_by_type",
      (s, dir) => t(s, dir, "events")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("props").isNotNull && (col("props") =!= "{}")
            && (col("props") =!= ""), 1L).otherwise(0L)).as("n_filled"))
        .select(col("event_type"), col("n_events"), col("n_filled"),
          (col("n_filled").cast("double") / col("n_events").cast("double"))
            .as("fill_rate"))
        .orderBy("event_type"),
      Some("""SELECT event_type, count(*) AS n_events,
                CAST(SUM(CASE WHEN props IS NOT NULL AND props <> '{}'
                  AND props <> '' THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_filled,
                CAST(SUM(CASE WHEN props IS NOT NULL AND props <> '{}'
                  AND props <> '' THEN 1 ELSE 0 END) AS DOUBLE)
                  / count(*) AS fill_rate
              FROM events GROUP BY 1 ORDER BY event_type""")),

    // ── behavioral breadth histogram ────────────────────────────────────
    // How many distinct event types does each user touch? Distinct
    // (user, type) census → per-user breadth → ≤|types|-row histogram
    // — the engagement-depth readout next to q_user_activity_hist's
    // volume lens.
    Q("q_user_type_diversity",
      (s, dir) => t(s, dir, "events")
        .select(col("user_id"), col("event_type")).distinct()
        .groupBy("user_id").agg(count(lit(1)).as("n_types"))
        .groupBy("n_types")
        .agg(count(lit(1)).as("n_users"))
        .orderBy("n_types"),
      Some("""WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
              d AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_types
                    FROM ut GROUP BY 1)
              SELECT n_types, count(*) AS n_users
              FROM d GROUP BY 1 ORDER BY n_types""")),

    // ── session value bands ──────────────────────────────────────────────
    // Revenue-per-session distribution: the q_bounce_rate 30-minute
    // sessions carrying exact-cents value sums, folded into log₂ bands
    // (zero-value sessions get band 0). User-keyed windows at
    // population parallelism; band census output.
    Q("q_session_value_bands",
      (s, dir) => {
        val byUser = Window.partitionBy("user_id").orderBy("us", "event_id")
        val gapUs = col("us") - lag(col("us"), 1).over(byUser)
        t(s, dir, "events")
          .select(col("user_id"), col("event_id"),
            (dec2(col("value")) * 100).cast("long").as("cents"),
            unix_micros(col("ts")).as("us"))
          .withColumn("new_sess",
            when(gapUs.isNull || gapUs > 1800L * 1000000L, 1L).otherwise(0L))
          .withColumn("sess_id", sum(col("new_sess")).over(
            byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy("user_id", "sess_id")
          .agg(sum(col("cents")).as("cents"))
          .groupBy(when(col("cents") <= 0, 0L)
            .otherwise(length(bin(col("cents"))).cast("long")).as("band"))
          .agg(count(lit(1)).as("n_sessions"),
            (sum(col("cents")).cast("double") / 100.0).as("revenue"))
          .orderBy("band")
      },
      Some("""WITH x AS (
                SELECT user_id, event_id,
                  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                    AS cents,
                  epoch_us(ts) AS us,
                  CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (
                      PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
                    IS NULL
                    OR epoch_us(ts) - lag(epoch_us(ts)) OVER (
                      PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
                    > 1800 * 1000000 THEN 1 ELSE 0 END AS new_sess
                FROM events),
              s AS (
                SELECT user_id, cents,
                  SUM(new_sess) OVER (PARTITION BY user_id
                    ORDER BY us, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS sess_id
                FROM x),
              sess AS (
                SELECT user_id, sess_id, CAST(SUM(cents) AS BIGINT) AS cents
                FROM s GROUP BY 1, 2)
              SELECT CASE WHEN cents <= 0 THEN 0
                       ELSE CAST(length(bin(cents)) AS BIGINT) END AS band,
                count(*) AS n_sessions,
                CAST(SUM(cents) AS DOUBLE) / 100.0 AS revenue
              FROM sess GROUP BY 1 ORDER BY band""")),

    // ── PSI timeline (weekly drift vs the first week) ───────────────────
    // q_psi generalized to a monitor series: every week's value
    // distribution scored against the FIRST week's. ONE (week, bin)
    // census, persisted; the dense weeks × bins grid, Laplace-smoothed
    // proportions, 12-decimal per-bin terms and the per-week pinned
    // fold all live on calendar × bin-bounded frames (the q_js_drift
    // grid discipline).
    Q("q_psi_timeline",
      (s, dir) => psiTimelineFinish(psiTimelineCells(t(s, dir, "events"))),
      Some("""WITH cells AS (
                SELECT strftime(CAST(date_trunc('week', ts) AS DATE),
                    '%Y-%m-%d') AS week,
                  CAST(floor(value / 50) AS BIGINT) AS bin,
                  CAST(count(*) AS BIGINT) AS n
                FROM events GROUP BY 1, 2),
              weeks AS (SELECT DISTINCT week FROM cells),
              bins AS (SELECT DISTINCT bin FROM cells),
              nb AS (SELECT CAST(count(*) AS BIGINT) AS n_bins FROM bins),
              grid AS (
                SELECT weeks.week, bins.bin, coalesce(n, 0) AS n
                FROM weeks CROSS JOIN bins
                  LEFT JOIN cells ON cells.week = weeks.week
                    AND cells.bin = bins.bin),
              wt AS (
                SELECT week, bin, n,
                  CAST(SUM(n) OVER (PARTITION BY week) AS BIGINT) AS n_week
                FROM grid),
              base AS (
                SELECT bin, n AS b_n, n_week AS n_base FROM wt
                WHERE week = (SELECT MIN(week) FROM weeks)),
              terms AS (
                SELECT week, wt.bin,
                  round(((CAST(wt.n AS DOUBLE) + 1.0)
                      / (CAST(n_week AS DOUBLE) + CAST(n_bins AS DOUBLE))
                    - (CAST(b_n AS DOUBLE) + 1.0)
                      / (CAST(n_base AS DOUBLE) + CAST(n_bins AS DOUBLE)))
                    * ln(((CAST(wt.n AS DOUBLE) + 1.0)
                        / (CAST(n_week AS DOUBLE) + CAST(n_bins AS DOUBLE)))
                      / ((CAST(b_n AS DOUBLE) + 1.0)
                        / (CAST(n_base AS DOUBLE)
                          + CAST(n_bins AS DOUBLE)))), 12) AS term
                FROM wt JOIN base ON wt.bin = base.bin, nb)
              SELECT week,
                round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                  list(term ORDER BY bin)), (a, x) -> a + x), 12) AS psi
              FROM terms GROUP BY 1 ORDER BY week""")),

    // ── longest consecutive-week activity streaks ────────────────────────
    // Habit strength: the longest run of back-to-back active weeks per
    // user, folded to a streak-length histogram. The corpus collapses
    // to the distinct (user, week-index) census ONCE; the gaps-islands
    // trick (week − row_number is constant within a run) rides
    // user-partitioned windows — a scaling key, constant work per
    // user. Week indexing is Monday-anchored integer division on
    // epoch days, identical in both engines.
    Q("q_user_streaks",
      (s, dir) => {
        val wu = Window.partitionBy("user_id").orderBy("wk")
        t(s, dir, "events")
          .select(col("user_id"),
            expr("datediff(CAST(ts AS DATE), DATE'1970-01-05') div 7")
              .as("wk"))
          .distinct()
          .withColumn("grp", col("wk") - row_number().over(wu))
          .groupBy("user_id", "grp")
          .agg(count(lit(1)).cast("long").as("len"))
          .groupBy("user_id")
          .agg(max(col("len")).as("best_streak"))
          .groupBy("best_streak")
          .agg(count(lit(1)).as("n_users"))
          .orderBy("best_streak")
      },
      Some("""WITH uw AS (
                SELECT DISTINCT user_id,
                  date_diff('day', DATE '1970-01-05', CAST(ts AS DATE)) // 7
                    AS wk
                FROM events),
              runs AS (
                SELECT user_id,
                  wk - row_number() OVER (PARTITION BY user_id
                    ORDER BY wk) AS grp
                FROM uw),
              lens AS (
                SELECT user_id, grp, CAST(count(*) AS BIGINT) AS len
                FROM runs GROUP BY 1, 2),
              best AS (
                SELECT user_id, CAST(MAX(len) AS BIGINT) AS best_streak
                FROM lens GROUP BY 1)
              SELECT best_streak, count(*) AS n_users
              FROM best GROUP BY 1 ORDER BY best_streak""")),

    // ── exponentially decayed popularity (half-life = 1 day) ─────────────
    // Recency-weighted engagement per event type, anchored at the
    // corpus max date. The stream collapses ONCE to the calendar-bounded
    // (type, day) census (persisted: the anchor max-date probe and the
    // weighting both read it — no second corpus scan). Decay weights
    // are EXACT powers of two carried as scaled integers
    // (w = 2^(62-age) — a bigint shift, 0 beyond 62 days), so the
    // weighted sums are exact DECIMAL(38,0) in both engines and the
    // only FP is the final ÷2^62 (exact) and ÷100 readouts — no
    // transcendental exp(), no fold-order drift.
    Q("q_decayed_popularity",
      (s, dir) => decayFinish(Artifacts.persist(decayCensus(t(s, dir, "events")))),
      Some("""WITH cen AS (
                SELECT event_type, CAST(ts AS DATE) AS d,
                  CAST(count(*) AS BIGINT) AS n,
                  SUM(CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS HUGEINT)) AS sc
                FROM events GROUP BY 1, 2),
              anchor AS (SELECT MAX(d) AS maxd FROM cen),
              w AS (
                SELECT event_type, n, sc,
                  CASE WHEN date_diff('day', d, maxd) <= 62
                    THEN (CAST(1 AS BIGINT)
                      << (62 - date_diff('day', d, maxd)))
                    ELSE 0 END AS w
                FROM cen, anchor)
              SELECT event_type, CAST(SUM(n) AS BIGINT) AS n_events,
                CAST(SUM(CAST(w AS HUGEINT) * n) AS DOUBLE)
                  / 4611686018427387904.0 AS decayed_count,
                CAST(SUM(CAST(w AS HUGEINT) * sc) AS DOUBLE)
                  / 4611686018427387904.0 / 100.0 AS decayed_value
              FROM w GROUP BY 1 ORDER BY event_type""")),

    // ── Poisson overdispersion test on daily arrival counts ─────────────
    // Are arrivals per day Poisson, or bursty? Dispersion index
    // var/mean and the χ² = (D−1)s²/x̄ test per event type, over the
    // observed-day census (a day with zero arrivals of a type never
    // enters — the arrival-process convention, stated here because the
    // oracle shares it). Counts are integers, so Σn/Σn² are exact
    // longs in ONE partial+final agg and mean/var/χ² are row-local
    // IEEE expressions — zero FP folds. NULL-guarded for D ≤ 1.
    Q("q_poisson_dispersion",
      (s, dir) => poisFinish(poisCensus(t(s, dir, "events"))),
      Some("""WITH cen AS (
                SELECT event_type, CAST(ts AS DATE) AS d,
                  CAST(count(*) AS BIGINT) AS n
                FROM events GROUP BY 1, 2),
              st AS (
                SELECT event_type, CAST(count(*) AS BIGINT) AS d_days,
                  CAST(SUM(n) AS BIGINT) AS s1,
                  CAST(SUM(n * n) AS BIGINT) AS s2
                FROM cen GROUP BY 1),
              mv AS (
                SELECT event_type, d_days,
                  CAST(s1 AS DOUBLE) / CAST(d_days AS DOUBLE) AS mean_n,
                  CAST(s2 AS DOUBLE) / CAST(d_days AS DOUBLE)
                    - (CAST(s1 AS DOUBLE) / CAST(d_days AS DOUBLE))
                      * (CAST(s1 AS DOUBLE) / CAST(d_days AS DOUBLE))
                    AS var_n
                FROM st)
              SELECT event_type, d_days,
                round(mean_n, 12) AS mean_n,
                round(var_n, 12) AS var_n,
                CASE WHEN d_days <= 1 OR mean_n <= 0 THEN NULL
                  ELSE round(var_n / mean_n, 12) END AS dispersion,
                CASE WHEN d_days <= 1 OR mean_n <= 0 THEN NULL
                  ELSE round(CAST(d_days AS DOUBLE) * var_n / mean_n, 6)
                  END AS chi2
              FROM mv ORDER BY event_type""")),

    // ── renewal memory: lag-1 autocorrelation of inter-event gaps ───────
    // Does a short wait predict another short wait? Pearson r over
    // successive per-user gap pairs (g_t, g_{t+1}) — the memory
    // q_burstiness's dispersion index can't see. Gaps are exact
    // microsecond longs off ONE user-partitioned window (the scaling
    // key; ties broken by event_id for a total order), the five moment
    // sums are exact DECIMAL(38,0) in one partial+final agg, and r is
    // a row-local IEEE expression — zero FP folds. NULL-guarded for
    // degenerate variance.
    Q("q_gap_autocorr",
      (s, dir) => {
        val wu = Window.partitionBy("user_id")
          .orderBy("mu", "event_id")
        val m = t(s, dir, "events")
          .select(col("user_id"), col("event_id"),
            expr("unix_micros(ts)").as("mu"))
          .withColumn("gap", col("mu") - lag(col("mu"), 1).over(wu))
          .withColumn("gap_prev", lag(col("gap"), 1).over(wu))
          .filter(col("gap").isNotNull && col("gap_prev").isNotNull)
          .select(col("gap_prev").as("x"), col("gap").as("y"))
          .agg(count(lit(1)).cast("long").as("n_pairs"),
            sum(col("x").cast("decimal(38,0)")).as("sx"),
            sum(col("y").cast("decimal(38,0)")).as("sy"),
            sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"),
            sum(col("y").cast("decimal(38,0)") * col("y")).as("syy"),
            sum(col("x").cast("decimal(38,0)") * col("y")).as("sxy"))
        m.select(col("n_pairs"),
          when(col("n_pairs") <= 1
            || (col("n_pairs") * col("sxx") - col("sx") * col("sx")) <= 0
            || (col("n_pairs") * col("syy") - col("sy") * col("sy")) <= 0,
            lit(null).cast("double"))
            .otherwise(round(
              (col("n_pairs") * col("sxy") - col("sx") * col("sy"))
                .cast("double")
                / sqrt((col("n_pairs") * col("sxx")
                  - col("sx") * col("sx")).cast("double")
                  * (col("n_pairs") * col("syy")
                    - col("sy") * col("sy")).cast("double")), 12))
            .as("r_gap"))
      },
      Some("""WITH g AS (
                SELECT user_id, event_id, epoch_us(ts) AS mu,
                  epoch_us(ts) - lag(epoch_us(ts)) OVER
                    (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
                    AS gap
                FROM events),
              p AS (
                SELECT gap AS y,
                  lag(gap) OVER (PARTITION BY user_id
                    ORDER BY mu, event_id) AS x
                FROM g),
              mom AS (
                SELECT CAST(count(*) AS BIGINT) AS n_pairs,
                  SUM(CAST(x AS HUGEINT)) AS sx,
                  SUM(CAST(y AS HUGEINT)) AS sy,
                  SUM(CAST(x AS HUGEINT) * x) AS sxx,
                  SUM(CAST(y AS HUGEINT) * y) AS syy,
                  SUM(CAST(x AS HUGEINT) * y) AS sxy
                FROM p WHERE x IS NOT NULL AND y IS NOT NULL)
              SELECT n_pairs,
                CASE WHEN n_pairs <= 1
                    OR (n_pairs * sxx - sx * sx) <= 0
                    OR (n_pairs * syy - sy * sy) <= 0 THEN NULL
                  ELSE round(CAST(n_pairs * sxy - sx * sy AS DOUBLE)
                    / sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE)
                      * CAST(n_pairs * syy - sy * sy AS DOUBLE)), 12)
                  END AS r_gap
              FROM mom""")),

    // ── max drawdown of the 7-day rolling order volume ──────────────────
    // The peak-to-trough decline of demand momentum — q_changepoint's
    // CUSUM sees mean SHIFTS, drawdown sees the worst sustained slide.
    // Fully INTEGER: daily order counts → 7-day rolling sum → running
    // max → drawdown, all exact longs over two day-ordered windows on
    // the calendar-bounded census; the trough pick is the pinned
    // earliest-day argmax. No FP anywhere until the final ratio.
    Q("q_max_drawdown",
      (s, dir) => {
        val wd = Window.orderBy("d")
        val w7 = wd.rowsBetween(-6, 0)
        val wmax = wd.rowsBetween(Window.unboundedPreceding, 0)
        val dd = Artifacts.persist(t(s, dir, "orders")
          .select(datediff(col("o_orderdate").cast("date"),
            lit("1970-01-01").cast("date")).cast("long").as("d"))
          .groupBy("d").agg(count(lit(1)).cast("long").as("n"))
          .withColumn("s7", sum(col("n")).over(w7).cast("long"))
          .withColumn("peak", max(col("s7")).over(wmax).cast("long"))
          .withColumn("dd", col("peak") - col("s7")))
        dd.agg(max(col("dd")).cast("long").as("max_dd"))
          .crossJoin(dd.select(col("d"), col("dd"), col("s7"),
            col("peak")))
          .filter(col("dd") === col("max_dd"))
          .groupBy("max_dd")
          .agg(min(col("d")).cast("long").as("trough_day"),
            min(col("s7") + col("max_dd")).cast("long").as("peak_level"))
          .select(col("max_dd"), col("trough_day"), col("peak_level"),
            when(col("peak_level") === 0, lit(null).cast("double"))
              .otherwise(col("max_dd").cast("double")
                / col("peak_level").cast("double")).as("dd_share"))
      },
      Some("""WITH cen AS (
                SELECT date_diff('day', DATE '1970-01-01',
                    CAST(o_orderdate AS DATE)) AS d,
                  CAST(count(*) AS BIGINT) AS n
                FROM orders GROUP BY 1),
              roll AS (
                SELECT d,
                  CAST(SUM(n) OVER (ORDER BY d
                    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT)
                    AS s7
                FROM cen),
              pk AS (
                SELECT d, s7,
                  CAST(MAX(s7) OVER (ORDER BY d
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS peak
                FROM roll),
              dd AS (SELECT d, s7, peak, peak - s7 AS dd FROM pk),
              mx AS (SELECT CAST(MAX(dd) AS BIGINT) AS max_dd FROM dd)
              SELECT max_dd,
                CAST(MIN(d) AS BIGINT) AS trough_day,
                CAST(MIN(s7 + max_dd) AS BIGINT) AS peak_level,
                CASE WHEN MIN(s7 + max_dd) = 0 THEN NULL
                  ELSE CAST(max_dd AS DOUBLE)
                    / CAST(MIN(s7 + max_dd) AS DOUBLE) END AS dd_share
              FROM dd, mx WHERE dd = max_dd GROUP BY 1""")),

    // ── weekly SAX words over daily revenue ─────────────────────────────
    // Symbolic Aggregate approXimation: each day's revenue z-score maps
    // to a 4-letter alphabet (Gaussian breakpoints ±0.6745, 0), each
    // ISO-ish week concatenates its days into a word — the discretized
    // shape index motif mining runs on. Day census persists (moments +
    // symbolization share it); z is one IEEE expression of exact
    // DECIMAL sums, letters are boundary comparisons of identical
    // doubles, and the word is a day-pinned ≤7-char assembly.
    Q("q_sax_weekly",
      (s, dir) => {
        val cen = Artifacts.persist(t(s, dir, "orders")
          .select(datediff(col("o_orderdate").cast("date"),
            lit("1970-01-01").cast("date")).cast("long").as("d"),
            (dec2(col("o_totalprice")) * 100).cast("long").as("cents"))
          .groupBy("d")
          .agg(sum(col("cents").cast(DecimalType(38, 0))).as("y")))
        val mom = cen.agg(count(lit(1)).cast("long").as("n"),
          sum(col("y")).as("s1"), sum(col("y") * col("y")).as("s2"))
          .select(col("n"),
            (col("s1").cast("double") / col("n").cast("double"))
              .as("mu"),
            sqrt(col("s2").cast("double") / col("n").cast("double")
              - (col("s1").cast("double") / col("n").cast("double"))
                * (col("s1").cast("double") / col("n").cast("double")))
              .as("sd"))
        cen.crossJoin(broadcast(mom))
          .select(expr("d div 7").as("week"), col("d"),
            when(col("sd") <= 0, lit("b"))
              .otherwise(
                when((col("y").cast("double") - col("mu")) / col("sd")
                  < -0.6745, lit("a"))
                  .when((col("y").cast("double") - col("mu")) / col("sd")
                    < 0.0, lit("b"))
                  .when((col("y").cast("double") - col("mu")) / col("sd")
                    < 0.6745, lit("c"))
                  .otherwise(lit("d"))).as("letter"))
          .groupBy("week")
          .agg(count(lit(1)).cast("long").as("n_days"),
            expr("""array_join(transform(
                      array_sort(collect_list(struct(d, letter))),
                      x -> x.letter), '')""").as("sax_word"))
          .orderBy("week")
      },
      Some("""WITH cen AS (
                SELECT date_diff('day', DATE '1970-01-01',
                    CAST(o_orderdate AS DATE)) AS d,
                  SUM(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS HUGEINT)) AS y
                FROM orders GROUP BY 1),
              mom AS (
                SELECT CAST(count(*) AS BIGINT) AS n,
                  CAST(SUM(y) AS HUGEINT) AS s1,
                  CAST(SUM(y * y) AS HUGEINT) AS s2
                FROM cen),
              mm AS (
                SELECT n,
                  CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
                  sqrt(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
                    - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                      * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))) AS sd
                FROM mom),
              sym AS (
                SELECT d // 7 AS week, d,
                  CASE WHEN sd <= 0 THEN 'b'
                    WHEN (CAST(y AS DOUBLE) - mu) / sd < -0.6745 THEN 'a'
                    WHEN (CAST(y AS DOUBLE) - mu) / sd < 0.0 THEN 'b'
                    WHEN (CAST(y AS DOUBLE) - mu) / sd < 0.6745 THEN 'c'
                    ELSE 'd' END AS letter
                FROM cen, mm)
              SELECT week, CAST(count(*) AS BIGINT) AS n_days,
                string_agg(letter, '' ORDER BY d) AS sax_word
              FROM sym GROUP BY 1 ORDER BY week""")),

    // ── Gumbel fit of weekly revenue maxima (extreme value theory) ──────
    // What do the TAILS look like? Weekly block maxima of daily
    // revenue, with the Gumbel method-of-moments fit scale = s·√6/π,
    // location = mean − γ·scale. The day census folds to ≤weeks exact
    // maxima in one chain; moments are IEEE of exact DECIMAL sums; π
    // and Euler's γ are the same 17-digit literals in both engines, √
    // is correctly-rounded IEEE — no transcendental whose libm could
    // drift. Population s (stated convention). NULL-guarded for
    // degenerate variance.
    Q("q_evt_gumbel",
      (s, dir) => {
        t(s, dir, "orders")
          .select(datediff(col("o_orderdate").cast("date"),
            lit("1970-01-01").cast("date")).cast("long").as("d"),
            (dec2(col("o_totalprice")) * 100).cast("long").as("cents"))
          .groupBy("d")
          .agg(sum(col("cents").cast(DecimalType(38, 0))).as("y"))
          .select(expr("d div 7").as("wk"), col("y"))
          .groupBy("wk")
          .agg(max(col("y")).as("mx"))
          .agg(count(lit(1)).cast("long").as("n_weeks"),
            sum(col("mx")).as("s1"), sum(col("mx") * col("mx")).as("s2"))
          .select(col("n_weeks"),
            (col("s1").cast("double") / col("n_weeks").cast("double"))
              .as("mean_max"),
            (col("s2").cast("double") / col("n_weeks").cast("double")
              - (col("s1").cast("double") / col("n_weeks").cast("double"))
                * (col("s1").cast("double")
                  / col("n_weeks").cast("double"))).as("v"))
          .select(col("n_weeks"),
            round(col("mean_max") / 100.0, 6).as("mean_max"),
            when(col("v") <= 0, lit(null).cast("double"))
              .otherwise(round(sqrt(col("v"))
                * sqrt(lit(6.0)) / lit(3.141592653589793) / 100.0, 6))
              .as("gumbel_scale"),
            when(col("v") <= 0, lit(null).cast("double"))
              .otherwise(round((col("mean_max")
                - lit(0.5772156649015329) * (sqrt(col("v"))
                  * sqrt(lit(6.0)) / lit(3.141592653589793))) / 100.0, 6))
              .as("gumbel_location"))
      },
      Some("""WITH cen AS (
                SELECT date_diff('day', DATE '1970-01-01',
                    CAST(o_orderdate AS DATE)) AS d,
                  SUM(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS HUGEINT)) AS y
                FROM orders GROUP BY 1),
              wk AS (
                SELECT d // 7 AS wk, CAST(MAX(y) AS HUGEINT) AS mx
                FROM cen GROUP BY 1),
              mom AS (
                SELECT CAST(count(*) AS BIGINT) AS n_weeks,
                  SUM(mx) AS s1, SUM(mx * mx) AS s2
                FROM wk),
              mm AS (
                SELECT n_weeks,
                  CAST(s1 AS DOUBLE) / CAST(n_weeks AS DOUBLE)
                    AS mean_max,
                  CAST(s2 AS DOUBLE) / CAST(n_weeks AS DOUBLE)
                    - (CAST(s1 AS DOUBLE) / CAST(n_weeks AS DOUBLE))
                      * (CAST(s1 AS DOUBLE) / CAST(n_weeks AS DOUBLE))
                    AS v
                FROM mom)
              SELECT n_weeks,
                round(mean_max / 100.0, 6) AS mean_max,
                CASE WHEN v <= 0 THEN NULL
                  ELSE round(sqrt(v) * sqrt(6.0) / 3.141592653589793
                    / 100.0, 6) END AS gumbel_scale,
                CASE WHEN v <= 0 THEN NULL
                  ELSE round((mean_max - 0.5772156649015329 * (sqrt(v)
                    * sqrt(6.0) / 3.141592653589793)) / 100.0, 6) END
                  AS gumbel_location
              FROM mm""")),

    // ── day-over-day audience turnover (consecutive-day Jaccard) ────────
    // How fast does the active-user set churn? |A_d ∩ A_{d+1}| /
    // |A_d ∪ A_{d+1}| for every observed day pair. ONE distinct
    // (day, user) census (persisted: per-day actives, both sides of
    // the d→d+1 self-join, all read it); the self-join co-partitions
    // on user_id (the scaling key), counts are exact longs, Jaccard is
    // one IEEE division.
    Q("q_user_turnover",
      (s, dir) => {
        val du = Artifacts.persist(t(s, dir, "events")
          .select(datediff(col("ts").cast("date"),
            lit("1970-01-01").cast("date")).cast("long").as("d"),
            col("user_id"))
          .distinct())
        val act = du.groupBy("d")
          .agg(count(lit(1)).cast("long").as("n_active"))
        val ret = du.as("a")
          .join(du.select((col("d") - 1).as("d"),
            col("user_id")), Seq("d", "user_id"))
          .groupBy("d")
          .agg(count(lit(1)).cast("long").as("retained"))
        act
          .join(broadcast(act.select((col("d") - 1).as("d"),
            col("n_active").as("n_next"))), Seq("d"))
          .join(broadcast(ret), Seq("d"), "left")
          .select(col("d"), col("n_active"), col("n_next"),
            coalesce(col("retained"), lit(0L)).as("retained"))
          .select(col("d"), col("n_active"), col("n_next"),
            col("retained"),
            when(col("n_active") + col("n_next") - col("retained") === 0,
              lit(null).cast("double"))
              .otherwise(col("retained").cast("double")
                / (col("n_active") + col("n_next") - col("retained"))
                  .cast("double")).as("jaccard"))
          .orderBy("d")
      },
      Some("""WITH du AS (
                SELECT DISTINCT date_diff('day', DATE '1970-01-01',
                    CAST(ts AS DATE)) AS d, user_id
                FROM events),
              act AS (
                SELECT d, CAST(count(*) AS BIGINT) AS n_active
                FROM du GROUP BY 1),
              ret AS (
                SELECT a.d, CAST(count(*) AS BIGINT) AS retained
                FROM du a JOIN du b
                  ON b.d = a.d + 1 AND a.user_id = b.user_id
                GROUP BY 1)
              SELECT act.d, act.n_active AS n_active,
                nx.n_active AS n_next,
                COALESCE(retained, 0) AS retained,
                CASE WHEN act.n_active + nx.n_active
                    - COALESCE(retained, 0) = 0 THEN NULL
                  ELSE CAST(COALESCE(retained, 0) AS DOUBLE)
                    / CAST(act.n_active + nx.n_active
                      - COALESCE(retained, 0) AS DOUBLE) END AS jaccard
              FROM act
              JOIN act nx ON nx.d = act.d + 1
              LEFT JOIN ret ON ret.d = act.d
              ORDER BY act.d""")),

    // ── Shapley-value channel attribution (3 channels, closed form) ─────
    // Game-theoretic credit for conversions across the view/click/
    // signup channels — the axiomatically-fair split position rules
    // (q_attribution) can't give. Users collapse to an 8-row
    // touched-channel-mask census of converted users (persisted);
    // coalition values v(S) = Σ_{mask⊆S} cnt ride an 8×8 bounded
    // containment join, and Shapley weights |S|!(2−|S|)!/3! are
    // carried ×6 as EXACT integers {2,1,2} — φ×6 is an exact long,
    // the readout one exact÷6 division. No sampling, no FP folds.
    Q("q_shapley_attribution",
      (s, dir) => {
        val census = Artifacts.persist(t(s, dir, "events")
          .groupBy("user_id")
          .agg(
            max((col("event_type") === "view").cast("long")).as("fv"),
            max((col("event_type") === "click").cast("long")).as("fc"),
            max((col("event_type") === "signup").cast("long")).as("fs"),
            max((col("event_type") === "purchase").cast("long"))
              .as("conv"))
          .filter(col("conv") === 1)
          .select((col("fv") + col("fc") * 2 + col("fs") * 4).as("mask"))
          .groupBy("mask")
          .agg(count(lit(1)).cast("long").as("cnt")))
        val subsets = census.sparkSession.range(0, 8)
          .select(col("id").cast("long").as("ss"))
        val v = Artifacts.persist(subsets
          .join(census, expr("(mask & ss) = mask"), "left")
          .groupBy("ss")
          .agg(coalesce(sum(col("cnt")), lit(0L)).cast("long").as("v")))
        val channels = census.sparkSession.range(0, 3)
          .select(expr("shiftleft(CAST(1 AS BIGINT), CAST(id AS INT))")
            .as("ch"),
            expr("""CASE id WHEN 0 THEN 'view' WHEN 1 THEN 'click'
                    ELSE 'signup' END""").as("channel"))
        channels
          .join(v.select(col("ss"), col("v").as("v_s")),
            expr("(ss & ch) = 0"))
          .join(v.select(col("ss").as("ssi"), col("v").as("v_si")),
            expr("ssi = ss + ch"))
          .select(col("channel"),
            (expr("""CASE bit_count(ss) WHEN 0 THEN 2 WHEN 1 THEN 1
                     ELSE 2 END""")
              * (col("v_si") - col("v_s"))).as("term"))
          .groupBy("channel")
          .agg(sum(col("term")).cast("long").as("phi6"))
          .select(col("channel"), col("phi6"),
            (col("phi6").cast("double") / 6.0).as("shapley"))
          .orderBy("channel")
      },
      Some("""WITH flags AS (
                SELECT user_id,
                  MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                    AS fv,
                  MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    AS fc,
                  MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
                    AS fs,
                  MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS conv
                FROM events GROUP BY 1),
              census AS (
                SELECT fv + fc * 2 + fs * 4 AS mask,
                  CAST(count(*) AS BIGINT) AS cnt
                FROM flags WHERE conv = 1 GROUP BY 1),
              subsets AS (
                SELECT CAST(ss AS BIGINT) AS ss
                FROM UNNEST(generate_series(0, 7)) AS t(ss)),
              v AS (
                SELECT ss,
                  CAST(COALESCE(SUM(cnt), 0) AS BIGINT) AS v
                FROM subsets LEFT JOIN census
                  ON (mask & ss) = mask
                GROUP BY 1),
              channels AS (
                SELECT CAST(1 AS BIGINT) AS ch, 'view' AS channel
                UNION ALL SELECT 2, 'click'
                UNION ALL SELECT 4, 'signup'),
              terms AS (
                SELECT channel,
                  (CASE bit_count(vs.ss) WHEN 0 THEN 2 WHEN 1 THEN 1
                    ELSE 2 END) * (vi.v - vs.v) AS term
                FROM channels
                JOIN v vs ON (vs.ss & ch) = 0
                JOIN v vi ON vi.ss = vs.ss + ch)
              SELECT channel, CAST(SUM(term) AS BIGINT) AS phi6,
                CAST(SUM(term) AS DOUBLE) / 6.0 AS shapley
              FROM terms GROUP BY 1 ORDER BY channel""")),

    // ── Hurst exponent via rescaled-range (R/S) analysis ────────────────
    // Long-range dependence of daily order volume: H ≈ 0.5 means no
    // memory, H > 0.5 persistent trends. Classic dyadic R/S: complete
    // blocks of b ∈ {8,16,32,64} observed days, per-block rescaled
    // range R/S, H = the log2–log2 regression slope. The day census
    // persists and replicates ×4 against the broadcast block-size
    // panel (calendar-bounded frame); deviations are 6-dec rounded
    // IEEE off exact block sums, the cumulative walk rides a
    // (b, block)-partitioned day-ordered window (both engines run the
    // frame left-to-right — identical accumulation), per-b means are
    // block-pinned folds, and the 4-point slope folds are b-pinned
    // with exact integer abscissae log2(b) ∈ {3,4,5,6}.
    Q("q_hurst_exponent",
      (s, dir) => {
        val days = Artifacts.persist(t(s, dir, "orders")
          .select(datediff(col("o_orderdate").cast("date"),
            lit("1970-01-01").cast("date")).cast("long").as("d"))
          .groupBy("d").agg(count(lit(1)).cast("long").as("x"))
          .withColumn("r",
            (row_number().over(Window.orderBy("d")) - 1).cast("long")))
        val bs = days.sparkSession.range(0, 4)
          .select(expr("shiftleft(CAST(8 AS BIGINT), CAST(id AS INT))")
            .as("b"))
        val rep = days.crossJoin(broadcast(bs))
          .select(col("b"), expr("r div b").as("blk"), col("d"), col("x"))
        val blocks = rep.groupBy("b", "blk")
          .agg(count(lit(1)).cast("long").as("cnt"),
            sum(col("x")).cast("long").as("s1"),
            sum(col("x") * col("x")).cast("long").as("s2"))
          .filter(col("cnt") === col("b"))
        val wblk = Window.partitionBy("b", "blk").orderBy("d")
        val rs = rep.join(blocks, Seq("b", "blk"))
          .select(col("b"), col("blk"), col("d"), col("s1"), col("s2"),
            round(col("x").cast("double")
              - col("s1").cast("double") / col("b").cast("double"), 6)
              .as("dev"))
          .withColumn("w", sum(col("dev")).over(wblk))
          .groupBy("b", "blk")
          .agg((max(col("w")) - min(col("w"))).as("rr"),
            sqrt(max(col("s2")).cast("double") / max(col("b")) // b const
              - (max(col("s1")).cast("double") / max(col("b")))
                * (max(col("s1")).cast("double") / max(col("b"))))
              .as("sd"))
          .filter(col("rr") > 0 && col("sd") > 0)
          .select(col("b"), col("blk"),
            round(log2(col("rr") / col("sd")), 6).as("l2"))
        val perB = rs.groupBy("b")
          .agg(count(lit(1)).cast("long").as("n_blk"),
            expr("""aggregate(array_sort(collect_list(struct(blk, l2))),
                    CAST(0 AS DOUBLE), (a, x) -> a + x.l2)""").as("sl2"))
          .select(col("b"), log2(col("b").cast("double")).as("lx"),
            round(col("sl2") / col("n_blk").cast("double"), 12).as("ly"))
        perB.agg(count(lit(1)).cast("long").as("n_pts"),
            expr("""aggregate(array_sort(collect_list(struct(b, lx))),
                    CAST(0 AS DOUBLE), (a, x) -> a + x.lx)""").as("sx"),
            expr("""aggregate(array_sort(collect_list(struct(b, ly))),
                    CAST(0 AS DOUBLE), (a, x) -> a + x.ly)""").as("sy"),
            expr("""aggregate(array_sort(collect_list(
                      struct(b, lx * ly))),
                    CAST(0 AS DOUBLE), (a, x) -> a + x.col2)""")
              .as("sxy"),
            expr("""aggregate(array_sort(collect_list(
                      struct(b, lx * lx))),
                    CAST(0 AS DOUBLE), (a, x) -> a + x.col2)""")
              .as("sxx"))
          .select(col("n_pts"),
            when(col("n_pts") <= 1
              || col("n_pts") * col("sxx") - col("sx") * col("sx") === 0,
              lit(null).cast("double"))
              .otherwise(round(
                (col("n_pts") * col("sxy") - col("sx") * col("sy"))
                  / (col("n_pts") * col("sxx") - col("sx") * col("sx")),
                12)).as("h"))
      },
      Some("""WITH cen AS (
                SELECT date_diff('day', DATE '1970-01-01',
                    CAST(o_orderdate AS DATE)) AS d,
                  CAST(count(*) AS BIGINT) AS x
                FROM orders GROUP BY 1),
              days AS (
                SELECT d, x,
                  CAST(row_number() OVER (ORDER BY d) - 1 AS BIGINT)
                    AS r
                FROM cen),
              bs AS (SELECT CAST(b AS BIGINT) AS b
                     FROM UNNEST([8, 16, 32, 64]) AS t(b)),
              rep AS (
                SELECT b, r // b AS blk, d, x FROM days, bs),
              blocks AS (
                SELECT b, blk, CAST(count(*) AS BIGINT) AS cnt,
                  CAST(SUM(x) AS BIGINT) AS s1,
                  CAST(SUM(x * x) AS BIGINT) AS s2
                FROM rep GROUP BY 1, 2),
              fb AS (SELECT * FROM blocks WHERE cnt = b),
              dev AS (
                SELECT rep.b, rep.blk, d, s1, s2,
                  round(CAST(x AS DOUBLE)
                    - CAST(s1 AS DOUBLE) / CAST(rep.b AS DOUBLE), 6)
                    AS dev
                FROM rep JOIN fb ON rep.b = fb.b AND rep.blk = fb.blk),
              walk AS (
                SELECT b, blk, s1, s2,
                  SUM(dev) OVER (PARTITION BY b, blk ORDER BY d
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS w
                FROM dev),
              rsx AS (
                SELECT b, blk,
                  MAX(w) - MIN(w) AS rr,
                  sqrt(CAST(MAX(s2) AS DOUBLE) / MAX(b)
                    - (CAST(MAX(s1) AS DOUBLE) / MAX(b))
                      * (CAST(MAX(s1) AS DOUBLE) / MAX(b))) AS sd
                FROM walk GROUP BY 1, 2),
              l2s AS (
                SELECT b, blk, round(log2(rr / sd), 6) AS l2
                FROM rsx WHERE rr > 0 AND sd > 0),
              perb AS (
                SELECT b, log2(CAST(b AS DOUBLE)) AS lx,
                  round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(l2 ORDER BY blk)), (a, x) -> a + x)
                    / count(*), 12) AS ly
                FROM l2s GROUP BY b),
              folds AS (
                SELECT CAST(count(*) AS BIGINT) AS n_pts,
                  list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(lx ORDER BY b)), (a, x) -> a + x) AS sx,
                  list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(ly ORDER BY b)), (a, x) -> a + x) AS sy,
                  list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(lx * ly ORDER BY b)), (a, x) -> a + x) AS sxy,
                  list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(lx * lx ORDER BY b)), (a, x) -> a + x) AS sxx
                FROM perb)
              SELECT n_pts,
                CASE WHEN n_pts <= 1
                    OR n_pts * sxx - sx * sx = 0 THEN NULL
                  ELSE round((n_pts * sxy - sx * sy)
                    / (n_pts * sxx - sx * sx), 12) END AS h
              FROM folds""")),

    // ── Haar wavelet detail energy by level (3-level dyadic) ────────────
    // Which time scale carries the volatility — day-to-day, 2-day or
    // 4-day swings? Unnormalized Haar transform of the ranked daily
    // order counts, truncated to the largest multiple of 8 days:
    // pairwise sums (approximation) and differences (detail) are
    // EXACT integers at every level, so each level's detail energy
    // Σd² is an exact DECIMAL — zero FP until the share readout. The
    // parity trick (Σ±x by r mod 2) turns each level into ONE
    // partial+final agg off the persisted ranked census.
    Q("q_haar_energy",
      (s, dir) => {
        val days = Artifacts.persist(t(s, dir, "orders")
          .select(datediff(col("o_orderdate").cast("date"),
            lit("1970-01-01").cast("date")).cast("long").as("d"))
          .groupBy("d").agg(count(lit(1)).cast("long").as("x"))
          .withColumn("r",
            (row_number().over(Window.orderBy("d")) - 1).cast("long")))
        val n8 = days.agg(
          (expr("count(1) div 8") * 8).cast("long").as("n8"))
        val base = days.crossJoin(broadcast(n8))
          .filter(col("r") < col("n8"))
        def level(in: DataFrame): DataFrame = in
          .groupBy(expr("r div 2").as("r"))
          .agg(sum(col("x")).cast("long").as("x"),
            sum(when(pmod(col("r"), lit(2)) === 0, col("x"))
              .otherwise(-col("x"))).cast("long").as("det"))
        val l1 = Artifacts.persist(level(base.select(col("r"), col("x"))))
        val l2 = Artifacts.persist(level(l1.select(col("r"), col("x"))))
        val l3 = level(l2.select(col("r"), col("x")))
        def energy(df: DataFrame, lv: Int): DataFrame = df
          .agg(lit(lv).cast("long").as("level"),
            count(lit(1)).cast("long").as("n_coeffs"),
            sum(col("det").cast("decimal(38,0)") * col("det"))
              .as("energy"))
        val e = Artifacts.persist(energy(l1, 1).unionByName(energy(l2, 2))
          .unionByName(energy(l3, 3)))
        val tot = e.agg(sum(col("energy")).as("etot"))
        e.crossJoin(broadcast(tot))
          .select(col("level"), col("n_coeffs"),
            col("energy").cast("double").as("energy"),
            when(col("etot") === 0, lit(null).cast("double"))
              .otherwise(round(col("energy").cast("double")
                / col("etot").cast("double"), 12)).as("energy_share"))
          .orderBy("level")
      },
      Some("""WITH cen AS (
                SELECT date_diff('day', DATE '1970-01-01',
                    CAST(o_orderdate AS DATE)) AS d,
                  CAST(count(*) AS BIGINT) AS x
                FROM orders GROUP BY 1),
              days AS (
                SELECT x,
                  CAST(row_number() OVER (ORDER BY d) - 1 AS BIGINT)
                    AS r
                FROM cen),
              n8 AS (SELECT (count(*) // 8) * 8 AS n8 FROM days),
              base AS (SELECT r, x FROM days, n8 WHERE r < n8),
              l1 AS (
                SELECT r // 2 AS r, CAST(SUM(x) AS BIGINT) AS x,
                  CAST(SUM(CASE WHEN r % 2 = 0 THEN x ELSE -x END)
                    AS BIGINT) AS det
                FROM base GROUP BY 1),
              l2 AS (
                SELECT r // 2 AS r, CAST(SUM(x) AS BIGINT) AS x,
                  CAST(SUM(CASE WHEN r % 2 = 0 THEN x ELSE -x END)
                    AS BIGINT) AS det
                FROM l1 GROUP BY 1),
              l3 AS (
                SELECT r // 2 AS r, CAST(SUM(x) AS BIGINT) AS x,
                  CAST(SUM(CASE WHEN r % 2 = 0 THEN x ELSE -x END)
                    AS BIGINT) AS det
                FROM l2 GROUP BY 1),
              e AS (
                SELECT 1 AS level, CAST(count(*) AS BIGINT) AS n_coeffs,
                  SUM(CAST(det AS HUGEINT) * det) AS energy FROM l1
                UNION ALL
                SELECT 2, CAST(count(*) AS BIGINT),
                  SUM(CAST(det AS HUGEINT) * det) FROM l2
                UNION ALL
                SELECT 3, CAST(count(*) AS BIGINT),
                  SUM(CAST(det AS HUGEINT) * det) FROM l3),
              tot AS (SELECT SUM(energy) AS etot FROM e)
              SELECT CAST(level AS BIGINT) AS level, n_coeffs,
                CAST(energy AS DOUBLE) AS energy,
                CASE WHEN etot = 0 THEN NULL
                  ELSE round(CAST(energy AS DOUBLE)
                    / CAST(etot AS DOUBLE), 12) END AS energy_share
              FROM e, tot ORDER BY level""")),

    // ── SPRT: sequential test of the purchase-share rate ────────────────
    // Wald's sequential probability ratio test replayed over the event
    // calendar: H0 p=0.18 vs H1 p=0.22, LLR walk over daily
    // (events, purchases) counts, boundaries ±ln(19) (α=β=0.05).
    // The stream folds ONCE to the daily 2-count census; cumulative
    // counts are exact longs off a day-ordered window; the LLR is a
    // row-local product of exact counts with two shared ln-constant
    // factors (identical literals both engines, 12-dec rounded); the
    // crossing day is an exact-comparison argmin. One partial+final
    // agg ends it.
    Q("q_sprt",
      (s, dir) => {
        val wd = Window.orderBy("d")
          .rowsBetween(Window.unboundedPreceding, 0)
        val walk = Artifacts.persist(t(s, dir, "events")
          .select(col("ts").cast("date").as("d"),
            (col("event_type") === "purchase").cast("long").as("p"))
          .groupBy("d")
          .agg(count(lit(1)).cast("long").as("n"),
            sum(col("p")).cast("long").as("s"))
          .withColumn("cn", sum(col("n")).over(wd).cast("long"))
          .withColumn("cs", sum(col("s")).over(wd).cast("long"))
          .select(col("d"), col("cn"), col("cs"),
            round(col("cs").cast("double")
              * log(lit(0.22) / lit(0.18))
              + (col("cn") - col("cs")).cast("double")
                * log(lit(0.78) / lit(0.82)), 12).as("llr")))
        val fin = walk.orderBy(col("d").desc).limit(1)
          .select(col("d").as("last_day"), col("cn").as("n_events"),
            round(col("llr"), 6).as("final_llr"),
            when(col("llr") >= log(lit(19.0)), lit("accept_h1"))
              .when(col("llr") <= -log(lit(19.0)), lit("accept_h0"))
              .otherwise(lit("continue")).as("decision"))
        val cross = walk
          .filter(col("llr") >= log(lit(19.0))
            || col("llr") <= -log(lit(19.0)))
          .agg(min(col("d")).as("first_cross_day"))
        fin.crossJoin(broadcast(cross))
          .select(date_format(col("last_day"), "yyyy-MM-dd")
            .as("last_day"),
            col("n_events"), col("final_llr"), col("decision"),
            date_format(col("first_cross_day"), "yyyy-MM-dd")
              .as("first_cross_day"))
      },
      Some("""WITH cen AS (
                SELECT CAST(ts AS DATE) AS d,
                  CAST(count(*) AS BIGINT) AS n,
                  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1
                    ELSE 0 END) AS BIGINT) AS s
                FROM events GROUP BY 1),
              walk AS (
                SELECT d,
                  CAST(SUM(n) OVER (ORDER BY d
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cn,
                  CAST(SUM(s) OVER (ORDER BY d
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cs
                FROM cen),
              llrs AS (
                SELECT d, cn, cs,
                  round(CAST(cs AS DOUBLE) * ln(0.22 / 0.18)
                    + CAST(cn - cs AS DOUBLE) * ln(0.78 / 0.82), 12)
                    AS llr
                FROM walk),
              fin AS (
                SELECT d AS last_day, cn AS n_events,
                  round(llr, 6) AS final_llr,
                  CASE WHEN llr >= ln(19.0) THEN 'accept_h1'
                    WHEN llr <= -ln(19.0) THEN 'accept_h0'
                    ELSE 'continue' END AS decision
                FROM llrs ORDER BY d DESC LIMIT 1),
              crossed AS (
                SELECT MIN(d) AS first_cross_day FROM llrs
                WHERE llr >= ln(19.0) OR llr <= -ln(19.0))
              SELECT strftime(last_day, '%Y-%m-%d') AS last_day,
                n_events, final_llr, decision,
                strftime(first_cross_day, '%Y-%m-%d')
                  AS first_cross_day
              FROM fin, crossed""")),

    // ── Mann–Kendall trend test on daily revenue (exact) ────────────────
    // The nonparametric monotone-trend test: S = Σ_{i<j} sign(y_j−y_i)
    // with the tie-corrected variance, ENTIRELY EXACT integers until
    // the final z. The day-pair self-join is CALENDAR² — bounded by
    // the date span, NOT by data volume, so the shape is SF-invariant
    // (the corpus collapses to ≤days rows first). Tie groups come off
    // the same persisted census. One sqrt at the end; continuity-
    // corrected z, NULL-guarded degenerate variance.
    // ── Cox–Stuart trend sign test on daily revenue ──────────────────────
    // The O(n) sibling of q_mann_kendall's O(n²) S statistic: pair day
    // i of the first half with day i + ⌈n/2⌉ of the second (odd middle
    // dropped), count upward vs downward pairs, z with continuity
    // correction. The whole test is exact integers until one final
    // |pos−neg|−1 over √pairs — identical doubles both engines, zero
    // rounding. One orders scan → calendar-bounded day census; the
    // half-pairing is a census self-join on the rank key.
    Q("q_cox_stuart",
      (s, dir) => {
        val wd = Window.orderBy("d")
        val cen = Artifacts.persist(t(s, dir, "orders")
          .select(
            expr("datediff(CAST(o_orderdate AS DATE), DATE'1970-01-01')")
              .as("d"),
            (dec2(col("o_totalprice")) * 100).cast("long").as("cents"))
          .groupBy("d")
          .agg(sum(col("cents").cast(DecimalType(38, 0)))
            .cast("long").as("y"))
          .withColumn("rn", row_number().over(wd).cast("long"))
          .withColumn("n",
            count(lit(1)).over(Window.partitionBy()).cast("long")))
        val m = expr("n div 2")
        val gap = expr("(n + 1) div 2")
        val pairs = cen.filter(col("rn") <= m)
          .select(col("rn"), col("y"), (col("rn") + gap).as("rn2"),
            col("n"))
          .join(cen.select(col("rn").as("rnb"), col("y").as("y2")),
            col("rn2") === col("rnb"))
        pairs.agg(max(col("n")).as("n_days"),
            count(when(col("y2") > col("y"), lit(1))).cast("long")
              .as("n_pos"),
            count(when(col("y2") < col("y"), lit(1))).cast("long")
              .as("n_neg"))
          .select(col("n_days"), col("n_pos"), col("n_neg"),
            (col("n_pos") + col("n_neg")).cast("long").as("n_pairs"),
            when(col("n_pos") + col("n_neg") === 0,
              lit(null).cast("double"))
              .otherwise((abs(col("n_pos") - col("n_neg")) - 1)
                .cast("double")
                / sqrt((col("n_pos") + col("n_neg")).cast("double")))
              .as("z_abs"),
            when(col("n_pos") > col("n_neg"), lit("increasing"))
              .when(col("n_neg") > col("n_pos"), lit("decreasing"))
              .otherwise(lit("none")).as("trend"))
      },
      Some("""WITH cen AS (
                SELECT date_diff('day', DATE '1970-01-01',
                    CAST(o_orderdate AS DATE)) AS d,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
                    AS BIGINT) AS y
                FROM orders GROUP BY 1),
              rk AS (
                SELECT y,
                  CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS rn,
                  CAST(count(*) OVER () AS BIGINT) AS n
                FROM cen),
              pr AS (
                SELECT a.n, a.y AS y1, b.y AS y2
                FROM rk a JOIN rk b
                  ON b.rn = a.rn + (a.n + 1) // 2
                WHERE a.rn <= a.n // 2),
              agg AS (
                SELECT MAX(n) AS n_days,
                  CAST(COUNT(CASE WHEN y2 > y1 THEN 1 END) AS BIGINT)
                    AS n_pos,
                  CAST(COUNT(CASE WHEN y2 < y1 THEN 1 END) AS BIGINT)
                    AS n_neg
                FROM pr)
              SELECT n_days, n_pos, n_neg,
                CAST(n_pos + n_neg AS BIGINT) AS n_pairs,
                CASE WHEN n_pos + n_neg = 0 THEN NULL
                  ELSE CAST(abs(n_pos - n_neg) - 1 AS DOUBLE)
                    / sqrt(CAST(n_pos + n_neg AS DOUBLE))
                  END AS z_abs,
                CASE WHEN n_pos > n_neg THEN 'increasing'
                  WHEN n_neg > n_pos THEN 'decreasing'
                  ELSE 'none' END AS trend
              FROM agg""")),

    Q("q_mann_kendall",
      (s, dir) => {
        val cen = Artifacts.persist(t(s, dir, "orders")
          .select(
            expr("datediff(CAST(o_orderdate AS DATE), DATE'1970-01-01')")
              .as("d"),
            (dec2(col("o_totalprice")) * 100).cast("long").as("cents"))
          .groupBy("d")
          .agg(sum(col("cents").cast(DecimalType(38, 0))).as("y")))
        val sStat = cen.as("a")
          .join(cen.select(col("d").as("d2"), col("y").as("y2")),
            col("d") < col("d2"))
          .agg(sum(signum((col("y2") - col("y")).cast("double"))
            .cast("long")).cast("long").as("s_stat"))
        val ties = cen.groupBy("y")
          .agg(count(lit(1)).cast("long").as("t"))
          .agg(count(lit(1)).cast("long").as("n_groups"),
            sum(col("t")).cast("long").as("n"),
            sum(col("t").cast(DecimalType(38, 0)) * (col("t") - 1)
              * (lit(2) * col("t") + 5)).as("tie_term"))
        sStat.crossJoin(broadcast(ties))
          .select(col("n").as("n_days"), col("s_stat"),
            ((col("n").cast(DecimalType(38, 0)) * (col("n") - 1)
              * (lit(2) * col("n") + 5) - col("tie_term"))
              .cast("double") / 18.0).as("var_s"))
          .select(col("n_days"), col("s_stat"),
            round(col("var_s"), 6).as("var_s"),
            when(col("var_s") <= 0, lit(null).cast("double"))
              .otherwise(round(
                when(col("s_stat") > 0,
                  (col("s_stat") - 1).cast("double"))
                  .when(col("s_stat") < 0,
                    (col("s_stat") + 1).cast("double"))
                  .otherwise(lit(0.0)) / sqrt(col("var_s")), 12))
              .as("z"))
      },
      Some("""WITH cen AS (
                SELECT date_diff('day', DATE '1970-01-01',
                    CAST(o_orderdate AS DATE)) AS d,
                  SUM(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS HUGEINT)) AS y
                FROM orders GROUP BY 1),
              ss AS (
                SELECT CAST(SUM(CASE WHEN b.y > a.y THEN 1
                  WHEN b.y < a.y THEN -1 ELSE 0 END) AS BIGINT)
                  AS s_stat
                FROM cen a JOIN cen b ON a.d < b.d),
              tg AS (
                SELECT y, CAST(count(*) AS BIGINT) AS t
                FROM cen GROUP BY 1),
              ties AS (
                SELECT CAST(SUM(t) AS BIGINT) AS n,
                  SUM(CAST(t AS HUGEINT) * (t - 1) * (2 * t + 5))
                    AS tie_term
                FROM tg),
              vv AS (
                SELECT n AS n_days, s_stat,
                  CAST(CAST(n AS HUGEINT) * (n - 1) * (2 * n + 5)
                    - tie_term AS DOUBLE) / 18.0 AS var_s
                FROM ss, ties)
              SELECT n_days, s_stat,
                round(var_s, 6) AS var_s,
                CASE WHEN var_s <= 0 THEN NULL
                  ELSE round((CASE WHEN s_stat > 0
                      THEN CAST(s_stat - 1 AS DOUBLE)
                    WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE)
                    ELSE 0.0 END) / sqrt(var_s), 12) END AS z
              FROM vv""")),

    // ── seasonal Mann–Kendall (Hirsch–Slack, weekday strata) ────────────
    // Weekly cycles poison the plain MK test (Monday vs Friday pairs
    // carry the cycle, not the trend). The seasonal variant compares
    // ONLY same-weekday pairs: S = Σ_w S_w over the 7 strata, Var =
    // Σ_w Var_w with per-stratum tie corrections. Same calendar²-
    // bounded census self-join as q_mann_kendall but ÷7 pair volume
    // (the dow equi-key joins the strata); signs and tie terms exact
    // integers, z one IEEE expression with continuity correction.
    // Weekday = epoch-day mod 7 (pure integer — no timezone surface).
    Q("q_seasonal_mann_kendall",
      (s, dir) => {
        val dec38 = DecimalType(38, 0)
        val cen = Artifacts.persist(t(s, dir, "orders")
          .select(
            expr("datediff(CAST(o_orderdate AS DATE), DATE'1970-01-01')")
              .as("d"),
            (dec2(col("o_totalprice")) * 100).cast("long").as("cents"))
          .groupBy("d")
          .agg(sum(col("cents").cast(DecimalType(38, 0))).as("y"))
          .select(col("d"), (col("d") % 7).as("w"), col("y")))
        val sStat = cen.as("a")
          .join(cen.select(col("d").as("d2"), col("w").as("w2"),
              col("y").as("y2")),
            col("w") === col("w2") && col("d") < col("d2"))
          .agg(sum(signum((col("y2") - col("y")).cast("double"))
            .cast("long")).cast("long").as("s_stat"))
        val perW = cen.groupBy("w")
          .agg(count(lit(1)).as("n_w"))
          .agg(sum(col("n_w")).cast("long").as("n"),
            sum(col("n_w").cast(dec38) * (col("n_w") - 1)
              * (lit(2) * col("n_w") + 5)).as("var_base"))
        val ties = cen.groupBy("w", "y")
          .agg(count(lit(1)).cast("long").as("t"))
          .agg(sum(col("t").cast(dec38) * (col("t") - 1)
            * (lit(2) * col("t") + 5)).as("tie_term"))
        sStat.crossJoin(broadcast(perW)).crossJoin(broadcast(ties))
          .select(col("n").as("n_days"), col("s_stat"),
            ((col("var_base") - col("tie_term")).cast("double") / 18.0)
              .as("var_s"))
          .select(col("n_days"), col("s_stat"),
            round(col("var_s"), 6).as("var_s"),
            when(col("var_s") <= 0, lit(null).cast("double"))
              .otherwise(round(
                when(col("s_stat") > 0,
                  (col("s_stat") - 1).cast("double"))
                  .when(col("s_stat") < 0,
                    (col("s_stat") + 1).cast("double"))
                  .otherwise(lit(0.0)) / sqrt(col("var_s")), 12))
              .as("z"))
      },
      Some("""WITH cen AS (
                SELECT d, d % 7 AS w, y FROM (
                  SELECT date_diff('day', DATE '1970-01-01',
                      CAST(o_orderdate AS DATE)) AS d,
                    SUM(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2))
                      * 100 AS BIGINT) AS HUGEINT)) AS y
                  FROM orders GROUP BY 1)),
              ss AS (
                SELECT CAST(SUM(CASE WHEN b.y > a.y THEN 1
                  WHEN b.y < a.y THEN -1 ELSE 0 END) AS BIGINT)
                  AS s_stat
                FROM cen a JOIN cen b ON a.w = b.w AND a.d < b.d),
              pw AS (
                SELECT CAST(SUM(n_w) AS BIGINT) AS n,
                  SUM(CAST(n_w AS HUGEINT) * (n_w - 1) * (2 * n_w + 5))
                    AS var_base
                FROM (SELECT w, CAST(count(*) AS BIGINT) AS n_w
                      FROM cen GROUP BY 1)),
              tg AS (
                SELECT SUM(CAST(t AS HUGEINT) * (t - 1) * (2 * t + 5))
                  AS tie_term
                FROM (SELECT w, y, CAST(count(*) AS BIGINT) AS t
                      FROM cen GROUP BY 1, 2)),
              vv AS (
                SELECT n AS n_days, s_stat,
                  CAST(var_base - tie_term AS DOUBLE) / 18.0 AS var_s
                FROM ss, pw, tg)
              SELECT n_days, s_stat,
                round(var_s, 6) AS var_s,
                CASE WHEN var_s <= 0 THEN NULL
                  ELSE round((CASE WHEN s_stat > 0
                      THEN CAST(s_stat - 1 AS DOUBLE)
                    WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE)
                    ELSE 0.0 END) / sqrt(var_s), 12) END AS z
              FROM vv""")),

    // ── Theil–Sen robust trend (median of pairwise slopes) ──────────────
    // The 29%-breakdown-point regression OLS users reach for when
    // outlier days poison the fit. Pairwise slopes ride the same
    // CALENDAR²-bounded day-pair self-join as q_mann_kendall
    // (SF-invariant by construction); the median is an exact
    // row_number pick over the (slope, d_i, d_j) total order (no
    // percentile interpolation ambiguity), and the Sen intercept is
    // the same median machinery over per-day residuals. Slopes are
    // 12-dec rounded IEEE ratios of exact integers.
    Q("q_theil_sen",
      (s, dir) => {
        val cen = Artifacts.persist(senDayCensus(s, dir))
        // Median picks are conditional aggs over the pinned RANKED
        // slope census (round 13; the round-11 shared pair artifact
        // now carries its exclusive prefix): the median VALUES are
        // tie-order-invariant, and the oracle's avg-of-two-middle-
        // ranks is exactly (v1+v2)/2, so the hash cannot move. Built
        // once, also read by q_theil_sen_ci.
        val pairs = senPairs(s, dir)
        val k1 = expr("(m + 1) div 2")
        val k2 = expr("(m + 2) div 2")
        val slope = pairs
          .agg(
            max(when(col("off") < k1 && k1 <= col("off") + col("c"),
              col("sl"))).as("v1"),
            max(when(col("off") < k2 && k2 <= col("off") + col("c"),
              col("sl"))).as("v2"),
            max(col("m")).as("n_pairs"))
          .select(((col("v1") + col("v2")) / 2.0).as("slope"),
            col("n_pairs"))
        val residBase = Artifacts.persist(cen.crossJoin(broadcast(slope))
          .select(col("n_pairs"), col("slope"),
            round(col("y").cast("double")
              - col("slope") * col("d").cast("double"), 6).as("res")))
        RangeRank.medianValues(residBase, "res", nName = "nd")
          .crossJoin(broadcast(residBase
            .groupBy("n_pairs", "slope").agg(count(lit(1)).as("__x"))
            .select("n_pairs", "slope")))
          .select(col("nd").as("n_days"), col("n_pairs"),
            round(col("slope"), 12).as("slope"),
            round(((col("v1") + col("v2")) / 2.0) / 100.0, 6)
              .as("intercept"))
      },
      Some("""WITH cen AS (
                SELECT date_diff('day', DATE '1970-01-01',
                    CAST(o_orderdate AS DATE)) AS d,
                  SUM(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS HUGEINT)) AS y
                FROM orders GROUP BY 1),
              slopes AS (
                SELECT a.d AS d, b.d AS d2,
                  round(CAST(b.y - a.y AS DOUBLE)
                    / CAST(b.d - a.d AS DOUBLE), 12) AS sl
                FROM cen a JOIN cen b ON a.d < b.d),
              ranked AS (
                SELECT sl, CAST(row_number() OVER
                  (ORDER BY sl, d, d2) AS BIGINT) AS rn
                FROM slopes),
              mc AS (SELECT CAST(count(*) AS BIGINT) AS m FROM ranked),
              med AS (
                SELECT SUM(sl) / count(*) AS slope, MAX(m) AS n_pairs
                FROM ranked, mc
                WHERE rn = (m + 1) // 2 OR rn = (m + 2) // 2),
              resid AS (
                SELECT n_pairs, slope,
                  round(CAST(y AS DOUBLE)
                    - slope * CAST(d AS DOUBLE), 6) AS res, d
                FROM cen, med),
              rranked AS (
                SELECT n_pairs, slope, res,
                  CAST(row_number() OVER (ORDER BY res, d) AS BIGINT)
                    AS rn
                FROM resid),
              dc AS (SELECT CAST(count(*) AS BIGINT) AS nd
                     FROM rranked)
              SELECT CAST(MAX(nd) AS BIGINT) AS n_days,
                CAST(n_pairs AS BIGINT) AS n_pairs,
                round(MAX(slope), 12) AS slope,
                round((SUM(res) / count(*)) / 100.0, 6) AS intercept
              FROM rranked, dc
              WHERE rn = (nd + 1) // 2 OR rn = (nd + 2) // 2
              GROUP BY n_pairs""")),

    // ── Theil–Sen slope CONFIDENCE interval (rank-based, no bootstrap) ──
    // The error bar q_theil_sen's point estimate ships without: the
    // distribution-free Sen CI picks the pairwise-slope order
    // statistics at ranks (M ∓ z·√Var(S))/2 — Var(S) from the
    // Mann–Kendall variance of the day count. Same calendar²-bounded
    // pair frame; the two rank targets ride
    // [[RangeRank.groupValuesAtRanks]] (histogram-bracketed exact
    // selection, value-at-rank is tie-order-invariant so the hash
    // cannot move). n_days is recovered EXACTLY from the triangular
    // pair count (√(8M+1) of a perfect square is exact IEEE), so every
    // rank expression is a deterministic function of M alone —
    // identical floor/sqrt sequences in both engines; z = 1.96 is a
    // literal, not libm.
    Q("q_theil_sen_ci",
      (s, dir) => {
        // pair frame = the SHARED pinned RANKED slope census (round
        // 13) — both CI-bound order statistics are conditional aggs
        val pairs = senPairs(s, dir)
        def ndOf(n: Column) =
          floor((sqrt(n.cast("double") * 8.0 + 1.0) + 1.0) / 2.0)
        def cOf(n: Column) = {
          val nd = ndOf(n)
          sqrt(nd * (nd - 1.0) * (nd * 2.0 + 5.0) / 18.0) * 1.96
        }
        val m = col("m")
        val kLo = greatest(lit(1L),
          floor((m.cast("double") - cOf(m)) / 2.0).cast("long"))
        val kHi = least(m,
          floor((m.cast("double") + cOf(m)) / 2.0).cast("long") + 1L)
        pairs
          .agg(
            max(col("m")).as("n_pairs"),
            max(when(col("off") < kLo && kLo <= col("off") + col("c"),
              col("sl"))).as("slope_lo"),
            max(when(col("off") < kHi && kHi <= col("off") + col("c"),
              col("sl"))).as("slope_hi"))
          .select(col("n_pairs"),
            ndOf(col("n_pairs")).cast("long").as("n_days"),
            col("slope_lo"), col("slope_hi"))
      },
      Some("""WITH cen AS (
                SELECT date_diff('day', DATE '1970-01-01',
                    CAST(o_orderdate AS DATE)) AS d,
                  SUM(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS HUGEINT)) AS y
                FROM orders GROUP BY 1),
              pairs AS (
                SELECT round(CAST(b.y - a.y AS DOUBLE)
                  / CAST(b.d - a.d AS DOUBLE), 12) AS sl
                FROM cen a JOIN cen b ON a.d < b.d),
              r AS (
                SELECT sl, row_number() OVER (ORDER BY sl) AS rk,
                  COUNT(*) OVER () AS m
                FROM pairs),
              k AS (
                SELECT CAST(MAX(m) AS BIGINT) AS m,
                  floor((sqrt(CAST(MAX(m) AS DOUBLE) * 8.0 + 1.0) + 1.0)
                    / 2.0) AS ndd
                FROM r),
              b AS (
                SELECT m, ndd,
                  sqrt(ndd * (ndd - 1.0) * (ndd * 2.0 + 5.0) / 18.0)
                    * 1.96 AS c
                FROM k),
              kk AS (
                SELECT m, ndd,
                  GREATEST(1, CAST(floor((CAST(m AS DOUBLE) - c) / 2.0)
                    AS BIGINT)) AS rlo,
                  LEAST(m, CAST(floor((CAST(m AS DOUBLE) + c) / 2.0)
                    AS BIGINT) + 1) AS rhi
                FROM b)
              SELECT kk.m AS n_pairs, CAST(kk.ndd AS BIGINT) AS n_days,
                MAX(CASE WHEN r.rk = kk.rlo THEN r.sl END) AS slope_lo,
                MAX(CASE WHEN r.rk = kk.rhi THEN r.sl END) AS slope_hi
              FROM r, kk
              GROUP BY kk.m, kk.ndd""")),

    // ── Page–Hinkley drift-detector replay on daily mean value ──────────
    // The classic streaming mean-shift detector run over the event
    // calendar: PHₜ = Σ(xₜ − μₜ) − min cumulative so far, alarm when
    // PH > λ ($50). Daily means are IEEE ratios of exact cent sums;
    // the cumulative walk and its running min ride day-ordered windows
    // (left-to-right in both engines); the alarm day is an exact-
    // comparison argmin. ONE events pass to the day census.
    Q("q_page_hinkley",
      (s, dir) => {
        val wcum = Window.orderBy("d")
          .rowsBetween(Window.unboundedPreceding, 0)
        val walk = Artifacts.persist(t(s, dir, "events")
          .select(col("ts").cast("date").as("d"),
            (dec2(col("value")) * 100).cast("long").as("cents"))
          .groupBy("d")
          .agg(count(lit(1)).cast("long").as("n"),
            sum(col("cents").cast(DecimalType(38, 0))).as("sc"))
          .withColumn("cn", sum(col("n")).over(wcum).cast("long"))
          .withColumn("csc", sum(col("sc")).over(wcum))
          .select(col("d"), col("n"), col("sc"), col("cn"),
            round(col("sc").cast("double") / col("n").cast("double")
              - col("csc").cast("double") / col("cn").cast("double"), 6)
              .as("dev"))
          .withColumn("cum", sum(col("dev")).over(wcum))
          .withColumn("ph",
            round(col("cum") - min(col("cum")).over(wcum), 6)))
        val mx = walk.agg(max(col("ph")).as("max_ph"))
        val arg = walk.crossJoin(broadcast(mx))
          .filter(col("ph") === col("max_ph"))
          .agg(min(col("d")).as("peak_day"))
        val alarm = walk.filter(col("ph") > lit(5000.0))
          .agg(min(col("d")).as("first_alarm_day"),
            count(lit(1)).cast("long").as("n_alarm_days"))
        mx.crossJoin(broadcast(arg)).crossJoin(broadcast(alarm))
          .select(round(col("max_ph") / 100.0, 6).as("max_ph"),
            date_format(col("peak_day"), "yyyy-MM-dd").as("peak_day"),
            date_format(col("first_alarm_day"), "yyyy-MM-dd")
              .as("first_alarm_day"),
            col("n_alarm_days"))
      },
      Some("""WITH cen AS (
                SELECT CAST(ts AS DATE) AS d,
                  CAST(count(*) AS BIGINT) AS n,
                  SUM(CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS HUGEINT)) AS sc
                FROM events GROUP BY 1),
              cum AS (
                SELECT d, n, sc,
                  CAST(SUM(n) OVER w AS BIGINT) AS cn,
                  CAST(SUM(sc) OVER w AS HUGEINT) AS csc
                FROM cen
                WINDOW w AS (ORDER BY d
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
              dev AS (
                SELECT d,
                  round(CAST(sc AS DOUBLE) / CAST(n AS DOUBLE)
                    - CAST(csc AS DOUBLE) / CAST(cn AS DOUBLE), 6)
                    AS dev
                FROM cum),
              wlk AS (
                SELECT d,
                  SUM(dev) OVER w AS cum
                FROM dev
                WINDOW w AS (ORDER BY d
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
              ph AS (
                SELECT d,
                  round(cum - MIN(cum) OVER w, 6) AS ph
                FROM wlk
                WINDOW w AS (ORDER BY d
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
              mx AS (SELECT MAX(ph) AS max_ph FROM ph),
              pk AS (
                SELECT MIN(d) AS peak_day FROM ph, mx
                WHERE ph = max_ph),
              al AS (
                SELECT MIN(d) AS first_alarm_day,
                  CAST(count(*) AS BIGINT) AS n_alarm_days
                FROM ph WHERE ph > 5000.0)
              SELECT round(max_ph / 100.0, 6) AS max_ph,
                strftime(peak_day, '%Y-%m-%d') AS peak_day,
                strftime(first_alarm_day, '%Y-%m-%d')
                  AS first_alarm_day,
                n_alarm_days
              FROM mx, pk, al""")),

    // ── stationary distribution + entropy rate of the type chain ────────
    // Where does the event-type Markov chain settle, and how
    // predictable is it? Six power-iteration rounds in EXACT ×10¹²
    // integer probability units with truncating division — the
    // q_pagerank determinism trick on the ≤types² transition census
    // (a bounded frame; the "iteration" is six joins of 5-row
    // frames). Entropy rate H = Σπᵢp_ij·ln(1/p_ij) folds ≤25
    // (i,j)-pinned 12-dec terms over the SAME persisted census.
    Q("q_markov_stationary",
      (s, dir) => {
        val byUser = Window.partitionBy("user_id")
          .orderBy("ts", "event_id")
        val trans = Artifacts.persist(t(s, dir, "events")
          .select(col("user_id"), col("event_type").as("cur"),
            lead(col("event_type"), 1).over(byUser).as("nxt"))
          .filter(col("nxt").isNotNull)
          .groupBy("cur", "nxt")
          .agg(count(lit(1)).cast("long").as("cnt"))
          .withColumn("r",
            sum(col("cnt")).over(Window.partitionBy("cur")).cast("long")))
        val states = trans.select(col("cur").as("state")).distinct()
        val ns = states.agg(count(lit(1)).cast("long").as("k"))
        var pi = states.crossJoin(broadcast(ns))
          .select(col("state"),
            expr("CAST(1000000000000 AS BIGINT) div k").as("pi"))
        for (_ <- 1 to 6) {
          pi = trans
            .join(pi, trans("cur") === pi("state"))
            .select(col("nxt").as("st"),
              expr("(CAST(pi AS DECIMAL(38,0)) * cnt) div r")
                .as("contrib"))
            .groupBy("st")
            .agg(sum(col("contrib")).cast("long").as("pi"))
            .select(col("st").as("state"), col("pi"))
        }
        val piF = Artifacts.persist(pi)
        val h = trans.join(piF, trans("cur") === piF("state"))
          .select(col("cur"), col("nxt"),
            round((col("pi").cast("double") / lit(1e12))
              * (col("cnt").cast("double") / col("r").cast("double"))
              * log(col("r").cast("double") / col("cnt").cast("double")),
              12).as("term"))
          .agg(round(expr(
            """aggregate(array_sort(collect_list(
                 struct(cur, nxt, term))),
               CAST(0 AS DOUBLE), (a, x) -> a + x.term)"""), 12)
            .as("entropy_rate"))
        pi.crossJoin(broadcast(h))
          .select(col("state"),
            round(col("pi").cast("double") / lit(1e12), 12)
              .as("stationary_p"),
            col("entropy_rate"))
          .orderBy("state")
      },
      Some("""WITH pairs AS (
                SELECT event_type AS cur,
                  lead(event_type) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) AS nxt
                FROM events),
              cen AS (
                SELECT cur, nxt, CAST(count(*) AS BIGINT) AS cnt
                FROM pairs WHERE nxt IS NOT NULL GROUP BY 1, 2),
              trans AS (
                SELECT cur, nxt, cnt,
                  CAST(SUM(cnt) OVER (PARTITION BY cur) AS BIGINT) AS r
                FROM cen),
              st AS (SELECT DISTINCT cur AS state FROM trans),
              ns AS (SELECT CAST(count(*) AS BIGINT) AS k FROM st),
              p0 AS (
                SELECT state, CAST(1000000000000 // k AS BIGINT) AS pi
                FROM st, ns),
              p1 AS (
                SELECT nxt AS state,
                  CAST(SUM((CAST(pi AS HUGEINT) * cnt) // r) AS BIGINT)
                    AS pi
                FROM trans JOIN p0 ON trans.cur = p0.state GROUP BY 1),
              p2 AS (
                SELECT nxt AS state,
                  CAST(SUM((CAST(pi AS HUGEINT) * cnt) // r) AS BIGINT)
                    AS pi
                FROM trans JOIN p1 ON trans.cur = p1.state GROUP BY 1),
              p3 AS (
                SELECT nxt AS state,
                  CAST(SUM((CAST(pi AS HUGEINT) * cnt) // r) AS BIGINT)
                    AS pi
                FROM trans JOIN p2 ON trans.cur = p2.state GROUP BY 1),
              p4 AS (
                SELECT nxt AS state,
                  CAST(SUM((CAST(pi AS HUGEINT) * cnt) // r) AS BIGINT)
                    AS pi
                FROM trans JOIN p3 ON trans.cur = p3.state GROUP BY 1),
              p5 AS (
                SELECT nxt AS state,
                  CAST(SUM((CAST(pi AS HUGEINT) * cnt) // r) AS BIGINT)
                    AS pi
                FROM trans JOIN p4 ON trans.cur = p4.state GROUP BY 1),
              p6 AS (
                SELECT nxt AS state,
                  CAST(SUM((CAST(pi AS HUGEINT) * cnt) // r) AS BIGINT)
                    AS pi
                FROM trans JOIN p5 ON trans.cur = p5.state GROUP BY 1),
              terms AS (
                SELECT cur, nxt,
                  round((CAST(pi AS DOUBLE) / 1e12)
                    * (CAST(cnt AS DOUBLE) / CAST(r AS DOUBLE))
                    * ln(CAST(r AS DOUBLE) / CAST(cnt AS DOUBLE)), 12)
                    AS term
                FROM trans JOIN p6 ON trans.cur = p6.state),
              hh AS (
                SELECT round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                  list(term ORDER BY cur, nxt)), (a, x) -> a + x), 12)
                  AS entropy_rate
                FROM terms)
              SELECT state,
                round(CAST(pi AS DOUBLE) / 1e12, 12) AS stationary_p,
                entropy_rate
              FROM p6, hh ORDER BY state""")),

    // ── 1-lag Granger causality: does volume lead spend? ────────────────
    // Does yesterday's event COUNT improve today's mean-value
    // forecast beyond yesterday's value itself? Restricted
    // (y~1+y₋₁) vs unrestricted (y~1+y₋₁+x₋₁) OLS in CLOSED FORM —
    // the 2×2 normal equations solve by determinant, no iteration.
    // ONE day census; the lag triple rides one day-ordered window;
    // nine exact DECIMAL raw sums in one agg; centered sums, betas,
    // SSRs and F are row-local IEEE. NULL-guarded degeneracies.
    Q("q_granger",
      (s, dir) => {
        val wd = Window.orderBy("d")
        val tri = t(s, dir, "events")
          .select(col("ts").cast("date").as("d"),
            (dec2(col("value")) * 100).cast("long").as("cents"))
          .groupBy("d")
          .agg(count(lit(1)).cast("long").as("x0"),
            sum(col("cents").cast(DecimalType(38, 0))).as("sc"))
          .select(col("d"),
            expr("CAST(sc div x0 AS BIGINT)").as("ym"), col("x0"))
          .withColumn("u", lag(col("ym"), 1).over(wd))
          .withColumn("v", lag(col("x0"), 1).over(wd))
          .filter(col("u").isNotNull && col("v").isNotNull)
        val m = tri.agg(count(lit(1)).cast("long").as("n"),
          sum(col("ym").cast(DecimalType(38, 0))).as("sy"),
          sum(col("u").cast(DecimalType(38, 0))).as("su"),
          sum(col("v").cast(DecimalType(38, 0))).as("sv"),
          sum(col("ym").cast(DecimalType(38, 0)) * col("ym")).as("syy"),
          sum(col("u").cast(DecimalType(38, 0)) * col("u")).as("suu"),
          sum(col("v").cast(DecimalType(38, 0)) * col("v")).as("svv"),
          sum(col("u").cast(DecimalType(38, 0)) * col("ym")).as("suy"),
          sum(col("v").cast(DecimalType(38, 0)) * col("ym")).as("svy"),
          sum(col("u").cast(DecimalType(38, 0)) * col("v")).as("suv"))
        val c = m.select(col("n"),
          (col("syy").cast("double") - col("sy").cast("double")
            * col("sy").cast("double") / col("n").cast("double"))
            .as("cyy"),
          (col("suu").cast("double") - col("su").cast("double")
            * col("su").cast("double") / col("n").cast("double"))
            .as("cuu"),
          (col("svv").cast("double") - col("sv").cast("double")
            * col("sv").cast("double") / col("n").cast("double"))
            .as("cvv"),
          (col("suy").cast("double") - col("su").cast("double")
            * col("sy").cast("double") / col("n").cast("double"))
            .as("cuy"),
          (col("svy").cast("double") - col("sv").cast("double")
            * col("sy").cast("double") / col("n").cast("double"))
            .as("cvy"),
          (col("suv").cast("double") - col("su").cast("double")
            * col("sv").cast("double") / col("n").cast("double"))
            .as("cuv"))
        c.select(col("n"),
            when(col("cuu") <= 0, lit(null).cast("double"))
              .otherwise(col("cyy")
                - col("cuy") * col("cuy") / col("cuu")).as("ssr_r"),
            (col("cuu") * col("cvv") - col("cuv") * col("cuv"))
              .as("det"),
            col("cyy"), col("cuy"), col("cvy"), col("cuv"),
            col("cuu"), col("cvv"))
          .select(col("n"), col("ssr_r"),
            when(col("det") <= 0, lit(null).cast("double"))
              .otherwise(col("cyy")
                - ((col("cvv") * col("cuy") - col("cuv") * col("cvy"))
                  / col("det")) * col("cuy")
                - ((col("cuu") * col("cvy") - col("cuv") * col("cuy"))
                  / col("det")) * col("cvy")).as("ssr_u"))
          .select(col("n"),
            round(col("ssr_r"), 6).as("ssr_restricted"),
            round(col("ssr_u"), 6).as("ssr_unrestricted"),
            when(col("ssr_r").isNull || col("ssr_u").isNull
              || col("n") <= 3 || col("ssr_u") <= 0,
              lit(null).cast("double"))
              .otherwise(round((col("ssr_r") - col("ssr_u"))
                / (col("ssr_u") / (col("n") - 3).cast("double")), 6))
              .as("f_stat"))
      },
      Some("""WITH cen AS (
                SELECT CAST(ts AS DATE) AS d,
                  CAST(count(*) AS BIGINT) AS x0,
                  SUM(CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS HUGEINT)) AS sc
                FROM events GROUP BY 1),
              ym AS (
                SELECT d, CAST(sc // x0 AS BIGINT) AS ym, x0 FROM cen),
              tri AS (
                SELECT ym, lag(ym) OVER (ORDER BY d) AS u,
                  lag(x0) OVER (ORDER BY d) AS v
                FROM ym),
              m AS (
                SELECT CAST(count(*) AS BIGINT) AS n,
                  SUM(CAST(ym AS HUGEINT)) AS sy,
                  SUM(CAST(u AS HUGEINT)) AS su,
                  SUM(CAST(v AS HUGEINT)) AS sv,
                  SUM(CAST(ym AS HUGEINT) * ym) AS syy,
                  SUM(CAST(u AS HUGEINT) * u) AS suu,
                  SUM(CAST(v AS HUGEINT) * v) AS svv,
                  SUM(CAST(u AS HUGEINT) * ym) AS suy,
                  SUM(CAST(v AS HUGEINT) * ym) AS svy,
                  SUM(CAST(u AS HUGEINT) * v) AS suv
                FROM tri WHERE u IS NOT NULL AND v IS NOT NULL),
              c AS (
                SELECT n,
                  CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)
                    * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS cyy,
                  CAST(suu AS DOUBLE) - CAST(su AS DOUBLE)
                    * CAST(su AS DOUBLE) / CAST(n AS DOUBLE) AS cuu,
                  CAST(svv AS DOUBLE) - CAST(sv AS DOUBLE)
                    * CAST(sv AS DOUBLE) / CAST(n AS DOUBLE) AS cvv,
                  CAST(suy AS DOUBLE) - CAST(su AS DOUBLE)
                    * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS cuy,
                  CAST(svy AS DOUBLE) - CAST(sv AS DOUBLE)
                    * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS cvy,
                  CAST(suv AS DOUBLE) - CAST(su AS DOUBLE)
                    * CAST(sv AS DOUBLE) / CAST(n AS DOUBLE) AS cuv
                FROM m),
              s1 AS (
                SELECT n,
                  CASE WHEN cuu <= 0 THEN NULL
                    ELSE cyy - cuy * cuy / cuu END AS ssr_r,
                  cuu * cvv - cuv * cuv AS det,
                  cyy, cuy, cvy, cuv, cuu, cvv
                FROM c),
              s2 AS (
                SELECT n, ssr_r,
                  CASE WHEN det <= 0 THEN NULL
                    ELSE cyy
                      - ((cvv * cuy - cuv * cvy) / det) * cuy
                      - ((cuu * cvy - cuv * cuy) / det) * cvy END
                    AS ssr_u
                FROM s1)
              SELECT n,
                round(ssr_r, 6) AS ssr_restricted,
                round(ssr_u, 6) AS ssr_unrestricted,
                CASE WHEN ssr_r IS NULL OR ssr_u IS NULL OR n <= 3
                    OR ssr_u <= 0 THEN NULL
                  ELSE round((ssr_r - ssr_u)
                    / (ssr_u / CAST(n - 3 AS DOUBLE)), 6) END AS f_stat
              FROM s2""")),

    // ── Shewhart control chart with Western Electric rule 2 ─────────────
    // Statistical process control on daily order volume: rule 1 =
    // a day beyond μ±3σ, rule 2 = two of three consecutive days
    // beyond 2σ on the same side. Control limits are IEEE of exact
    // sums off the persisted day census; rule flags are boundary
    // compares of identical doubles; the 3-day look-back rides ONE
    // day-ordered window (two lags). Exact-compare argmin first-
    // violation days.
    Q("q_control_chart",
      (s, dir) => {
        val wd = Window.orderBy("d")
        val cen = Artifacts.persist(t(s, dir, "orders")
          .select(
            expr("datediff(CAST(o_orderdate AS DATE), DATE'1970-01-01')")
              .as("d"))
          .groupBy("d").agg(count(lit(1)).cast("long").as("x")))
        val mom = cen.agg(count(lit(1)).cast("long").as("n"),
          sum(col("x")).cast("long").as("s1"),
          sum(col("x") * col("x")).cast("long").as("s2"))
          .select(col("n"),
            (col("s1").cast("double") / col("n").cast("double"))
              .as("mu"),
            sqrt(col("s2").cast("double") / col("n").cast("double")
              - (col("s1").cast("double") / col("n").cast("double"))
                * (col("s1").cast("double") / col("n").cast("double")))
              .as("sd"))
        val flags = Artifacts.persist(cen.crossJoin(broadcast(mom))
          .select(col("d"), col("n"),
            (col("x").cast("double") > col("mu")
              + lit(3.0) * col("sd")
              || col("x").cast("double") < col("mu")
                - lit(3.0) * col("sd")).cast("long").as("r1"),
            when(col("x").cast("double") > col("mu")
              + lit(2.0) * col("sd"), lit(1L))
              .when(col("x").cast("double") < col("mu")
                - lit(2.0) * col("sd"), lit(-1L))
              .otherwise(lit(0L)).as("side2"))
          .withColumn("p1", lag(col("side2"), 1).over(wd))
          .withColumn("p2", lag(col("side2"), 2).over(wd))
          .select(col("d"), col("n"), col("r1"),
            (col("side2") =!= 0
              && (col("side2") === coalesce(col("p1"), lit(0L))
                || col("side2") === coalesce(col("p2"), lit(0L))))
              .cast("long").as("r2")))
        flags.agg(max(col("n")).as("n_days"),
            sum(col("r1")).cast("long").as("n_rule1"),
            sum(col("r2")).cast("long").as("n_rule2"),
            min(when(col("r1") === 1, col("d"))).cast("long")
              .as("first_rule1_day"),
            min(when(col("r2") === 1, col("d"))).cast("long")
              .as("first_rule2_day"))
      },
      Some("""WITH cen AS (
                SELECT date_diff('day', DATE '1970-01-01',
                    CAST(o_orderdate AS DATE)) AS d,
                  CAST(count(*) AS BIGINT) AS x
                FROM orders GROUP BY 1),
              mom AS (
                SELECT CAST(count(*) AS BIGINT) AS n,
                  CAST(SUM(x) AS BIGINT) AS s1,
                  CAST(SUM(x * x) AS BIGINT) AS s2
                FROM cen),
              mm AS (
                SELECT n,
                  CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
                  sqrt(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
                    - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                      * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
                    AS sd
                FROM mom),
              fl AS (
                SELECT d, n,
                  CASE WHEN CAST(x AS DOUBLE) > mu + 3.0 * sd
                    OR CAST(x AS DOUBLE) < mu - 3.0 * sd
                    THEN 1 ELSE 0 END AS r1,
                  CASE WHEN CAST(x AS DOUBLE) > mu + 2.0 * sd THEN 1
                    WHEN CAST(x AS DOUBLE) < mu - 2.0 * sd THEN -1
                    ELSE 0 END AS side2
                FROM cen, mm),
              lagd AS (
                SELECT d, n, r1, side2,
                  lag(side2, 1) OVER (ORDER BY d) AS p1,
                  lag(side2, 2) OVER (ORDER BY d) AS p2
                FROM fl),
              r2f AS (
                SELECT d, n, r1,
                  CASE WHEN side2 <> 0
                    AND (side2 = COALESCE(p1, 0)
                      OR side2 = COALESCE(p2, 0)) THEN 1 ELSE 0 END
                    AS r2
                FROM lagd)
              SELECT CAST(MAX(n) AS BIGINT) AS n_days,
                CAST(SUM(r1) AS BIGINT) AS n_rule1,
                CAST(SUM(r2) AS BIGINT) AS n_rule2,
                CAST(MIN(CASE WHEN r1 = 1 THEN d END) AS BIGINT)
                  AS first_rule1_day,
                CAST(MIN(CASE WHEN r2 = 1 THEN d END) AS BIGINT)
                  AS first_rule2_day
              FROM r2f""")),

    // ── p-chart: daily return-share attribute control chart ─────────────
    // The SPC chart family's attribute member (q_control_chart is the
    // count chart, q_cusum_chart/q_ewma_chart the drift detectors):
    // per ship-day return share p_t = d_t/n_t against VARYING 3σ
    // limits p̄ ± 3·√(p̄(1−p̄)/n_t) — the varying subgroup size is what
    // DEFINES a p-chart (a fixed-limit chart false-alarms on thin
    // days). FP-free by construction: every value is a division/sqrt
    // of exact integers — sqrt is correctly-rounded IEEE, so both
    // engines produce bit-identical limits with zero rounding. One
    // lineitem scan → persisted calendar-bounded day census → 1-row
    // grand-rate broadcast → row-local limits.
    Q("q_p_chart",
      (s, dir) => {
        val cen = Artifacts.persist(t(s, dir, "lineitem")
          .select(
            expr("datediff(CAST(l_shipdate AS DATE), DATE'1970-01-01')")
              .as("d"),
            when(col("l_returnflag") === "R", 1L).otherwise(0L).as("r"))
          .groupBy("d")
          .agg(count(lit(1)).cast("long").as("n"),
            sum(col("r")).cast("long").as("ret")))
        val tot = cen.agg(
          (sum(col("ret")).cast("double") / sum(col("n")).cast("double"))
            .as("pbar")).localCheckpoint(false)
        cen.crossJoin(broadcast(tot))
          .select(col("d"), col("n"), col("ret"), col("pbar"),
            (col("ret").cast("double") / col("n").cast("double")).as("p"),
            (col("pbar") * (lit(1.0) - col("pbar"))
              / col("n").cast("double")).as("v"))
          .select(col("d"), col("n"), col("ret"), col("p"),
            (col("pbar") + sqrt(col("v")) * 3.0).as("ucl"),
            greatest(lit(0.0), col("pbar") - sqrt(col("v")) * 3.0)
              .as("lcl"))
          .withColumn("alarm", col("p") > col("ucl")
            || col("p") < col("lcl"))
          .orderBy("d")
      },
      Some("""WITH cen AS (
                SELECT date_diff('day', DATE '1970-01-01',
                    CAST(l_shipdate AS DATE)) AS d,
                  CAST(count(*) AS BIGINT) AS n,
                  CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0
                    END) AS BIGINT) AS ret
                FROM lineitem GROUP BY 1),
              tot AS (
                SELECT CAST(SUM(ret) AS DOUBLE) / CAST(SUM(n) AS DOUBLE)
                  AS pbar
                FROM cen),
              lim AS (
                SELECT d, n, ret,
                  CAST(ret AS DOUBLE) / CAST(n AS DOUBLE) AS p,
                  pbar + sqrt(pbar * (1.0 - pbar) / CAST(n AS DOUBLE))
                    * 3.0 AS ucl,
                  greatest(0.0, pbar - sqrt(pbar * (1.0 - pbar)
                    / CAST(n AS DOUBLE)) * 3.0) AS lcl
                FROM cen, tot)
              SELECT d, n, ret, p, ucl, lcl,
                (p > ucl OR p < lcl) AS alarm
              FROM lim ORDER BY d""")),

    // ── c-chart: daily defect-count control limits ──────────────────────
    // Completes the attribute-chart family beside q_p_chart (proportion)
    // and q_control_chart (individuals): Poisson count limits on the
    // daily error-event census, c̄ ± 3√c̄ with the LCL floored at 0.
    // One partial+final day census; the 1-row c̄ broadcasts back.
    Q("q_c_chart",
      (s, dir) => {
        val cen = t(s, dir, "events")
          .filter(col("event_type") === "error")
          .select(expr("datediff(CAST(ts AS DATE), DATE'1970-01-01')")
            .as("d"))
          .groupBy("d").agg(count(lit(1)).cast("long").as("c"))
        val tot = cen.agg((sum(col("c")).cast("double")
          / count(lit(1)).cast("double")).as("cbar")).localCheckpoint(false)
        cen.crossJoin(broadcast(tot))
          .select(col("d"), col("c"), col("cbar"),
            (col("cbar") + sqrt(col("cbar")) * 3.0).as("ucl"),
            greatest(lit(0.0), col("cbar") - sqrt(col("cbar")) * 3.0)
              .as("lcl"))
          .withColumn("alarm", col("c").cast("double") > col("ucl")
            || col("c").cast("double") < col("lcl"))
          .orderBy("d")
      },
      Some("""WITH cen AS (
                SELECT date_diff('day', DATE '1970-01-01',
                    CAST(ts AS DATE)) AS d,
                  CAST(count(*) AS BIGINT) AS c
                FROM events WHERE event_type = 'error' GROUP BY 1),
              tot AS (
                SELECT CAST(SUM(c) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                  AS cbar
                FROM cen)
              SELECT d, c, cbar,
                cbar + sqrt(cbar) * 3.0 AS ucl,
                greatest(0.0, cbar - sqrt(cbar) * 3.0) AS lcl,
                (CAST(c AS DOUBLE) > cbar + sqrt(cbar) * 3.0
                  OR CAST(c AS DOUBLE)
                    < greatest(0.0, cbar - sqrt(cbar) * 3.0)) AS alarm
              FROM cen, tot ORDER BY d""")),

    // ── u-chart: defects per unit with varying daily exposure ───────────
    // The varying-n attribute chart: u = errors per ACTIVE USER per
    // day, limits ū ± 3√(ū/nᵢ) — exposure (distinct users) varies by
    // day, so each day gets its own limit width, exactly the q_p_chart
    // discipline with a Poisson-rate variance. One day census carrying
    // both the error count and the exact distinct-user exposure.
    Q("q_u_chart",
      (s, dir) => {
        val cen = Artifacts.persist(t(s, dir, "events")
          .select(expr("datediff(CAST(ts AS DATE), DATE'1970-01-01')")
            .as("d"),
            col("user_id"),
            when(col("event_type") === "error", 1L).otherwise(0L).as("e"))
          .groupBy("d")
          .agg(countDistinct(col("user_id")).cast("long").as("n_units"),
            sum(col("e")).cast("long").as("c")))
        val tot = cen.agg((sum(col("c")).cast("double")
          / sum(col("n_units")).cast("double")).as("ubar"))
          .localCheckpoint(false)
        cen.crossJoin(broadcast(tot))
          .select(col("d"), col("n_units"), col("c"), col("ubar"),
            (col("c").cast("double") / col("n_units").cast("double"))
              .as("u"),
            (col("ubar")
              + sqrt(col("ubar") / col("n_units").cast("double")) * 3.0)
              .as("ucl"),
            greatest(lit(0.0), col("ubar")
              - sqrt(col("ubar") / col("n_units").cast("double")) * 3.0)
              .as("lcl"))
          .withColumn("alarm", col("u") > col("ucl")
            || col("u") < col("lcl"))
          .orderBy("d")
      },
      Some("""WITH cen AS (
                SELECT date_diff('day', DATE '1970-01-01',
                    CAST(ts AS DATE)) AS d,
                  CAST(count(DISTINCT user_id) AS BIGINT) AS n_units,
                  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0
                    END) AS BIGINT) AS c
                FROM events GROUP BY 1),
              tot AS (
                SELECT CAST(SUM(c) AS DOUBLE)
                  / CAST(SUM(n_units) AS DOUBLE) AS ubar
                FROM cen),
              lim AS (
                SELECT d, n_units, c, ubar,
                  CAST(c AS DOUBLE) / CAST(n_units AS DOUBLE) AS u,
                  ubar + sqrt(ubar / CAST(n_units AS DOUBLE)) * 3.0
                    AS ucl,
                  greatest(0.0, ubar
                    - sqrt(ubar / CAST(n_units AS DOUBLE)) * 3.0) AS lcl
                FROM cen, tot)
              SELECT d, n_units, c, ubar, u, ucl, lcl,
                (u > ucl OR u < lcl) AS alarm
              FROM lim ORDER BY d""")),

    // ── upper/lower tail dependence: spend vs traffic extremes ──────────
    // Do the heaviest-revenue days coincide with the busiest days?
    // Empirical tail-dependence λ_U = P(Y in top-k | X in top-k) on the
    // day census (X = cent total, Y = event count), k = ⌈n/20⌉ — the
    // copula-tail readout that correlation misses. Ranks are
    // row_number over (value, day) total orders, so the tail sets and
    // both λ are EXACT integer counts and two final divisions; one
    // events pass, day-census-bounded.
    Q("q_tail_dependence",
      (s, dir) => {
        val days = t(s, dir, "events")
          .select(col("ts").cast("date").as("d"),
            (dec2(col("value")) * 100).cast("long").as("cents"))
          .groupBy("d")
          .agg(sum(col("cents").cast(DecimalType(38, 0))).as("x"),
            count(lit(1)).cast("long").as("y"))
          .withColumn("rx",
            row_number().over(Window.orderBy("x", "d")).cast("long"))
          .withColumn("ry",
            row_number().over(Window.orderBy("y", "d")).cast("long"))
        days
          .withColumn("n", count(lit(1)).over(Window.partitionBy()))
          .withColumn("k",
            greatest(lit(1L), expr("CAST((n + 19) div 20 AS BIGINT)")))
          .agg(max(col("n")).cast("long").as("n_days"),
            max(col("k")).cast("long").as("k_tail"),
            sum(when(col("rx") > col("n") - col("k")
              && col("ry") > col("n") - col("k"), 1L).otherwise(0L))
              .cast("long").as("both_upper"),
            sum(when(col("rx") <= col("k") && col("ry") <= col("k"), 1L)
              .otherwise(0L)).cast("long").as("both_lower"))
          .select(col("n_days"), col("k_tail"),
            col("both_upper"), col("both_lower"),
            round(col("both_upper").cast("double")
              / col("k_tail").cast("double"), 12).as("lambda_upper"),
            round(col("both_lower").cast("double")
              / col("k_tail").cast("double"), 12).as("lambda_lower"))
      },
      Some("""WITH cen AS (
                SELECT CAST(ts AS DATE) AS d,
                  SUM(CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS HUGEINT)) AS x,
                  CAST(count(*) AS BIGINT) AS y
                FROM events GROUP BY 1),
              rk AS (
                SELECT d, x, y,
                  CAST(row_number() OVER (ORDER BY x, d) AS BIGINT)
                    AS rx,
                  CAST(row_number() OVER (ORDER BY y, d) AS BIGINT)
                    AS ry
                FROM cen),
              nn AS (
                SELECT CAST(count(*) AS BIGINT) AS n,
                  GREATEST(CAST(1 AS BIGINT),
                    CAST((count(*) + 19) // 20 AS BIGINT)) AS k
                FROM rk)
              SELECT n AS n_days, k AS k_tail,
                CAST(SUM(CASE WHEN rx > n - k AND ry > n - k
                  THEN 1 ELSE 0 END) AS BIGINT) AS both_upper,
                CAST(SUM(CASE WHEN rx <= k AND ry <= k
                  THEN 1 ELSE 0 END) AS BIGINT) AS both_lower,
                round(CAST(SUM(CASE WHEN rx > n - k AND ry > n - k
                  THEN 1 ELSE 0 END) AS DOUBLE) / k, 12)
                  AS lambda_upper,
                round(CAST(SUM(CASE WHEN rx <= k AND ry <= k
                  THEN 1 ELSE 0 END) AS DOUBLE) / k, 12)
                  AS lambda_lower
              FROM rk, nn GROUP BY n, k""")),

    // ── STL-lite: weekday seasonal profile + seasonality strength ───────
    // Classical decomposition of daily revenue: trend = centered 7-day
    // MA (kept only where the window is full, so the trend is an EXACT
    // integer 7-day cent sum), detrended = 7·x − t7 (exact), seasonal =
    // weekday mean of detrended, remainder = detrended − seasonal, and
    // strength = 1 − Var(R)/Var(detrended). Remainders are row-local
    // IEEE on identical doubles, μ-integerized to 1e-6 dollars so the
    // variance sums are EXACT integers — order-free, no pinned fold.
    // One orders pass → persisted day census; everything downstream is
    // day- or weekday-bounded.
    Q("q_seasonal_strength",
      (s, dir) => {
        val w7 = Window.orderBy("d").rowsBetween(-3, 3)
        // persist: the detrended day frame feeds the weekday census AND
        // the remainder/variance pass — un-persisted, each consumer
        // re-scans orders
        val det = Artifacts.persist(t(s, dir, "orders")
          .select(col("o_orderdate").cast("date").as("d"),
            expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
              .as("c"))
          .groupBy("d")
          .agg(sum(col("c")).cast("long").as("x"))
          .withColumn("t7", sum(col("x")).over(w7).cast("long"))
          .withColumn("n7", count(lit(1)).over(w7))
          .filter(col("n7") === 7)
          .select(col("d"), dayofweek(col("d")).cast("long").as("dow"),
            (lit(7L) * col("x") - col("t7")).as("det7")))
        val season = det.groupBy("dow")
          .agg(count(lit(1)).cast("long").as("n_days"),
            sum(col("det7").cast(DecimalType(38, 0))).as("sdet"))
          .select(col("dow"), col("n_days"),
            (col("sdet").cast("double") / col("n_days").cast("double"))
              .as("s_units"))
        val rem = det.join(broadcast(season), Seq("dow"))
          .select(
            floor((col("det7").cast("double") - col("s_units"))
              / 700.0 * 1e6 + 0.5).cast("long").as("r6"),
            floor(col("det7").cast("double") / 700.0 * 1e6 + 0.5)
              .cast("long").as("d6"))
          .agg(count(lit(1)).cast("long").as("n"),
            sum(col("r6").cast(DecimalType(38, 0))).as("sr"),
            sum(col("r6").cast(DecimalType(38, 0)) * col("r6")).as("srr"),
            sum(col("d6").cast(DecimalType(38, 0))).as("sd"),
            sum(col("d6").cast(DecimalType(38, 0)) * col("d6")).as("sdd"))
          .select(col("n"),
            ((col("srr").cast("double")
              - col("sr").cast("double") * col("sr").cast("double")
                / col("n").cast("double"))
              / (col("n") - 1).cast("double") / 1e12).as("var_r"),
            ((col("sdd").cast("double")
              - col("sd").cast("double") * col("sd").cast("double")
                / col("n").cast("double"))
              / (col("n") - 1).cast("double") / 1e12).as("var_d"))
        season.crossJoin(broadcast(rem))
          .select(col("dow"), col("n_days"),
            round(col("s_units") / 700.0, 6).as("seasonal_dollars"),
            when(col("var_d") <= 0, lit(null).cast("double"))
              .otherwise(round(lit(1.0) - col("var_r") / col("var_d"), 6))
              .as("seasonal_strength"))
          .orderBy("dow")
      },
      Some("""WITH cen AS (
                SELECT CAST(o_orderdate AS DATE) AS d,
                  CAST(SUM(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2))
                    * 100 AS BIGINT) AS HUGEINT)) AS BIGINT) AS x
                FROM orders GROUP BY 1),
              ma AS (
                SELECT d, x,
                  CAST(SUM(x) OVER w AS BIGINT) AS t7,
                  CAST(count(*) OVER w AS BIGINT) AS n7
                FROM cen
                WINDOW w AS (ORDER BY d
                  ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
              det AS (
                SELECT d, CAST(dayofweek(d) + 1 AS BIGINT) AS dow,
                  7 * x - t7 AS det7
                FROM ma WHERE n7 = 7),
              season AS (
                SELECT dow, CAST(count(*) AS BIGINT) AS n_days,
                  CAST(SUM(CAST(det7 AS HUGEINT)) AS DOUBLE)
                    / CAST(count(*) AS DOUBLE) AS s_units
                FROM det GROUP BY 1),
              r6 AS (
                SELECT
                  CAST(floor((CAST(det7 AS DOUBLE) - s_units)
                    / 700.0 * 1e6 + 0.5) AS BIGINT) AS r6,
                  CAST(floor(CAST(det7 AS DOUBLE) / 700.0 * 1e6 + 0.5)
                    AS BIGINT) AS d6
                FROM det JOIN season USING (dow)),
              vv AS (
                SELECT CAST(count(*) AS BIGINT) AS n,
                  (CAST(SUM(CAST(r6 AS HUGEINT) * r6) AS DOUBLE)
                    - CAST(SUM(CAST(r6 AS HUGEINT)) AS DOUBLE)
                      * CAST(SUM(CAST(r6 AS HUGEINT)) AS DOUBLE)
                      / CAST(count(*) AS DOUBLE))
                    / CAST(count(*) - 1 AS DOUBLE) / 1e12 AS var_r,
                  (CAST(SUM(CAST(d6 AS HUGEINT) * d6) AS DOUBLE)
                    - CAST(SUM(CAST(d6 AS HUGEINT)) AS DOUBLE)
                      * CAST(SUM(CAST(d6 AS HUGEINT)) AS DOUBLE)
                      / CAST(count(*) AS DOUBLE))
                    / CAST(count(*) - 1 AS DOUBLE) / 1e12 AS var_d
                FROM r6)
              SELECT dow, n_days,
                round(s_units / 700.0, 6) AS seasonal_dollars,
                CASE WHEN var_d <= 0 THEN NULL
                  ELSE round(1.0 - var_r / var_d, 6) END
                  AS seasonal_strength
              FROM season, vv ORDER BY dow""")),

    // ── local-level Kalman filter on daily mean spend ───────────────────
    // State-space smoothing the EWMA family can't do: a 1-D Kalman
    // filter (Q=1, R=25, P₀=100 $²) whose gain ADAPTS — high while the
    // prior is vague, converging to the steady-state Riccati gain.
    // Day means are IEEE ratios of exact cent sums; the replay folds
    // the day-ordered census with the Spark struct-fold ≡ recursive-CTE
    // oracle discipline (identical per-step op text, bit-equal
    // doubles). One events pass, day-census-bounded state.
    Q("q_kalman_filter",
      (s, dir) => {
        val daily = t(s, dir, "events")
          .select(col("ts").cast("date").as("d"),
            (dec2(col("value")) * 100).cast("long").as("cents"))
          .groupBy("d")
          .agg(count(lit(1)).cast("long").as("n"),
            sum(col("cents").cast(DecimalType(38, 0))).as("sc"))
          .select(col("d"),
            (col("sc").cast("double") / col("n").cast("double") / 100.0)
              .as("v"))
        daily
          .agg(sort_array(collect_list(struct(col("d"), col("v"))))
            .as("ser"))
          .select(expr(
            """aggregate(
                 slice(ser, 2, size(ser) - 1),
                 named_struct(
                   'x', ser[0].v, 'p', CAST(100.0 AS DOUBLE), 'n', 1L),
                 (a, x) -> named_struct(
                   'x', a.x + ((a.p + 1.0) / (a.p + 1.0 + 25.0))
                        * (x.v - a.x),
                   'p', (1.0 - (a.p + 1.0) / (a.p + 1.0 + 25.0))
                        * (a.p + 1.0),
                   'n', a.n + 1L))""").as("st"))
          .select(col("st.n").as("n_days"),
            round(col("st.x"), 6).as("level"),
            round(col("st.p"), 6).as("p_var"),
            round((col("st.p") + 1.0) / (col("st.p") + 1.0 + 25.0), 6)
              .as("gain_next"))
      },
      Some("""WITH RECURSIVE daily AS (
                SELECT CAST(ts AS DATE) AS d,
                  CAST(count(*) AS BIGINT) AS n,
                  SUM(CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS HUGEINT)) AS sc
                FROM events GROUP BY 1),
              idx AS (
                SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT)
                  AS i,
                  CAST(sc AS DOUBLE) / CAST(n AS DOUBLE) / 100.0 AS v
                FROM daily),
              rec(i, x, p) AS (
                SELECT CAST(1 AS BIGINT), v, CAST(100.0 AS DOUBLE)
                FROM idx WHERE i = 1
                UNION ALL
                SELECT r.i + 1,
                  r.x + ((r.p + 1.0) / (r.p + 1.0 + 25.0))
                    * (e.v - r.x),
                  (1.0 - (r.p + 1.0) / (r.p + 1.0 + 25.0))
                    * (r.p + 1.0)
                FROM rec r JOIN idx e ON e.i = r.i + 1)
              SELECT i AS n_days, round(x, 6) AS level,
                round(p, 6) AS p_var,
                round((p + 1.0) / (p + 1.0 + 25.0), 6) AS gain_next
              FROM rec WHERE i = (SELECT max(i) FROM idx)""")),

    // ── permutation entropy of daily revenue (order-3 patterns) ─────────
    // Bandt–Pompe complexity: classify each (xₜ, xₜ₊₁, xₜ₊₂) triple by
    // its strict-inequality ordinal pattern (ties collapse to the ≤
    // side — deterministic on exact cent integers), census the ≤8
    // pattern codes, H = −Σp·ln p normalized by ln 6. The triple walk
    // is two lead()s over the day census; the entropy folds ≤8
    // pattern-pinned 12-dec terms. Low H = predictable regime, H → 1 =
    // noise. One orders pass, day-census-bounded.
    Q("q_permutation_entropy",
      (s, dir) => {
        val wd = Window.orderBy("d")
        val pats = Artifacts.persist(t(s, dir, "orders")
          .select(col("o_orderdate").cast("date").as("d"),
            expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
              .as("c"))
          .groupBy("d").agg(sum(col("c")).cast("long").as("x"))
          .select(col("x"), lead(col("x"), 1).over(wd).as("y"),
            lead(col("x"), 2).over(wd).as("z"))
          .filter(col("y").isNotNull && col("z").isNotNull)
          .select((when(col("x") < col("y"), 4L).otherwise(0L)
            + when(col("y") < col("z"), 2L).otherwise(0L)
            + when(col("x") < col("z"), 1L).otherwise(0L)).as("pat"))
          .groupBy("pat").agg(count(lit(1)).cast("long").as("cnt")))
          // persist: the ≤8-row pattern census feeds the total AND the
          // term projection — un-persisted, each consumer re-scans orders
        val tot = pats.agg(sum(col("cnt")).cast("long").as("n"))
        pats.crossJoin(broadcast(tot))
          .select(col("pat"), col("n"),
            round(-(col("cnt").cast("double") / col("n").cast("double"))
              * log(col("cnt").cast("double") / col("n").cast("double")),
              12).as("term"))
          .agg(max(col("n")).as("n_triples"),
            count(lit(1)).cast("long").as("n_patterns"),
            expr("""aggregate(array_sort(collect_list(struct(pat, term))),
                    CAST(0 AS DOUBLE), (a, x) -> a + x.term)""").as("h"))
          .select(col("n_triples"), col("n_patterns"),
            round(col("h"), 6).as("h"),
            // ln(6) pinned as a decimal literal — computing it via libm
            // on each side risks a last-ULP disagreement
            round(col("h") / lit(1.791759469228055), 12).as("h_norm"))
      },
      Some("""WITH cen AS (
                SELECT CAST(o_orderdate AS DATE) AS d,
                  CAST(SUM(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2))
                    * 100 AS BIGINT) AS HUGEINT)) AS BIGINT) AS x
                FROM orders GROUP BY 1),
              tri AS (
                SELECT x, lead(x, 1) OVER (ORDER BY d) AS y,
                  lead(x, 2) OVER (ORDER BY d) AS z
                FROM cen),
              pats AS (
                SELECT (CASE WHEN x < y THEN 4 ELSE 0 END
                  + CASE WHEN y < z THEN 2 ELSE 0 END
                  + CASE WHEN x < z THEN 1 ELSE 0 END) AS pat,
                  CAST(count(*) AS BIGINT) AS cnt
                FROM tri WHERE y IS NOT NULL AND z IS NOT NULL
                GROUP BY 1),
              tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM pats),
              terms AS (
                SELECT pat, n,
                  round(-(CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE))
                    * ln(CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE)), 12)
                    AS term
                FROM pats, tot),
              agg AS (
                SELECT CAST(MAX(n) AS BIGINT) AS n_triples,
                  CAST(count(*) AS BIGINT) AS n_patterns,
                  list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(term ORDER BY pat)), (a, x) -> a + x) AS h
                FROM terms)
              SELECT n_triples, n_patterns, round(h, 6) AS h,
                round(h / 1.791759469228055, 12) AS h_norm
              FROM agg""")),

    // ── turning-point randomness test on daily revenue ──────────────────
    // The classic "is this series just noise" screen: count strict
    // local maxima+minima T; under i.i.d. randomness E[T] = 2(n−2)/3,
    // Var = (16n−29)/90 — all exact integer arithmetic off the day
    // census (one lag + one lead window), one final z division. A
    // different lens than q_runs_test (which sees level shifts, not
    // alternation). One orders pass, day-census-bounded.
    Q("q_turning_points",
      (s, dir) => {
        val wd = Window.orderBy("d")
        val flags = t(s, dir, "orders")
          .select(col("o_orderdate").cast("date").as("d"),
            expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
              .as("c"))
          .groupBy("d").agg(sum(col("c")).cast("long").as("x"))
          .select(col("x"), lag(col("x"), 1).over(wd).as("p"),
            lead(col("x"), 1).over(wd).as("nx"))
          .filter(col("p").isNotNull && col("nx").isNotNull)
          .select(when((col("p") < col("x") && col("nx") < col("x"))
            || (col("p") > col("x") && col("nx") > col("x")), 1L)
            .otherwise(0L).as("tp"))
        flags.agg((count(lit(1)) + 2).cast("long").as("n"),
            sum(col("tp")).cast("long").as("t"))
          .select(col("n").as("n_days"), col("t").as("n_turning"),
            round((lit(2.0) * (col("n") - 2).cast("double")) / 3.0, 6)
              .as("expected"),
            when(col("n") < 4, lit(null).cast("double"))
              .otherwise(round(
                (col("t").cast("double")
                  - (lit(2.0) * (col("n") - 2).cast("double")) / 3.0)
                / sqrt((lit(16.0) * col("n").cast("double") - 29.0)
                  / 90.0), 6)).as("z"))
      },
      Some("""WITH cen AS (
                SELECT CAST(o_orderdate AS DATE) AS d,
                  CAST(SUM(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2))
                    * 100 AS BIGINT) AS HUGEINT)) AS BIGINT) AS x
                FROM orders GROUP BY 1),
              tri AS (
                SELECT x, lag(x, 1) OVER (ORDER BY d) AS p,
                  lead(x, 1) OVER (ORDER BY d) AS nx
                FROM cen),
              flags AS (
                SELECT CASE WHEN (p < x AND nx < x)
                    OR (p > x AND nx > x) THEN 1 ELSE 0 END AS tp
                FROM tri WHERE p IS NOT NULL AND nx IS NOT NULL),
              agg AS (
                SELECT CAST(count(*) + 2 AS BIGINT) AS n,
                  CAST(SUM(tp) AS BIGINT) AS t
                FROM flags)
              SELECT n AS n_days, t AS n_turning,
                round((2.0 * CAST(n - 2 AS DOUBLE)) / 3.0, 6)
                  AS expected,
                CASE WHEN n < 4 THEN NULL
                  ELSE round((CAST(t AS DOUBLE)
                    - (2.0 * CAST(n - 2 AS DOUBLE)) / 3.0)
                    / sqrt((16.0 * CAST(n AS DOUBLE) - 29.0) / 90.0), 6)
                  END AS z
              FROM agg""")),

    // ── EWMA control chart with exact time-varying limits ───────────────
    // The small-shift chart Shewhart misses: zₜ = 0.2x + 0.8z with the
    // EXACT early-run limit L·σ√((λ/(2−λ))(1−(1−λ)^{2t})) — the decay
    // factor (1−λ)^{2t} is CARRIED in the replay state (one multiply
    // per step, identical IEEE sequence both engines — no libm pow).
    // μ, σ come from exact day-census cent moments broadcast into the
    // fold; the state also accumulates the violation count and first
    // violation index. Day means in dollars; Spark struct-fold ≡
    // recursive-CTE oracle.
    Q("q_ewma_chart",
      (s, dir) => {
        val daily = Artifacts.persist(t(s, dir, "events")
          .select(col("ts").cast("date").as("d"),
            (dec2(col("value")) * 100).cast("long").as("cents"))
          .groupBy("d")
          .agg(count(lit(1)).cast("long").as("n"),
            sum(col("cents").cast(DecimalType(38, 0))).as("sc"))
          .select(col("d"),
            (col("sc").cast("double") / col("n").cast("double") / 100.0)
              .as("v")))
        val mom = daily.agg(count(lit(1)).cast("long").as("nd"),
            sum(floor(col("v") * 1e6 + 0.5).cast("long")
              .cast(DecimalType(38, 0))).as("s1"),
            sum(floor(col("v") * 1e6 + 0.5).cast("long")
              .cast(DecimalType(38, 0))
              * floor(col("v") * 1e6 + 0.5).cast("long")).as("s2"))
          .select(col("nd"),
            (col("s1").cast("double") / col("nd").cast("double") / 1e6)
              .as("mu"),
            (sqrt((col("s2").cast("double")
              - col("s1").cast("double") * col("s1").cast("double")
                / col("nd").cast("double"))
              / (col("nd") - 1).cast("double")) / 1e6).as("sd"))
        daily
          .agg(sort_array(collect_list(struct(col("d"), col("v"))))
            .as("ser"))
          .crossJoin(broadcast(mom))
          .select(col("nd").as("n_days"), expr(
            """aggregate(
                 slice(ser, 2, size(ser) - 1),
                 named_struct(
                   'z', 0.2 * ser[0].v + 0.8 * mu,
                   'f', CAST(0.64 AS DOUBLE),
                   'viol', CASE WHEN abs(0.2 * ser[0].v + 0.8 * mu - mu)
                     > 3.0 * sd * sqrt((0.2 / 1.8) * (1.0 - 0.64))
                     THEN 1L ELSE 0L END,
                   'first', CASE WHEN abs(0.2 * ser[0].v + 0.8 * mu - mu)
                     > 3.0 * sd * sqrt((0.2 / 1.8) * (1.0 - 0.64))
                     THEN 1L ELSE CAST(NULL AS BIGINT) END,
                   't', 1L),
                 (a, x) -> named_struct(
                   'z', 0.2 * x.v + 0.8 * a.z,
                   'f', a.f * 0.64,
                   'viol', a.viol + CASE
                     WHEN abs(0.2 * x.v + 0.8 * a.z - mu)
                       > 3.0 * sd * sqrt((0.2 / 1.8) * (1.0 - a.f * 0.64))
                     THEN 1L ELSE 0L END,
                   'first', CASE WHEN a.first IS NOT NULL THEN a.first
                     WHEN abs(0.2 * x.v + 0.8 * a.z - mu)
                       > 3.0 * sd * sqrt((0.2 / 1.8) * (1.0 - a.f * 0.64))
                     THEN a.t + 1L ELSE CAST(NULL AS BIGINT) END,
                   't', a.t + 1L))""").as("st"))
          .select(col("n_days"),
            round(col("st.z"), 6).as("ewma_final"),
            col("st.viol").as("n_violations"),
            col("st.first").as("first_violation_t"))
      },
      Some("""WITH RECURSIVE daily AS (
                SELECT CAST(ts AS DATE) AS d,
                  CAST(count(*) AS BIGINT) AS n,
                  SUM(CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS HUGEINT)) AS sc
                FROM events GROUP BY 1),
              vals AS (
                SELECT d,
                  CAST(sc AS DOUBLE) / CAST(n AS DOUBLE) / 100.0 AS v
                FROM daily),
              mom AS (
                SELECT CAST(count(*) AS BIGINT) AS nd,
                  CAST(SUM(CAST(CAST(floor(v * 1e6 + 0.5) AS BIGINT)
                    AS HUGEINT)) AS DOUBLE)
                    / CAST(count(*) AS DOUBLE) / 1e6 AS mu,
                  sqrt((CAST(SUM(CAST(CAST(floor(v * 1e6 + 0.5)
                      AS BIGINT) AS HUGEINT)
                      * CAST(floor(v * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
                    - CAST(SUM(CAST(CAST(floor(v * 1e6 + 0.5) AS BIGINT)
                        AS HUGEINT)) AS DOUBLE)
                      * CAST(SUM(CAST(CAST(floor(v * 1e6 + 0.5)
                        AS BIGINT) AS HUGEINT)) AS DOUBLE)
                      / CAST(count(*) AS DOUBLE))
                    / CAST(count(*) - 1 AS DOUBLE)) / 1e6 AS sd
                FROM vals),
              idx AS (
                SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT)
                  AS i, v
                FROM vals),
              rec(i, z, f, viol, frst) AS (
                SELECT CAST(1 AS BIGINT),
                  0.2 * v + 0.8 * mu,
                  CAST(0.64 AS DOUBLE),
                  CASE WHEN abs(0.2 * v + 0.8 * mu - mu)
                    > 3.0 * sd * sqrt((0.2 / 1.8) * (1.0 - 0.64))
                    THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END,
                  CASE WHEN abs(0.2 * v + 0.8 * mu - mu)
                    > 3.0 * sd * sqrt((0.2 / 1.8) * (1.0 - 0.64))
                    THEN CAST(1 AS BIGINT)
                    ELSE CAST(NULL AS BIGINT) END
                FROM idx, mom WHERE i = 1
                UNION ALL
                SELECT r.i + 1,
                  0.2 * x.v + 0.8 * r.z,
                  r.f * 0.64,
                  r.viol + CASE WHEN abs(0.2 * x.v + 0.8 * r.z - mu)
                    > 3.0 * sd
                      * sqrt((0.2 / 1.8) * (1.0 - r.f * 0.64))
                    THEN 1 ELSE 0 END,
                  CASE WHEN r.frst IS NOT NULL THEN r.frst
                    WHEN abs(0.2 * x.v + 0.8 * r.z - mu)
                      > 3.0 * sd
                        * sqrt((0.2 / 1.8) * (1.0 - r.f * 0.64))
                    THEN r.i + 1 ELSE CAST(NULL AS BIGINT) END
                FROM rec r JOIN idx x ON x.i = r.i + 1, mom)
              SELECT (SELECT nd FROM mom) AS n_days,
                round(z, 6) AS ewma_final,
                viol AS n_violations,
                frst AS first_violation_t
              FROM rec WHERE i = (SELECT max(i) FROM idx)""")),

    // ── spectral power at the calendar periods (7-day, 30-day) ──────────
    // A Goertzel-style single-bin DFT: how much weekly and monthly
    // periodicity does daily revenue actually carry? The trig weights
    // exist only at d mod p ∈ {0..p−1}, so they are P PINNED INTEGER
    // LITERALS (round(cos·10⁶), computed once in Scala and interpolated
    // into BOTH the Spark plan and the DuckDB oracle — the ln(6)
    // pinned-literal discipline, automated). Σ x·w stays exact
    // DECIMAL(38,0); amplitude = 2√(cs²+ss²)/(n·10⁶) is IEEE on
    // identical integers (squares in DOUBLE — the decimal square would
    // overflow 38 digits at 100-TB revenue). One orders scan, census
    // fold, 2-row output.
    Q("q_spectral_power",
      (s, dir) => {
        val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
        def arr(ws: Seq[Long]) =
          s"array(${ws.mkString("L, ")}L)"
        def wExpr(p: Int, ws: Seq[Long]) =
          expr(s"element_at(${arr(ws)}, CAST(d % $p AS INT) + 1)")
        val days = medianDaily(t(s, dir, "orders"))
          .select(datediff(col("day").cast("date"),
            lit("1970-01-01").cast("date")).cast("long").as("d"),
            col("cents"))
        val agg = days.agg(
          count(lit(1)).cast("long").as("n_days"),
          sum(col("cents").cast(dec38) * wExpr(7, SpectralLits.c7))
            .as("c7"),
          sum(col("cents").cast(dec38) * wExpr(7, SpectralLits.s7))
            .as("s7"),
          sum(col("cents").cast(dec38) * wExpr(30, SpectralLits.c30))
            .as("c30"),
          sum(col("cents").cast(dec38) * wExpr(30, SpectralLits.s30))
            .as("s30"))
        agg.select(expr(
          """stack(2,
            |  CAST(7 AS BIGINT), n_days, c7, s7,
            |  CAST(30 AS BIGINT), n_days, c30, s30)
            |AS (period, n_days, cs, ss)""".stripMargin))
          .select(col("period"), col("n_days"),
            round(lit(2.0)
              * sqrt(col("cs").cast("double") * col("cs").cast("double")
                + col("ss").cast("double") * col("ss").cast("double"))
              / (col("n_days").cast("double") * 1.0e6 * 100.0), 4)
              .as("amp_dollars"))
          .orderBy("period")
      },
      Some(s"""WITH days AS (
                SELECT DATE_DIFF('day', DATE '1970-01-01',
                    CAST(o_orderdate AS DATE)) AS d,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                    AS BIGINT) AS cents
                FROM orders GROUP BY 1),
              agg AS (
                SELECT CAST(count(*) AS BIGINT) AS n_days,
                  SUM(CAST(cents AS HUGEINT)
                    * ([${SpectralLits.c7.mkString(", ")}])[d % 7 + 1])
                    AS c7,
                  SUM(CAST(cents AS HUGEINT)
                    * ([${SpectralLits.s7.mkString(", ")}])[d % 7 + 1])
                    AS s7,
                  SUM(CAST(cents AS HUGEINT)
                    * ([${SpectralLits.c30.mkString(", ")}])[d % 30 + 1])
                    AS c30,
                  SUM(CAST(cents AS HUGEINT)
                    * ([${SpectralLits.s30.mkString(", ")}])[d % 30 + 1])
                    AS s30
                FROM days),
              outp AS (
                SELECT CAST(7 AS BIGINT) AS period, n_days,
                  CAST(c7 AS DOUBLE) AS cs, CAST(s7 AS DOUBLE) AS ss
                FROM agg
                UNION ALL
                SELECT CAST(30 AS BIGINT), n_days,
                  CAST(c30 AS DOUBLE), CAST(s30 AS DOUBLE)
                FROM agg)
              SELECT period, n_days,
                round(2.0 * sqrt(cs * cs + ss * ss)
                  / (CAST(n_days AS DOUBLE) * 1.0e6 * 100.0), 4)
                  AS amp_dollars
              FROM outp ORDER BY period""")),

    // ── partial autocorrelation (Durbin–Levinson, lags 1-3) ─────────────
    // q_autocorr's r_k confound direct and inherited correlation; PACF
    // isolates the DIRECT lag-k effect — the readout that says whether
    // a daily AR(1) suffices or the series carries genuine multi-day
    // structure. r₁..r₃ are the exact-integer-ratio autocorrelations
    // (the q_autocorr machinery verbatim: dense spine, n²-scaled
    // integer numerators, ONE division each), so both engines hold
    // bit-identical r's; the Durbin–Levinson recursion (φ₁₁ = r₁,
    // φ₂₂ = (r₂−r₁²)/(1−r₁²), φ₃₃ via level-2 coefficients) is then
    // the same IEEE op sequence on identical doubles. Calendar-bounded
    // everywhere past the one orders scan.
    Q("q_pacf",
      (s, dir) => {
        val dec38 = DecimalType(38, 0)
        val counts = t(s, dir, "orders")
          .select(datediff(col("o_orderdate").cast("date"),
            lit("1970-01-01").cast("date")).cast("long").as("d"))
          .groupBy("d").agg(count(lit(1)).cast("long").as("x"))
        // q_autocorr's dec38 discipline (ADVICE r7): only the calendar
        // bounds reach the driver; S, Q2, numerator and denominator are
        // DECIMAL(38,0) columns — driver-Long products of them wrap
        // silently once n²·Σx² exceeds int64
        val bounds = counts.agg(min(col("d")), max(col("d"))).head
        val (minD, maxD) = (bounds.getLong(0), bounds.getLong(1))
        val n = maxD - minD + 1 // calendar span — Long-safe forever
        val nC = lit(n).cast(dec38)
        // moments read the PERSISTED spine (zero-filled days add 0 to S
        // and Q2) so the readout plan pays zero parquet scans
        val dense = Artifacts.persist(s.range(minD, maxD + 1)
          .select(col("id").as("d"))
          .join(counts, Seq("d"), "left")
          .select(col("d"), coalesce(col("x"), lit(0L)).as("x")))
        val moments = dense.agg(
          sum(col("x")).cast(dec38).as("s1"),
          sum(col("x").cast(dec38) * col("x")).as("q2"))
          .select(col("s1"),
            (nC * nC * col("q2") - nC * col("s1") * col("s1")).as("den"))
        val ks = s.range(1, 4).select(col("id").as("k"))
        val rs = dense.crossJoin(ks)
          .select(col("k"), col("x").as("xa"),
            (col("d") + col("k")).as("d2"))
          .join(dense.select(col("d").as("d2"), col("x").as("xb")), "d2")
          .groupBy("k")
          .agg(sum(col("xa").cast(dec38) * col("xb")).as("p"),
            sum(col("xa")).cast(dec38).as("h"),
            sum(col("xb")).cast(dec38).as("tt"))
          .crossJoin(broadcast(moments))
          .select(col("k"),
            ((nC * nC * col("p") - nC * col("s1") * (col("h") + col("tt"))
              + (nC - col("k")) * col("s1") * col("s1")).cast("double")
              / col("den").cast("double")).as("r"))
        val wide = rs.agg(
          max(when(col("k") === 1, col("r"))).as("r1"),
          max(when(col("k") === 2, col("r"))).as("r2"),
          max(when(col("k") === 3, col("r"))).as("r3"))
        val lvl2 = wide
          .withColumn("p11", col("r1"))
          .withColumn("p22",
            (col("r2") - col("r1") * col("r1"))
              / (lit(1.0) - col("r1") * col("r1")))
          .withColumn("p21", col("p11") - col("p22") * col("p11"))
        val lvl3 = lvl2.withColumn("p33",
          (col("r3") - col("p21") * col("r2") - col("p22") * col("r1"))
            / (lit(1.0) - col("p21") * col("r1")
              - col("p22") * col("r2")))
        lvl3.select(expr(
          """stack(3,
            |  CAST(1 AS BIGINT), r1, round(p11, 12),
            |  CAST(2 AS BIGINT), r2, round(p22, 12),
            |  CAST(3 AS BIGINT), r3, round(p33, 12))
            |AS (k, r, pacf)""".stripMargin))
          .select(col("k"), round(col("r"), 12).as("r"), col("pacf"))
          .orderBy("k")
      },
      Some("""WITH c AS (
                SELECT DATE_DIFF('day', DATE '1970-01-01',
                    CAST(o_orderdate AS DATE)) AS d,
                  CAST(COUNT(*) AS BIGINT) AS x
                FROM orders GROUP BY 1),
              mm AS (SELECT MIN(d) AS mn, MAX(d) AS mx,
                       CAST(MAX(d) - MIN(d) + 1 AS BIGINT) AS n,
                       SUM(x) AS s, SUM(x * x) AS q2 FROM c),
              dense AS (
                SELECT g.d, COALESCE(c.x, 0) AS x
                FROM (SELECT UNNEST(generate_series(
                        (SELECT mn FROM mm), (SELECT mx FROM mm))) AS d) g
                  LEFT JOIN c ON g.d = c.d),
              lags AS (SELECT UNNEST(generate_series(1, 3)) AS k),
              pairs AS (
                SELECT l.k, a.x AS xa, b.x AS xb
                FROM dense a CROSS JOIN lags l
                  JOIN dense b ON b.d = a.d + l.k),
              agg AS (
                SELECT k, SUM(xa * xb) AS p, SUM(xa) AS h, SUM(xb) AS tt
                FROM pairs GROUP BY 1),
              rr AS (
                SELECT k,
                  CAST(mm.n * mm.n * p - mm.n * mm.s * (h + tt)
                    + (mm.n - k) * mm.s * mm.s AS DOUBLE)
                    / CAST(mm.n * mm.n * q2 - mm.n * mm.s * mm.s
                      AS DOUBLE) AS r
                FROM agg, mm),
              wide AS (
                SELECT MAX(CASE WHEN k = 1 THEN r END) AS r1,
                  MAX(CASE WHEN k = 2 THEN r END) AS r2,
                  MAX(CASE WHEN k = 3 THEN r END) AS r3
                FROM rr),
              l2 AS (
                SELECT r1, r2, r3, r1 AS p11,
                  (r2 - r1 * r1) / (1.0 - r1 * r1) AS p22
                FROM wide),
              l2b AS (
                SELECT *, p11 - p22 * p11 AS p21 FROM l2),
              l3 AS (
                SELECT *,
                  (r3 - p21 * r2 - p22 * r1)
                    / (1.0 - p21 * r1 - p22 * r2) AS p33
                FROM l2b),
              outp AS (
                SELECT CAST(1 AS BIGINT) AS k, r1 AS r,
                  round(p11, 12) AS pacf FROM l3
                UNION ALL
                SELECT CAST(2 AS BIGINT), r2, round(p22, 12) FROM l3
                UNION ALL
                SELECT CAST(3 AS BIGINT), r3, round(p33, 12) FROM l3)
              SELECT k, round(r, 12) AS r, pacf
              FROM outp ORDER BY k""")),

    // ── MASE + Theil's U1: scale-free forecast accuracy ─────────────────
    // The two scale-free accuracy metrics q_forecast_eval's sMAPE
    // doesn't give: MASE = MAE(naive-1 forecast) / MAE(seasonal-naive
    // lag-7 in-sample baseline) — the Hyndman–Koehler "is the model
    // beating a calendar-aware random walk" readout — and Theil's
    // U1 = √Σe² / (√Σc² + √Σĉ²) ∈ [0,1]. Rides [[medianDaily]]'s
    // calendar-bounded exact-cents census (lag windows above the
    // Aggregate, the q_rolling_median discipline); Σ|e|, Σe², Σc² stay
    // exact DECIMAL(38,0); MASE is ONE division of exact cross-products
    // (Σ|e₁|·n₇ vs Σ|e₇|·n₁) and U1 is three √s of identical integers.
    Q("q_mase",
      (s, dir) => maseFinish(medianDaily(t(s, dir, "orders"))),
      Some("""WITH days AS (
                SELECT date_trunc('day', o_orderdate) AS day,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                    AS BIGINT) AS cents
                FROM orders GROUP BY 1),
              lagged AS (
                SELECT cents,
                  lag(cents, 1) OVER (ORDER BY day) AS lag1,
                  lag(cents, 7) OVER (ORDER BY day) AS lag7
                FROM days),
              agg AS (
                SELECT CAST(count(*) AS BIGINT) AS n_days,
                  CAST(SUM(CASE WHEN lag1 IS NOT NULL THEN 1 END)
                    AS BIGINT) AS n1,
                  CAST(SUM(CASE WHEN lag7 IS NOT NULL THEN 1 END)
                    AS BIGINT) AS n7,
                  SUM(abs(CAST(cents - lag1 AS HUGEINT))) AS ae1,
                  SUM(abs(CAST(cents - lag7 AS HUGEINT))) AS ae7,
                  SUM(CASE WHEN lag1 IS NOT NULL THEN
                    CAST(cents - lag1 AS HUGEINT)
                      * CAST(cents - lag1 AS HUGEINT) END) AS se1,
                  SUM(CASE WHEN lag1 IS NOT NULL THEN
                    CAST(cents AS HUGEINT) * CAST(cents AS HUGEINT) END)
                    AS sc2,
                  SUM(CAST(lag1 AS HUGEINT) * CAST(lag1 AS HUGEINT))
                    AS sf2
                FROM lagged)
              SELECT n_days, n1, n7,
                CASE WHEN n1 = 0 OR n7 = 0 OR ae7 = 0 THEN NULL
                  ELSE round(CAST(ae1 * n7 AS DOUBLE)
                    / CAST(ae7 * n1 AS DOUBLE), 12) END AS mase,
                CASE WHEN n1 = 0
                    OR sqrt(CAST(sc2 AS DOUBLE))
                      + sqrt(CAST(sf2 AS DOUBLE)) = 0.0 THEN NULL
                  ELSE round(sqrt(CAST(se1 AS DOUBLE))
                    / (sqrt(CAST(sc2 AS DOUBLE))
                      + sqrt(CAST(sf2 AS DOUBLE))), 12) END AS theil_u1
              FROM agg""")),

    // ── tracking signal: monthly forecast-bias monitor ───────────────────
    // The ops-review readout MASE doesn't give: is the seasonal-naive
    // forecast BIASED, not just inaccurate? Per month, TS = Σe / (Σ|e|/n)
    // over lag-7 forecast errors — |TS| ≥ 4 is the classic re-fit
    // trigger. Rides [[medianDaily]]'s calendar-bounded exact-cents
    // census (the q_forecast_eval 7-day self-join); Σe and Σ|e| stay
    // exact DECIMAL(38,0) and TS is ONE division of exact cross-products
    // (Σe·n vs Σ|e|). Scale shape: one orders scan collapses to the
    // ≤|days| census; everything after is calendar-bounded.
    Q("q_tracking_signal",
      // persisted: the d−7 self-join consumes the census twice
      // (q_forecast_eval's discipline); trackingFinish is the FIFTH
      // readout of the medianDaily Complete-mode streaming state
      // (StreamingSpec proves drained ≡ batch)
      (s, dir) => trackingFinish(Artifacts.persist(medianDaily(t(s, dir, "orders")))),
      Some("""WITH days AS (
                SELECT date_trunc('day', o_orderdate) AS day,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                    AS BIGINT) AS cents
                FROM orders GROUP BY 1),
              j AS (
                SELECT a.day, a.cents,
                  f.cents AS f_cents
                FROM days a JOIN days f
                  ON a.day = f.day + INTERVAL 7 DAY),
              m AS (
                SELECT date_trunc('month', day) AS month,
                  CAST(count(*) AS BIGINT) AS n_days,
                  SUM(CAST(cents - f_cents AS HUGEINT)) AS sum_e,
                  SUM(abs(CAST(cents - f_cents AS HUGEINT))) AS sum_abs_e
                FROM j GROUP BY 1)
              SELECT month, n_days,
                CAST(sum_e AS BIGINT) AS err_cents,
                CASE WHEN sum_abs_e = 0 THEN NULL
                  ELSE round(CAST(sum_e * n_days AS DOUBLE)
                    / CAST(sum_abs_e AS DOUBLE), 12)
                  END AS tracking_signal
              FROM m ORDER BY month""")),

    // ── pinball loss: quantile-forecast evaluation at τ = .1/.5/.9 ──────
    // THE loss that grades probabilistic forecasts (quantile regression,
    // demand planning P10/P50/P90). The in-sample quantile forecasts are
    // EXACT member picks from the daily-cents distribution
    // (RangeRank.groupValuesAtRanks — no interpolation, no sort), and
    // the loss is computed in τ-cleared integer decicents:
    // 10·L_τ(y,q) = (10τ)(y−q)⁺ + (10−10τ)(q−y)⁺ — exact DECIMAL sums,
    // ONE division per τ for the dollar display. Scale: one orders scan
    // → calendar-bounded census; selection and loss are census passes.
    Q("q_pinball_loss",
      (s, dir) => pinballFinish(medianDaily(t(s, dir, "orders"))),
      Some("""WITH days AS (
                SELECT date_trunc('day', o_orderdate) AS day,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                    AS BIGINT) AS cents
                FROM orders GROUP BY 1),
              r AS (
                SELECT cents,
                  CAST(row_number() OVER (ORDER BY cents) AS BIGINT)
                    AS rn,
                  CAST(count(*) OVER () AS BIGINT) AS n
                FROM days),
              qs AS (
                SELECT
                  MAX(CASE WHEN rn = CAST(ceil(n * 0.1) AS BIGINT)
                    THEN cents END) AS q10,
                  MAX(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT)
                    THEN cents END) AS q50,
                  MAX(CASE WHEN rn = CAST(ceil(n * 0.9) AS BIGINT)
                    THEN cents END) AS q90
                FROM r),
              agg AS (
                SELECT CAST(count(*) AS BIGINT) AS n_days,
                  MAX(q10) AS f10, MAX(q50) AS f50, MAX(q90) AS f90,
                  SUM(CASE WHEN cents >= q10
                    THEN CAST(cents - q10 AS HUGEINT) * 1
                    ELSE CAST(q10 - cents AS HUGEINT) * 9 END) AS l10,
                  SUM(CASE WHEN cents >= q50
                    THEN CAST(cents - q50 AS HUGEINT) * 5
                    ELSE CAST(q50 - cents AS HUGEINT) * 5 END) AS l50,
                  SUM(CASE WHEN cents >= q90
                    THEN CAST(cents - q90 AS HUGEINT) * 9
                    ELSE CAST(q90 - cents AS HUGEINT) * 1 END) AS l90
                FROM days, qs),
              outp AS (
                SELECT CAST(10 AS BIGINT) AS tau_pct, n_days,
                  f10 AS forecast_cents, l10 AS loss_x10 FROM agg
                UNION ALL
                SELECT CAST(50 AS BIGINT), n_days, f50, l50 FROM agg
                UNION ALL
                SELECT CAST(90 AS BIGINT), n_days, f90, l90 FROM agg)
              SELECT tau_pct, n_days, forecast_cents,
                round(CAST(loss_x10 AS DOUBLE)
                  / (CAST(n_days AS DOUBLE) * 1000.0), 6)
                  AS mean_pinball_dollars
              FROM outp ORDER BY tau_pct""")),

    // ── two-sided tabular CUSUM over daily revenue (exact integers) ─────
    // The SPC change detector q_page_hinkley doesn't give: TWO one-sided
    // charts with a k-slack at half the global mean, alarm counts at
    // h = 5μ. FP-free throughout: with the classic recursion
    // C⁺_t = max(0, C⁺_{t−1} + x_t − 1.5μ) rewritten as a prefix-sum
    // identity C⁺_t = P_t − min_{j≤t} P_j (P = running Σ(x − 1.5μ)),
    // everything clears to integers at the 2n scale: 2n·(x − 1.5μ) =
    // 2n·x − 3S. Exact DECIMAL cumsums + running extrema over the
    // calendar-bounded day spine; the dollar display is an exact
    // integer division. One orders scan → ≤|days| census.
    // ── Kupiec POF backtest: does the 90% VaR hold its exception rate? ──
    // The risk-monitor readout over the SAME per-day revenue census the
    // median/pinball twins maintain: set the threshold at the exact
    // 90th-percentile day (RangeRank histogram bracket — value
    // selection, no global sort), count exceedances x of n, and test
    // x/n against p = 0.1 with Kupiec's proportion-of-failures LR
    // = −2[(n−x)ln(1−p) + x·ln p − (n−x)ln(1−x/n) − x·ln(x/n)],
    // χ²₁-distributed under the null. ln(0.1)/ln(0.9) are PINNED
    // literals (no engine evaluates the transcendental); the data-side
    // lns act on exact-int ratios and the 6-dec round pins the libm
    // ULP; the rejection compares the ROUNDED LR to the pinned χ²₁
    // critical value so the boolean cannot straddle an ULP.
    Q("q_kupiec_pof",
      (s, dir) => {
        val days = Artifacts.persist(medianDaily(t(s, dir, "orders"))
          .withColumn("g", lit(1L)))
        val thr = RangeRank.groupValuesAtRanks(days, Seq("g"), "cents",
          Seq(RangeRank.RankPick("var90", n => ceil(n * 0.9))))
          .select(col("var90")).localCheckpoint(false)
        days.crossJoin(broadcast(thr))
          .agg(count(lit(1)).cast("long").as("n_days"),
            max(col("var90")).cast("long").as("var_cents"),
            count(when(col("cents") > col("var90"), lit(1)))
              .cast("long").as("x"))
          .select(col("n_days"), col("var_cents"),
            col("x").as("n_exceptions"),
            (col("x").cast("double") / col("n_days").cast("double"))
              .as("obs_rate"),
            round(lit(-2.0) * (
              (col("n_days") - col("x")).cast("double")
                * lit(-0.10536051565782628)
              + col("x").cast("double") * lit(-2.302585092994046)
              - when(col("x") < col("n_days"),
                  (col("n_days") - col("x")).cast("double")
                    * log((col("n_days") - col("x")).cast("double")
                      / col("n_days").cast("double")))
                .otherwise(lit(0.0))
              - when(col("x") > 0,
                  col("x").cast("double")
                    * log(col("x").cast("double")
                      / col("n_days").cast("double")))
                .otherwise(lit(0.0))), 6).as("lr_pof"))
          .withColumn("reject_95", col("lr_pof") > 3.841459)
      },
      Some("""WITH days AS (
                SELECT date_trunc('day', o_orderdate) AS day,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                    AS BIGINT) AS cents
                FROM orders GROUP BY 1),
              r AS (
                SELECT cents,
                  CAST(row_number() OVER (ORDER BY cents) AS BIGINT)
                    AS rn,
                  CAST(count(*) OVER () AS BIGINT) AS n
                FROM days),
              thr AS (
                SELECT MAX(CASE WHEN rn = CAST(ceil(n * 0.9) AS BIGINT)
                  THEN cents END) AS var90
                FROM r),
              agg AS (
                SELECT CAST(count(*) AS BIGINT) AS n_days,
                  CAST(MAX(var90) AS BIGINT) AS var_cents,
                  CAST(COUNT(CASE WHEN cents > var90 THEN 1 END)
                    AS BIGINT) AS x
                FROM days, thr),
              res AS (
                SELECT n_days, var_cents, x AS n_exceptions,
                  CAST(x AS DOUBLE) / CAST(n_days AS DOUBLE) AS obs_rate,
                  round(-2.0 * (
                    CAST(n_days - x AS DOUBLE) * -0.10536051565782628
                    + CAST(x AS DOUBLE) * -2.302585092994046
                    - CASE WHEN x < n_days THEN CAST(n_days - x AS DOUBLE)
                        * ln(CAST(n_days - x AS DOUBLE)
                          / CAST(n_days AS DOUBLE)) ELSE 0.0 END
                    - CASE WHEN x > 0 THEN CAST(x AS DOUBLE)
                        * ln(CAST(x AS DOUBLE) / CAST(n_days AS DOUBLE))
                        ELSE 0.0 END), 6) AS lr_pof
                FROM agg)
              SELECT n_days, var_cents, n_exceptions, obs_rate, lr_pof,
                lr_pof > 3.841459 AS reject_95
              FROM res""")),

    Q("q_cusum_chart",
      (s, dir) => {
        val dec38 = DecimalType(38, 0)
        val days = Artifacts.persist(medianDaily(t(s, dir, "orders")))
        val tot = days.agg(count(lit(1)).cast("long").as("n"),
          sum(col("cents")).cast(dec38).as("s"))
        val wCum = Window.orderBy("day")
          .rowsBetween(Window.unboundedPreceding, 0)
        val p = days.crossJoin(broadcast(tot))
          .select(col("day"), col("n"), col("s"),
            sum(col("cents").cast(dec38) * 2 * col("n") - col("s") * 3)
              .over(wCum).as("p_hi"),
            sum(col("s") - col("cents").cast(dec38) * 2 * col("n"))
              .over(wCum).as("p_lo"))
          .select(col("day"), col("n"), col("s"),
            (col("p_hi") - least(min(col("p_hi")).over(wCum), lit(0)))
              .as("c_hi"),
            (col("p_lo") - least(min(col("p_lo")).over(wCum), lit(0)))
              .as("c_lo"))
        p.groupBy(date_trunc("quarter", col("day")).as("quarter"))
          .agg(count(lit(1)).cast("long").as("n_days"),
            // max chart levels, de-scaled to whole dollars exactly:
            // C is in (2n × cents) units → div by 2n·100
            floor(max(col("c_hi")) / (max(col("n")) * 200))
              .cast("long").as("max_cusum_hi_dollars"),
            floor(max(col("c_lo")) / (max(col("n")) * 200))
              .cast("long").as("max_cusum_lo_dollars"),
            // alarms at h = 5μ: C > 2n·5μ·100-cleared = 10·S
            sum(when(col("c_hi") > col("s") * 10, 1L).otherwise(0L))
              .cast("long").as("n_alarms_hi"),
            sum(when(col("c_lo") > col("s") * 10, 1L).otherwise(0L))
              .cast("long").as("n_alarms_lo"))
          .orderBy("quarter")
      },
      Some("""WITH days AS (
                SELECT date_trunc('day', o_orderdate) AS day,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                    AS BIGINT) AS cents
                FROM orders GROUP BY 1),
              tot AS (
                SELECT CAST(count(*) AS BIGINT) AS n,
                  CAST(SUM(cents) AS HUGEINT) AS s
                FROM days),
              p AS (
                SELECT day, n, s,
                  SUM(CAST(cents AS HUGEINT) * 2 * n - s * 3)
                    OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS p_hi,
                  SUM(s - CAST(cents AS HUGEINT) * 2 * n)
                    OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS p_lo
                FROM days, tot),
              c AS (
                SELECT day, n, s,
                  p_hi - LEAST(MIN(p_hi) OVER (ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                    0) AS c_hi,
                  p_lo - LEAST(MIN(p_lo) OVER (ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                    0) AS c_lo
                FROM p)
              SELECT date_trunc('quarter', day) AS quarter,
                CAST(count(*) AS BIGINT) AS n_days,
                CAST(MAX(c_hi) // (MAX(n) * 200) AS BIGINT)
                  AS max_cusum_hi_dollars,
                CAST(MAX(c_lo) // (MAX(n) * 200) AS BIGINT)
                  AS max_cusum_lo_dollars,
                CAST(SUM(CASE WHEN c_hi > s * 10 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_alarms_hi,
                CAST(SUM(CASE WHEN c_lo > s * 10 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_alarms_lo
              FROM c GROUP BY 1 ORDER BY quarter""")),

    // ── conditional next-event entropy H(next | prev) per source state ──
    // The information-theoretic readout of q_transitions' Markov chain:
    // how predictable is the next event given the current one?
    // H(·|a) = Σ_b (c_ab/n_a)·ln(n_a/c_ab) over the ≤|types|² transition
    // census. Terms are rounded to 12 decimals (the ln is the only libm
    // op; a last-ULP split dies at the rounding, the q_js_drift
    // discipline) and summed with a b-pinned fold so both engines add
    // in the same order. Scale: the event-scale work is q_transitions'
    // lag shuffle + census agg; everything after is alphabet-bounded.
    Q("q_entropy_rate",
      (s, dir) => {
        val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val pairs = t(s, dir, "events")
          .select(col("user_id"), col("event_type").as("cur"),
            lead(col("event_type"), 1).over(byUser).as("nxt"))
          .filter(col("nxt").isNotNull)
        // persisted: consumed by the out-degree census AND the term join
        val census = Artifacts.persist(pairs.groupBy("cur", "nxt")
          .agg(count(lit(1)).cast("long").as("cnt")))
        val outDeg = census.groupBy(col("cur").as("c2"))
          .agg(sum(col("cnt")).cast("long").as("n_out"))
        census.join(broadcast(outDeg), col("cur") === col("c2"))
          .select(col("cur"), col("nxt"), col("n_out"),
            round((col("cnt").cast("double") / col("n_out").cast("double"))
              * log(col("n_out").cast("double") / col("cnt").cast("double")),
              12).as("term"))
          .groupBy("cur")
          .agg(max(col("n_out")).as("n_out"),
            round(expr(
              """aggregate(array_sort(collect_list(struct(nxt, term))),
                |  CAST(0 AS DOUBLE), (a, x) -> a + x.term)""".stripMargin),
              12).as("h_nats"))
          .orderBy("cur")
      },
      Some("""WITH pairs AS (
                SELECT event_type AS cur,
                  lead(event_type) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) AS nxt
                FROM events),
              census AS (
                SELECT cur, nxt, CAST(count(*) AS BIGINT) AS cnt
                FROM pairs WHERE nxt IS NOT NULL GROUP BY 1, 2),
              deg AS (
                SELECT cur AS c2, CAST(SUM(cnt) AS BIGINT) AS n_out
                FROM census GROUP BY 1),
              terms AS (
                SELECT cur, nxt, n_out,
                  round((CAST(cnt AS DOUBLE) / CAST(n_out AS DOUBLE))
                    * ln(CAST(n_out AS DOUBLE) / CAST(cnt AS DOUBLE)), 12)
                    AS term
                FROM census JOIN deg ON cur = c2)
              SELECT cur, MAX(n_out) AS n_out,
                round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                  list(term ORDER BY nxt)), (a, x) -> a + x), 12)
                  AS h_nats
              FROM terms GROUP BY 1 ORDER BY cur""")),

    // ── Lo–MacKinlay variance-ratio test on daily revenue ───────────────
    // Is the daily revenue series a random walk? VR(q) compares the
    // variance of q-day changes against q × the 1-day-change variance:
    // VR(q) = ((n−1)·Σ D_q²) / (q·(n−q)·Σ d²), zero-drift form — a
    // martingale holds VR ≈ 1, mean reversion pulls it below. Both
    // sums are exact DECIMAL(38,0) over the PERSISTED zero-filled day
    // spine (q_autocorr's calendar-bounded shape); ONE division per q.
    Q("q_variance_ratio",
      (s, dir) => {
        val dec38 = DecimalType(38, 0)
        val counts = medianDaily(t(s, dir, "orders"))
          .select(datediff(col("day").cast("date"),
            lit("1970-01-01").cast("date")).cast("long").as("d"),
            col("cents"))
        val bounds = counts.agg(min(col("d")), max(col("d"))).head
        val (minD, maxD) = (bounds.getLong(0), bounds.getLong(1))
        val dense = Artifacts.persist(s.range(minD, maxD + 1)
          .select(col("id").as("d"))
          .join(counts, Seq("d"), "left")
          .select(col("d"), coalesce(col("cents"), lit(0L)).as("x")))
        val w = Window.orderBy("d")
        val diffs = dense
          .select(col("d"), col("x"),
            (col("x") - lag(col("x"), 1).over(w)).as("d1"),
            (col("x") - lag(col("x"), 2).over(w)).as("d2"),
            (col("x") - lag(col("x"), 5).over(w)).as("d5"),
            (col("x") - lag(col("x"), 10).over(w)).as("d10"))
        val agg = diffs.agg(
          count(lit(1)).cast("long").as("n"),
          sum((col("d1").cast(dec38) * col("d1"))).as("s1"),
          sum((col("d2").cast(dec38) * col("d2"))).as("s2"),
          sum((col("d5").cast(dec38) * col("d5"))).as("s5"),
          sum((col("d10").cast(dec38) * col("d10"))).as("s10"))
        agg.select(expr(
          """stack(3,
            |  CAST(2 AS BIGINT), n, s1, s2,
            |  CAST(5 AS BIGINT), n, s1, s5,
            |  CAST(10 AS BIGINT), n, s1, s10)
            |AS (q, n, s1, sq)""".stripMargin))
          .select(col("q"), col("n"),
            when(col("s1") === 0 || col("n") <= col("q"),
              lit(null).cast("double"))
              .otherwise(round((col("sq") * (col("n") - 1)).cast("double")
                / (col("s1") * col("q") * (col("n") - col("q")))
                  .cast("double"), 12)).as("vr"))
          .orderBy("q")
      },
      Some("""WITH days AS (
                SELECT DATE_DIFF('day', DATE '1970-01-01',
                    CAST(date_trunc('day', o_orderdate) AS DATE)) AS d,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                    AS BIGINT) AS cents
                FROM orders GROUP BY 1),
              mm AS (SELECT MIN(d) AS mn, MAX(d) AS mx FROM days),
              dense AS (
                SELECT g.d, COALESCE(days.cents, 0) AS x
                FROM (SELECT UNNEST(generate_series(
                        (SELECT mn FROM mm), (SELECT mx FROM mm))) AS d) g
                  LEFT JOIN days ON g.d = days.d),
              diffs AS (
                SELECT x,
                  x - lag(x, 1) OVER (ORDER BY d) AS d1,
                  x - lag(x, 2) OVER (ORDER BY d) AS d2,
                  x - lag(x, 5) OVER (ORDER BY d) AS d5,
                  x - lag(x, 10) OVER (ORDER BY d) AS d10
                FROM dense),
              agg AS (
                SELECT CAST(count(*) AS BIGINT) AS n,
                  SUM(CAST(d1 AS HUGEINT) * d1) AS s1,
                  SUM(CAST(d2 AS HUGEINT) * d2) AS s2,
                  SUM(CAST(d5 AS HUGEINT) * d5) AS s5,
                  SUM(CAST(d10 AS HUGEINT) * d10) AS s10
                FROM diffs),
              outp AS (
                SELECT CAST(2 AS BIGINT) AS q, n, s1, s2 AS sq FROM agg
                UNION ALL
                SELECT CAST(5 AS BIGINT), n, s1, s5 FROM agg
                UNION ALL
                SELECT CAST(10 AS BIGINT), n, s1, s10 FROM agg)
              SELECT q, n,
                CASE WHEN s1 = 0 OR n <= q THEN NULL
                  ELSE round(CAST(sq * (n - 1) AS DOUBLE)
                    / CAST(s1 * q * (n - q) AS DOUBLE), 12)
                  END AS vr
              FROM outp ORDER BY q"""))
  )

  /** PSI-timeline sufficient statistic: the (week, value-bin) count
    * census — mergeable Complete-mode streaming state, bounded by
    * calendar × bins (never event volume).
    */
  def psiTimelineCells(events: DataFrame): DataFrame =
    events
      .groupBy(
        date_format(date_trunc("week", col("ts")).cast("date"),
          "yyyy-MM-dd").as("week"),
        floor(col("value") / 50).cast("long").as("bin"))
      .agg(count(lit(1)).as("n"))

  /** Readout of [[psiTimelineCells]] (batch or drained stream state):
    * dense grid, Laplace-smoothed proportions, 12-decimal terms and
    * the per-week pinned fold — drained ≡ batch exactly.
    */
  def psiTimelineFinish(cells0: DataFrame): DataFrame = {
    val cells = Artifacts.persist(cells0)
    val weeks = cells.select("week").distinct()
    val bins = cells.select("bin").distinct()
    val nBins = broadcast(bins.agg(count(lit(1)).as("n_bins")))
    val grid = weeks.crossJoin(bins)
      .join(cells, Seq("week", "bin"), "left")
      .select(col("week"), col("bin"), coalesce(col("n"), lit(0L)).as("n"))
    val wWeek = Window.partitionBy("week")
    val withTot = grid
      .select(col("week"), col("bin"), col("n"),
        sum(col("n")).over(wWeek).cast("long").as("n_week"))
    val base = withTot
      .crossJoin(broadcast(weeks.agg(min(col("week")).as("w0"))))
      .filter(col("week") === col("w0"))
      .select(col("bin"), col("n").as("b_n"), col("n_week").as("n_base"))
    withTot.join(base, "bin").crossJoin(nBins)
      .select(col("week"), col("bin"),
        round(((col("n").cast("double") + 1.0)
            / (col("n_week").cast("double") + col("n_bins").cast("double"))
          - (col("b_n").cast("double") + 1.0)
            / (col("n_base").cast("double")
              + col("n_bins").cast("double")))
          * log(((col("n").cast("double") + 1.0)
              / (col("n_week").cast("double")
                + col("n_bins").cast("double")))
            / ((col("b_n").cast("double") + 1.0)
              / (col("n_base").cast("double")
                + col("n_bins").cast("double")))), 12).as("term"))
      .groupBy("week")
      .agg(round(expr(
        """aggregate(array_sort(collect_list(struct(bin, term))),
             CAST(0 AS DOUBLE), (a, x) -> a + x.term)"""), 12)
        .as("psi"))
      .orderBy("week")
  }

  /** Seasonality-index sufficient statistic: the ≤7×|types| dow×type
    * count census — mergeable Complete-mode streaming state (exact
    * counts), shared by batch q_seasonality_index and its twin.
    */
  def seasonIdxCounts(events: DataFrame): DataFrame =
    events
      .select(dayofweek(col("ts")).cast("long").as("dow"), col("event_type"))
      .groupBy("dow", "event_type").agg(count(lit(1)).as("n"))

  /** Readout of [[seasonIdxCounts]] (batch or drained stream state):
    * marginals are census-over-census; the index is exact-count
    * arithmetic with two IEEE divisions — drained ≡ batch exactly.
    */
  def seasonIdxFinish(cells0: DataFrame): DataFrame = {
    val cells = Artifacts.persist(cells0)
    val perType = cells.groupBy("event_type").agg(sum(col("n")).as("n_type"))
    val perDow = cells.groupBy("dow").agg(sum(col("n")).as("n_dow"))
    val tot = cells.agg(sum(col("n")).as("n_all"))
    cells.join(perType, "event_type").join(perDow, "dow")
      .crossJoin(broadcast(tot))
      .select(col("dow"), col("event_type"), col("n"),
        ((col("n").cast("double") / col("n_type").cast("double"))
          / (col("n_dow").cast("double") / col("n_all").cast("double")))
          .as("seasonal_index"))
      .orderBy("dow", "event_type")
  }

  /** Type-mix drift sufficient statistic: the calendar × types weekly
    * count census — mergeable Complete-mode streaming state.
    */
  def typeShareCounts(events: DataFrame): DataFrame =
    events
      .groupBy(date_trunc("week", col("ts")).cast("date").as("week"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))

  /** Readout of [[typeShareCounts]]: weekly shares, WoW deltas and the
    * per-type argmax all live on the calendar × types frame; shares are
    * IEEE divisions of exact counts so drained ≡ batch exactly.
    */
  def typeShareFinish(cells0: DataFrame): DataFrame = {
    val cells = Artifacts.persist(cells0)
    val tot = cells.groupBy("week").agg(sum(col("n")).as("n_week"))
    val wLag = Window.partitionBy("event_type").orderBy("week")
    val pick = Window.partitionBy("event_type")
      .orderBy(col("abs_drift").desc, col("week"))
    cells.join(tot, "week")
      .select(col("event_type"), col("week"),
        (col("n").cast("double") / col("n_week").cast("double"))
          .as("share"))
      .withColumn("drift", col("share") - lag(col("share"), 1).over(wLag))
      .filter(col("drift").isNotNull)
      .withColumn("abs_drift", abs(col("drift")))
      .withColumn("rn", row_number().over(pick))
      .filter(col("rn") === 1)
      .select(col("event_type"),
        date_format(col("week"), "yyyy-MM-dd").as("peak_week"),
        col("share"), col("drift"))
      .orderBy("event_type")
  }

  /** CUSUM sufficient statistic: the (priority, day) revenue-cents
    * census. Mergeable (a decimal-sum census finalized to cents by a
    * post-agg projection), so the streaming twin keeps exactly this
    * frame as Complete-mode state — bounded by priorities × calendar
    * days, never by orders seen. Same contract as [[seasonCounts]].
    */
  def cusumDaily(orders: DataFrame): DataFrame =
    orders.groupBy(col("o_orderpriority"), col("o_orderdate").as("day"))
      .agg((sum(dec2(col("o_totalprice"))) * 100).cast("long").as("cents"))

  /** Finishing arithmetic of q_changepoint over the bounded day census:
    * centered-prefix CUSUM numerators (int64-exact, multiplied through
    * by n_days), grouped top-1 arg-max with the earliest-day tiebreak,
    * two IEEE divisions at the end. Every window here runs on the
    * calendar-bounded frame — the corpus-sized work all happened in
    * [[cusumDaily]].
    */
  /** Error-SLI sufficient statistic: the per-day (total, errors) count
    * census — mergeable Complete-mode state bounded by the calendar,
    * same contract as [[feedDaily]].
    */
  def errorDaily(events: DataFrame): DataFrame =
    events.groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L))
          .as("n_err"))

  /** Burn-rate readout of [[errorDaily]]: trailing-7-ROW sums on the
    * calendar-bounded census; exact counts, two identical division
    * chains — drained streaming state finishes to batch bit-for-bit.
    */
  def errorFinish(days: DataFrame): DataFrame = {
    val w = Window.orderBy("day").rowsBetween(-6, 0)
    days
      .select(col("day"), col("n_total"), col("n_err"),
        sum(col("n_err")).over(w).as("err7"),
        sum(col("n_total")).over(w).as("tot7"))
      .select(col("day"), col("n_total"), col("n_err"),
        col("err7"), col("tot7"),
        (col("n_err").cast("double") / col("n_total").cast("double"))
          .as("err_rate"),
        (col("err7").cast("double") / col("tot7").cast("double")
          / lit(0.01)).as("burn_rate"))
      .orderBy("day")
  }

  /** Shared feed-health sufficient statistic: the (priority, day) order-
    * count census. Mergeable Complete-mode state bounded by priorities ×
    * calendar days — ONE state, TWO readouts ([[gapsFinish]],
    * [[freshnessFinish]]), the chi2/tvd shared-census discipline applied
    * to ingest monitoring.
    */
  def feedDaily(orders: DataFrame): DataFrame =
    orders.groupBy(col("o_orderpriority"),
        date_trunc("day", col("o_orderdate")).as("day"))
      .agg(count(lit(1)).as("n"))

  /** Gap readout of [[feedDaily]]: one lead() on the calendar-bounded
    * census finds every silent stretch. All-integer.
    */
  def gapsFinish(days: DataFrame): DataFrame = {
    val w = Window.partitionBy("o_orderpriority").orderBy("day")
    days
      .select(col("o_orderpriority"), col("day"),
        lead(col("day"), 1).over(w).as("next_day"))
      .filter(col("next_day").isNotNull &&
        datediff(col("next_day"), col("day")) > 1)
      .select(col("o_orderpriority"), col("day").as("gap_start"),
        (datediff(col("next_day"), col("day")) - 1).cast("long")
          .as("missing_days"))
      .orderBy("o_orderpriority", "gap_start")
  }

  /** Staleness/volume-trend readout of [[feedDaily]]: global high-water
    * mark as a 1-row broadcast, per-feed last-delivery lag and
    * last-7 vs previous-7 volumes; one guarded division.
    */
  def freshnessFinish(days: DataFrame): DataFrame = {
    val gmax = days.agg(max(col("day")).as("gday"))
    days.crossJoin(broadcast(gmax))
      .groupBy("o_orderpriority")
      .agg(max(col("day")).as("last_day"),
        max(col("gday")).as("gday"),
        sum(when(datediff(col("gday"), col("day")) < 7, col("n"))
          .otherwise(0L)).as("n_last7"),
        sum(when(datediff(col("gday"), col("day")).between(7, 13),
          col("n")).otherwise(0L)).as("n_prev7"))
      .select(col("o_orderpriority"), col("last_day"),
        datediff(col("gday"), col("last_day")).cast("long")
          .as("days_stale"),
        col("n_last7"), col("n_prev7"),
        when(col("n_prev7") > 0L,
          col("n_last7").cast("double") / col("n_prev7").cast("double"))
          .otherwise(lit(0.0)).as("wow_ratio"))
      .orderBy("o_orderpriority")
  }

  /** Pinned integer trig weights for q_spectral_power: round(cos/sin of
    * 2πk/p × 10⁶) computed ONCE here and interpolated into both the
    * Spark plan and the DuckDB oracle, so no engine ever evaluates a
    * transcendental — the ln(6) pinned-literal discipline, automated
    * for a weight table.
    */
  private[ops] object SpectralLits {
    private def w(p: Int, f: Double => Double): Seq[Long] =
      (0 until p).map(k => math.round(f(2 * math.Pi * k / p) * 1e6))
    val c7: Seq[Long] = w(7, math.cos)
    val s7: Seq[Long] = w(7, math.sin)
    val c30: Seq[Long] = w(30, math.cos)
    val s30: Seq[Long] = w(30, math.sin)
  }

  /** Sliding-median sufficient statistic: the per-day revenue-cents
    * census (decimal sum → cents projection — mergeable, so the
    * streaming twin keeps exactly this frame as Complete-mode state,
    * bounded by the calendar). Same contract as [[cusumDaily]].
    */
  /** Shared Sen-slope pair frame for q_theil_sen / q_theil_sen_ci
    * (round 11): both queries build the IDENTICAL calendar²-bounded
    * (d < d2) slope frame off the day census — ~2.9M 12-rounded slope
    * doubles at any SF (days², not rows²). Built once per (session,
    * dir) and localCheckpoint-pinned (the Artifacts train-once
    * contract) so the point estimate and the rank CI read one
    * materialization instead of each paying the pair join.
    */
  private[ops] val senPairs = Artifacts.pinned { (s, dir) =>
    // round 13: the pinned artifact is the RANKED slope census
    // (sl, c, off, m) — off = exclusive multiplicity prefix in slope
    // order, m = total pair count — so every Sen order-statistic
    // pick (the slope median, both CI bounds) is ONE conditional
    // agg over the artifact; the calendar²-sized pair fan-out and
    // its rank pass run once per session, not per query.
    val cen = Artifacts.persist(senDayCensus(s, dir))
    val slCen = Artifacts.persist(cen.as("a")
      .join(cen.select(col("d").as("d2"), col("y").as("y2")),
        col("d") < col("d2"))
      .select(
        round((col("y2") - col("y")).cast("double")
          / (col("d2") - col("d")).cast("double"), 12).as("sl"))
      .groupBy("sl").agg(count(lit(1)).cast("long").as("c")))
    val tot = slCen.agg(sum(col("c")).cast("long").as("m"))
    RangeRank.ranked(slCen.withColumn("g", lit(1L)),
        Seq("g"), Seq(col("sl")),
        rnName = "__rn", nName = None,
        prefixSums = Seq(RangeRank.PrefixSum(col("c"), "off")))
      .crossJoin(broadcast(tot))
      .select(col("sl"), col("c"), col("off").cast("long").as("off"),
        col("m"))
  }

  private def senDayCensus(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(
        expr("datediff(CAST(o_orderdate AS DATE), DATE'1970-01-01')")
          .as("d"),
        (dec2(col("o_totalprice")) * 100).cast("long").as("cents"))
      .groupBy("d")
      .agg(sum(col("cents").cast(DecimalType(38, 0))).as("y"))

  def medianDaily(orders: DataFrame): DataFrame =
    orders.groupBy(date_trunc("day", col("o_orderdate")).as("day"))
      .agg((sum(dec2(col("o_totalprice"))) * 100).cast("long").as("cents"))

  /** Sign-test finishing arithmetic over the SAME [[medianDaily]] day
    * census — pairs each day with day−7 by calendar self-join, counts
    * strict up/down moves, z = (up − down)/√(up + down). A drained
    * Complete-mode day census finishes here bit-for-bit (all-integer
    * until the one division).
    */
  def signFinish(days: DataFrame): DataFrame = {
    val prev = days.select(expr("day + interval 7 days").as("day"),
      col("cents").as("p_cents"))
    days.join(prev, "day")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("cents") > col("p_cents"), 1L).otherwise(0L))
          .cast("long").as("n_up"),
        sum(when(col("cents") < col("p_cents"), 1L).otherwise(0L))
          .cast("long").as("n_down"))
      .select(col("n_pairs"), col("n_up"), col("n_down"),
        when(col("n_up") + col("n_down") === 0,
          lit(null).cast("double"))
          .otherwise((col("n_up").cast("double")
            - col("n_down").cast("double"))
            / sqrt(col("n_up").cast("double")
              + col("n_down").cast("double"))).as("z_sign"))
  }

  /** Finishing arithmetic of q_forecast_eval over the SAME day census
    * q_rolling_median keeps ([[medianDaily]]) — the third readout of
    * that Complete-mode streaming state: actual-vs-(d−7) self-join on
    * the calendar-bounded frame, monthly SMAPE from exact-integer sums.
    * Drained stream state finishes to batch bit-for-bit (one IEEE
    * division per month of identical integers).
    */
  def forecastFinish(days: DataFrame): DataFrame = {
    val f = days.select(expr("day + interval 7 days").as("day"),
      col("cents").as("f_cents"))
    days.join(f, "day")
      .groupBy(date_trunc("month", col("day")).as("month"))
      .agg(count(lit(1)).as("n_days"),
        sum(abs(col("cents") - col("f_cents"))).as("abs_err_cents"),
        sum(col("cents") + col("f_cents")).as("denom_cents"))
      .select(col("month"), col("n_days"), col("abs_err_cents"),
        (col("abs_err_cents").cast("double")
          / col("denom_cents").cast("double")).as("smape"))
      .orderBy("month")
  }

  /** Finishing arithmetic of q_mase over the SAME day census
    * q_rolling_median / q_forecast_eval keep ([[medianDaily]]) — the
    * FOURTH readout of that Complete-mode streaming state: lag-1 /
    * lag-7 windows above the calendar-bounded frame, exact dec38
    * Σ|e|/Σe² sums, MASE as one cross-product division and Theil's U1
    * as three √s of identical integers. Drained ≡ batch exactly.
    */
  /** Finishing arithmetic of q_tracking_signal over the SAME day census
    * the rolling-median / forecast / MASE family keeps ([[medianDaily]])
    * — the FIFTH readout of that Complete-mode streaming state: d−7
    * self-join, exact dec38 Σe and Σ|e| per month, TS as one
    * cross-product division. Drained ≡ batch exactly.
    */
  def trackingFinish(days: DataFrame): DataFrame = {
    val dec38 = DecimalType(38, 0)
    val f = days.select(expr("day + interval 7 days").as("day"),
      col("cents").as("f_cents"))
    days.join(f, "day")
      .groupBy(date_trunc("month", col("day")).as("month"))
      .agg(count(lit(1)).cast("long").as("n_days"),
        sum((col("cents") - col("f_cents")).cast(dec38)).as("sum_e"),
        sum(abs((col("cents") - col("f_cents")).cast(dec38)))
          .as("sum_abs_e"))
      .select(col("month"), col("n_days"),
        col("sum_e").cast("long").as("err_cents"),
        when(col("sum_abs_e") === 0, lit(null).cast("double"))
          .otherwise(round((col("sum_e") * col("n_days"))
            .cast("double") / col("sum_abs_e").cast("double"), 12))
          .as("tracking_signal"))
      .orderBy("month")
  }

  def maseFinish(daysIn: DataFrame): DataFrame = {
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val w = Window.orderBy("day")
    val days = daysIn
      .withColumn("lag1", lag(col("cents"), 1).over(w))
      .withColumn("lag7", lag(col("cents"), 7).over(w))
    val agg = days.agg(
      count(lit(1)).cast("long").as("n_days"),
      sum(when(col("lag1").isNotNull, 1L)).cast("long").as("n1"),
      sum(when(col("lag7").isNotNull, 1L)).cast("long").as("n7"),
      sum(abs((col("cents") - col("lag1")).cast(dec38))).as("ae1"),
      sum(abs((col("cents") - col("lag7")).cast(dec38))).as("ae7"),
      sum(when(col("lag1").isNotNull,
        (col("cents") - col("lag1")).cast(dec38)
          * (col("cents") - col("lag1")).cast(dec38))).as("se1"),
      sum(when(col("lag1").isNotNull,
        col("cents").cast(dec38) * col("cents").cast(dec38)))
        .as("sc2"),
      sum(col("lag1").cast(dec38) * col("lag1").cast(dec38))
        .as("sf2"))
    agg.select(col("n_days"), col("n1"), col("n7"),
      when(col("n1") === 0 || col("n7") === 0 || col("ae7") === 0,
        lit(null).cast("double"))
        .otherwise(round((col("ae1").cast(dec38) * col("n7"))
          .cast("double")
          / (col("ae7").cast(dec38) * col("n1")).cast("double"), 12))
        .as("mase"),
      when(col("n1") === 0
        || sqrt(col("sc2").cast("double"))
          + sqrt(col("sf2").cast("double")) === 0.0,
        lit(null).cast("double"))
        .otherwise(round(sqrt(col("se1").cast("double"))
          / (sqrt(col("sc2").cast("double"))
            + sqrt(col("sf2").cast("double"))), 12)).as("theil_u1"))
  }

  /** Finishing arithmetic of q_rolling_median over the bounded day
    * census: one ORDER BY day window on the calendar-bounded frame,
    * 7-ROWS trailing collect, row-local 4th-smallest pick. All-integer
    * — drained streaming state finishes to batch bit-for-bit.
    */
  def medianFinish(days: DataFrame): DataFrame = {
    val w = Window.orderBy("day")
    days
      .select(col("day"),
        sort_array(collect_list(col("cents"))
          .over(w.rowsBetween(-6, 0))).as("arr"),
        row_number().over(w).as("rn"))
      .filter(col("rn") >= 7)
      .select(col("day"), element_at(col("arr"), 4).as("med_cents"))
      .orderBy("day")
  }

  /** The [[medianDaily]] census with its timestamp day key converted
    * to the epoch-day longs the rank-test finishes sort by — the
    * conversion is a bijection on day keys, so the census rows (and
    * every statistic below) are identical to grouping by epoch day
    * directly.
    */
  private def epochDays(days: DataFrame): DataFrame =
    days.select(
      datediff(col("day").cast("date"), lit("1970-01-01").cast("date"))
        .cast("long").as("day"),
      col("cents"))

  /** Finishing arithmetic of q_bartels_rank over the bounded day
    * census (drained≡batch: midranks, the dec38 RVN integers and the
    * exact-rational z are all deterministic functions of the census).
    */
  def bartelsFinish(days0: DataFrame): DataFrame = {
    val dec38 = DecimalType(38, 0)
    val wv = Window.orderBy("cents")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wDay = Window.orderBy("day")
    val daily = epochDays(days0)
    val vc = daily.groupBy("cents")
      .agg(count(lit(1)).cast("long").as("n_c"))
      .withColumn("cum_before",
        coalesce(sum(col("n_c")).over(wv), lit(0L)))
      .withColumn("midrank_x2",
        lit(2L) * col("cum_before") + col("n_c") + 1L)
    val a = daily.join(vc.select("cents", "midrank_x2"), "cents")
      .withColumn("dd",
        col("midrank_x2") - lead(col("midrank_x2"), 1).over(wDay))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("midrank_x2").cast(dec38) * col("midrank_x2"))
          .as("s2"),
        sum(when(col("dd").isNotNull,
          col("dd").cast(dec38) * col("dd"))
          .otherwise(lit(0L).cast(dec38))).as("num4"))
    a.select(col("n"), col("num4").cast("long").as("num4"),
        (col("s2") - col("n").cast(dec38) * (col("n") + 1)
          * (col("n") + 1)).cast("long").as("den4"))
      .withColumn("rvn",
        when(col("den4") <= 0, lit(null).cast("double"))
          .otherwise(col("num4").cast("double")
            / col("den4").cast("double")))
      .withColumn("z",
        when(col("rvn").isNull || col("n") < 4,
          lit(null).cast("double"))
          .otherwise((col("rvn") - 2.0)
            / sqrt(
              (lit(4L).cast(dec38) * (col("n") - 2)
                * ((lit(5L).cast(dec38) * col("n") * col("n"))
                  - lit(2L) * col("n") - lit(9L))).cast("double")
              / (lit(5L).cast(dec38) * col("n") * (col("n") + 1)
                * (col("n") - 1) * (col("n") - 1)).cast("double"))))
  }

  /** Finishing arithmetic of q_pettitt over the bounded day census —
    * the U_t prefix identity, the abs-desc/day-asc argmax pick and the
    * λ readout are exact-integer functions of the census (drained
    * streaming state finishes to batch bit-for-bit).
    */
  def pettittFinish(days0: DataFrame): DataFrame = {
    val dec38 = DecimalType(38, 0)
    val wv = Window.orderBy("cents")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val daily = epochDays(days0)
    val vc = daily.groupBy("cents")
      .agg(count(lit(1)).cast("long").as("n_c"))
      .withColumn("cum_before",
        coalesce(sum(col("n_c")).over(wv), lit(0L)))
      .withColumn("midrank_x2",
        lit(2L) * col("cum_before") + col("n_c") + 1L)
    val u = daily.join(vc.select("cents", "midrank_x2"), "cents")
      .withColumn("t_idx",
        row_number().over(Window.orderBy("day")).cast("long"))
      .withColumn("cum_x2",
        sum(col("midrank_x2")).over(wCum).cast("long"))
    val nf = u.agg(max(col("t_idx")).cast("long").as("n"))
    val pick = Window.orderBy(abs(col("u")).desc, col("day").asc)
    u.crossJoin(broadcast(nf))
      .filter(col("t_idx") < col("n"))
      .select(col("day"), col("n"),
        (col("cum_x2") - col("t_idx") * (col("n") + 1)).as("u"))
      .withColumn("rn", row_number().over(pick))
      .filter(col("rn") === 1)
      .select(col("n"), col("day").as("change_day"),
        col("u").cast("long").as("u_change"),
        abs(col("u")).cast("long").as("k_stat"),
        (lit(6.0) * abs(col("u")).cast("double")
          * abs(col("u")).cast("double")
          / (col("n").cast(dec38) * col("n") * col("n")
            + col("n").cast(dec38) * col("n")).cast("double"))
          .as("lambda"))
  }

  /** Finishing arithmetic of q_pinball_loss over the bounded day
    * census (the r9 drained≡batch streaming twin — it rides the SAME
    * per-day revenue census [[medianFinish]] reads): exact
    * value-at-rank quantile selection (RangeRank's histogram bracket),
    * then the τ-weighted dec38 loss masses and one rounded double
    * division per row. All-integer until the display division —
    * drained streaming state finishes to batch bit-for-bit.
    */
  def pinballFinish(dayCensus: DataFrame): DataFrame = {
    val dec38 = DecimalType(38, 0)
    val days = Artifacts.persist(dayCensus.withColumn("g", lit(1L)))
    val qs = RangeRank.groupValuesAtRanks(days, Seq("g"), "cents",
      Seq(RangeRank.RankPick("q10", n => ceil(n * 0.1)),
        RangeRank.RankPick("q50", n => ceil(n * 0.5)),
        RangeRank.RankPick("q90", n => ceil(n * 0.9))))
      .select("q10", "q50", "q90")
    val losses = days.crossJoin(broadcast(qs))
      .agg(count(lit(1)).cast("long").as("n_days"),
        max(col("q10")).as("f10"), max(col("q50")).as("f50"),
        max(col("q90")).as("f90"),
        sum(when(col("cents") >= col("q10"),
          (col("cents") - col("q10")).cast(dec38) * 1)
          .otherwise((col("q10") - col("cents")).cast(dec38) * 9))
          .as("l10"),
        sum(when(col("cents") >= col("q50"),
          (col("cents") - col("q50")).cast(dec38) * 5)
          .otherwise((col("q50") - col("cents")).cast(dec38) * 5))
          .as("l50"),
        sum(when(col("cents") >= col("q90"),
          (col("cents") - col("q90")).cast(dec38) * 9)
          .otherwise((col("q90") - col("cents")).cast(dec38) * 1))
          .as("l90"))
    losses.select(expr(
      """stack(3,
        |  CAST(10 AS BIGINT), n_days, f10, l10,
        |  CAST(50 AS BIGINT), n_days, f50, l50,
        |  CAST(90 AS BIGINT), n_days, f90, l90)
        |AS (tau_pct, n_days, forecast_cents, loss_x10)""".stripMargin))
      .select(col("tau_pct"), col("n_days"), col("forecast_cents"),
        round(col("loss_x10").cast("double")
          / (col("n_days").cast("double") * 1000.0), 6)
          .as("mean_pinball_dollars"))
      .orderBy("tau_pct")
  }

  def cusumFinish(daily: DataFrame): DataFrame = {
    val wSeq = Window.partitionBy("o_orderpriority").orderBy("day")
    val wAll = Window.partitionBy("o_orderpriority")
    val scored = daily
      .select(col("o_orderpriority"), col("day"),
        row_number().over(wSeq).cast("long").as("k"),
        sum(col("cents")).over(wSeq.rowsBetween(
          Window.unboundedPreceding, Window.currentRow)).as("prefix"),
        count(lit(1)).over(wAll).cast("long").as("n_days"),
        sum(col("cents")).over(wAll).as("total"))
      .select(col("o_orderpriority"), col("day"), col("k"),
        col("n_days"),
        (col("n_days") * col("prefix") - col("k") * col("total"))
          .as("cusum_num"),
        col("prefix"), col("total"))
    val pick = Window.partitionBy("o_orderpriority")
      .orderBy(abs(col("cusum_num")).desc, col("day"))
    scored
      .withColumn("rn", row_number().over(pick))
      .filter(col("rn") === 1)
      .select(col("o_orderpriority"), col("day").as("change_day"),
        col("k"), col("n_days"), col("cusum_num"),
        (col("prefix").cast("double") / col("k").cast("double") / 100.0)
          .as("mean_before"),
        ((col("total") - col("prefix")).cast("double")
          / (col("n_days") - col("k")).cast("double") / 100.0)
          .as("mean_after"))
      .orderBy("o_orderpriority")
  }
}
