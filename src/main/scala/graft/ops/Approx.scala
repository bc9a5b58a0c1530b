package graft.ops

import graft.{Q, Tables}
import graft.Q._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Approximate aggregates (SURVEY §2.D — engine-default, oracle-exempt).
  *
  * At 100 TB, exact `count(DISTINCT)` is a two-phase expansion whose
  * first phase shuffles every distinct value; the HLL++ sketch shuffles
  * a fixed ~KB buffer per group instead. Deterministic for a fixed
  * input+rsd (the sketch is hash-based, no RNG), but not
  * SQL-oracle-checkable — accuracy bounds are asserted in OpsSpec
  * against the exact counts.
  */
object Approx {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** Raw HLL inclusion–exclusion estimates per event-type pair —
    * package-private so OpsSpec asserts the tolerance bound on the RAW
    * estimates (vs its own exact census) independently of the oracled
    * q_overlap_sketch output that folds them into `est_ok`.
    */
  private[graft] def overlapSketchEst(s: SparkSession, dir: String): DataFrame =
    overlapSketchEstFrom(t(s, dir, "events"))

  /** [[overlapSketchEst]] over a caller-supplied (user_id, event_type)
    * frame. HLL insertion is duplicate-insensitive and order-free, so
    * feeding the DISTINCT pair census yields byte-identical sketches to
    * the raw event stream — the oracled query reuses its persisted
    * exact-census input here and pays zero extra scans.
    */
  private[graft] def overlapSketchEstFrom(events: DataFrame): DataFrame = {
    val sk = events
      .groupBy("event_type")
      .agg(hll_sketch_agg(col("user_id"), lit(14)).as("sk"))
    val a = sk.select(col("event_type").as("ta"), col("sk").as("sk_a"))
    val b = sk.select(col("event_type").as("tb"), col("sk").as("sk_b"))
    a.crossJoin(b).filter(col("ta") < col("tb"))
      .select(col("ta"), col("tb"),
        hll_sketch_estimate(col("sk_a")).as("est_a"),
        hll_sketch_estimate(col("sk_b")).as("est_b"),
        hll_sketch_estimate(hll_union(col("sk_a"), col("sk_b")))
          .as("est_union"))
      .select(col("ta"), col("tb"), col("est_a"), col("est_b"),
        col("est_union"),
        (col("est_a") + col("est_b") - col("est_union")).as("est_both"))
      .orderBy("ta", "tb")
  }

  /** Raw HLL sketch-cube estimates at cell / priority / grand-total
    * levels — the [[overlapSketchEst]] twin for q_sketch_rollup.
    */
  private[graft] def sketchRollupEst(s: SparkSession, dir: String): DataFrame =
    sketchRollupEstFrom(t(s, dir, "orders"))

  /** [[sketchRollupEst]] over a caller-supplied orders frame — the
    * oracled query passes its persisted 3-column projection so the
    * sketch cube and the exact rollup share one scan.
    */
  private[graft] def sketchRollupEstFrom(orders: DataFrame): DataFrame = {
    val cells = orders
      .groupBy("o_orderpriority", "o_orderstatus")
      .agg(hll_sketch_agg(col("o_custkey"), lit(14)).as("sk"),
        count(lit(1)).as("cnt"))
    val perPriority = cells.groupBy("o_orderpriority")
      .agg(hll_union_agg(col("sk")).as("sk"), sum("cnt").as("cnt"))
      .select(col("o_orderpriority"), lit("ALL").as("o_orderstatus"),
        hll_sketch_estimate(col("sk")).as("est_custs"), col("cnt"))
    val total = cells.groupBy()
      .agg(hll_union_agg(col("sk")).as("sk"), sum("cnt").as("cnt"))
      .select(lit("ALL").as("o_orderpriority"), lit("ALL").as("o_orderstatus"),
        hll_sketch_estimate(col("sk")).as("est_custs"), col("cnt"))
    cells.select(col("o_orderpriority"), col("o_orderstatus"),
        hll_sketch_estimate(col("sk")).as("est_custs"), col("cnt"))
      .unionByName(perPriority).unionByName(total)
      .orderBy("o_orderpriority", "o_orderstatus")
  }

  val queries: Seq[Q] = Seq(

    // ── sketch-based audience overlap (inclusion–exclusion on HLL) ──────
    // The pre-aggregated twin of q_set_overlap: per-type user sketches
    // materialize once (constant-size state per type — the shuffle
    // carries KB buffers, never user ids), every pairwise intersection
    // is then |A| + |B| − |A ∪ B| over UNIONED STORED SKETCHES — no
    // second pass over the events. The I-E subtraction amplifies HLL's
    // relative error when the intersection is small relative to the
    // union (the documented trade); OpsSpec asserts every raw estimate
    // (from [[overlapSketchEst]]) within tolerance of the exact census.
    // Pair fan-out is a crossJoin of the ≤|types|-row sketch table —
    // constant size at any SF. The QUERY output is hash-oracled
    // (r7 verdict #7): the exact pair census rides alongside, and the
    // sketch surfaces through `est_ok` — |est − exact| within the
    // spec's tolerance — which DuckDB pins to TRUE, so an out-of-bound
    // estimate fails the hash gate, not just the spec.
    Q("q_overlap_sketch",
      (s, dir) => {
        val ut = Artifacts.persist(t(s, dir, "events")
          .select("user_id", "event_type").distinct())
        // sketches read the SAME persisted pair census (HLL insertion
        // is duplicate-insensitive, so the estimates are byte-identical
        // to raw-stream sketches) — readout pays zero parquet scans
        val est = overlapSketchEstFrom(ut)
        val exact = ut.as("a")
          .join(ut.as("b"), col("a.user_id") === col("b.user_id")
            && col("a.event_type") < col("b.event_type"))
          .groupBy(col("a.event_type").as("ta"),
            col("b.event_type").as("tb"))
          .agg(count(lit(1)).as("n_both"))
        val sz = ut.groupBy("event_type").agg(count(lit(1)).as("n"))
        exact
          .join(sz.select(col("event_type").as("ta"), col("n").as("n_a")),
            Seq("ta"))
          .join(sz.select(col("event_type").as("tb"), col("n").as("n_b")),
            Seq("tb"))
          .join(est, Seq("ta", "tb"))
          .select(col("ta"), col("tb"), col("n_a"), col("n_b"),
            col("n_both"),
            // OpsSpec's bound: I-E amplifies HLL error by the
            // union/intersection ratio, so tolerate 5% of the UNION
            (abs(col("est_both").cast("double")
              - col("n_both").cast("double"))
              <= greatest(lit(3.0),
                (col("n_a") + col("n_b") - col("n_both"))
                  .cast("double") * 0.05)).as("est_ok"))
          .orderBy("ta", "tb")
      },
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
                TRUE AS est_ok
              FROM pairs JOIN sz za ON ta = za.event_type
                JOIN sz zb ON tb = zb.event_type
              ORDER BY ta, tb""")),

    // ── count-min sketch heavy-token estimates, exact error readout ──────
    // The third sketch family (HLL = distinct, Misra-Gries = candidates,
    // CMS = frequencies): a d=4 × w=1024 count-min sketch expressed
    // RELATIONALLY — each row r hashes every token into w buckets and
    // the (r, bucket) cell mass is a plain partial+final SUM, so the
    // sketch is mergeable across partitions/streams by construction and
    // costs 4·w longs no matter the corpus. est(t) = min_r cell_r(t) ≥
    // true count always. Built from the exact token census, which CMS's
    // count-additivity makes byte-identical to sketching the raw stream
    // (the HLL shared-projection trick, additive version) — so the
    // corpus is scanned once and the whole query, estimates INCLUDED,
    // is deterministic exact-integer arithmetic the oracle replays:
    // the portable polynomial char hash and the 4 pinned affine row
    // hashes compute identically in both engines. Output: the top-10
    // tokens by exact count with their CMS estimate and overcount —
    // the sketch-accuracy readout a 100-TB pipeline monitors before
    // trusting CMS-gated filters.
    Q("q_cms_topk",
      (s, dir) => {
        val P = 1000000007L
        val counts = t(s, dir, "documents")
          .select(explode(expr("filter(split(text, ' '), x -> x <> '')"))
            .as("token"))
          .groupBy("token").agg(count(lit(1)).as("cnt"))
          .withColumn("h", expr(
            s"""aggregate(filter(split(token, ''), ch -> ch <> ''),
                0L, (acc, ch) -> (acc * 31 + ascii(ch)) % ${P}L"""
              + ")"))
        val params = array(
          struct(lit(0).as("r"), lit(31L).as("a"), lit(7L).as("b")),
          struct(lit(1).as("r"), lit(131L).as("a"), lit(911L).as("b")),
          struct(lit(2).as("r"), lit(8191L).as("a"), lit(3571L).as("b")),
          struct(lit(3).as("r"), lit(524287L).as("a"), lit(1231L).as("b")))
        val rb = counts
          .select(col("token"), col("cnt"), col("h"),
            explode(params).as("pp"))
          .select(col("token"), col("cnt"), col("pp.r").as("r"),
            (((col("h") * col("pp.a") + col("pp.b")) % P) % 1024)
              .as("bucket"))
        val cells = rb.groupBy("r", "bucket")
          .agg(sum(col("cnt")).cast("long").as("mass"))
        rb.join(broadcast(cells), Seq("r", "bucket"))
          .groupBy("token", "cnt")
          .agg(min(col("mass")).as("cms_est"))
          .orderBy(col("cnt").desc, col("token"))
          .limit(10)
          .select(col("token"), col("cnt"), col("cms_est"),
            (col("cms_est") - col("cnt")).as("overcount"))
          .orderBy(col("cnt").desc, col("token"))
      },
      Some("""WITH toks AS (
                SELECT unnest(string_split(text, ' ')) AS token
                FROM documents),
              counts AS (
                SELECT token, CAST(count(*) AS BIGINT) AS cnt
                FROM toks WHERE token <> '' GROUP BY 1),
              h AS (
                SELECT token, cnt,
                  list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(string_split(token, ''),
                      ch -> CAST(ascii(ch) AS BIGINT))),
                    (acc, ch) -> (acc * 31 + ch) % 1000000007) AS h
                FROM counts),
              params(r, a, b) AS (VALUES
                (0, 31, 7), (1, 131, 911),
                (2, 8191, 3571), (3, 524287, 1231)),
              rb AS (
                SELECT h.token, h.cnt, p.r,
                  ((h.h * p.a + p.b) % 1000000007) % 1024 AS bucket
                FROM h, params p),
              cells AS (
                SELECT r, bucket, CAST(SUM(cnt) AS BIGINT) AS mass
                FROM rb GROUP BY 1, 2),
              est AS (
                SELECT rb.token, rb.cnt, MIN(c.mass) AS cms_est
                FROM rb JOIN cells c
                  ON rb.r = c.r AND rb.bucket = c.bucket
                GROUP BY 1, 2
                ORDER BY rb.cnt DESC, rb.token LIMIT 10)
              SELECT token, cnt, CAST(cms_est AS BIGINT) AS cms_est,
                CAST(cms_est - cnt AS BIGINT) AS overcount
              FROM est ORDER BY cnt DESC, token""")),

    // ── KMV bottom-k distinct sketch, estimate hash-gated ───────────────
    // The fourth sketch family (HLL = distinct-bits, Misra-Gries =
    // candidates, CMS = frequencies, KMV = distinct-order-statistics):
    // keep the k = 256 smallest hash values of the token vocabulary;
    // D̂ = (k−1)·P / h₍ₖ₎ estimates the distinct count from how densely
    // the bottom of the hash range fills. Relational spelling is ONE
    // global bottom-k — Spark plans orderBy().limit(k) as per-partition
    // top-k + a k-row driver merge (TakeOrderedAndProject), never a full
    // sort, so the sketch costs k longs at any corpus. Insertion is
    // duplicate-insensitive ⇒ built from the DISTINCT-token census
    // (the HLL shared-projection trick); the portable polynomial char
    // hash replays in DuckDB, ordering of exact longs is total, and the
    // estimate is one pinned double division — so the ESTIMATE itself
    // is hash-gated, not just bounded. Fewer-than-k vocab degenerates
    // to the exact regime (the sketch IS exact there), guarded.
    Q("q_kmv_distinct",
      (s, dir) => {
        val P = 1000000007L
        val k = 256
        val hashes = Artifacts.persist(t(s, dir, "documents")
          .select(explode(expr("filter(split(text, ' '), x -> x <> '')"))
            .as("token"))
          .distinct()
          .withColumn("h", expr(
            s"""aggregate(filter(split(token, ''), ch -> ch <> ''),
                0L, (acc, ch) -> (acc * 31 + ascii(ch)) % ${P}L"""
              + ")")))
        val nExact = hashes.agg(count(lit(1)).cast("long").as("n_exact"),
          countDistinct(col("h")).cast("long").as("n_h"))
        val kth = hashes.select("h").distinct()
          .orderBy("h").limit(k)
          .agg(max(col("h")).cast("long").as("kth_min"),
            count(lit(1)).cast("long").as("k_used"))
        kth.crossJoin(broadcast(nExact))
          .select(col("k_used"), col("kth_min"), col("n_exact"),
            when(col("k_used") < k, col("n_h").cast("double"))
              .otherwise((lit((k - 1).toLong * P)).cast("double")
                / col("kth_min").cast("double")).as("kmv_est"))
          .select(col("k_used"), col("kth_min"), col("n_exact"),
            col("kmv_est"),
            ((col("kmv_est") - col("n_exact").cast("double"))
              / col("n_exact").cast("double")).as("rel_err"))
      },
      Some(s"""WITH toks AS (
                SELECT DISTINCT unnest(string_split(text, ' ')) AS token
                FROM documents),
              h AS (
                SELECT token,
                  list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(string_split(token, ''),
                      ch -> CAST(ascii(ch) AS BIGINT))),
                    (acc, ch) -> (acc * 31 + ch) % 1000000007) AS h
                FROM toks WHERE token <> ''),
              nx AS (
                SELECT CAST(count(*) AS BIGINT) AS n_exact,
                  CAST(count(DISTINCT h) AS BIGINT) AS n_h
                FROM h),
              bot AS (
                SELECT DISTINCT h AS hv FROM h ORDER BY hv LIMIT 256),
              kth AS (
                SELECT CAST(MAX(hv) AS BIGINT) AS kth_min,
                  CAST(count(*) AS BIGINT) AS k_used
                FROM bot),
              m AS (
                SELECT k_used, kth_min, n_exact,
                  CASE WHEN k_used < 256 THEN CAST(n_h AS DOUBLE)
                    ELSE CAST(${(255L * 1000000007L)} AS DOUBLE)
                      / CAST(kth_min AS DOUBLE) END AS kmv_est
                FROM kth, nx)
              SELECT k_used, kth_min, n_exact, kmv_est,
                (kmv_est - CAST(n_exact AS DOUBLE))
                  / CAST(n_exact AS DOUBLE) AS rel_err
              FROM m""")),

    Q("q_approx_distinct",
      (s, dir) => t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          approx_count_distinct(col("l_partkey"), 0.05).as("approx_part"),
          approx_count_distinct(col("l_suppkey"), 0.05).as("approx_supp"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag"),
      None),

    // percentile_approx: same trade — bounded sketch vs full sort
    Q("q_approx_quantiles",
      (s, dir) => t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000)).as("p50"),
          percentile_approx(col("l_extendedprice"), lit(0.99), lit(10000)).as("p99"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag"),
      None),

    // ── mergeable sketch rollup (Datasketches HLL) ───────────────────────
    // THE 100-TB pre-aggregation pattern approx_count_distinct can't do:
    // per-segment sketches materialize ONCE (here per (priority, status)
    // cell over o_custkey), then any coarser rollup — per priority, and
    // the grand total — comes from UNIONING the stored binary sketches,
    // never rescanning the fact table. A daily 100-TB pipeline keeps a
    // sketch cube and answers month/year/all-time distincts in
    // milliseconds. Raw estimates at every level (from
    // [[sketchRollupEst]]) are asserted within HLL error of exact in
    // OpsSpec; the QUERY output is hash-oracled (r7 verdict #7): the
    // exact rollup census rides alongside, and the sketch surfaces
    // through `est_ok` — |est − exact| ≤ max(2, 5%·exact) — which
    // DuckDB pins to TRUE, so an out-of-bound estimate fails the hash
    // gate, not just the spec.
    Q("q_sketch_rollup",
      (s, dir) => {
        val base = Artifacts.persist(t(s, dir, "orders")
          .select("o_orderpriority", "o_orderstatus", "o_custkey"))
        val est = sketchRollupEstFrom(base)
        val exact = base
          .rollup("o_orderpriority", "o_orderstatus")
          .agg(countDistinct(col("o_custkey")).as("exact_custs"))
          .select(
            coalesce(col("o_orderpriority"), lit("ALL"))
              .as("o_orderpriority"),
            coalesce(col("o_orderstatus"), lit("ALL")).as("o_orderstatus"),
            col("exact_custs"))
        est.join(exact, Seq("o_orderpriority", "o_orderstatus"))
          .select(col("o_orderpriority"), col("o_orderstatus"),
            col("exact_custs"), col("cnt"),
            (abs(col("est_custs").cast("double")
              - col("exact_custs").cast("double"))
              <= greatest(lit(2.0), col("exact_custs").cast("double")
                * 0.05)).as("est_ok"))
          .orderBy("o_orderpriority", "o_orderstatus")
      },
      Some("""SELECT COALESCE(o_orderpriority, 'ALL') AS o_orderpriority,
                COALESCE(o_orderstatus, 'ALL') AS o_orderstatus,
                CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_custs,
                CAST(COUNT(*) AS BIGINT) AS cnt,
                TRUE AS est_ok
              FROM orders
              GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
              ORDER BY 1, 2""")),

    // ── deterministic Poisson-bootstrap confidence interval ──────────────
    // Error bars WITHOUT collecting anything: each of B=32 replicates
    // weights every order by a pseudo-Poisson(1) draw derived from the
    // Knuth hash of (orderkey, b) — a pure function of stable keys, so
    // reruns and engines agree draw-by-draw (same discipline as
    // q_dataset_split; a 128-bit mix replaces the 32-bit Knuth multiply
    // at key ranges past ~2^54). Shape: ×32 row-local fan-out →
    // replicate partial aggs (map-side combined, shuffle carries 32 ×
    // tasks rows, NOT 32 × data) → rank-select the CI bounds from 32
    // replicate means — percentile_disc's FP-free selection, no
    // interpolation to drift. The replicate mean divides exact integer
    // hundredths by an exact count: two deterministic FP ops.
    Q("q_bootstrap_ci",
      (s, dir) => {
        // 31-bit mask before the Knuth multiply: orderkey ≳ 54M (sf≳10)
        // would overflow the int64 product — Spark wraps negative,
        // DuckDB errors. (key % 2^31)·K < 2^62 is always safe, and the
        // mask is the identity at every test SF.
        val u = expr("""pmod(pmod(o_orderkey * 64 + b, 2147483648)
                        * 2654435761, 4294967296)""")
          .cast("double") / 4294967296.0
        val means = t(s, dir, "orders")
          .select(col("o_orderkey"), dec2(col("o_totalprice")).as("p"),
            explode(expr("sequence(0, 31)")).as("b"))
          .select(col("b"), col("p"),
            when(u < 0.36787944117144233, 0L)
              .when(u < 0.7357588823428847, 1L)
              .when(u < 0.919698602928606, 2L)
              .when(u < 0.9810118431238462, 3L)
              .when(u < 0.9963401531726563, 4L)
              .otherwise(5L).as("wt"))
          .groupBy("b")
          .agg((sum(col("wt") * col("p")) * 100).cast("long").as("num_c"),
            sum(col("wt")).cast("long").as("den"))
          .select(col("b"), (col("num_c").cast("double")
            / (lit(100.0) * col("den").cast("double"))).as("m"))
        val w = Window.orderBy(col("m"), col("b"))
        // 32 rows total — the "global" rank window is constant-size
        means
          .select(col("m"), row_number().over(w).cast("long").as("rn"),
            count(lit(1)).over(Window.partitionBy()).as("n"))
          .agg(
            max(when(col("rn") === ceil(col("n") * 0.025), col("m"))).as("lo95"),
            max(when(col("rn") === ceil(col("n") * 0.5), col("m"))).as("p50"),
            max(when(col("rn") === ceil(col("n") * 0.975), col("m"))).as("hi95"))
      },
      Some("""WITH reps AS (
                SELECT b, o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS p,
                  ((((o_orderkey * 64 + b) % 2147483648 + 2147483648)
                     % 2147483648 * 2654435761) % 4294967296
                   + 4294967296) % 4294967296
                    / 4294967296.0 AS u
                FROM orders, (SELECT unnest(generate_series(0, 31)) AS b)),
              w AS (
                SELECT b, p,
                  CASE WHEN u < 0.36787944117144233 THEN 0
                       WHEN u < 0.7357588823428847 THEN 1
                       WHEN u < 0.919698602928606 THEN 2
                       WHEN u < 0.9810118431238462 THEN 3
                       WHEN u < 0.9963401531726563 THEN 4
                       ELSE 5 END AS wt
                FROM reps),
              rm AS (
                SELECT b, CAST(SUM(wt * p) * 100 AS BIGINT) AS num_c,
                  CAST(SUM(wt) AS BIGINT) AS den
                FROM w GROUP BY 1),
              means AS (
                SELECT b, CAST(num_c AS DOUBLE)
                  / (100.0 * CAST(den AS DOUBLE)) AS m FROM rm),
              r AS (SELECT m,
                      CAST(row_number() OVER (ORDER BY m, b) AS BIGINT) AS rn,
                      COUNT(*) OVER () AS n
                    FROM means)
              SELECT
                MAX(CASE WHEN rn = CAST(ceil(n * 0.025) AS BIGINT) THEN m END)
                  AS lo95,
                MAX(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT) THEN m END)
                  AS p50,
                MAX(CASE WHEN rn = CAST(ceil(n * 0.975) AS BIGINT) THEN m END)
                  AS hi95
              FROM r""")),

    // ── quasi-Monte Carlo π (Halton low-discrepancy, EXACT integers) ────
    // The compute-bound member of the estimation family: 59 049 Halton
    // points (x = 16-bit radical inverse base 2, y = 10-digit radical
    // inverse base 3 — closed-form digit sums, NO RNG, so the estimate
    // is reproducible on any cluster), inside-circle test done wholly
    // in scaled integers ((x·3¹⁰)² + (y·2¹⁶)² ≤ (2¹⁶·3¹⁰)² in
    // DECIMAL(38,0)) — zero FP until the final 4·k/n. spark.range fans
    // the index space across the cluster; the shape is embarrassingly
    // parallel with a 1-row result, the template for any numerical
    // integration the pipeline needs.
    Q("q_quasi_monte_carlo",
      (s, dir) => {
        val x2 = (0 until 16)
          .map(k => s"((id div ${1L << k}) % 2) * ${1L << (15 - k)}")
          .mkString(" + ")
        val y3 = (0 until 10)
          .map(k => s"((id div ${pow3(k)}) % 3) * ${pow3(9 - k)}")
          .mkString(" + ")
        s.range(59049L).toDF("id")
          .select(expr(s"CAST($x2 AS BIGINT)").as("x2"),
            expr(s"CAST($y3 AS BIGINT)").as("y3"))
          .select(when(
            expr("CAST(x2 AS DECIMAL(38,0)) * 59049 * (x2 * 59049)")
              + expr("CAST(y3 AS DECIMAL(38,0)) * 65536 * (y3 * 65536)")
              <= expr("CAST(65536 AS DECIMAL(38,0)) * 59049 * 65536 * 59049"),
            1L).otherwise(0L).as("inside"))
          .agg(count(lit(1)).cast("long").as("n_points"),
            sum(col("inside")).cast("long").as("n_inside"))
          .select(col("n_points"), col("n_inside"),
            round(lit(4.0) * col("n_inside").cast("double")
              / col("n_points").cast("double"), 12).as("pi_estimate"),
            round(abs(lit(4.0) * col("n_inside").cast("double")
              / col("n_points").cast("double")
              - lit(3.141592653589793)), 12).as("abs_error"))
      },
      Some {
        val x2 = (0 until 16)
          .map(k => s"((i // ${1L << k}) % 2) * ${1L << (15 - k)}")
          .mkString(" + ")
        val y3 = (0 until 10)
          .map(k => s"((i // ${pow3(k)}) % 3) * ${pow3(9 - k)}")
          .mkString(" + ")
        s"""WITH pts AS (
              SELECT CAST($x2 AS BIGINT) AS x2,
                CAST($y3 AS BIGINT) AS y3
              FROM range(59049) t(i)),
            flags AS (
              SELECT CASE WHEN
                  CAST(x2 AS HUGEINT) * 59049 * (x2 * 59049)
                  + CAST(y3 AS HUGEINT) * 65536 * (y3 * 65536)
                  <= CAST(65536 AS HUGEINT) * 59049 * 65536 * 59049
                THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END
                AS inside
              FROM pts),
            agg AS (
              SELECT CAST(count(*) AS BIGINT) AS n_points,
                CAST(SUM(inside) AS BIGINT) AS n_inside
              FROM flags)
            SELECT n_points, n_inside,
              round(4.0 * CAST(n_inside AS DOUBLE)
                / CAST(n_points AS DOUBLE), 12) AS pi_estimate,
              round(abs(4.0 * CAST(n_inside AS DOUBLE)
                / CAST(n_points AS DOUBLE) - 3.141592653589793), 12)
                AS abs_error
            FROM agg"""
      })
  )

  private def pow3(k: Int): Long = math.pow(3, k).toLong
}
