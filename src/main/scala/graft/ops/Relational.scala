package graft.ops

import graft.{Q, Tables}
import graft.Q._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

/** Tier B — the relational/dataflow operator surface (SURVEY.md §2.B).
  *
  * The reference has no relational operators in the framework; its generic
  * map/sort/shuffle/reduce spans them (reference `JobContext.cpp:14-175`).
  * Here each operator is declared through the DataFrame API so Catalyst
  * supplies pushdown, pruning, join planning and partial aggregation —
  * none of which the reference has (SURVEY.md §4.1).
  *
  * Scale notes are per-query; the shared rules:
  *   - aggregations are partial+final (`HashAggregateExec`) — map-side
  *     combine the reference lacks entirely (SURVEY.md §4.2);
  *   - dimension tables are explicitly `broadcast(...)` so the 100-TB fact
  *     table never shuffles for a star join;
  *   - ORDER BY on the final (small) result only — a global sort of a
  *     raw fact table would be a scale bug.
  */
object Relational {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** The brand pairs co-bought in at least 50 orders, off the pinned
    * brand-basket census: (b1, b2, n_ab, n_a, n_bb, n_orders).
    */
  private def brandRules(s: SparkSession, dir: String): DataFrame =
    Censuses.brandBaskets(s, dir)
      .filter(col("b").isNotNull && col("n") >= 50)
      .select(col("a").as("b1"), col("b").as("b2"), col("n").as("n_ab"),
        col("n_a"), col("n_b").as("n_bb"), col("n_all").as("n_orders"))

  val queries: Seq[Q] = Seq(

    // ── scan / projection ────────────────────────────────────────────────
    // Column pruning: the parquet scan must read only 4 of 11 columns
    // (ReadSchema in .explain). Reference counterpart: input scan A1
    // (`JobContext.cpp:22-52`) which always materializes whole pairs.
    Q("q_scan_project",
      (s, dir) => t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
          "l_quantity", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"),
      Some("""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
                l_quantity, l_extendedprice
              FROM lineitem
              ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey""")),

    // ── filter / predicates ──────────────────────────────────────────────
    // Conjunction + disjunction + BETWEEN + IN + IS NOT NULL + arithmetic;
    // simple comparisons reach the scan as PushedFilters.
    Q("q_filter_pred",
      (s, dir) => t(s, dir, "lineitem")
        .filter(col("l_quantity").between(10, 40)
          && col("l_discount").isin(0.02, 0.04, 0.06, 0.08)
          && (col("l_returnflag") === "R" || col("l_tax") > 0.05)
          && col("l_shipdate").isNotNull
          && col("l_extendedprice") * (lit(1) - col("l_discount")) > 1000)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_suppkey"),
          (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
        .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"),
      Some("""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
                l_extendedprice * (1 - l_discount) AS revenue
              FROM lineitem
              WHERE l_quantity BETWEEN 10 AND 40
                AND l_discount IN (0.02, 0.04, 0.06, 0.08)
                AND (l_returnflag = 'R' OR l_tax > 0.05)
                AND l_shipdate IS NOT NULL
                AND l_extendedprice * (1 - l_discount) > 1000
              ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey""")),

    // ── flagship: per-character counts (CounterClient port, A13) ────────
    // Reference `SampleClient.cpp:32-66`: map = per-string char histogram,
    // reduce = sum per char. Spark-first: explode + partial/final count —
    // the explode fans out ~300 chars/doc but the partial aggregation
    // collapses to ≤64 distinct keys per task before the shuffle.
    Q("q_charcount",
      (s, dir) => t(s, dir, "documents")
        .select(explode(split(col("text"), "")).as("ch"))
        .filter(col("ch") =!= "")
        .groupBy("ch").agg(count(lit(1)).as("cnt"))
        .orderBy("ch"),
      Some("""SELECT ch, count(*) AS cnt
              FROM (SELECT unnest(string_split(text, '')) AS ch FROM documents)
              WHERE ch <> '' GROUP BY ch ORDER BY ch""")),

    // ── mod-100 histogram (test1/test4 port, A14) ────────────────────────
    // Reference `test1-1_thread_1_process.cpp:59-77`: map k -> (k % 100, 1),
    // reduce = group size.
    Q("q_mod_histogram",
      (s, dir) => t(s, dir, "lineitem")
        .groupBy((col("l_orderkey") % 100).as("k"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy("k"),
      Some("""SELECT l_orderkey % 100 AS k, count(*) AS cnt
              FROM lineitem GROUP BY 1 ORDER BY 1""")),

    // ── hash aggregation (TPC-H Q1 shape) ────────────────────────────────
    Q("q_groupby_sum",
      (s, dir) => t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sumDec2(col("l_quantity")).as("sum_qty"),
          sumDec2(col("l_extendedprice")).as("sum_base"),
          sum(dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount"))))
            .cast("double").as("sum_disc"),
          avgDec(col("l_quantity")).as("avg_qty"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some("""SELECT l_returnflag, l_linestatus,
                CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc,
                CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
                COUNT(*) AS cnt
              FROM lineitem GROUP BY l_returnflag, l_linestatus
              ORDER BY l_returnflag, l_linestatus""")),

    // ── distinct aggregation (two-phase expansion in Catalyst) ───────────
    Q("q_agg_distinct",
      (s, dir) => t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("nd_part"),
          countDistinct(col("l_suppkey")).as("nd_supp"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS nd_part,
                COUNT(DISTINCT l_suppkey) AS nd_supp, COUNT(*) AS cnt
              FROM lineitem GROUP BY 1 ORDER BY 1""")),

    // ── dedup (unique-key-set port, A5: `JobContext.h:24-28`) ────────────
    Q("q_distinct",
      (s, dir) => t(s, dir, "lineitem")
        .select("l_returnflag", "l_linestatus").distinct()
        .orderBy("l_returnflag", "l_linestatus"),
      Some("""SELECT DISTINCT l_returnflag, l_linestatus
              FROM lineitem ORDER BY 1, 2""")),

    // ── inner equi join ──────────────────────────────────────────────────
    // customer GROWS with SF, so no forced broadcast: AQE +
    // autoBroadcastJoinThreshold pick BHJ while the build side fits and
    // fall back to shuffled SMJ/SHJ past the threshold — the 100-TB-safe
    // default (a forced hint would OOM the build side at scale).
    Q("q_join_inner",
      (s, dir) => t(s, dir, "orders")
        .join(t(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"), "inner")
        .filter(col("o_orderstatus") === "F")
        .select("o_orderkey", "c_custkey", "c_name", "o_totalprice")
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey, c_custkey, c_name, o_totalprice
              FROM orders JOIN customer ON o_custkey = c_custkey
              WHERE o_orderstatus = 'F' ORDER BY o_orderkey""")),

    // ── 5-table star join, dims broadcast ────────────────────────────────
    Q("q_join_broadcast",
      (s, dir) => t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        // customer scales with SF (~15B rows at 100 TB) — no forced hint;
        // AQE + autoBroadcastJoinThreshold size-gate it. Only the two
        // constant-cardinality dims (nation=25, region=5) stay hinted.
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(sum(dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount"))))
          .cast("double").as("revenue"),
          count(lit(1)).as("cnt"))
        .orderBy("r_name", "n_name"),
      Some("""SELECT r_name, n_name,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
                COUNT(*) AS cnt
              FROM lineitem
                JOIN orders ON l_orderkey = o_orderkey
                JOIN customer ON o_custkey = c_custkey
                JOIN nation ON c_nationkey = n_nationkey
                JOIN region ON n_regionkey = r_regionkey
              GROUP BY r_name, n_name ORDER BY r_name, n_name""")),

    // ── left outer join + null-aware aggregate ───────────────────────────
    Q("q_join_left",
      (s, dir) => t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey", "c_name")
        .agg(count(col("o_orderkey")).as("n_orders"),
          coalesce(sumDec2(col("o_totalprice")), lit(0.0)).as("total_price"))
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey, c_name, COUNT(o_orderkey) AS n_orders,
                COALESCE(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 0.0) AS total_price
              FROM customer LEFT JOIN orders ON c_custkey = o_custkey
              GROUP BY c_custkey, c_name ORDER BY c_custkey""")),

    // ── full outer join over two partial aggregates ──────────────────────
    // Spend-per-customer (orders) FULL JOIN balance-per-segment customers
    // on custkey: rows surviving from either side, null-filled. Aggregate
    // BEFORE joining — outer joins over pre-aggregated keys are
    // join-of-small-results, not a fact-table shuffle.
    Q("q_join_full",
      (s, dir) => {
        val spend = t(s, dir, "orders")
          .filter(col("o_orderstatus") === "F")
          .groupBy(col("o_custkey"))
          .agg(sumDec2(col("o_totalprice")).as("spend"))
        val rich = t(s, dir, "customer")
          .filter(col("c_acctbal") > 7000)
          .select(col("c_custkey"), col("c_acctbal"))
        spend.join(rich, col("o_custkey") === col("c_custkey"), "full")
          .select(
            coalesce(col("o_custkey"), col("c_custkey")).as("custkey"),
            coalesce(col("spend"), lit(0.0)).as("spend"),
            coalesce(col("c_acctbal"), lit(-1.0)).as("acctbal"),
            col("o_custkey").isNotNull.as("has_orders"),
            col("c_custkey").isNotNull.as("is_rich"))
          .orderBy("custkey")
      },
      Some("""WITH spend AS (
                SELECT o_custkey, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
                FROM orders WHERE o_orderstatus = 'F' GROUP BY 1),
              rich AS (SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal > 7000)
              SELECT COALESCE(o_custkey, c_custkey) AS custkey,
                COALESCE(spend, 0.0) AS spend,
                COALESCE(c_acctbal, -1.0) AS acctbal,
                o_custkey IS NOT NULL AS has_orders,
                c_custkey IS NOT NULL AS is_rich
              FROM spend FULL JOIN rich ON o_custkey = c_custkey
              ORDER BY custkey""")),

    // ── cross join (small × small, explicit) ─────────────────────────────
    // Cartesian products are legitimate ONLY between tiny inputs (here
    // region × nation = 125 rows); the engine requires the explicit
    // crossJoin call — an implicit cartesian on big tables is a bug.
    Q("q_join_cross",
      (s, dir) => t(s, dir, "region").select(col("r_name"))
        .crossJoin(t(s, dir, "nation").select(col("n_name")))
        .orderBy("r_name", "n_name"),
      Some("""SELECT r_name, n_name FROM region CROSS JOIN nation
              ORDER BY r_name, n_name""")),

    // ── semi / anti join (EXISTS / NOT EXISTS) ───────────────────────────
    Q("q_join_semi_anti",
      (s, dir) => {
        val cust = t(s, dir, "customer")
        val fOrders = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
        val semi = cust.join(fOrders, col("c_custkey") === col("o_custkey"), "left_semi")
          .select(lit("semi").as("tag"), col("c_custkey"))
        val anti = cust.join(fOrders, col("c_custkey") === col("o_custkey"), "left_anti")
          .select(lit("anti").as("tag"), col("c_custkey"))
        semi.unionByName(anti).orderBy("tag", "c_custkey")
      },
      Some("""SELECT 'semi' AS tag, c_custkey FROM customer
              WHERE EXISTS (SELECT 1 FROM orders
                            WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
              UNION ALL
              SELECT 'anti' AS tag, c_custkey FROM customer
              WHERE NOT EXISTS (SELECT 1 FROM orders
                                WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
              ORDER BY tag, c_custkey""")),

    // ── range / as-of flavored join (non-equi condition) ─────────────────
    // As-of semantics (latest order date ≤ event ts per bucket, plus the
    // count of qualifying orders) WITHOUT materializing the range join:
    // a broadcast join + groupBy touches |events|×|orders|/buckets rows
    // (~150M at sf0.1, measured 75 s); instead union both sides, one
    // shuffle by bucket, and a single ordered window scan — running
    // count of order rows = n_candidates, running max of order dates =
    // asof_date. O((n+m) log) total. The window partition key is the
    // COMPOSITE (bkt, month-era) with an exact carry-over prefix, so no
    // partition outgrows an executor (see inline comments). Orders sort
    // before events at equal timestamp (is_order DESC) to keep the ≤
    // inclusive.
    Q("q_join_range",
      (s, dir) => {
        val e = t(s, dir, "events").select(
          (col("user_id") % 50).as("bkt"),
          col("ts").cast("timestamp_ntz").as("t"),
          lit(0L).as("is_order"),
          lit(null).cast("timestamp_ntz").as("odate"),
          col("event_id"))
        val o = t(s, dir, "orders").select(
          (col("o_custkey") % 50).as("bkt"),
          col("o_orderdate").cast("timestamp_ntz").as("t"),
          lit(1L).as("is_order"),
          col("o_orderdate").cast("timestamp_ntz").as("odate"),
          lit(null).cast("long").as("event_id"))
        // Composite partition key (bkt, era): era = calendar month of t,
        // monotone in t, so the running sum/max decompose exactly into
        //   carry-over of all strictly-earlier eras + within-era window.
        // Window partitions are bounded by one month of one bucket —
        // parallelism grows with the time span instead of capping at 50,
        // and no partition's state outgrows an executor at 100 TB.
        val u = e.unionByName(o)
          .withColumn("era", (year(col("t")) * lit(12) + month(col("t"))).cast("long"))
        // one partial-agg pass → one row per (bkt, era) seen on EITHER side
        // (event-only eras get era_cnt=0/era_max=null so the carry join
        // never drops them); its size is #buckets × #months — bounded by
        // the calendar, not the corpus → legitimately broadcastable.
        val wEra = Window.partitionBy("bkt").orderBy("era")
          .rowsBetween(Window.unboundedPreceding, -1)
        val carry = u.groupBy("bkt", "era")
          .agg(sum("is_order").as("era_cnt"), max("odate").as("era_max"))
          .select(col("bkt"), col("era"),
            coalesce(sum("era_cnt").over(wEra), lit(0L)).as("carry_cnt"),
            max("era_max").over(wEra).as("carry_max"))
        val wIn = Window.partitionBy("bkt", "era")
          .orderBy(col("t").asc, col("is_order").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        u.join(broadcast(carry), Seq("bkt", "era"))
          .withColumn("n_candidates", col("carry_cnt") + sum("is_order").over(wIn))
          .withColumn("asof_date", greatest(col("carry_max"), max("odate").over(wIn)))
          .filter(col("is_order") === 0 && col("n_candidates") >= 1)
          .select(col("event_id"), col("asof_date"), col("n_candidates"))
          .orderBy("event_id")
      },
      Some("""SELECT e.event_id, max(o.o_orderdate) AS asof_date,
                count(*) AS n_candidates
              FROM events e JOIN orders o
                ON (o.o_custkey % 50) = (e.user_id % 50) AND o.o_orderdate <= e.ts
              GROUP BY e.event_id ORDER BY e.event_id""")),

    // ── exact row-level as-of join (per-user latest-order enrichment) ────
    // The time-series flagship Spark has no built-in for: every event row
    // enriched with the SAME user's most recent order at-or-before its
    // timestamp. A non-equi theta join materializes every (event ×
    // earlier-order) pair before picking the max; the union-merge shape
    // instead pays exactly ONE shuffle of |events|+|orders| rows on the
    // user key, then carries the latest order forward with an ordered
    // window scan (running last-non-null). Partition count = #users —
    // parallelism grows with the data and per-partition state is one
    // user's own timeline; a pathologically hot key takes the same
    // (key, era) carry-over decomposition as q_join_range above. Orders
    // sort before events at equal timestamp (is_event ASC) to keep the
    // ≤ inclusive, and same-date orders collapse to the max o_orderkey
    // first (arg-max aggregation) so the surviving match is
    // deterministic on both engines. Oracle: DuckDB's native ASOF LEFT
    // JOIN over the identically deduplicated order side.
    Q("q_join_asof",
      (s, dir) => {
        val e = t(s, dir, "events").select(
          col("user_id").as("k"), col("ts").cast("timestamp_ntz").as("tt"),
          lit(1L).as("is_event"), col("event_id"),
          lit(null).cast("long").as("okey"), lit(null).cast("double").as("oprice"))
        val o = t(s, dir, "orders")
          .groupBy(col("o_custkey").as("k"),
            col("o_orderdate").cast("timestamp_ntz").as("tt"))
          .agg(max("o_orderkey").as("okey"),
            max_by(col("o_totalprice"), col("o_orderkey")).as("oprice"))
          .select(col("k"), col("tt"), lit(0L).as("is_event"),
            lit(null).cast("long").as("event_id"), col("okey"), col("oprice"))
        val w = Window.partitionBy("k")
          .orderBy(col("tt").asc, col("is_event").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        e.unionByName(o)
          .select(col("k").as("user_id"), col("event_id"), col("is_event"),
            last(col("okey"), ignoreNulls = true).over(w).as("asof_orderkey"),
            last(col("oprice"), ignoreNulls = true).over(w).as("asof_totalprice"))
          .filter(col("is_event") === 1L)
          .select(col("event_id"), col("user_id"), col("asof_orderkey"),
            col("asof_totalprice"))
          .orderBy("event_id")
      },
      Some("""WITH o AS (
                SELECT o_custkey, o_orderdate,
                  max(o_orderkey) AS asof_orderkey,
                  arg_max(o_totalprice, o_orderkey) AS asof_totalprice
                FROM orders GROUP BY 1, 2)
              SELECT e.event_id, e.user_id, o.asof_orderkey, o.asof_totalprice
              FROM events e ASOF LEFT JOIN o
                ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
              ORDER BY e.event_id""")),

    // ── as-of join with a staleness tolerance (the production variant) ──
    // Real feature pipelines bound how stale a matched record may be:
    // an as-of match older than 90 days is a MISS, not a feature. Same
    // union + last-ignoreNulls machinery as q_join_asof (one user-keyed
    // shuffle, no per-event re-probe) with the order DATE carried
    // through the window so the staleness test is one integer datediff
    // per event — matches past tolerance null out exactly like the
    // oracle's post-ASOF filter.
    Q("q_join_asof_tolerance",
      (s, dir) => {
        val tolDays = 90
        val e = t(s, dir, "events").select(
          col("user_id").as("k"), col("ts").cast("timestamp_ntz").as("tt"),
          lit(1L).as("is_event"), col("event_id"),
          lit(null).cast("long").as("okey"))
        val o = t(s, dir, "orders")
          .groupBy(col("o_custkey").as("k"),
            col("o_orderdate").cast("timestamp_ntz").as("tt"))
          .agg(max("o_orderkey").as("okey"))
          .select(col("k"), col("tt"), lit(0L).as("is_event"),
            lit(null).cast("long").as("event_id"), col("okey"))
        val w = Window.partitionBy("k")
          .orderBy(col("tt").asc, col("is_event").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        e.unionByName(o)
          .select(col("k").as("user_id"), col("event_id"),
            col("is_event"), col("tt"),
            last(col("okey"), ignoreNulls = true).over(w).as("okey"),
            last(when(col("is_event") === 0, col("tt")),
              ignoreNulls = true).over(w).as("odate"))
          .filter(col("is_event") === 1L)
          .select(col("event_id"), col("user_id"),
            datediff(col("tt").cast("date"), col("odate").cast("date"))
              .cast("long").as("gap"), col("okey"))
          .select(col("event_id"), col("user_id"),
            when(col("gap") <= tolDays, col("okey")).as("asof_orderkey"),
            when(col("gap") <= tolDays, col("gap")).as("days_since"))
          .orderBy("event_id")
      },
      Some("""WITH o AS (
                SELECT o_custkey, o_orderdate,
                  max(o_orderkey) AS okey
                FROM orders GROUP BY 1, 2)
              SELECT e.event_id, e.user_id,
                CASE WHEN date_diff('day', CAST(o.o_orderdate AS DATE),
                    CAST(e.ts AS DATE)) <= 90 THEN o.okey END
                  AS asof_orderkey,
                CASE WHEN date_diff('day', CAST(o.o_orderdate AS DATE),
                    CAST(e.ts AS DATE)) <= 90
                  THEN CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
                    CAST(e.ts AS DATE)) AS BIGINT) END AS days_since
              FROM events e ASOF LEFT JOIN o
                ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
              ORDER BY e.event_id""")),

    // ── skew-salted join as a first-class query ──────────────────────────
    // The static skew mitigation ([[graft.functions.SaltedJoin]]) run as
    // a real query: the fact side salts deterministically (content hash,
    // no RNG), the dim side explodes ×8, and a hot key's rows spread
    // over 8 reducers instead of one straggler. Result is row-identical
    // to the plain join — the oracle IS the plain join — so the gate
    // proves salting changes the schedule, never the answer.
    Q("q_join_skew_salted",
      (s, dir) => graft.functions.SaltedJoin
        .saltedEquiJoin(t(s, dir, "lineitem"), "l_suppkey",
          t(s, dir, "supplier"), "s_suppkey", salts = 8, saltBy = "l_orderkey")
        .groupBy("s_suppkey")
        .agg(count(lit(1)).as("cnt"), sumDec2(col("l_quantity")).as("sum_qty"))
        .orderBy("s_suppkey"),
      Some("""SELECT s_suppkey, count(*) AS cnt,
                CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
              FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
              GROUP BY 1 ORDER BY 1""")),

    // ── SCD type-2 history build (the dimension side of the as-of join) ──
    // Each customer's order stream becomes versioned validity intervals:
    // valid_from = this order's date, valid_to = the next order's date
    // (NULL = current version). ONE lead window per customer partition —
    // parallelism = #customers, per-partition state is one customer's
    // own history; the output is exactly the table a warehouse keeps so
    // q_join_asof-style enrichment can run as a plain range probe.
    Q("q_scd2_build",
      (s, dir) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_orderdate"), col("o_orderkey"))
        t(s, dir, "orders")
          .select(col("o_custkey"), col("o_orderkey"),
            col("o_orderdate").as("valid_from"),
            lead(col("o_orderdate"), 1).over(w).as("valid_to"),
            row_number().over(w).cast("long").as("version"))
          .orderBy("o_custkey", "version")
      },
      Some("""SELECT o_custkey, o_orderkey,
                o_orderdate AS valid_from,
                lead(o_orderdate) OVER w AS valid_to,
                CAST(row_number() OVER w AS BIGINT) AS version
              FROM orders
              WINDOW w AS (PARTITION BY o_custkey
                ORDER BY o_orderdate, o_orderkey)
              ORDER BY o_custkey, version""")),

    // ── window: ranking, top-3 per segment ───────────────────────────────
    // customer grows with SF — no forced broadcast; AQE picks BHJ while
    // the build side fits and SMJ past the threshold (size-gated, not
    // hint-forced, so the plan survives a 100× scale-up).
    Q("q_window_rank",
      (s, dir) => {
        val j = t(s, dir, "orders")
          .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        val wRn = Window.partitionBy(col("c_mktsegment"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        val wRk = Window.partitionBy(col("c_mktsegment"))
          .orderBy(col("o_totalprice").desc)
        j.select(col("c_mktsegment"), col("o_orderkey"), col("o_totalprice"),
            row_number().over(wRn).cast("long").as("rn"),
            rank().over(wRk).cast("long").as("rk"),
            dense_rank().over(wRk).cast("long").as("drk"))
          .filter(col("rn") <= 3)
          .orderBy("c_mktsegment", "rn")
      },
      Some("""SELECT * FROM (
                SELECT c_mktsegment, o_orderkey, o_totalprice,
                  CAST(ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                    ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn,
                  CAST(RANK() OVER (PARTITION BY c_mktsegment
                    ORDER BY o_totalprice DESC) AS BIGINT) AS rk,
                  CAST(DENSE_RANK() OVER (PARTITION BY c_mktsegment
                    ORDER BY o_totalprice DESC) AS BIGINT) AS drk
                FROM orders JOIN customer ON o_custkey = c_custkey)
              WHERE rn <= 3 ORDER BY c_mktsegment, rn""")),

    // ── window: lag/lead + moving frame ──────────────────────────────────
    Q("q_window_frame",
      (s, dir) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
        t(s, dir, "orders").select(
            col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
            lag(col("o_orderkey"), 1).over(w).as("prev_key"),
            lead(col("o_orderkey"), 1).over(w).as("next_key"),
            sum(dec2(col("o_totalprice"))).over(w.rowsBetween(-2, 0))
              .cast("double").as("mov_sum"))
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey, o_orderdate,
                lag(o_orderkey, 1) OVER w AS prev_key,
                lead(o_orderkey, 1) OVER w AS next_key,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                  OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                        ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS mov_sum
              FROM orders
              WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
              ORDER BY o_custkey, o_orderkey""")),

    // ── global sort + limit (top-k) ──────────────────────────────────────
    // orderBy().limit(k) plans as TakeOrderedAndProject: per-partition
    // heaps + driver merge of k rows, never a full global sort.
    Q("q_sort_limit",
      (s, dir) => t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
          "l_extendedprice", "l_shipdate")
        .orderBy(col("l_extendedprice").desc, col("l_shipdate").asc,
          col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
        .limit(100),
      Some("""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
                l_extendedprice, l_shipdate
              FROM lineitem
              ORDER BY l_extendedprice DESC, l_shipdate ASC, l_orderkey,
                l_linenumber, l_partkey, l_suppkey
              LIMIT 100""")),

    // ── set operations ───────────────────────────────────────────────────
    Q("q_set_ops",
      (s, dir) => {
        val cust = t(s, dir, "customer")
        val a = cust.filter(col("c_acctbal") > 5000).select("c_custkey")
        val b = cust.filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
        Seq(
          a.union(b).distinct().withColumn("op", lit("union")),
          a.union(b).withColumn("op", lit("union_all")),
          a.intersect(b).withColumn("op", lit("intersect")),
          a.intersectAll(b).withColumn("op", lit("intersect_all")),
          a.except(b).withColumn("op", lit("except")),
          a.exceptAll(b).withColumn("op", lit("except_all")))
          .reduce(_ unionByName _)
          .groupBy("op", "c_custkey").agg(count(lit(1)).as("cnt"))
          .orderBy("op", "c_custkey")
      },
      Some("""WITH a AS (SELECT c_custkey FROM customer WHERE c_acctbal > 5000),
                   b AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
                   u AS (
                SELECT 'union' AS op, c_custkey FROM (SELECT * FROM a UNION SELECT * FROM b)
                UNION ALL
                SELECT 'union_all' AS op, c_custkey FROM (SELECT * FROM a UNION ALL SELECT * FROM b)
                UNION ALL
                SELECT 'intersect' AS op, c_custkey FROM (SELECT * FROM a INTERSECT SELECT * FROM b)
                UNION ALL
                SELECT 'intersect_all' AS op, c_custkey FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b)
                UNION ALL
                SELECT 'except' AS op, c_custkey FROM (SELECT * FROM a EXCEPT SELECT * FROM b)
                UNION ALL
                SELECT 'except_all' AS op, c_custkey FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b))
              SELECT op, c_custkey, count(*) AS cnt FROM u
              GROUP BY op, c_custkey ORDER BY op, c_custkey""")),

    // ── grouping sets: ROLLUP + GROUPING_ID ──────────────────────────────
    Q("q_rollup_cube",
      (s, dir) => t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().cast("long").as("gid"),
          sumDec2(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("cnt"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("gid"), col("sum_qty"), col("cnt"))
        .orderBy("gid", "rf", "ls"),
      Some("""SELECT COALESCE(l_returnflag, 'ALL') AS rf,
                COALESCE(l_linestatus, 'ALL') AS ls,
                CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
                CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                COUNT(*) AS cnt
              FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
              ORDER BY gid, rf, ls""")),

    // ── explicit GROUPING SETS (the general form rollup/cube sugar) ──────
    // Arbitrary grouping combinations in ONE scan: Catalyst's Expand
    // fans each row to its grouping-set copies before the partial agg,
    // so the cost is #sets × one aggregation — never #sets scans.
    // Grouped-out columns coalesce to 'ALL' (sidesteps the engines'
    // opposite NULLS FIRST/LAST defaults, same trick as q_rollup_cube).
    Q("q_grouping_sets",
      (s, dir) => t(s, dir, "orders")
        .groupingSets(
          Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
            Seq(col("o_orderpriority")), Seq()),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(grouping_id().cast("long").as("gid"),
          count(lit(1)).as("cnt"),
          sumDec2(col("o_totalprice")).as("sum_price"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("st"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("pri"),
          col("gid"), col("cnt"), col("sum_price"))
        .orderBy("gid", "st", "pri"),
      Some("""SELECT COALESCE(o_orderstatus, 'ALL') AS st,
                COALESCE(o_orderpriority, 'ALL') AS pri,
                CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
                COUNT(*) AS cnt,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
              FROM orders
              GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                (o_orderpriority), ())
              ORDER BY gid, st, pri""")),

    // ── scalar function library: string / date / math ────────────────────
    // round() goes through DECIMAL so Spark (HALF_UP) and DuckDB
    // (round-half-away-from-zero) agree on exact decimal ties.
    Q("q_scalar_funcs",
      (s, dir) => t(s, dir, "orders").select(
          col("o_orderkey"),
          upper(col("o_orderpriority")).as("pri_up"),
          substring(col("o_orderpriority"), 1, 3).as("pri3"),
          concat(col("o_orderstatus"), lit("-"), col("o_orderpriority")).as("status_pri"),
          length(col("o_orderpriority")).cast("long").as("pri_len"),
          trim(concat(lit("  "), col("o_orderstatus"), lit(" "))).as("status_trim"),
          date_trunc("month", col("o_orderdate")).as("ord_month"),
          year(col("o_orderdate")).cast("long").as("ord_year"),
          month(col("o_orderdate")).cast("long").as("ord_mon"),
          datediff(col("o_orderdate"), lit("1992-01-01").cast("date")).cast("long").as("days_since"),
          round(dec2(col("o_totalprice")), 1).cast("double").as("price_r1"),
          abs(col("o_totalprice")).as("price_abs"),
          floor(col("o_totalprice")).cast("long").as("price_fl"),
          ceil(col("o_totalprice")).cast("long").as("price_ce"),
          pow(lit(2), col("o_orderkey") % 10).as("pow2"))
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey,
                upper(o_orderpriority) AS pri_up,
                substr(o_orderpriority, 1, 3) AS pri3,
                o_orderstatus || '-' || o_orderpriority AS status_pri,
                CAST(length(o_orderpriority) AS BIGINT) AS pri_len,
                trim('  ' || o_orderstatus || ' ') AS status_trim,
                date_trunc('month', o_orderdate) AS ord_month,
                CAST(extract(year FROM o_orderdate) AS BIGINT) AS ord_year,
                CAST(extract(month FROM o_orderdate) AS BIGINT) AS ord_mon,
                CAST(date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since,
                CAST(round(CAST(o_totalprice AS DECIMAL(18,2)), 1) AS DOUBLE) AS price_r1,
                abs(o_totalprice) AS price_abs,
                CAST(floor(o_totalprice) AS BIGINT) AS price_fl,
                CAST(ceil(o_totalprice) AS BIGINT) AS price_ce,
                power(2, o_orderkey % 10) AS pow2
              FROM orders ORDER BY o_orderkey""")),

    // ── JSON extraction ──────────────────────────────────────────────────
    Q("q_json_extract",
      (s, dir) => t(s, dir, "events")
        .select(get_json_object(col("props"), "$.k").cast("long").as("k"),
          col("value"))
        .groupBy("k")
        .agg(count(lit(1)).as("cnt"), sumDec2(col("value")).as("sum_val"))
        .orderBy("k"),
      Some("""SELECT CAST(props->>'$.k' AS BIGINT) AS k, count(*) AS cnt,
                CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_val
              FROM events GROUP BY 1 ORDER BY 1""")),

    // ── VARIANT: parse once, extract many (semi-structured at scale) ─────
    // The successor shape to q_json_extract: `parse_json` decodes the
    // JSON text into Spark's binary VARIANT **once per row**, and every
    // subsequent `variant_get` is an O(paths) binary probe — where
    // repeated `get_json_object` calls re-parse the full text per path.
    // At 100 TB with wide props objects that re-parse is the dominant
    // CPU cost of semi-structured analytics; VARIANT makes path count
    // ~free. Two typed extractions of the same path (bigint + string)
    // prove the typed-coercion surface; the census groups by a derived
    // bucket so the output is bounded.
    Q("q_variant_ops",
      (s, dir) => t(s, dir, "events")
        .select(parse_json(col("props")).as("v"), col("value"))
        .select(
          expr("variant_get(v, '$.k', 'bigint')").as("k"),
          expr("variant_get(v, '$.k', 'string')").as("k_str"),
          expr("variant_get(v, '$.missing', 'bigint')").as("miss"),
          col("value"))
        .filter(col("k").isNotNull)
        .groupBy((col("k") % 10).as("bucket"))
        .agg(count(lit(1)).as("cnt"),
          count(col("miss")).as("n_missing"),
          min(col("k_str")).as("min_kstr"),
          max(col("k_str")).as("max_kstr"),
          sumDec2(col("value")).as("sum_val"))
        .orderBy("bucket"),
      Some("""SELECT CAST(props->>'$.k' AS BIGINT) % 10 AS bucket,
                COUNT(*) AS cnt,
                COUNT(CAST(props->>'$.missing' AS BIGINT)) AS n_missing,
                MIN(props->>'$.k') AS min_kstr,
                MAX(props->>'$.k') AS max_kstr,
                CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_val
              FROM events
              WHERE CAST(props->>'$.k' AS BIGINT) IS NOT NULL
              GROUP BY 1 ORDER BY 1""")),

    // ── array functions over the embedding column ────────────────────────
    Q("q_array_ops",
      (s, dir) => t(s, dir, "embeddings").select(
          col("vec_id"),
          size(col("embedding")).cast("long").as("dim"),
          element_at(col("embedding"), 1).cast("double").as("first_val"),
          element_at(col("embedding"), 64).cast("double").as("last_val"),
          array_min(slice(col("embedding"), 1, 4)).cast("double").as("min_of_first4"),
          array_max(col("embedding")).cast("double").as("max_val"),
          array_contains(col("embedding"), 0.0f).as("has_zero"))
        .orderBy("vec_id"),
      Some("""SELECT vec_id,
                CAST(len(embedding) AS BIGINT) AS dim,
                CAST(embedding[1] AS DOUBLE) AS first_val,
                CAST(embedding[64] AS DOUBLE) AS last_val,
                CAST(list_aggregate(list_slice(embedding, 1, 4), 'min') AS DOUBLE) AS min_of_first4,
                CAST(list_aggregate(embedding, 'max') AS DOUBLE) AS max_val,
                list_contains(embedding, CAST(0.0 AS FLOAT)) AS has_zero
              FROM embeddings ORDER BY vec_id""")),

    // ── window: RANGE frame (value-based, vs q_window_frame's ROWS) ──────
    // 30-day trailing spend per customer: the frame is defined on the
    // ORDER BY value (day number), so equal/nearby dates aggregate
    // together regardless of row position.
    Q("q_window_range",
      (s, dir) => {
        val day = datediff(col("o_orderdate"), lit("1992-01-01").cast("date"))
        val w = Window.partitionBy(col("o_custkey")).orderBy(day.cast("long"))
          .rangeBetween(-30, 0)
        t(s, dir, "orders").select(
            col("o_custkey"), col("o_orderkey"), day.cast("long").as("day_no"),
            sum(dec2(col("o_totalprice"))).over(w).cast("double").as("spend_30d"),
            count(lit(1)).over(w).as("orders_30d"))
          .orderBy("o_custkey", "day_no", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey,
                CAST(date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS day_no,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS spend_30d,
                COUNT(*) OVER w AS orders_30d
              FROM orders
              WINDOW w AS (PARTITION BY o_custkey
                ORDER BY CAST(date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS BIGINT)
                RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
              ORDER BY o_custkey, day_no, o_orderkey""")),

    // ── window: distribution functions (ntile/percent_rank/cume_dist) ────
    Q("q_window_stats",
      (s, dir) => {
        val w = Window.partitionBy(col("c_mktsegment"))
          .orderBy(col("c_acctbal"), col("c_custkey"))
        t(s, dir, "customer").select(
            col("c_mktsegment"), col("c_custkey"), col("c_acctbal"),
            ntile(4).over(w).cast("long").as("quartile"),
            percent_rank().over(w).as("pct_rank"),
            cume_dist().over(w).as("cume"),
            first(col("c_custkey")).over(w).as("first_key"))
          .orderBy("c_mktsegment", "c_acctbal", "c_custkey")
      },
      Some("""SELECT c_mktsegment, c_custkey, c_acctbal,
                CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
                PERCENT_RANK() OVER w AS pct_rank,
                CUME_DIST() OVER w AS cume,
                FIRST_VALUE(c_custkey) OVER w AS first_key
              FROM customer
              WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
              ORDER BY c_mktsegment, c_acctbal, c_custkey""")),

    // ── datetime function breadth over orders + events ───────────────────
    // dayofweek: Spark is 1=Sunday..7, DuckDB 0=Sunday..6 → +1 to align.
    Q("q_datetime_funcs",
      (s, dir) => t(s, dir, "orders").select(
          col("o_orderkey"),
          dayofweek(col("o_orderdate")).cast("long").as("dow"),
          dayofyear(col("o_orderdate")).cast("long").as("doy"),
          quarter(col("o_orderdate")).cast("long").as("qtr"),
          // dates surfaced as timestamp_ntz: DuckDB's pandas bridge turns
          // DATE into Timestamp, so parquet DATE vs oracle would
          // type-mismatch row-for-row even with equal values
          last_day(col("o_orderdate")).cast("timestamp_ntz").as("month_end"),
          add_months(col("o_orderdate").cast("date"), 3).cast("timestamp_ntz").as("plus3m"),
          date_add(col("o_orderdate").cast("date"), 45).cast("timestamp_ntz").as("plus45d"))
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey,
                CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS dow,
                CAST(dayofyear(o_orderdate) AS BIGINT) AS doy,
                CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
                CAST(last_day(CAST(o_orderdate AS DATE)) AS TIMESTAMP) AS month_end,
                CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS TIMESTAMP) AS plus3m,
                CAST(CAST(o_orderdate AS DATE) + INTERVAL 45 DAY AS TIMESTAMP) AS plus45d
              FROM orders ORDER BY o_orderkey""")),

    // ── null semantics: null-safe equality, IS DISTINCT FROM, coalesce ───
    // The tables ship null-free, so nulls are derived via NULLIF — then
    // every null-aware comparison form is exercised.
    Q("q_null_semantics",
      (s, dir) => t(s, dir, "orders")
        .select(col("o_orderkey"),
          nullif(col("o_orderstatus"), lit("O")).as("st_null"))
        .select(col("o_orderkey"), col("st_null"),
          col("st_null") <=> lit("F") ,
          col("st_null").isNull.as("is_null"),
          coalesce(col("st_null"), lit("OPEN")).as("st_filled"),
          when(col("st_null").isNotNull, 1L).otherwise(0L).as("non_null_flag"))
        .withColumnRenamed("(st_null <=> F)", "eq_f_nullsafe")
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey,
                NULLIF(o_orderstatus, 'O') AS st_null,
                NULLIF(o_orderstatus, 'O') IS NOT DISTINCT FROM 'F' AS eq_f_nullsafe,
                NULLIF(o_orderstatus, 'O') IS NULL AS is_null,
                COALESCE(NULLIF(o_orderstatus, 'O'), 'OPEN') AS st_filled,
                CASE WHEN NULLIF(o_orderstatus, 'O') IS NOT NULL THEN 1 ELSE 0 END AS non_null_flag
              FROM orders ORDER BY o_orderkey""")),

    // ── LIKE / regexp predicates and extraction ──────────────────────────
    // Patterns kept in the Java∩RE2 common dialect so Spark and DuckDB
    // agree (no backrefs, no lookaround).
    Q("q_like_regex",
      (s, dir) => t(s, dir, "part")
        .select(col("p_partkey"), col("p_name"), col("p_type"),
          col("p_name").like("%a%").as("has_a"),
          col("p_name").like("p%").as("pfx_p"),
          col("p_name").like("_a%").as("second_a"),
          col("p_type").rlike("[0-9]").as("has_digit"),
          regexp_extract(col("p_type"), "([a-z]+)", 1).as("first_word"),
          regexp_replace(col("p_name"), "[aeiou]", "_").as("devoweled"))
        .orderBy("p_partkey"),
      Some("""SELECT p_partkey, p_name, p_type,
                p_name LIKE '%a%' AS has_a,
                p_name LIKE 'p%' AS pfx_p,
                p_name LIKE '_a%' AS second_a,
                regexp_matches(p_type, '[0-9]') AS has_digit,
                coalesce(regexp_extract(p_type, '([a-z]+)', 1), '') AS first_word,
                regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled
              FROM part ORDER BY p_partkey""")),

    // ── pivot / reshape: one column per l_returnflag ─────────────────────
    // df.groupBy().pivot() with explicit pivot values — never the
    // values-discovery variant, which needs an extra job over 100 TB to
    // enumerate the domain. Oracle = portable CASE-WHEN sums.
    Q("q_pivot",
      (s, dir) => t(s, dir, "lineitem")
        .groupBy("l_linestatus")
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(sum(dec2(col("l_quantity"))).cast("double"))
        .na.fill(0.0, Seq("A", "N", "R"))
        .withColumnsRenamed(Map("A" -> "qty_a", "N" -> "qty_n", "R" -> "qty_r"))
        .orderBy("l_linestatus"),
      Some("""SELECT l_linestatus,
                CAST(COALESCE(SUM(CASE WHEN l_returnflag = 'A'
                  THEN CAST(l_quantity AS DECIMAL(18,2)) END), 0) AS DOUBLE) AS qty_a,
                CAST(COALESCE(SUM(CASE WHEN l_returnflag = 'N'
                  THEN CAST(l_quantity AS DECIMAL(18,2)) END), 0) AS DOUBLE) AS qty_n,
                CAST(COALESCE(SUM(CASE WHEN l_returnflag = 'R'
                  THEN CAST(l_quantity AS DECIMAL(18,2)) END), 0) AS DOUBLE) AS qty_r
              FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""")),

    // ── unpivot / melt: wide → long ──────────────────────────────────────
    // The inverse of pivot: three measure columns melt to (metric, val)
    // rows. Expand-generated (3 copies per row BEFORE any shuffle, like
    // grouping sets) — row-local, so the shape is volume-linear at any
    // scale. Subset filter keeps the gate artifact bounded; it pushes
    // into the scan.
    Q("q_unpivot",
      (s, dir) => t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 100 === 0)
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
          "metric", "val")
        // (l_orderkey, l_linenumber) is NOT unique in the synthetic
        // lineitem — val joins the sort to keep the order total
        .orderBy("l_orderkey", "l_linenumber", "metric", "val"),
      Some("""SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
                metric, val
              FROM (UNPIVOT (SELECT l_orderkey, l_linenumber, l_quantity,
                               l_extendedprice, l_discount
                             FROM lineitem WHERE l_orderkey % 100 = 0)
                    ON l_quantity, l_extendedprice, l_discount
                    INTO NAME metric VALUE val)
              ORDER BY l_orderkey, l_linenumber, metric, val""")),

    // ── exact discrete percentiles (FP-free rank selection) ──────────────
    // percentile_disc semantics made explicit so both engines MUST agree:
    // the p-quantile is the element at row_number ceil(p·n) in value
    // order — an actual member of the multiset, no interpolation
    // arithmetic to drift. Rank comes from RangeRank's 2-pass range-
    // partitioned selection (parallelism = cluster partitions, never
    // |groups|); the 100-TB approximate default remains
    // q_approx_quantiles, this is the exact-answer path.
    Q("q_percentile_disc",
      (s, dir) => {
        // value-at-rank selection is tie-order invariant, so the picks
        // equal the oracle's row_number targets. Round 13: the picks
        // read the pinned RANKED (flag, price) census — value-at-rank
        // is ONE conditional agg over the artifact, zero rank passes
        val base = Censuses.rankedFlagPrice(s, dir)
        RangeRank.pinnedValuesAtRanks(base, Seq("f"), "v", "c",
          "off", "n",
          Seq(RangeRank.RankPick("p50", n => ceil(n * 0.5)),
            RangeRank.RankPick("p90", n => ceil(n * 0.9))))
          .select(col("f").as("l_returnflag"), col("p50"), col("p90"),
            col("n"))
          .orderBy("l_returnflag")
      },
      Some("""WITH r AS (
                SELECT l_returnflag, l_extendedprice,
                  CAST(row_number() OVER (PARTITION BY l_returnflag
                    ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS BIGINT) AS rn,
                  CAST(count(*) OVER (PARTITION BY l_returnflag) AS BIGINT) AS n
                FROM lineitem)
              SELECT l_returnflag,
                MAX(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT)
                    THEN l_extendedprice END) AS p50,
                MAX(CASE WHEN rn = CAST(ceil(n * 0.9) AS BIGINT)
                    THEN l_extendedprice END) AS p90,
                MAX(n) AS n
              FROM r GROUP BY 1 ORDER BY 1""")),

    // ── arg-max/arg-min aggregation (deterministic via struct ordering) ──
    // "Which order was the customer's priciest" — plain max_by/arg_max is
    // nondeterministic under value ties; max over a (value, tiebreak)
    // struct is a lexicographic max, total and identical in both engines.
    Q("q_argmax",
      (s, dir) => t(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(
          max(struct(dec2(col("o_totalprice")).as("p"), col("o_orderkey").as("k"))).as("mx"),
          min(struct(dec2(col("o_totalprice")).as("p"), col("o_orderkey").as("k"))).as("mn"))
        .select(col("o_custkey"),
          col("mx.k").as("top_order"), col("mx.p").cast("double").as("top_price"),
          col("mn.k").as("bottom_order"), col("mn.p").cast("double").as("bottom_price"))
        .orderBy("o_custkey"),
      Some("""SELECT o_custkey,
                (max(struct_pack(p := CAST(o_totalprice AS DECIMAL(18,2)), k := o_orderkey))).k AS top_order,
                CAST((max(struct_pack(p := CAST(o_totalprice AS DECIMAL(18,2)), k := o_orderkey))).p AS DOUBLE) AS top_price,
                (min(struct_pack(p := CAST(o_totalprice AS DECIMAL(18,2)), k := o_orderkey))).k AS bottom_order,
                CAST((min(struct_pack(p := CAST(o_totalprice AS DECIMAL(18,2)), k := o_orderkey))).p AS DOUBLE) AS bottom_price
              FROM orders GROUP BY 1 ORDER BY 1""")),

    // ── statistical aggregates from exact decimal moments ────────────────
    // stddev/var/covar/corr are order-sensitive in float; computing the
    // raw moments (Σx, Σx², Σxy) in DECIMAL makes them order-free, then
    // one identical double formula on both sides is bit-stable. This is
    // also the scale shape: moments are partial+final aggregable, the
    // statistics are a final per-group scalar step.
    // Moment sums are rounded to INTEGRAL decimals and carried as BIGINT
    // before the double conversion: DuckDB's decimal→double cast
    // double-rounds (int128 → double, then ÷10^scale) and can be 1 ulp off
    // the correctly-rounded value when the sum has >15 significant digits
    // (observed on syy at sf0.001). An integer < 2^53 converts EXACTLY in
    // both engines, so feeding the statistics formulas int-derived doubles
    // makes them bit-stable; the ≤0.5 absolute rounding on ~1e10..1e15
    // moments is ≤1e-10 relative — far below the statistic's own precision.
    Q("q_stats_agg",
      (s, dir) => {
        val x = dec2(col("l_quantity"))
        val y = dec2(col("l_extendedprice"))
        t(s, dir, "lineitem")
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
            round(sum(x), 0).cast("long").as("sxi"),
            round(sum(x * x), 0).cast("long").as("sxxi"),
            round(sum(y), 0).cast("long").as("syi"),
            round(sum(y * y), 0).cast("long").as("syyi"),
            round(sum(x * y), 0).cast("long").as("sxyi"))
          .select(col("l_returnflag"), col("n"),
            col("sxi").cast("double").as("sx"), col("sxxi").cast("double").as("sxx"),
            col("syi").cast("double").as("sy"), col("syyi").cast("double").as("syy"),
            col("sxyi").cast("double").as("sxy"))
          .select(col("l_returnflag"), col("n"),
            ((col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1)).as("var_qty"),
            sqrt((col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1)).as("sd_qty"),
            ((col("sxy") - col("sx") * col("sy") / col("n")) / (col("n") - 1)).as("covar"),
            ((col("sxy") - col("sx") * col("sy") / col("n"))
              / sqrt((col("sxx") - col("sx") * col("sx") / col("n"))
                * (col("syy") - col("sy") * col("sy") / col("n")))).as("corr"))
          .orderBy("l_returnflag")
      },
      Some("""WITH m AS (
                SELECT l_returnflag, COUNT(*) AS n,
                  CAST(CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))), 0) AS BIGINT) AS DOUBLE) AS sx,
                  CAST(CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))), 0) AS BIGINT) AS DOUBLE) AS sxx,
                  CAST(CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 0) AS BIGINT) AS DOUBLE) AS sy,
                  CAST(CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))), 0) AS BIGINT) AS DOUBLE) AS syy,
                  CAST(CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))), 0) AS BIGINT) AS DOUBLE) AS sxy
                FROM lineitem GROUP BY 1)
              SELECT l_returnflag, n,
                (sxx - sx * sx / n) / (n - 1) AS var_qty,
                sqrt((sxx - sx * sx / n) / (n - 1)) AS sd_qty,
                (sxy - sx * sy / n) / (n - 1) AS covar,
                (sxy - sx * sy / n)
                  / sqrt((sxx - sx * sx / n) * (syy - sy * sy / n)) AS corr
              FROM m ORDER BY l_returnflag""")),

    // ── map-type operations over the JSON props column ───────────────────
    // from_json into MapType, then element_at/size/map_keys — the
    // map-column surface (§1.3: MapType for event props). The oracle
    // recomputes the same scalars via DuckDB's JSON functions (map
    // internals differ across engines; outputs must not).
    Q("q_map_ops",
      (s, dir) => t(s, dir, "events")
        .select(col("event_id"),
          from_json(col("props"), org.apache.spark.sql.types.MapType(
            org.apache.spark.sql.types.StringType,
            org.apache.spark.sql.types.LongType)).as("pm"))
        .select(col("event_id"),
          element_at(col("pm"), "k").as("k_val"),
          size(col("pm")).cast("long").as("n_keys"),
          concat_ws(",", map_keys(col("pm"))).as("keys"),
          coalesce(element_at(col("pm"), "missing"), lit(-1L)).as("missing_val"))
        .orderBy("event_id"),
      Some("""SELECT event_id,
                CAST(props->>'$.k' AS BIGINT) AS k_val,
                CAST(len(json_keys(props)) AS BIGINT) AS n_keys,
                array_to_string(json_keys(props), ',') AS keys,
                COALESCE(CAST(props->>'$.missing' AS BIGINT), -1) AS missing_val
              FROM events ORDER BY event_id""")),

    // ── correlated scalar subquery (Catalyst decorrelates to join+agg) ───
    Q("q_subquery",
      (s, dir) => {
        Tables.load(s, dir, "orders").createOrReplaceTempView("orders")
        s.sql("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders o
                 WHERE o_totalprice > (
                   SELECT CAST(SUM(CAST(o2.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
                   FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
                 ORDER BY o_orderkey""")
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders o
              WHERE o_totalprice > (
                SELECT CAST(SUM(CAST(o2.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
                FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
              ORDER BY o_orderkey""")),

    // ── top-k per group via the bounded-heap aggregator ──────────────────
    // The scalable form of "rank ≤ k per partition": graft_topk keeps ≤3
    // rows per (task × group) through partial aggregation, so the shuffle
    // carries k rows per group where a window rank would sort every group
    // member (q_window_rank shows the window form; this is what replaces
    // it when groups are huge). Heap order (score desc, id asc) is the
    // exact contract of the oracle's row_number ordering.
    Q("q_topk_per_group",
      (s, dir) => t(s, dir, "orders")
        .groupBy(col("o_orderpriority").as("priority"))
        .agg(expr("graft_topk(o_orderkey, o_totalprice, 3)").as("topk"))
        .select(col("priority"), posexplode(col("topk")).as(Seq("pos", "t")))
        .select(col("priority"), col("t.id").as("o_orderkey"),
          col("t.score").as("o_totalprice"), (col("pos") + 1).cast("long").as("rk"))
        .orderBy("priority", "rk"),
      Some("""SELECT priority, o_orderkey, o_totalprice, rk FROM (
                SELECT o_orderpriority AS priority, o_orderkey, o_totalprice,
                  CAST(row_number() OVER (PARTITION BY o_orderpriority
                    ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rk
                FROM orders)
              WHERE rk <= 3 ORDER BY priority, rk""")),

    // ── equi-width numeric histogram ─────────────────────────────────────
    // Distribution profiling: 20 equal-width buckets over the global
    // [min, max]. The stats row is a 1-row broadcast; bucketing is a
    // row-local projection (identical double op order on both engines —
    // FLOOR of an exact computation, top edge folded into bucket 19);
    // the count is a partial+final agg over ≤20 keys. Nothing here
    // grows with the data but the scan.
    Q("q_histogram_numeric",
      (s, dir) => {
        val orders = t(s, dir, "orders")
        val st = orders.agg(min(col("o_totalprice")).as("mn"),
          max(col("o_totalprice")).as("mx"))
        orders.crossJoin(broadcast(st))
          .select(least(floor((col("o_totalprice") - col("mn")) * lit(20.0)
              / (col("mx") - col("mn"))), lit(19L)).cast("long").as("bucket"))
          .groupBy("bucket").agg(count(lit(1)).as("cnt"))
          .orderBy("bucket")
      },
      Some("""WITH st AS (
                SELECT MIN(o_totalprice) AS mn, MAX(o_totalprice) AS mx
                FROM orders)
              SELECT CAST(LEAST(FLOOR((o_totalprice - mn) * 20.0 / (mx - mn)),
                       19.0) AS BIGINT) AS bucket,
                count(*) AS cnt
              FROM orders CROSS JOIN st
              GROUP BY 1 ORDER BY bucket""")),

    // ── bloom-filter-pruned semi join ────────────────────────────────────
    // The runtime-filter pattern made explicit: orders of BUILDING-segment
    // customers, where the corpus-sized probe (orders) is pre-pruned by a
    // 64-Kbit Bloom filter of the build keys BEFORE the exact semi join.
    // The filter is built with pure codegen'd SQL — 5 × xxhash64(key, i)
    // bit positions, bit_or-agg'd into 1024 words, densified into ONE
    // array row — and probed with element_at/shiftright, so neither side
    // ever leaves whole-stage codegen and no UDF touches the hot path.
    // At 100 TB this is what cuts the probe shuffle: only rows passing
    // the bloom (true matches + a vanishing FP fraction) reach the
    // exchange, while the exact join keeps the answer exactly right —
    // the oracle is the PLAIN semi join, proving the bloom never changes
    // the result. The 1-row bits side is genuinely constant-size (8 KiB
    // regardless of SF), so its broadcast is always safe; the customer
    // side is NOT hinted (it scales with SF).
    Q("q_bloom_join",
      (s, dir) => {
        val mBits = 65536L
        val kHash = 5
        val keys = t(s, dir, "customer")
          .filter(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey"))
        val words = keys
          .select(explode(array((0 until kHash).map(i =>
            pmod(xxhash64(col("c_custkey"), lit(i)), lit(mBits))): _*)).as("p"))
          .select(expr("p div 64").as("w"),
            expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))").as("m"))
          .groupBy("w").agg(expr("bit_or(m)").as("word"))
        val bloom = words
          .agg(map_from_arrays(collect_list(col("w")), collect_list(col("word"))).as("wm"))
          .select(expr(s"transform(sequence(0L, ${mBits / 64 - 1}L), i -> coalesce(wm[i], CAST(0 AS BIGINT)))").as("bits"))
        // one bloom probe: word = bits[p div 64], test bit p % 64
        def bitSet(i: Int) =
          expr(s"""(shiftright(
                      element_at(bits, CAST(pmod(xxhash64(o_custkey, $i), $mBits) div 64 + 1 AS INT)),
                      CAST(pmod(xxhash64(o_custkey, $i), $mBits) % 64 AS INT)) % 2) != 0""")
        val pruned = t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"))
          .crossJoin(broadcast(bloom))
          .filter((0 until kHash).map(bitSet).reduce(_ && _))
          .select(col("o_orderkey"), col("o_custkey"))
          // observe() records the post-prune row count — the metric a
          // production job alerts on when a bloom stops pruning — and its
          // CollectMetrics node doubles as the optimizer fence that keeps
          // PushDownLeftSemiAntiJoin from reordering the exact join BELOW
          // the bloom, which would shuffle the UNPRUNED probe (the cost
          // this query exists to avoid)
          .observe("bloom_prune", count(lit(1)).as("rows_after_bloom"))
        pruned.join(keys, pruned("o_custkey") === keys("c_custkey"), "left_semi")
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_custkey FROM orders
              WHERE EXISTS (SELECT 1 FROM customer
                            WHERE c_custkey = o_custkey
                              AND c_mktsegment = 'BUILDING')
              ORDER BY o_orderkey""")),

    // ── CDC merge / upsert (MERGE INTO as one co-partitioned pass) ───────
    // The lakehouse write pattern without a transaction log: a change
    // batch (latest change per key wins — the CDC compaction arg-max)
    // merges onto the customer dimension in ONE full-outer join +
    // coalesce projection. No MATCHED/NOT-MATCHED driver branches: all
    // three cases (update, insert, carry-forward) are columnar CASE arms
    // of the same join row. Change keys ≡ 0 (mod 3) shift out of the key
    // space to exercise the insert path deterministically. Scale: both
    // sides hash on the merge key (bucketed storage makes it
    // shuffle-free); the change batch pre-collapses to one row per key
    // via arg-max, so the join is |dim| + |batch keys|, never |raw CDC|.
    Q("q_merge_upsert",
      (s, dir) => {
        val changes = t(s, dir, "orders")
          .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"),
            col("o_totalprice"))
          .groupBy("o_custkey")
          .agg(max(struct(col("o_orderdate"), col("o_orderkey"),
            col("o_totalprice"))).as("w"))
          .select(
            when(col("o_custkey") % 3 === 0, col("o_custkey") + 100000000L)
              .otherwise(col("o_custkey")).as("key"),
            dec2(col("w.o_totalprice")).cast("double").as("new_bal"))
        val base = t(s, dir, "customer")
          .select(col("c_custkey").as("key"), col("c_name"),
            dec2(col("c_acctbal")).cast("double").as("acctbal"))
        base.join(changes, Seq("key"), "full_outer")
          .select(col("key"),
            coalesce(col("c_name"), concat(lit("new_"), col("key"))).as("name"),
            coalesce(col("new_bal"), col("acctbal")).as("acctbal"),
            when(col("c_name").isNull, "inserted")
              .when(col("new_bal").isNull, "carried")
              .otherwise("updated").as("merge_action"))
          .orderBy("key")
      },
      Some("""WITH ch0 AS (
                SELECT o_custkey, o_totalprice, row_number() OVER (
                  PARTITION BY o_custkey
                  ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
                FROM orders),
              ch AS (
                SELECT CASE WHEN o_custkey % 3 = 0 THEN o_custkey + 100000000
                            ELSE o_custkey END AS key,
                  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS new_bal
                FROM ch0 WHERE rn = 1),
              base AS (
                SELECT c_custkey AS key, c_name,
                  CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS acctbal
                FROM customer)
              SELECT COALESCE(base.key, ch.key) AS key,
                COALESCE(c_name, 'new_' || COALESCE(base.key, ch.key)) AS name,
                COALESCE(new_bal, acctbal) AS acctbal,
                CASE WHEN c_name IS NULL THEN 'inserted'
                     WHEN new_bal IS NULL THEN 'carried'
                     ELSE 'updated' END AS merge_action
              FROM base FULL OUTER JOIN ch ON base.key = ch.key
              ORDER BY key""")),

    // ── data-quality constraint audit ────────────────────────────────────
    // The pre-publish DQ gate: null, range, enum-domain, uniqueness and
    // referential-integrity checks, each one scan-and-aggregate (the
    // uniqueness check is a two-level agg; the FK check is a key-keyed
    // anti join — never a broadcast of the SF-scaling parent). Emitted as
    // one (constraint, n_violations, n_checked) table — the shape a
    // quality dashboard or a circuit-breaker reads. Constant output
    // cardinality at any SF.
    Q("q_constraint_check",
      (s, dir) => {
        val orders = t(s, dir, "orders")
        val li = t(s, dir, "lineitem")
        val cust = t(s, dir, "customer").select(col("c_custkey"))
        val nullCheck = orders.agg(
          sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("n_violations"),
          count(lit(1)).as("n_checked"))
          .select(lit("orders.custkey_not_null").as("constraint_name"),
            col("n_violations"), col("n_checked"))
        val rangeCheck = li.agg(
          sum(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1L)
            .otherwise(0L)).as("n_violations"),
          count(lit(1)).as("n_checked"))
          .select(lit("lineitem.quantity_in_1_50").as("constraint_name"),
            col("n_violations"), col("n_checked"))
        val enumCheck = orders.agg(
          sum(when(!col("o_orderstatus").isin("F", "O", "P"), 1L)
            .otherwise(0L)).as("n_violations"),
          count(lit(1)).as("n_checked"))
          .select(lit("orders.status_in_domain").as("constraint_name"),
            col("n_violations"), col("n_checked"))
        val uniqueCheck = orders.groupBy("o_orderkey")
          .agg(count(lit(1)).as("c"))
          .agg(sum(col("c") - 1).cast("long").as("n_violations"),
            sum(col("c")).cast("long").as("n_checked"))
          .select(lit("orders.orderkey_unique").as("constraint_name"),
            col("n_violations"), col("n_checked"))
        val fkCheck = orders.select(col("o_custkey"))
          .join(cust, col("o_custkey") === col("c_custkey"), "left_anti")
          .agg(count(lit(1)).as("n_violations"))
          .crossJoin(orders.agg(count(lit(1)).as("n_checked")))
          .select(lit("orders.custkey_fk_customer").as("constraint_name"),
            col("n_violations"), col("n_checked"))
        nullCheck.unionByName(rangeCheck).unionByName(enumCheck)
          .unionByName(uniqueCheck).unionByName(fkCheck)
          .orderBy("constraint_name")
      },
      Some("""SELECT * FROM (
                SELECT 'orders.custkey_not_null' AS constraint_name,
                  CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
                  count(*) AS n_checked FROM orders
                UNION ALL
                SELECT 'lineitem.quantity_in_1_50',
                  CAST(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) AS BIGINT),
                  count(*) FROM lineitem
                UNION ALL
                SELECT 'orders.status_in_domain',
                  CAST(SUM(CASE WHEN o_orderstatus NOT IN ('F', 'O', 'P') THEN 1 ELSE 0 END) AS BIGINT),
                  count(*) FROM orders
                UNION ALL
                SELECT 'orders.orderkey_unique',
                  CAST(SUM(c - 1) AS BIGINT), CAST(SUM(c) AS BIGINT)
                FROM (SELECT count(*) AS c FROM orders GROUP BY o_orderkey)
                UNION ALL
                SELECT 'orders.custkey_fk_customer',
                  CAST((SELECT count(*) FROM orders
                        WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)) AS BIGINT),
                  (SELECT count(*) FROM orders))
              ORDER BY constraint_name""")),

    // ── snapshot diff (corpus/dimension drift report) ────────────────────
    // The regression detector between two dataset versions: one
    // co-partitioned full-outer join on the key classifies every row as
    // added / removed / changed / unchanged, collapsed to the constant-
    // size census a publish gate alerts on. Snapshots derive
    // deterministically from customer (≈2% removed, ≈2% added, every
    // 7th account balance drifted) so both engines diff identical
    // inputs. Value comparison uses null-safe equality — NULL vs NULL
    // is "unchanged", the semantics a diff needs and `=` gets wrong. At
    // 100 TB both snapshots bucket by key → exchange-free join; the agg
    // output is 4 rows at any SF.
    Q("q_snapshot_diff",
      (s, dir) => {
        val base = t(s, dir, "customer")
          .select(col("c_custkey").as("key"), col("c_name").as("name"),
            dec2(col("c_acctbal")).cast("double").as("bal"))
        val old = base.filter(col("key") % 50 =!= 1)
          .select(col("key"), col("name").as("o_name"), col("bal").as("o_bal"))
        val neu = base.filter(col("key") % 50 =!= 2)
          .select(col("key"), col("name").as("n_name"),
            when(col("key") % 7 === 0, col("bal") + 10.0)
              .otherwise(col("bal")).as("n_bal"))
        old.join(neu, Seq("key"), "full_outer")
          .select(
            when(col("o_name").isNull, "added")
              .when(col("n_name").isNull, "removed")
              .when(col("o_name") <=> col("n_name")
                && col("o_bal") <=> col("n_bal"), "unchanged")
              .otherwise("changed").as("status"))
          .groupBy("status").agg(count(lit(1)).as("n"))
          .orderBy("status")
      },
      Some("""WITH base AS (
                SELECT c_custkey AS key, c_name AS name,
                  CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS bal
                FROM customer),
              o AS (SELECT key, name AS o_name, bal AS o_bal
                    FROM base WHERE key % 50 <> 1),
              n AS (SELECT key, name AS n_name,
                      CASE WHEN key % 7 = 0 THEN bal + 10.0 ELSE bal END AS n_bal
                    FROM base WHERE key % 50 <> 2)
              SELECT CASE WHEN o_name IS NULL THEN 'added'
                          WHEN n_name IS NULL THEN 'removed'
                          WHEN o_name IS NOT DISTINCT FROM n_name
                           AND o_bal IS NOT DISTINCT FROM n_bal THEN 'unchanged'
                          ELSE 'changed' END AS status,
                count(*) AS n
              FROM o FULL OUTER JOIN n USING (key)
              GROUP BY 1 ORDER BY status""")),

    // ── right-to-be-forgotten cascade census ─────────────────────────────
    // The compliance op: given a forget-set of subjects (custkey ≡ 0 mod
    // 97 — the user-id domain events share, TESTDATA.md), count what a
    // purge would delete from every table, following the FK cascade
    // orders → lineitem. Every probe is a key-keyed LEFT SEMI join (the
    // forget set is usually small but UNBOUNDED — never hint-broadcast);
    // the lineitem leg goes through the purged-orders key set, so the
    // cascade is two semi joins, not a 3-way product. Output: 4 rows at
    // any SF — the audit record a deletion job files before running.
    Q("q_gdpr_purge",
      (s, dir) => {
        val forget = t(s, dir, "customer")
          .filter(col("c_custkey") % 97 === 0).select(col("c_custkey"))
        def census(name: String, purged: DataFrame, total: DataFrame) =
          purged.agg(count(lit(1)).as("n_purged"))
            .crossJoin(total.agg(count(lit(1)).as("n_total")))
            .select(lit(name).as("table_name"), col("n_purged"), col("n_total"))
        val customer = t(s, dir, "customer")
        val orders = t(s, dir, "orders")
        val li = t(s, dir, "lineitem")
        val events = t(s, dir, "events")
        val purgedOrders = orders
          .join(forget, orders("o_custkey") === forget("c_custkey"), "left_semi")
        val purgedLi = li.join(purgedOrders.select(col("o_orderkey")),
          li("l_orderkey") === col("o_orderkey"), "left_semi")
        val purgedEvents = events
          .join(forget, events("user_id") === forget("c_custkey"), "left_semi")
        census("customer", customer.filter(col("c_custkey") % 97 === 0), customer)
          .unionByName(census("events", purgedEvents, events))
          .unionByName(census("lineitem", purgedLi, li))
          .unionByName(census("orders", purgedOrders, orders))
          .orderBy("table_name")
      },
      Some("""WITH forget AS (
                SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0),
              po AS (SELECT o_orderkey FROM orders
                     WHERE o_custkey IN (SELECT c_custkey FROM forget))
              SELECT * FROM (
                SELECT 'customer' AS table_name,
                  (SELECT count(*) FROM forget) AS n_purged,
                  (SELECT count(*) FROM customer) AS n_total
                UNION ALL
                SELECT 'events',
                  (SELECT count(*) FROM events
                   WHERE user_id IN (SELECT c_custkey FROM forget)),
                  (SELECT count(*) FROM events)
                UNION ALL
                SELECT 'lineitem',
                  (SELECT count(*) FROM lineitem
                   WHERE l_orderkey IN (SELECT o_orderkey FROM po)),
                  (SELECT count(*) FROM lineitem)
                UNION ALL
                SELECT 'orders',
                  (SELECT count(*) FROM po),
                  (SELECT count(*) FROM orders))
              ORDER BY table_name""")),

    // ── shipping-priority analytics (TPC-H Q3 shape) ─────────────────────
    // The canonical 3-way fact drill-down: segment-filtered customers ⋈
    // date-filtered orders ⋈ shipdate-filtered lineitem, revenue per
    // order, top 10. Every filter pushes into its parquet scan BEFORE
    // the joins (PushedFilters carries the date cutoffs), both join keys
    // hash-partition, and the top-10 is a TakeOrderedAndProject over the
    // aggregated (order, date, priority) rows — never a global sort of
    // line items. Revenue sums in DECIMAL (§7.5); ties on revenue break
    // by orderkey so the LIMIT frontier is deterministic.
    Q("q_ship_priority",
      (s, dir) => {
        val cutoff = "1998-01-01"
        val cust = t(s, dir, "customer")
          .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
        val ord = t(s, dir, "orders")
          .filter(col("o_orderdate") < lit(cutoff).cast("timestamp"))
          .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
        val li = t(s, dir, "lineitem")
          .filter(col("l_shipdate") > lit(cutoff).cast("timestamp"))
          .select("l_orderkey", "l_extendedprice", "l_discount")
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(cust, col("o_custkey") === col("c_custkey"), "left_semi")
          .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
          .agg(sum(dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount"))))
            .cast("double").as("revenue"))
          .orderBy(col("revenue").desc, col("l_orderkey"))
          .limit(10)
      },
      Some("""SELECT l_orderkey, o_orderdate, o_orderpriority,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                  * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
              FROM lineitem
                JOIN orders ON l_orderkey = o_orderkey
              WHERE o_orderdate < TIMESTAMP '1998-01-01'
                AND l_shipdate > TIMESTAMP '1998-01-01'
                AND EXISTS (SELECT 1 FROM customer
                            WHERE c_custkey = o_custkey
                              AND c_mktsegment = 'BUILDING')
              GROUP BY 1, 2, 3
              ORDER BY revenue DESC, l_orderkey LIMIT 10""")),

    // ── regional supplier volume (TPC-H Q5 shape, 6-way star) ────────────
    // The deep snowflake: region → nation → customer → orders → lineitem
    // ⋈ supplier, keeping only lines where the supplier sits in the same
    // nation as the customer (the local-volume condition). Plan shape:
    // region/nation are constant-size (5 / 25 rows — broadcast by
    // size-gating, no hints needed), customer/supplier/orders/lineitem
    // all hash-partition on their join keys, and the same-nation
    // predicate rides the supplier join (an equi-conjunct, not a
    // post-filter). One row per nation out.
    Q("q_region_volume",
      (s, dir) => {
        val nat = t(s, dir, "nation")
          .join(t(s, dir, "region").filter(col("r_name") === "ASIA"),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"), col("n_name"))
        val cust = t(s, dir, "customer")
          .join(nat, col("c_nationkey") === col("n_nationkey"))
          .select(col("c_custkey"), col("c_nationkey"))
        val supp = t(s, dir, "supplier")
          .select(col("s_suppkey"), col("s_nationkey"))
        t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey"),
            col("l_extendedprice"), col("l_discount"))
          .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
          .join(cust, col("o_custkey") === col("c_custkey"))
          .join(supp, col("l_suppkey") === col("s_suppkey")
            && col("s_nationkey") === col("c_nationkey"))
          .join(nat, col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name"))
          .agg(sum(dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount"))))
            .cast("double").as("revenue"),
            count(lit(1)).as("n_lines"))
          .orderBy(col("n_name"))
      },
      Some("""SELECT n_name,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                  * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
                count(*) AS n_lines
              FROM lineitem
                JOIN orders ON l_orderkey = o_orderkey
                JOIN customer ON o_custkey = c_custkey
                JOIN supplier ON l_suppkey = s_suppkey
                  AND s_nationkey = c_nationkey
                JOIN nation ON c_nationkey = n_nationkey
                JOIN region ON n_regionkey = r_regionkey
              WHERE r_name = 'ASIA'
              GROUP BY 1 ORDER BY n_name""")),

    // ── z-order (Morton) clustering layout ───────────────────────────────
    // The multi-dimensional data-layout op: quantize (orderdate, custkey)
    // to 16-bit cells against min/max stats (one 1-row broadcast, the
    // q_histogram_numeric pattern), interleave with the codegen'd
    // `graft_zorder`, and census the coarse z-tiles (z >> 20 → ≤4096
    // tiles at ANY SF). Each tile's (min,max) bounds in BOTH dims stay
    // tight — the property that lets a 2-D range predicate prune
    // contiguous file runs after a z-sorted write. At 100 TB the z value
    // feeds `repartitionByRange(z).sortWithinPartitions(z)` on the write
    // path; everything here is row-local integer arithmetic between one
    // stats pass and one bounded-cardinality agg.
    Q("q_zorder_layout",
      (s, dir) => {
        zorderRows(s, dir)
          .select(shiftright(col("z"), 20).as("tile"),
            col("xq"), col("yq"))
          .groupBy("tile")
          .agg(count(lit(1)).as("n_rows"),
            min("xq").as("min_x"), max("xq").as("max_x"),
            min("yq").as("min_y"), max("yq").as("max_y"))
          .orderBy("tile")
      },
      Some("""WITH dims AS (
                SELECT date_diff('day', DATE '1992-01-01',
                         CAST(o_orderdate AS DATE)) AS x,
                       o_custkey AS y
                FROM orders),
              st AS (SELECT min(x) AS xmin, max(x) AS xmax,
                            min(y) AS ymin, max(y) AS ymax FROM dims),
              qz AS (
                SELECT ((x - xmin) * 65535) // greatest(xmax - xmin, 1) AS xq,
                       ((y - ymin) * 65535) // greatest(ymax - ymin, 1) AS yq
                FROM dims, st),
              zv AS (
                SELECT xq, yq,
                  CAST(list_sum(
                    [((xq // (1::BIGINT << i)) % 2) * (1::BIGINT << (2*i))
                     + ((yq // (1::BIGINT << i)) % 2) * (1::BIGINT << (2*i+1))
                     for i in generate_series(0, 15)]) AS BIGINT) AS z
                FROM qz)
              SELECT z >> 20 AS tile, count(*) AS n_rows,
                MIN(xq) AS min_x, MAX(xq) AS max_x,
                MIN(yq) AS min_y, MAX(yq) AS max_y
              FROM zv GROUP BY 1 ORDER BY tile""")),

    // ── pricing summary report (TPC-H Q1 shape, full 8-aggregate form) ───
    // The canonical scan-heavy reporting query: one pass over the fact
    // table, grouped on a 2-column low-cardinality key, eight aggregates.
    // Plan shape: filter rides the scan (PushedFilters on l_shipdate),
    // partial aggregation collapses 600k rows to ≤8 groups per task
    // BEFORE the exchange, so the shuffle carries O(groups × tasks) rows
    // at any SF. Money math in DECIMAL(18,2); the charge product takes an
    // explicit DECIMAL(18,4) intermediate on BOTH sides so the engines
    // multiply identical exact operands (a 3-factor decimal product would
    // overflow DuckDB's width-38 multiply at (18,2)³).
    Q("q_pricing_summary",
      (s, dir) => t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("2000-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(dec2(col("l_quantity"))).cast("double").as("sum_qty"),
          sumDec2(col("l_extendedprice")).as("sum_base_price"),
          sum(dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount"))))
            .cast("double").as("sum_disc_price"),
          sum((dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount"))))
            .cast(DecimalType(18, 4)) * (lit(1) + dec2(col("l_tax"))))
            .cast("double").as("sum_charge"),
          avgDec(col("l_quantity")).as("avg_qty"),
          avgDec(col("l_extendedprice")).as("avg_price"),
          avgDec(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some("""SELECT l_returnflag, l_linestatus,
                CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                  * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
                CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))
                  * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
                CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
                CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
                COUNT(*) AS count_order
              FROM lineitem
              WHERE l_shipdate <= TIMESTAMP '2000-09-01'
              GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ── promotion revenue share by month (TPC-H Q14 shape) ───────────────
    // Fact ⋈ dimension where the dimension (part) SCALES with the corpus:
    // no broadcast hint — AQE size-gates the build side; at 100 TB this is
    // a hash-partitioned equi-join on partkey with only (partkey, 1 flag
    // bit) on the build side after pruning. The share divides two sums
    // derived from identical decimal operands — one IEEE division each,
    // bit-stable in both engines.
    Q("q_promo_share",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .select(col("l_partkey"),
            (year(col("l_shipdate")) * 100 + month(col("l_shipdate")))
              .cast("long").as("ym"),
            (dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount"))))
              .as("rev"))
        val promo = t(s, dir, "part")
          .select(col("p_partkey"), (col("p_type") === "PROMO").as("is_promo"))
        li.join(promo, col("l_partkey") === col("p_partkey"))
          .groupBy("ym")
          .agg(
            sum(when(col("is_promo"), col("rev"))
              .otherwise(dec2(lit(0)))).cast("double").as("promo_rev"),
            sum(col("rev")).cast("double").as("total_rev"))
          .select(col("ym"), col("promo_rev"), col("total_rev"),
            (col("promo_rev") * 100 / col("total_rev")).as("promo_share"))
          .orderBy("ym")
      },
      Some("""SELECT ym,
                CAST(SUM(CASE WHEN p_type = 'PROMO' THEN rev
                     ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS promo_rev,
                CAST(SUM(rev) AS DOUBLE) AS total_rev,
                CAST(SUM(CASE WHEN p_type = 'PROMO' THEN rev
                     ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) * 100
                  / CAST(SUM(rev) AS DOUBLE) AS promo_share
              FROM (SELECT l_partkey,
                      CAST(year(l_shipdate) * 100 + month(l_shipdate) AS BIGINT) AS ym,
                      CAST(l_extendedprice AS DECIMAL(18,2))
                        * (1 - CAST(l_discount AS DECIMAL(18,2))) AS rev
                    FROM lineitem) l
                JOIN part ON l_partkey = p_partkey
              GROUP BY 1 ORDER BY ym""")),

    // ── top returned-revenue customers (TPC-H Q10 shape) ─────────────────
    // Aggregate-THEN-join: returned revenue folds to one row per customer
    // before touching the customer table, so the wide dimension join sees
    // |customers-with-returns| rows, not |lineitem|. customer scales with
    // SF → un-hinted shuffle join; nation is constant-size → size-gated
    // BHJ for free. Top-20 under a total order (revenue desc, custkey).
    Q("q_returned_customers",
      (s, dir) => {
        val ord = t(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("1998-01-01").cast("timestamp")
            && col("o_orderdate") < lit("1998-07-01").cast("timestamp"))
          .select("o_orderkey", "o_custkey")
        val li = t(s, dir, "lineitem")
          .filter(col("l_returnflag") === "R")
          .select("l_orderkey", "l_extendedprice", "l_discount")
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_custkey")
          .agg(sum(dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount"))))
            .cast("double").as("revenue"))
          .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
          .join(t(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
          .select(col("c_custkey"), col("c_name"), col("n_name"),
            col("c_acctbal"), col("revenue"))
          .orderBy(col("revenue").desc, col("c_custkey"))
          .limit(20)
      },
      Some("""SELECT c_custkey, c_name, n_name, c_acctbal, revenue
              FROM (
                SELECT o_custkey,
                  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                WHERE l_returnflag = 'R'
                  AND o_orderdate >= TIMESTAMP '1998-01-01'
                  AND o_orderdate < TIMESTAMP '1998-07-01'
                GROUP BY 1) r
                JOIN customer ON o_custkey = c_custkey
                JOIN nation ON c_nationkey = n_nationkey
              ORDER BY revenue DESC, c_custkey LIMIT 20""")),

    // ── max-revenue supplier (TPC-H Q15 shape) ───────────────────────────
    // The agg + global-max-subquery pattern: quarterly revenue per
    // supplier (partial-agg'd), then a 1-row max broadcast filters the
    // winners — the "HAVING x = (SELECT max ...)" plan with no second
    // scan of the fact table. The tie comparison happens in DECIMAL
    // (exact), only the surfaced value casts to double.
    Q("q_top_supplier",
      (s, dir) => {
        val rev = t(s, dir, "lineitem")
          .filter(col("l_shipdate") >= lit("1998-01-01").cast("timestamp")
            && col("l_shipdate") < lit("1998-04-01").cast("timestamp"))
          .groupBy(col("l_suppkey"))
          .agg(sum(dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount"))))
            .as("rev_dec"))
        // persist: rev feeds the global max AND the filter — cached, the
        // filtered lineitem slice is scanned once, not twice
        val revP = rev.persist()
        val mx = revP.agg(max(col("rev_dec")).as("mx"))
        revP.crossJoin(broadcast(mx))
          .filter(col("rev_dec") === col("mx"))
          .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
          .select(col("s_suppkey"), col("s_name"),
            col("rev_dec").cast("double").as("total_revenue"))
          .orderBy("s_suppkey")
      },
      Some("""WITH rev AS (
                SELECT l_suppkey,
                  SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS rev_dec
                FROM lineitem
                WHERE l_shipdate >= TIMESTAMP '1998-01-01'
                  AND l_shipdate < TIMESTAMP '1998-04-01'
                GROUP BY 1)
              SELECT s_suppkey, s_name, CAST(rev_dec AS DOUBLE) AS total_revenue
              FROM rev JOIN supplier ON l_suppkey = s_suppkey
              WHERE rev_dec = (SELECT MAX(rev_dec) FROM rev)
              ORDER BY s_suppkey""")),

    // ── equal-frequency feature binning (per-segment deciles) ────────────
    // The feature-engineering op: decile-bin order totals WITHIN each
    // market segment and census the bins (count + exact bounds). Ranks
    // come from RangeRank's 2-pass range-partitioned selection (sort by
    // (segment, price), prefix-sum the per-partition counts), so
    // parallelism is cluster-sized even with 5 segments; the bin
    // semantics — bucket = ((rn-1)*10) div n + 1, exact ties broken by
    // orderkey — are pure BIGINT arithmetic: exact in both engines.
    Q("q_feature_binning",
      (s, dir) => {
        val j = t(s, dir, "orders")
          .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
          .select(col("c_mktsegment").as("segment"), col("o_orderkey"),
            dec2(col("o_totalprice")).as("price"))
        RangeRank.ranked(j,
            groupCols = Seq("segment"),
            sortCols = Seq(col("price"), col("o_orderkey")))
          .select(col("segment"), col("price"),
            expr("((rn - 1) * 10) div n + 1").as("bucket"))
          .groupBy("segment", "bucket")
          .agg(count(lit(1)).as("n_rows"),
            min(col("price")).cast("double").as("lo"),
            max(col("price")).cast("double").as("hi"))
          .orderBy("segment", "bucket")
      },
      Some("""WITH j AS (
                SELECT c_mktsegment AS segment, o_orderkey,
                  CAST(o_totalprice AS DECIMAL(18,2)) AS price
                FROM orders JOIN customer ON o_custkey = c_custkey),
              r AS (
                SELECT segment, price,
                  CAST(row_number() OVER (PARTITION BY segment
                    ORDER BY price, o_orderkey) AS BIGINT) AS rn,
                  CAST(count(*) OVER (PARTITION BY segment) AS BIGINT) AS n
                FROM j),
              b AS (SELECT segment, price, ((rn - 1) * 10) // n + 1 AS bucket FROM r)
              SELECT segment, bucket, count(*) AS n_rows,
                CAST(MIN(price) AS DOUBLE) AS lo, CAST(MAX(price) AS DOUBLE) AS hi
              FROM b GROUP BY 1, 2 ORDER BY segment, bucket""")),

    // ── orders-with-returns census by priority (TPC-H Q4 shape) ──────────
    // The EXISTS-decorrelation shape: orders in a quarter that have at
    // least one returned line, counted per priority. The subquery plans
    // as a LeftSemi join on orderkey — ONE pass over each table, no
    // row-per-match fan-out (a plain inner join would double-count
    // multi-line returns and shuffle the fan-out); both sides carry only
    // (orderkey) + grouping columns after pruning.
    Q("q_order_priority",
      (s, dir) => {
        val ord = t(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("1998-01-01").cast("timestamp")
            && col("o_orderdate") < lit("1998-04-01").cast("timestamp"))
        val returned = t(s, dir, "lineitem")
          .filter(col("l_returnflag") === "R").select("l_orderkey")
        ord.join(returned, col("o_orderkey") === col("l_orderkey"), "left_semi")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("order_count"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, count(*) AS order_count
              FROM orders
              WHERE o_orderdate >= TIMESTAMP '1998-01-01'
                AND o_orderdate < TIMESTAMP '1998-04-01'
                AND EXISTS (SELECT 1 FROM lineitem
                            WHERE l_orderkey = o_orderkey
                              AND l_returnflag = 'R')
              GROUP BY 1 ORDER BY 1""")),

    // ── customer order-count distribution (TPC-H Q13 shape) ──────────────
    // The two-level aggregation with an outer join: every customer's
    // order count (zero included — the LEFT join keeps order-less
    // customers), then the distribution histogram. Both aggs are
    // partial+final; the join is un-hinted (both sides scale). The
    // histogram's key space is bounded by max-orders-per-customer — the
    // final sort is over a constant-size relation.
    Q("q_customer_dist",
      (s, dir) => t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc),
      Some("""SELECT c_count, count(*) AS custdist
              FROM (
                SELECT c_custkey, count(o_orderkey) AS c_count
                FROM customer LEFT JOIN orders ON c_custkey = o_custkey
                GROUP BY 1)
              GROUP BY 1 ORDER BY custdist DESC, c_count DESC""")),

    // ── national market share in a part segment (TPC-H Q8 shape) ─────────
    // The share-of-market readout: within PROMO-part lineitems, the
    // fraction of yearly revenue supplied by one nation. CASE-gated and
    // total sums come from identical decimal operands; the share is one
    // IEEE division — bit-stable. Join tree: part (scaling, un-hinted
    // equi-join), supplier (scaling, un-hinted), nation (constant →
    // size-gated BHJ). The nation flag rides the supplier join, so the
    // group-by sees only (year, flag) — two partial-agg columns.
    Q("q_market_share",
      (s, dir) => {
        val promoParts = t(s, dir, "part")
          .filter(col("p_type") === "PROMO").select("p_partkey")
        val supp = t(s, dir, "supplier")
          .join(t(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), (col("n_name") === "NATION_7").as("is_target"))
        t(s, dir, "lineitem")
          .join(promoParts, col("l_partkey") === col("p_partkey"), "left_semi")
          .join(supp, col("l_suppkey") === col("s_suppkey"))
          .select(year(col("l_shipdate")).cast("long").as("yr"),
            (dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount"))))
              .as("rev"),
            col("is_target"))
          .groupBy("yr")
          .agg(
            sum(when(col("is_target"), col("rev"))
              .otherwise(dec2(lit(0)))).cast("double").as("nation_rev"),
            sum(col("rev")).cast("double").as("total_rev"))
          .select(col("yr"), col("nation_rev"), col("total_rev"),
            (col("nation_rev") / col("total_rev")).as("mkt_share"))
          .orderBy("yr")
      },
      Some("""SELECT yr,
                CAST(SUM(CASE WHEN n_name = 'NATION_7' THEN rev
                     ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS nation_rev,
                CAST(SUM(rev) AS DOUBLE) AS total_rev,
                CAST(SUM(CASE WHEN n_name = 'NATION_7' THEN rev
                     ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
                  / CAST(SUM(rev) AS DOUBLE) AS mkt_share
              FROM (
                SELECT CAST(year(l_shipdate) AS BIGINT) AS yr,
                  CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2))) AS rev,
                  n_name
                FROM lineitem
                  JOIN supplier ON l_suppkey = s_suppkey
                  JOIN nation ON s_nationkey = n_nationkey
                WHERE EXISTS (SELECT 1 FROM part
                              WHERE p_partkey = l_partkey AND p_type = 'PROMO'))
              GROUP BY 1 ORDER BY yr""")),

    // ── forecast revenue change (TPC-H Q6 shape) ─────────────────────────
    // The purest pushdown showcase: ALL three predicates (date range,
    // discount band, quantity cap) land in PushedFilters, the scan reads 4
    // columns of 11, and the whole query is scan → 1-row partial+final
    // agg. At 100 TB this is the shape that proves the engine never moves
    // a row it can prove irrelevant at the storage layer.
    Q("q_simple_revenue",
      (s, dir) => t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount").between(0.03, 0.07) && col("l_quantity") < 24)
        .agg(sum(dec2(col("l_extendedprice")) * dec2(col("l_discount")))
          .cast("double").as("revenue")),
      Some("""SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                AND l_shipdate < TIMESTAMP '1997-01-01'
                AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24""")),

    // ── bilateral trade volume (TPC-H Q7 shape) ──────────────────────────
    // The nation filter prunes supplier AND customer to the 4-nation set
    // BEFORE either touches a fact table — the join tree the optimizer
    // cannot invent on its own at 100 TB if the query had been written
    // fact-first. nation is constant (size-gated BHJ); supplier, customer,
    // orders all scale with SF and stay un-hinted hash joins on their keys.
    Q("q_nation_trade",
      (s, dir) => {
        val nset = Seq("NATION_1", "NATION_2", "NATION_3", "NATION_4")
        val nat = t(s, dir, "nation").filter(col("n_name").isin(nset: _*))
        val sn = t(s, dir, "supplier")
          .join(nat, col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("n_name").as("supp_nation"))
        val cn = t(s, dir, "customer")
          .join(nat, col("c_nationkey") === col("n_nationkey"))
          .select(col("c_custkey"), col("n_name").as("cust_nation"))
        val ord = t(s, dir, "orders")
          .join(cn, col("o_custkey") === col("c_custkey"))
          .select(col("o_orderkey"), col("cust_nation"))
        t(s, dir, "lineitem")
          .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
          .join(sn, col("l_suppkey") === col("s_suppkey"))
          .join(ord, col("l_orderkey") === col("o_orderkey"))
          .filter(col("supp_nation") =!= col("cust_nation"))
          .groupBy(col("supp_nation"), col("cust_nation"),
            year(col("l_shipdate")).cast("long").as("l_year"))
          .agg(sum(dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount"))))
            .cast("double").as("volume"))
          .orderBy("supp_nation", "cust_nation", "l_year")
      },
      Some("""SELECT supp_nation, cust_nation, l_year,
                CAST(SUM(rev) AS DOUBLE) AS volume
              FROM (
                SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                  CAST(year(l_shipdate) AS BIGINT) AS l_year,
                  CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2))) AS rev
                FROM lineitem
                  JOIN supplier ON l_suppkey = s_suppkey
                  JOIN nation n1 ON s_nationkey = n1.n_nationkey
                  JOIN orders ON l_orderkey = o_orderkey
                  JOIN customer ON o_custkey = c_custkey
                  JOIN nation n2 ON c_nationkey = n2.n_nationkey
                WHERE n1.n_name IN ('NATION_1','NATION_2','NATION_3','NATION_4')
                  AND n2.n_name IN ('NATION_1','NATION_2','NATION_3','NATION_4')
                  AND n1.n_name <> n2.n_name
                  AND l_shipdate >= TIMESTAMP '1996-01-01'
                  AND l_shipdate < TIMESTAMP '1998-01-01')
              GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""")),

    // ── product-line margin by nation and year (TPC-H Q9 shape) ──────────
    // No partsupp table exists, so supply cost is proxied by retailprice ×
    // quantity — the SHAPE is what matters: a name-filtered part dim
    // (scaling, un-hinted) prunes the fact stream, the supplier→nation
    // chain rides the join, and the margin is an explicit DECIMAL(18,4)
    // difference both engines compute exactly before ONE final cast.
    Q("q_product_margin",
      (s, dir) => {
        val gearParts = t(s, dir, "part")
          .filter(col("p_name").like("%gear%"))
          .select(col("p_partkey"), col("p_retailprice"))
        val sn = t(s, dir, "supplier")
          .join(t(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("n_name").as("nation"))
        t(s, dir, "lineitem")
          .join(gearParts, col("l_partkey") === col("p_partkey"))
          .join(sn, col("l_suppkey") === col("s_suppkey"))
          .select(col("nation"),
            year(col("l_shipdate")).cast("long").as("o_year"),
            ((dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount"))))
              .cast(DecimalType(18, 4)) -
              (dec2(col("p_retailprice")) * dec2(col("l_quantity")))
                .cast(DecimalType(18, 4))).as("amount"))
          .groupBy("nation", "o_year")
          .agg(sum(col("amount")).cast("double").as("sum_margin"))
          .orderBy(col("nation"), col("o_year").desc)
      },
      Some("""SELECT nation, o_year, CAST(SUM(amount) AS DOUBLE) AS sum_margin
              FROM (
                SELECT n_name AS nation,
                  CAST(year(l_shipdate) AS BIGINT) AS o_year,
                  CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))
                  - CAST(CAST(p_retailprice AS DECIMAL(18,2))
                    * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(18,4)) AS amount
                FROM lineitem
                  JOIN part ON l_partkey = p_partkey
                  JOIN supplier ON l_suppkey = s_suppkey
                  JOIN nation ON s_nationkey = n_nationkey
                WHERE p_name LIKE '%gear%')
              GROUP BY 1, 2 ORDER BY nation, o_year DESC""")),

    // ── small-quantity-order revenue (TPC-H Q17 shape) ───────────────────
    // The correlated scalar subquery ("0.2 × avg quantity for THIS part")
    // decorrelates to aggregate-then-join: one per-part partial agg over
    // the brand-pruned fact slice, joined back on partkey — never a
    // window, never a per-row subquery. The threshold is derived from
    // identical operands in both engines (decimal sum / count, one double
    // multiply), so the < compare is bit-stable.
    Q("q_small_qty_revenue",
      (s, dir) => {
        val targetParts = t(s, dir, "part")
          .filter(col("p_brand") === "Brand#23" && col("p_type") === "MEDIUM")
          .select("p_partkey")
        val li = t(s, dir, "lineitem")
          .join(targetParts, col("l_partkey") === col("p_partkey"), "left_semi")
        val perPart = li.groupBy("l_partkey")
          .agg((avgDec(col("l_quantity")) * 0.2).as("qty_threshold"))
          .withColumnRenamed("l_partkey", "t_partkey")
        li.join(perPart, col("l_partkey") === col("t_partkey"))
          .filter(col("l_quantity") < col("qty_threshold"))
          .agg((sumDec2(col("l_extendedprice")) / 7.0).as("avg_yearly"))
      },
      Some("""WITH pruned AS (
                SELECT l_partkey, l_quantity, l_extendedprice FROM lineitem
                WHERE EXISTS (SELECT 1 FROM part WHERE p_partkey = l_partkey
                              AND p_brand = 'Brand#23' AND p_type = 'MEDIUM')),
              th AS (
                SELECT l_partkey AS t_partkey,
                  0.2 * (CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                         / COUNT(l_quantity)) AS qty_threshold
                FROM pruned GROUP BY 1)
              SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                       / 7.0 AS avg_yearly
              FROM pruned JOIN th ON l_partkey = t_partkey
              WHERE l_quantity < qty_threshold""")),

    // ── large-volume orders (TPC-H Q18 shape) ────────────────────────────
    // groupBy-HAVING on the fact key folds 60k lineitems to 874 qualifying
    // orders BEFORE any dimension join — the agg output (orderkey, sum) is
    // the only thing that reaches orders/customer. Top-100 by a total
    // order (totalprice DESC, orderkey) so LIMIT is deterministic.
    Q("q_large_orders",
      (s, dir) => {
        val bigOrders = t(s, dir, "lineitem")
          .groupBy("l_orderkey")
          .agg(sum(dec2(col("l_quantity"))).cast("double").as("sum_qty"))
          .filter(col("sum_qty") > 200)
        t(s, dir, "orders")
          .join(bigOrders, col("o_orderkey") === col("l_orderkey"))
          .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
          .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
            col("o_orderdate"), col("o_totalprice"), col("sum_qty"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
          .limit(100)
      },
      Some("""SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
                sum_qty
              FROM orders
                JOIN (SELECT l_orderkey,
                        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                          AS sum_qty
                      FROM lineitem GROUP BY 1
                      HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
                                  AS DOUBLE) > 200) b
                  ON o_orderkey = b.l_orderkey
                JOIN customer ON o_custkey = c_custkey
              ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""")),

    // ── disjunctive predicate join (TPC-H Q19 shape) ─────────────────────
    // OR-of-ANDs across BOTH join sides: Catalyst extracts the common
    // partkey equi-key (hash join, not BNLJ — PlanGuardSpec asserts), and
    // pushes the per-side residuals (brand/size to the part scan,
    // quantity bands to the lineitem scan as an OR filter) so both scans
    // prune before the join. The classic "predicate too twisted to
    // pushdown by hand" regression case.
    Q("q_disjunctive_join",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val p = t(s, dir, "part")
        val cond = col("l_partkey") === col("p_partkey") && (
          (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) &&
            col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#23" && col("p_size").between(1, 25) &&
            col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#34" && col("p_size").between(1, 35) &&
            col("l_quantity").between(20, 30)))
        li.join(p, cond)
          .agg(sum(dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount"))))
            .cast("double").as("revenue"),
            count(lit(1)).as("n_lines"))
      },
      Some("""SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                  * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
                  AS revenue,
                COUNT(*) AS n_lines
              FROM lineitem JOIN part ON l_partkey = p_partkey
              WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
                     AND l_quantity BETWEEN 1 AND 11)
                 OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
                     AND l_quantity BETWEEN 10 AND 20)
                 OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
                     AND l_quantity BETWEEN 20 AND 30)""")),

    // ── dormant high-value customers (TPC-H Q22 shape) ───────────────────
    // Global-scalar-then-anti-join: the "average positive balance" is a
    // 1-row agg (legitimately broadcast — it is CONSTANT size at any SF),
    // the recency filter prunes orders before the anti-join probes it,
    // and the final census is a ≤5-group partial agg. Every customer has
    // SOME order in this data, so dormancy = no order since 2000-01-01.
    Q("q_dormant_customers",
      (s, dir) => {
        val cust = t(s, dir, "customer")
        val avgRow = cust.filter(col("c_acctbal") > 0)
          .agg((sum(dec2(col("c_acctbal"))).cast("double") / count(lit(1)))
            .as("avg_bal"))
        val recent = t(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
          .select("o_custkey")
        cust.crossJoin(broadcast(avgRow))
          .filter(col("c_acctbal") > col("avg_bal"))
          .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("numcust"),
            sumDec2(col("c_acctbal")).as("totacctbal"))
          .orderBy("c_mktsegment")
      },
      Some("""SELECT c_mktsegment, COUNT(*) AS numcust,
                CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                  AS totacctbal
              FROM customer,
                (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                          / COUNT(*) AS avg_bal
                 FROM customer WHERE c_acctbal > 0) a
              WHERE c_acctbal > a.avg_bal
                AND NOT EXISTS (SELECT 1 FROM orders
                                WHERE o_custkey = c_custkey
                                  AND o_orderdate >= TIMESTAMP '2000-01-01')
              GROUP BY 1 ORDER BY 1""")),

    // ── order→ship latency percentiles (fulfillment SLA readout) ─────────
    // The ops metric behind every SLA dashboard. lineitem folds to one
    // MIN per order BEFORE the orders join (Q18 discipline); latency is
    // exact integer days; percentiles are value-at-rank member picks
    // via RangeRank.groupValuesAtRanks (no interpolation, no per-group
    // single-task sort — histogram selection keeps parallelism cluster-
    // sized); and the n_preship column counts ship-before-order rows —
    // the data-quality signal this synthetic data deliberately carries.
    Q("q_ship_latency",
      (s, dir) => {
        val firstShip = t(s, dir, "lineitem")
          .groupBy("l_orderkey").agg(min(col("l_shipdate")).as("first_ship"))
        val lat = t(s, dir, "orders")
          .join(firstShip, col("o_orderkey") === col("l_orderkey"))
          .select(col("o_orderpriority"),
            datediff(col("first_ship").cast("date"),
              col("o_orderdate").cast("date")).cast("long").as("days"))
          .persist()
        val qs = RangeRank.groupValuesAtRanks(lat, Seq("o_orderpriority"),
          "days",
          Seq(RangeRank.RankPick("p50_days", n => ceil(n * 0.5)),
            RangeRank.RankPick("p90_days", n => ceil(n * 0.9))))
        val extras = lat.groupBy("o_orderpriority")
          .agg(max(col("days")).as("max_days"),
            sum(when(col("days") < 0, 1L).otherwise(0L)).as("n_preship"))
        qs.join(extras, Seq("o_orderpriority"))
          .select(col("o_orderpriority"), col("n"), col("p50_days"),
            col("p90_days"), col("max_days"), col("n_preship"))
          .orderBy("o_orderpriority")
      },
      Some("""WITH fs AS (
                SELECT l_orderkey, MIN(l_shipdate) AS first_ship
                FROM lineitem GROUP BY 1),
              lat AS (
                SELECT o_orderpriority, o_orderkey,
                  CAST(date_diff('day', CAST(o_orderdate AS DATE),
                    CAST(first_ship AS DATE)) AS BIGINT) AS days
                FROM orders JOIN fs ON o_orderkey = l_orderkey),
              r AS (
                SELECT o_orderpriority, days,
                  CAST(row_number() OVER (PARTITION BY o_orderpriority
                    ORDER BY days, o_orderkey) AS BIGINT) AS rn,
                  CAST(COUNT(*) OVER (PARTITION BY o_orderpriority)
                    AS BIGINT) AS n
                FROM lat)
              SELECT o_orderpriority, MAX(n) AS n,
                MAX(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT)
                    THEN days END) AS p50_days,
                MAX(CASE WHEN rn = CAST(ceil(n * 0.9) AS BIGINT)
                    THEN days END) AS p90_days,
                MAX(days) AS max_days,
                CAST(SUM(CASE WHEN days < 0 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_preship
              FROM r GROUP BY 1 ORDER BY 1""")),

    // ── distribution-free median CI (order-statistic bounds) ────────────
    // The error bar q_percentile_disc's point estimate lacks, with NO
    // distributional assumption and NO resampling: the exact 95% CI for
    // the median is the pair of order statistics at ranks
    // (n − z√n)/2 and n+1−that (binomial argument). √n is IEEE-exact,
    // z is the pinned literal, floor of identical doubles is identical
    // — so the rank targets are the same longs in both engines, and the
    // three value selections ride ONE RangeRank histogram-bracketed
    // pass (no sort, no rank materialization). Per returnflag group.
    Q("q_median_ci",
      (s, dir) => {
        // round 13: picks ride the pinned RANKED (flag, price) census —
        // same tie-invariant selections, ONE conditional agg
        val base = Censuses.rankedFlagPrice(s, dir)
        val loRank = (n: org.apache.spark.sql.Column) => greatest(lit(1L),
          floor((n.cast("double")
            - sqrt(n.cast("double")) * 1.959963985) / 2.0).cast("long"))
        RangeRank.pinnedValuesAtRanks(base, Seq("f"), "v", "c",
          "off", "n",
          Seq(RangeRank.RankPick("median", n => ceil(n * 0.5)),
            RangeRank.RankPick("ci_lo", loRank),
            RangeRank.RankPick("ci_hi", n => n + 1 - loRank(n))))
          .select(col("f").as("l_returnflag"), col("n"), col("median"),
            col("ci_lo"), col("ci_hi"))
          .orderBy("l_returnflag")
      },
      Some("""WITH r AS (
                SELECT l_returnflag, l_extendedprice,
                  CAST(row_number() OVER (PARTITION BY l_returnflag
                    ORDER BY l_extendedprice) AS BIGINT) AS rn,
                  CAST(count(*) OVER (PARTITION BY l_returnflag)
                    AS BIGINT) AS n
                FROM lineitem),
              k AS (
                SELECT l_returnflag, l_extendedprice, rn, n,
                  greatest(1, CAST(floor((CAST(n AS DOUBLE)
                    - sqrt(CAST(n AS DOUBLE)) * 1.959963985) / 2.0)
                    AS BIGINT)) AS klo
                FROM r)
              SELECT l_returnflag, MAX(n) AS n,
                MAX(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT)
                  THEN l_extendedprice END) AS median,
                MAX(CASE WHEN rn = klo THEN l_extendedprice END)
                  AS ci_lo,
                MAX(CASE WHEN rn = n + 1 - klo THEN l_extendedprice END)
                  AS ci_hi
              FROM k GROUP BY 1 ORDER BY 1""")),

    // ── median absolute deviation (robust dispersion) ────────────────────
    // The robust twin of q_stats_agg's stddev: MAD = p50 of |x − p50(x)|,
    // immune to the outliers that winsorize clips. Two value-at-rank
    // selections per group over the shared (flag, price) VALUE CENSUS
    // (exact member picks off multiplicity prefixes — FP-free
    // selection, tie-order invariant, so no tiebreak columns are even
    // needed); the deviation census derives row-locally, so after the
    // one shared corpus collapse every pass is census-sized. The
    // deviation |x − m| is ONE exact-rounded IEEE subtraction of
    // identical operands in both engines between the passes.
    Q("q_mad",
      (s, dir) => {
        // round 13: the median pick is ONE conditional agg over the
        // pinned RANKED census (no histogram passes); the deviation
        // census then derives from the shared pinned census rows
        // (value-at-rank with multiplicity ≡ raw-row rank,
        // tie-order-invariant)
        val base = Censuses.flagPrice(s, dir)
        val med = RangeRank.pinnedValuesAtRanks(
          Censuses.rankedFlagPrice(s, dir), Seq("f"), "v", "c",
          "off", "n",
          Seq(RangeRank.RankPick("med", n => ceil(n * 0.5))))
          .select(col("f").as("m_flag"), col("n"), col("med"))
          .localCheckpoint(false)
        // deviation frame derives row-locally from the CHECKPOINTED
        // base census via a 3-row broadcast join — each histogram pass
        // re-runs the map-only join against pinned blocks, which is
        // cheaper than materializing a second (f, dev) census (the
        // barely-collapsing domain made that groupBy + checkpoint the
        // query's dominant cost through round 12)
        val dev = base
          .join(broadcast(med), col("f") === col("m_flag"))
          .select(col("f"), abs(col("v") - col("med")).as("dev"),
            col("c"))
        RangeRank.groupValuesAtRanks(dev, Seq("f"), "dev",
          Seq(RangeRank.RankPick("mad", n => ceil(n * 0.5))),
          weightCol = Some("c"))
          .drop("n")
          .join(broadcast(med), col("f") === col("m_flag"))
          .select(col("f").as("l_returnflag"), col("n"),
            col("med").as("median"), col("mad"))
          .orderBy("l_returnflag")
      },
      Some("""WITH r1 AS (
                SELECT l_returnflag, l_extendedprice,
                  CAST(row_number() OVER (PARTITION BY l_returnflag
                    ORDER BY l_extendedprice, l_orderkey, l_linenumber)
                    AS BIGINT) AS rn,
                  CAST(COUNT(*) OVER (PARTITION BY l_returnflag)
                    AS BIGINT) AS n
                FROM lineitem),
              med AS (
                SELECT l_returnflag AS m_flag,
                  MAX(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT)
                      THEN l_extendedprice END) AS med
                FROM r1 GROUP BY 1),
              dev AS (
                SELECT l_returnflag, med,
                  abs(l_extendedprice - med) AS dev, l_orderkey, l_linenumber
                FROM lineitem JOIN med ON l_returnflag = m_flag),
              r2 AS (
                SELECT l_returnflag, med, dev,
                  CAST(row_number() OVER (PARTITION BY l_returnflag
                    ORDER BY dev, l_orderkey, l_linenumber) AS BIGINT) AS rn,
                  CAST(COUNT(*) OVER (PARTITION BY l_returnflag)
                    AS BIGINT) AS n
                FROM dev)
              SELECT l_returnflag, MAX(n) AS n, MAX(med) AS median,
                MAX(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT)
                    THEN dev END) AS mad
              FROM r2 GROUP BY 1 ORDER BY 1""")),

    // ── double MAD: asymmetric robust outlier screen on order values ────
    // The upgrade q_mad's single scale can't give on a SKEWED
    // distribution: one MAD from each side of the median (deviations
    // of the ≤median half and of the ≥median half, separately), so a
    // long right tail doesn't inflate the left fence. Order values are
    // the canonical asymmetric case. All exact: cents median and both
    // side-MADs are value-at-rank picks (RangeRank histogram brackets,
    // tie-order-invariant), fences m ∓ 3·MAD are exact integers, and
    // the two outlier counts are plain conditional sums — the whole
    // readout is hash-gated with zero FP. The median pass, both side
    // frames and the fence count read the shared pinned census.
    Q("q_double_mad",
      (s, dir) => {
        // round 13: ALL THREE selections are row-local filters over the
        // pinned RANKED (v, c, off, n) census — the side-deviation rank
        // orders are monotone images of the value order (lo: dev = m−v,
        // ascending dev ⇔ descending v; hi: dev = v−m, ascending dev ⇔
        // ascending v), so each side's cumulative-dev counts read off
        // the SAME value prefix: no derived census, no second rank
        // machine. The median VALUE RUN belongs to BOTH sides (counted
        // twice — standard double-MAD semantics).
        val art = Censuses.rankedOrderCents(s, dir)
        val med = art
          .filter(col("off") < expr("(n + 1) div 2")
            && expr("(n + 1) div 2") <= col("off") + col("c"))
          .select(col("v").as("m"), col("off").as("off_m"),
            col("c").as("c_m"))
          .localCheckpoint(false)
        // side totals and rank targets are scalars off the median row:
        //   n_lo = off_m + c_m (v ≤ m), n_hi = n − off_m (v ≥ m)
        // lo pick: cum(dev < m−v) = (off_m + c_m) − (off + c),
        //          cum(dev ≤ m−v) = (off_m + c_m) − off
        // hi pick: cum(dev < v−m) = off − off_m,
        //          cum(dev ≤ v−m) = off + c − off_m
        val kLo = expr("(off_m + c_m + 1) div 2")
        val kHi = expr("(n - off_m + 1) div 2")
        val mads = art.crossJoin(broadcast(med))
          .agg(
            max(when(col("v") <= col("m")
              && col("off_m") + col("c_m") - col("off") - col("c") < kLo
              && kLo <= col("off_m") + col("c_m") - col("off"),
              col("m") - col("v"))).as("mad_lo"),
            max(when(col("v") >= col("m")
              && col("off") - col("off_m") < kHi
              && kHi <= col("off") + col("c") - col("off_m"),
              col("v") - col("m"))).as("mad_hi"))
        art.crossJoin(broadcast(med))
          .crossJoin(broadcast(mads))
          .agg(max(col("n")).as("n"), max(col("m")).as("median_cents"),
            max(col("mad_lo")).as("mad_lo"),
            max(col("mad_hi")).as("mad_hi"),
            sum(when(col("v") < col("m") - lit(3L) * col("mad_lo"),
              col("c")).otherwise(0L)).cast("long").as("n_out_lo"),
            sum(when(col("v") > col("m") + lit(3L) * col("mad_hi"),
              col("c")).otherwise(0L)).cast("long").as("n_out_hi"))
      },
      Some("""WITH base AS (
                SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                  AS BIGINT) AS cents
                FROM orders),
              r AS (
                SELECT cents,
                  row_number() OVER (ORDER BY cents) AS rn,
                  COUNT(*) OVER () AS n
                FROM base),
              med AS (
                SELECT CAST(MAX(n) AS BIGINT) AS n,
                  MAX(CASE WHEN rn = (n + 1) // 2 THEN cents END) AS m
                FROM r),
              dlo AS (
                SELECT m - cents AS dev
                FROM base, med WHERE cents <= m),
              rlo AS (
                SELECT dev, row_number() OVER (ORDER BY dev) AS rn,
                  COUNT(*) OVER () AS n
                FROM dlo),
              mlo AS (
                SELECT CAST(MAX(n) AS BIGINT) AS n_lo,
                  MAX(CASE WHEN rn = (n + 1) // 2 THEN dev END)
                    AS mad_lo
                FROM rlo),
              dhi AS (
                SELECT cents - m AS dev
                FROM base, med WHERE cents >= m),
              rhi AS (
                SELECT dev, row_number() OVER (ORDER BY dev) AS rn,
                  COUNT(*) OVER () AS n
                FROM dhi),
              mhi AS (
                SELECT CAST(MAX(n) AS BIGINT) AS n_hi,
                  MAX(CASE WHEN rn = (n + 1) // 2 THEN dev END)
                    AS mad_hi
                FROM rhi)
              SELECT med.n, med.m AS median_cents, mlo.mad_lo,
                mhi.mad_hi,
                CAST((SELECT COUNT(*) FROM base, med, mlo
                  WHERE cents < m - 3 * mad_lo) AS BIGINT) AS n_out_lo,
                CAST((SELECT COUNT(*) FROM base, med, mhi
                  WHERE cents > m + 3 * mad_hi) AS BIGINT) AS n_out_hi
              FROM med, mlo, mhi""")),

    // ── trimmed & winsorized means (exact, via prefix-sums-at-rank) ─────
    // The robust-location pair q_winsorize's census doesn't give: the
    // 10%-trimmed mean (drop the k = n div 10 smallest and largest) and
    // the 10%-winsorized mean (replace them with the boundary members).
    // Exact at any scale: RankPick.sumName surfaces S(k) = Σ of the k
    // smallest cents as a DECIMAL(38,0) prefix-sum-at-rank, so
    // trimmed_sum = S(n−k) − S(k) and the winsorized tails are
    // k·x₍k+1₎ + k·x₍n−k₎ — integer arithmetic until ONE division per
    // statistic. Selection-by-value is tie-order-invariant, so both
    // engines pick identical members. Scale: shared pinned census
    // input, one census-sized prefix pass.
    Q("q_trimmed_stats",
      (s, dir) => {
        val dec38 = DecimalType(38, 0)
        // round 12: picks + prefix-sums-at-rank off the SHARED pinned
        // (priority, cents) census — S(k) is exact on census rows
        // because every member of a value run equals the run's value.
        // Round 13: both the picks and the exact prefix sums read the
        // pinned RANKED census's off/vs columns — one conditional agg
        val base = Censuses.rankedPriorityCents(s, dir)
          .select(col("p").as("o_orderpriority"), col("v").as("cents"),
            col("c"), col("off"), col("vs"), col("n"))
        RangeRank.pinnedValuesAtRanks(base, Seq("o_orderpriority"),
          "cents", "c", "off", "n",
          Seq(
            RangeRank.RankPick("v_lo", n => expr("n div 10"),
              sumName = Some("s_lo")),
            RangeRank.RankPick("v_lo1", n => expr("n div 10 + 1")),
            RangeRank.RankPick("v_hi", n => expr("n - n div 10"),
              sumName = Some("s_hi"))),
          vsCol = Some("vs"))
          .select(col("o_orderpriority"), col("n"),
            expr("n div 10").as("k"),
            (col("s_hi") - coalesce(col("s_lo"), lit(0).cast(dec38)))
              .as("tsum"),
            col("v_lo1"), col("v_hi"))
          .select(col("o_orderpriority"), col("n"), col("k"),
            round(col("tsum").cast("double")
              / ((col("n") - col("k") * 2).cast("double") * 100.0), 6)
              .as("trimmed_mean_dollars"),
            round((col("tsum") + (col("v_lo1").cast(dec38)
                + col("v_hi")) * col("k")).cast("double")
              / (col("n").cast("double") * 100.0), 6)
              .as("winsorized_mean_dollars"),
            round(col("v_lo1").cast("double") / 100.0, 2)
              .as("lo_bound_dollars"),
            round(col("v_hi").cast("double") / 100.0, 2)
              .as("hi_bound_dollars"))
          .orderBy("o_orderpriority")
      },
      Some("""WITH base AS (
                SELECT o_orderpriority,
                  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS cents
                FROM orders),
              r AS (
                SELECT o_orderpriority, cents,
                  CAST(row_number() OVER (PARTITION BY o_orderpriority
                    ORDER BY cents) AS BIGINT) AS rn,
                  CAST(count(*) OVER (PARTITION BY o_orderpriority)
                    AS BIGINT) AS n
                FROM base),
              agg AS (
                SELECT o_orderpriority, MAX(n) AS n, MAX(n) // 10 AS k,
                  SUM(CASE WHEN rn > n // 10 AND rn <= n - n // 10
                    THEN CAST(cents AS HUGEINT) END) AS tsum,
                  MAX(CASE WHEN rn = n // 10 + 1 THEN cents END) AS v_lo1,
                  MAX(CASE WHEN rn = n - n // 10 THEN cents END) AS v_hi
                FROM r GROUP BY 1)
              SELECT o_orderpriority, n, k,
                round(CAST(tsum AS DOUBLE)
                  / (CAST(n - 2 * k AS DOUBLE) * 100.0), 6)
                  AS trimmed_mean_dollars,
                round(CAST(tsum + (CAST(v_lo1 AS HUGEINT) + v_hi) * k
                    AS DOUBLE)
                  / (CAST(n AS DOUBLE) * 100.0), 6)
                  AS winsorized_mean_dollars,
                round(CAST(v_lo1 AS DOUBLE) / 100.0, 2)
                  AS lo_bound_dollars,
                round(CAST(v_hi AS DOUBLE) / 100.0, 2) AS hi_bound_dollars
              FROM agg ORDER BY 1""")),

    // ── quartile dispersion: IQR, QCD, midhinge per priority ────────────
    // The bounded-influence dispersion readouts (quartile coefficient of
    // dispersion is the robust CV): q1/q3 are exact member picks via the
    // histogram selection; IQR and midhinge are integer cents; QCD is
    // ONE division of exact integers.
    Q("q_quartile_dispersion",
      (s, dir) => {
        // round 13: picks ride the pinned RANKED census — one
        // conditional agg, zero rank passes
        val base = Censuses.rankedPriorityCents(s, dir)
          .select(col("p").as("o_orderpriority"), col("v").as("cents"),
            col("c"), col("off"), col("n"))
        RangeRank.pinnedValuesAtRanks(base, Seq("o_orderpriority"),
          "cents", "c", "off", "n",
          Seq(RangeRank.RankPick("q1", n => ceil(n * 0.25)),
            RangeRank.RankPick("q3", n => ceil(n * 0.75))))
          .select(col("o_orderpriority"), col("n"),
            ((col("q3") - col("q1")).cast("double") / 100.0).as("iqr_dollars"),
            when(col("q1") + col("q3") === 0, lit(null).cast("double"))
              .otherwise(round((col("q3") - col("q1")).cast("double")
                / (col("q3") + col("q1")).cast("double"), 12)).as("qcd"),
            ((col("q1") + col("q3")).cast("double") / 200.0)
              .as("midhinge_dollars"))
          .orderBy("o_orderpriority")
      },
      Some("""WITH r AS (
                SELECT o_orderpriority,
                  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS cents,
                  CAST(row_number() OVER (PARTITION BY o_orderpriority
                    ORDER BY CAST(CAST(o_totalprice AS DECIMAL(18,2))
                      * 100 AS BIGINT)) AS BIGINT) AS rn,
                  CAST(count(*) OVER (PARTITION BY o_orderpriority)
                    AS BIGINT) AS n
                FROM orders),
              qs AS (
                SELECT o_orderpriority, MAX(n) AS n,
                  MAX(CASE WHEN rn = CAST(ceil(n * 0.25) AS BIGINT)
                    THEN cents END) AS q1,
                  MAX(CASE WHEN rn = CAST(ceil(n * 0.75) AS BIGINT)
                    THEN cents END) AS q3
                FROM r GROUP BY 1)
              SELECT o_orderpriority, n,
                CAST(q3 - q1 AS DOUBLE) / 100.0 AS iqr_dollars,
                CASE WHEN q1 + q3 = 0 THEN NULL
                  ELSE round(CAST(q3 - q1 AS DOUBLE)
                    / CAST(q3 + q1 AS DOUBLE), 12) END AS qcd,
                CAST(q1 + q3 AS DOUBLE) / 200.0 AS midhinge_dollars
              FROM qs ORDER BY 1""")),

    // ── Gini mean difference: E|X−X′| per priority, EXACT ───────────────
    // The dispersion the Gini family is built from, computed WITHOUT the
    // n² pair fan-out: over the (priority, cents) value census with
    // exclusive prefix counts (RangeRank.ranked on census rows — the
    // per-group census grows with data, so the prefix rides the range
    // shuffle, never a single-task window), the rank-weighted sum
    // collapses per value-run: Σᵢ(2i−n−1)x₍ᵢ₎ = Σᵥ v·c·(2·off + c − n),
    // all DECIMAL(38,0). GMD = 2Σ/(n(n−1)) and the relative mean
    // difference GMD/μ = 2Σ/((n−1)·S) are each ONE division.
    Q("q_gini_mean_difference",
      (s, dir) => {
        val dec38 = DecimalType(38, 0)
        // round 13: the exclusive prefix IS a column of the pinned
        // RANKED census (off ≡ cum_ex, n = the group total) — the
        // per-query RangeRank pass disappears; only the group value
        // mass s needs one extra census-sized agg
        val census = Censuses.rankedPriorityCents(s, dir)
          .select(col("p").as("g"), col("v").as("cents"),
            col("c").as("cnt"), col("off").as("cum_ex"), col("n"))
        val tot = census.groupBy(col("g").as("tg"))
          .agg(sum(col("cents").cast(dec38) * col("cnt")).as("s"))
        census
          .join(broadcast(tot), col("g") === col("tg"))
          .select(col("g"), col("n"), col("s"),
            (col("cents").cast(dec38) * col("cnt")
              * (col("cum_ex") * 2 + col("cnt") - col("n"))).as("term"))
          .groupBy("g", "n", "s")
          .agg(sum(col("term")).as("w"))
          .select(col("g"), col("n"),
            when(col("n") < 2, lit(null).cast("double"))
              .otherwise(round((col("w") * 2).cast("double")
                / (col("n").cast("double") * (col("n") - 1).cast("double")
                  * 100.0), 6)).as("gmd_dollars"),
            when(col("n") < 2 || col("s") === 0,
              lit(null).cast("double"))
              .otherwise(round((col("w") * 2).cast("double")
                / ((col("n") - 1).cast("double")
                  * col("s").cast("double")), 12))
              .as("relative_mean_diff"))
          .orderBy("g")
      },
      Some("""WITH census AS (
                SELECT o_orderpriority AS g,
                  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS cents,
                  CAST(count(*) AS BIGINT) AS cnt
                FROM orders GROUP BY 1, 2),
              tot AS (
                SELECT g, CAST(SUM(cnt) AS BIGINT) AS n,
                  SUM(CAST(cents AS HUGEINT) * cnt) AS s
                FROM census GROUP BY 1),
              ranked AS (
                SELECT census.g, cents, cnt, n, s,
                  COALESCE(SUM(cnt) OVER (PARTITION BY census.g
                    ORDER BY cents ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING), 0) AS cum_ex
                FROM census JOIN tot ON census.g = tot.g),
              agg AS (
                SELECT g, MAX(n) AS n, MAX(s) AS s,
                  SUM(CAST(cents AS HUGEINT) * cnt
                    * (2 * cum_ex + cnt - n)) AS w
                FROM ranked GROUP BY 1)
              SELECT g, n,
                CASE WHEN n < 2 THEN NULL
                  ELSE round(CAST(w * 2 AS DOUBLE)
                    / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)
                      * 100.0), 6) END AS gmd_dollars,
                CASE WHEN n < 2 OR s = 0 THEN NULL
                  ELSE round(CAST(w * 2 AS DOUBLE)
                    / (CAST(n - 1 AS DOUBLE) * CAST(s AS DOUBLE)), 12)
                  END AS relative_mean_diff
              FROM agg ORDER BY g""")),

    // ── peaks-over-threshold: mean excess at p90/p95/p99 ────────────────
    // The POT half of extreme-value analysis (q_evt_gumbel covers block
    // maxima): exceedance counts and the mean-excess function e(u) at
    // exact member thresholds. A rising e(u) ⇒ heavy tail (GPD ξ > 0).
    // All exact: u and S(k) come from ONE groupValuesAtRanks pass with
    // prefix-sums-at-rank, excess mass = S_total − S(k) − u·(n−k) in
    // DECIMAL(38,0), one division per threshold.
    Q("q_peak_over_threshold",
      (s, dir) => {
        val dec38 = DecimalType(38, 0)
        val base = t(s, dir, "orders")
          .select((dec2(col("o_totalprice")) * 100).cast("long")
            .as("cents"))
          .withColumn("g", lit(1L)).persist()
        val tot = base.agg(sum(col("cents").cast(dec38)).as("s_all"))
        val gv = RangeRank.groupValuesAtRanks(base, Seq("g"), "cents",
          Seq(
            RangeRank.RankPick("u90", n => ceil(n * 0.90),
              sumName = Some("s90")),
            RangeRank.RankPick("u95", n => ceil(n * 0.95),
              sumName = Some("s95")),
            RangeRank.RankPick("u99", n => ceil(n * 0.99),
              sumName = Some("s99"))))
        gv.crossJoin(broadcast(tot))
          .select(col("n"), col("s_all"), expr(
            """stack(3,
              |  CAST(90 AS BIGINT), u90, s90, CAST(ceil(n * 0.90) AS BIGINT),
              |  CAST(95 AS BIGINT), u95, s95, CAST(ceil(n * 0.95) AS BIGINT),
              |  CAST(99 AS BIGINT), u99, s99, CAST(ceil(n * 0.99) AS BIGINT))
              |AS (pct, u, sk, k)""".stripMargin))
          .select(col("pct"),
            round(col("u").cast("double") / 100.0, 2)
              .as("threshold_dollars"),
            (col("n") - col("k")).as("n_exceed"),
            when(col("n") === col("k"), lit(null).cast("double"))
              .otherwise(round(
                (col("s_all") - col("sk")
                  - col("u").cast(dec38) * (col("n") - col("k")))
                  .cast("double")
                / ((col("n") - col("k")).cast("double") * 100.0), 6))
              .as("mean_excess_dollars"))
          .orderBy("pct")
      },
      Some("""WITH base AS (
                SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                  AS BIGINT) AS cents
                FROM orders),
              r AS (
                SELECT cents,
                  CAST(row_number() OVER (ORDER BY cents) AS BIGINT)
                    AS rn,
                  CAST(count(*) OVER () AS BIGINT) AS n
                FROM base),
              qs AS (
                SELECT MAX(n) AS n,
                  CAST(SUM(CAST(cents AS HUGEINT)) AS HUGEINT) AS s_all,
                  MAX(CASE WHEN rn = CAST(ceil(n * 0.90) AS BIGINT)
                    THEN cents END) AS u90,
                  SUM(CASE WHEN rn <= CAST(ceil(n * 0.90) AS BIGINT)
                    THEN CAST(cents AS HUGEINT) END) AS s90,
                  MAX(CASE WHEN rn = CAST(ceil(n * 0.95) AS BIGINT)
                    THEN cents END) AS u95,
                  SUM(CASE WHEN rn <= CAST(ceil(n * 0.95) AS BIGINT)
                    THEN CAST(cents AS HUGEINT) END) AS s95,
                  MAX(CASE WHEN rn = CAST(ceil(n * 0.99) AS BIGINT)
                    THEN cents END) AS u99,
                  SUM(CASE WHEN rn <= CAST(ceil(n * 0.99) AS BIGINT)
                    THEN CAST(cents AS HUGEINT) END) AS s99
                FROM r),
              outp AS (
                SELECT CAST(90 AS BIGINT) AS pct, n, s_all, u90 AS u,
                  s90 AS sk, CAST(ceil(n * 0.90) AS BIGINT) AS k FROM qs
                UNION ALL
                SELECT CAST(95 AS BIGINT), n, s_all, u95, s95,
                  CAST(ceil(n * 0.95) AS BIGINT) FROM qs
                UNION ALL
                SELECT CAST(99 AS BIGINT), n, s_all, u99, s99,
                  CAST(ceil(n * 0.99) AS BIGINT) FROM qs)
              SELECT pct,
                round(CAST(u AS DOUBLE) / 100.0, 2) AS threshold_dollars,
                n - k AS n_exceed,
                CASE WHEN n = k THEN NULL
                  ELSE round(CAST(s_all - sk - CAST(u AS HUGEINT)
                      * (n - k) AS DOUBLE)
                    / (CAST(n - k AS DOUBLE) * 100.0), 6)
                  END AS mean_excess_dollars
              FROM outp ORDER BY pct""")),

    // ── price-ending ladder: psychological-pricing audit ────────────────
    // Which cent endings does each priority's order book sit on? The
    // retail data-quality readout (a synthetic book shows ~uniform
    // endings; a curated catalog clusters on .99/.00 — the audit is the
    // point). Shares are exact count ratios; the modal ending is a
    // deterministic struct-argmax (count desc, ending asc tiebreak —
    // the q_argmax discipline).
    Q("q_price_ladder",
      (s, dir) => {
        val cells = t(s, dir, "orders")
          .select(col("o_orderpriority"),
            pmod((dec2(col("o_totalprice")) * 100).cast("long"), lit(100L))
              .as("ending"))
          .groupBy("o_orderpriority", "ending")
          .agg(count(lit(1)).cast("long").as("c"))
        cells.groupBy("o_orderpriority")
          .agg(sum(col("c")).cast("long").as("n"),
            max(struct(col("c").as("c"), (-col("ending")).as("negend")))
              .as("mx"),
            sum(when(col("ending") === 0, col("c")).otherwise(0L))
              .cast("long").as("n_00"),
            sum(when(col("ending") === 50, col("c")).otherwise(0L))
              .cast("long").as("n_50"),
            sum(when(col("ending") === 99, col("c")).otherwise(0L))
              .cast("long").as("n_99"))
          .select(col("o_orderpriority"), col("n"),
            (-col("mx.negend")).as("modal_ending"),
            col("mx.c").as("modal_count"),
            round(col("n_00").cast("double") / col("n").cast("double"), 12)
              .as("share_00"),
            round(col("n_50").cast("double") / col("n").cast("double"), 12)
              .as("share_50"),
            round(col("n_99").cast("double") / col("n").cast("double"), 12)
              .as("share_99"))
          .orderBy("o_orderpriority")
      },
      Some("""WITH cells AS (
                SELECT o_orderpriority,
                  ((CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) % 100) + 100) % 100 AS ending,
                  CAST(count(*) AS BIGINT) AS c
                FROM orders GROUP BY 1, 2),
              agg AS (
                SELECT o_orderpriority, CAST(SUM(c) AS BIGINT) AS n,
                  MAX(struct_pack(c := c, negend := -ending)) AS mx,
                  CAST(SUM(CASE WHEN ending = 0 THEN c ELSE 0 END)
                    AS BIGINT) AS n_00,
                  CAST(SUM(CASE WHEN ending = 50 THEN c ELSE 0 END)
                    AS BIGINT) AS n_50,
                  CAST(SUM(CASE WHEN ending = 99 THEN c ELSE 0 END)
                    AS BIGINT) AS n_99
                FROM cells GROUP BY 1)
              SELECT o_orderpriority, n,
                -(mx.negend) AS modal_ending,
                (mx.c) AS modal_count,
                round(CAST(n_00 AS DOUBLE) / CAST(n AS DOUBLE), 12)
                  AS share_00,
                round(CAST(n_50 AS DOUBLE) / CAST(n AS DOUBLE), 12)
                  AS share_50,
                round(CAST(n_99 AS DOUBLE) / CAST(n AS DOUBLE), 12)
                  AS share_99
              FROM agg ORDER BY 1""")),

    // ── Dixon's Q gap-ratio outlier screen per priority ─────────────────
    // The small-overhead cousin of q_grubbs_test (which needs mean/sd):
    // Q_low = (x₍₂₎−x₍₁₎)/range, Q_high = (x₍n₎−x₍n₋₁₎)/range from FOUR
    // exact member picks — extremes and their neighbors in one
    // groupValuesAtRanks pass (ranks 1, 2, n−1, n). One guarded
    // division per side.
    Q("q_dixon_q",
      (s, dir) => {
        val base = t(s, dir, "orders")
          .select(col("o_orderpriority"),
            (dec2(col("o_totalprice")) * 100).cast("long").as("cents"))
          .persist()
        RangeRank.groupValuesAtRanks(base, Seq("o_orderpriority"),
          "cents",
          Seq(RangeRank.RankPick("x1", _ => lit(1L)),
            RangeRank.RankPick("x2", n => least(lit(2L), n)),
            RangeRank.RankPick("xn1", n => greatest(n - 1, lit(1L))),
            RangeRank.RankPick("xn", n => n)))
          .select(col("o_orderpriority"), col("n"),
            round((col("xn") - col("x1")).cast("double") / 100.0, 2)
              .as("range_dollars"),
            when(col("xn") === col("x1"), lit(null).cast("double"))
              .otherwise(round((col("x2") - col("x1")).cast("double")
                / (col("xn") - col("x1")).cast("double"), 12))
              .as("q_low"),
            when(col("xn") === col("x1"), lit(null).cast("double"))
              .otherwise(round((col("xn") - col("xn1")).cast("double")
                / (col("xn") - col("x1")).cast("double"), 12))
              .as("q_high"))
          .orderBy("o_orderpriority")
      },
      Some("""WITH r AS (
                SELECT o_orderpriority,
                  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS cents,
                  CAST(row_number() OVER (PARTITION BY o_orderpriority
                    ORDER BY CAST(CAST(o_totalprice AS DECIMAL(18,2))
                      * 100 AS BIGINT)) AS BIGINT) AS rn,
                  CAST(count(*) OVER (PARTITION BY o_orderpriority)
                    AS BIGINT) AS n
                FROM orders),
              p AS (
                SELECT o_orderpriority, MAX(n) AS n,
                  MAX(CASE WHEN rn = 1 THEN cents END) AS x1,
                  MAX(CASE WHEN rn = LEAST(2, n) THEN cents END) AS x2,
                  MAX(CASE WHEN rn = GREATEST(n - 1, 1) THEN cents END)
                    AS xn1,
                  MAX(CASE WHEN rn = n THEN cents END) AS xn
                FROM r GROUP BY 1)
              SELECT o_orderpriority, n,
                round(CAST(xn - x1 AS DOUBLE) / 100.0, 2)
                  AS range_dollars,
                CASE WHEN xn = x1 THEN NULL
                  ELSE round(CAST(x2 - x1 AS DOUBLE)
                    / CAST(xn - x1 AS DOUBLE), 12) END AS q_low,
                CASE WHEN xn = x1 THEN NULL
                  ELSE round(CAST(xn - xn1 AS DOUBLE)
                    / CAST(xn - x1 AS DOUBLE), 12) END AS q_high
              FROM p ORDER BY 1""")),

    // ── delete-one-month jackknife for the mean order value ─────────────
    // The resampling error bar a sharded pipeline actually computes:
    // leave each month's shard out, re-estimate, and read the spread.
    // LOO means are exact-integer ratios ((S−s_m)/(N−n_m)); the
    // pseudo-value variance runs over the ≤|months| census with
    // month-pinned folds (both engines add in the same order), and the
    // SE is one sqrt. One orders scan → calendar-bounded census.
    Q("q_jackknife_variance",
      (s, dir) => {
        val dec38 = DecimalType(38, 0)
        val months = t(s, dir, "orders")
          .groupBy(date_trunc("month", col("o_orderdate")).as("m"))
          .agg(count(lit(1)).cast("long").as("n_m"),
            sum((dec2(col("o_totalprice")) * 100).cast("long")
              .cast(dec38)).as("s_m"))
          .persist()
        val tot = months.agg(sum(col("n_m")).cast("long").as("n"),
          sum(col("s_m")).as("s"),
          count(lit(1)).cast("long").as("g"))
        val loo = months.crossJoin(broadcast(tot))
          .select(col("m"), col("g"), col("n"), col("s"),
            ((col("s") - col("s_m")).cast("double")
              / (col("n") - col("n_m")).cast("double")).as("loo"))
        val mBar = loo
          .groupBy("g", "n", "s")
          .agg(expr(
            """aggregate(array_sort(collect_list(struct(m, loo))),
              |  CAST(0 AS DOUBLE), (a, x) -> a + x.loo)""".stripMargin)
            .as("loo_sum"))
          .select(col("g"), col("n"), col("s"),
            (col("loo_sum") / col("g").cast("double")).as("loo_bar"))
        loo.join(broadcast(mBar), Seq("g", "n", "s"))
          .select(col("g"), col("n"), col("s"),
            col("m"),
            // un-rounded: every input double is bit-identical across
            // engines (exact-int ratios + pinned-fold mean), and dev2
            // ~1e10 cents^2 sits far past round-6's safe magnitude
            ((col("loo") - col("loo_bar"))
              * (col("loo") - col("loo_bar"))).as("dev2"))
          .groupBy("g", "n", "s")
          .agg(expr(
            """aggregate(array_sort(collect_list(struct(m, dev2))),
              |  CAST(0 AS DOUBLE), (a, x) -> a + x.dev2)""".stripMargin)
            .as("ss"))
          .select(col("g").as("n_months"),
            round(col("s").cast("double")
              / (col("n").cast("double") * 100.0), 6)
              .as("mean_dollars"),
            round(sqrt(col("ss") * (col("g") - 1).cast("double")
              / col("g").cast("double")) / 100.0, 6)
              .as("jackknife_se_dollars"))
      },
      Some("""WITH months AS (
                SELECT date_trunc('month', o_orderdate) AS m,
                  CAST(count(*) AS BIGINT) AS n_m,
                  SUM(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS HUGEINT)) AS s_m
                FROM orders GROUP BY 1),
              tot AS (
                SELECT CAST(SUM(n_m) AS BIGINT) AS n,
                  CAST(SUM(s_m) AS HUGEINT) AS s,
                  CAST(count(*) AS BIGINT) AS g
                FROM months),
              loo AS (
                SELECT m, g, n, s,
                  CAST(s - s_m AS DOUBLE) / CAST(n - n_m AS DOUBLE)
                    AS loo
                FROM months, tot),
              mb AS (
                SELECT g, n, s,
                  list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(loo ORDER BY m)), (a, x) -> a + x)
                    / CAST(g AS DOUBLE) AS loo_bar
                FROM loo GROUP BY 1, 2, 3),
              dev AS (
                SELECT loo.g, loo.n, loo.s, loo.m,
                  (loo - loo_bar) * (loo - loo_bar) AS dev2
                FROM loo JOIN mb ON loo.g = mb.g),
              ss AS (
                SELECT g, n, s,
                  list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(dev2 ORDER BY m)), (a, x) -> a + x) AS ss
                FROM dev GROUP BY 1, 2, 3)
              SELECT g AS n_months,
                round(CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * 100.0), 6)
                  AS mean_dollars,
                round(sqrt(ss * CAST(g - 1 AS DOUBLE)
                  / CAST(g AS DOUBLE)) / 100.0, 6)
                  AS jackknife_se_dollars
              FROM ss""")),

    // ── Epanechnikov KDE profile of order values (21-point grid) ────────
    // Density estimation WITHOUT transcendentals: the Epanechnikov
    // kernel 0.75(1−u²) is polynomial, the bandwidth is half the exact
    // member IQR, and the grid is 21 integer-cent points spanning
    // [p05, p95] (integer division — both engines identical). Per-row
    // kernel terms μ-integerize at 1e12 (floor(x·1e12 + 0.5) of
    // IDENTICAL doubles) and sum exactly in DECIMAL(38,0) — reduction
    // order cannot drift the density. ×21 row-local fan-out, map-side
    // combined; one division per grid point.
    Q("q_kde_profile",
      (s, dir) => {
        val dec38 = DecimalType(38, 0)
        val base = t(s, dir, "orders")
          .select((dec2(col("o_totalprice")) * 100).cast("long")
            .as("cents"))
          .withColumn("g", lit(1L)).persist()
        val qs = RangeRank.groupValuesAtRanks(base, Seq("g"), "cents",
          Seq(RangeRank.RankPick("p05", n => ceil(n * 0.05)),
            RangeRank.RankPick("p25", n => ceil(n * 0.25)),
            RangeRank.RankPick("p75", n => ceil(n * 0.75)),
            RangeRank.RankPick("p95", n => ceil(n * 0.95))))
          .select(col("n"), col("p05"), col("p25"), col("p75"), col("p95"))
          .localCheckpoint(false)
        base.crossJoin(broadcast(qs))
          .select(col("cents"), col("n"), col("p05"), col("p25"),
            col("p75"), col("p95"),
            explode(expr("sequence(0, 20)")).as("j"))
          .select(col("n"), col("j"),
            (col("p75") - col("p25")).as("iqr"),
            (col("p05") + expr("(j * (p95 - p05)) div 20")).as("gp"),
            col("cents"))
          .select(col("n"), col("j"), col("iqr"), col("gp"),
            // u = 2(x − g)/IQR; identical doubles in both engines
            ((col("cents") - col("gp")).cast("double") * 2.0
              / col("iqr").cast("double")).as("u"))
          .select(col("n"), col("j"), col("iqr"), col("gp"),
            when(abs(col("u")) < 1.0,
              floor(lit(0.75) * (lit(1.0) - col("u") * col("u"))
                * 1.0e12 + 0.5).cast("long"))
              .otherwise(0L).as("k"))
          .groupBy("j", "gp", "iqr", "n")
          .agg(sum(col("k").cast(dec38)).as("ks"))
          .select(col("j"),
            round(col("gp").cast("double") / 100.0, 2).as("grid_dollars"),
            when(col("iqr") === 0, lit(null).cast("double"))
              .otherwise(round(col("ks").cast("double")
                / (col("n").cast("double")
                  * (col("iqr").cast("double") / 2.0) * 1.0e12)
                * 100.0, 12)).as("density_per_dollar"))
          .orderBy("j")
      },
      Some("""WITH base AS (
                SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                  AS BIGINT) AS cents
                FROM orders),
              r AS (
                SELECT cents,
                  CAST(row_number() OVER (ORDER BY cents) AS BIGINT)
                    AS rn,
                  CAST(count(*) OVER () AS BIGINT) AS n
                FROM base),
              qs AS (
                SELECT MAX(n) AS n,
                  MAX(CASE WHEN rn = CAST(ceil(n * 0.05) AS BIGINT)
                    THEN cents END) AS p05,
                  MAX(CASE WHEN rn = CAST(ceil(n * 0.25) AS BIGINT)
                    THEN cents END) AS p25,
                  MAX(CASE WHEN rn = CAST(ceil(n * 0.75) AS BIGINT)
                    THEN cents END) AS p75,
                  MAX(CASE WHEN rn = CAST(ceil(n * 0.95) AS BIGINT)
                    THEN cents END) AS p95
                FROM r),
              pts AS (
                SELECT base.cents, qs.n, qs.p75 - qs.p25 AS iqr,
                  qs.p05 + (j.j * (qs.p95 - qs.p05)) // 20 AS gp, j.j
                FROM base, qs,
                  (SELECT unnest(generate_series(0, 20)) AS j) j),
              terms AS (
                SELECT j, gp, iqr, n,
                  CASE WHEN abs(CAST(cents - gp AS DOUBLE) * 2.0
                      / CAST(iqr AS DOUBLE)) < 1.0
                    THEN CAST(floor(0.75 * (1.0
                      - (CAST(cents - gp AS DOUBLE) * 2.0
                          / CAST(iqr AS DOUBLE))
                        * (CAST(cents - gp AS DOUBLE) * 2.0
                          / CAST(iqr AS DOUBLE))) * 1.0e12 + 0.5)
                      AS BIGINT)
                    ELSE 0 END AS k
                FROM pts),
              agg AS (
                SELECT CAST(j AS BIGINT) AS j, gp, iqr, n,
                  SUM(CAST(k AS HUGEINT)) AS ks
                FROM terms GROUP BY 1, 2, 3, 4)
              SELECT j,
                round(CAST(gp AS DOUBLE) / 100.0, 2) AS grid_dollars,
                CASE WHEN iqr = 0 THEN NULL
                  ELSE round(CAST(ks AS DOUBLE)
                    / (CAST(n AS DOUBLE) * (CAST(iqr AS DOUBLE) / 2.0)
                      * 1.0e12) * 100.0, 12) END AS density_per_dollar
              FROM agg ORDER BY j""")),

    // ── actuarial life table of customer tenure (hazard + e(t)) ─────────
    // The complete-data companion of q_survival_km: customer "tenure"
    // in months (first → last order), with per-month at-risk counts,
    // deaths, the discrete hazard d_t/n_t, survival S(t) read DIRECTLY
    // off the census (no product — uncensored S(t) = survivors/N
    // exactly), and the actuarial readout KM doesn't give: remaining
    // life expectancy e(t) = Σ_{s>t} alive_s / alive_t, an exact ratio
    // of suffix-summed counts. One orders scan → per-customer census →
    // ≤|months| table.
    Q("q_life_table",
      (s, dir) => {
        val life = t(s, dir, "orders")
          .groupBy("o_custkey")
          .agg((months_between(
            date_trunc("month", max(col("o_orderdate"))),
            date_trunc("month", min(col("o_orderdate"))))
            .cast("long")).as("t"))
        val census = life.groupBy("t")
          .agg(count(lit(1)).cast("long").as("d"))
        val wAfter = Window.orderBy("t")
          .rowsBetween(1, Window.unboundedFollowing)
        val wFrom = Window.orderBy("t")
          .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        val wAll = Window.partitionBy()
        census
          .select(col("t"), col("d"),
            sum(col("d")).over(wFrom).cast("long").as("n_at_risk"),
            coalesce(sum(col("d")).over(wAfter), lit(0L)).cast("long")
              .as("survivors"),
            sum(col("d")).over(wAll).cast("long").as("n_total"),
            // Σ_{s>t} alive_s = Σ over later deaths of (their t − this t)
            coalesce(sum(col("d") * col("t")).over(wAfter), lit(0L))
              .cast("long").as("later_mass"))
          .select(col("t"), col("n_at_risk"), col("d").as("deaths"),
            round(col("deaths").cast("double")
              / col("n_at_risk").cast("double"), 12).as("hazard"),
            round(col("survivors").cast("double")
              / col("n_total").cast("double"), 12).as("survival"),
            when(col("survivors") === 0, lit(null).cast("double"))
              .otherwise(round((col("later_mass")
                - col("survivors") * col("t")).cast("double")
                / col("n_at_risk").cast("double"), 12))
              .as("e_remaining_months"))
          .orderBy("t")
      },
      Some("""WITH life AS (
                SELECT o_custkey,
                  CAST(date_diff('month',
                    date_trunc('month', MIN(o_orderdate)),
                    date_trunc('month', MAX(o_orderdate))) AS BIGINT)
                    AS t
                FROM orders GROUP BY 1),
              census AS (
                SELECT t, CAST(count(*) AS BIGINT) AS d
                FROM life GROUP BY 1),
              w AS (
                SELECT t, d,
                  CAST(SUM(d) OVER (ORDER BY t ROWS BETWEEN CURRENT ROW
                    AND UNBOUNDED FOLLOWING) AS BIGINT) AS n_at_risk,
                  CAST(COALESCE(SUM(d) OVER (ORDER BY t ROWS BETWEEN
                    1 FOLLOWING AND UNBOUNDED FOLLOWING), 0) AS BIGINT)
                    AS survivors,
                  CAST(SUM(d) OVER () AS BIGINT) AS n_total,
                  CAST(COALESCE(SUM(d * t) OVER (ORDER BY t ROWS BETWEEN
                    1 FOLLOWING AND UNBOUNDED FOLLOWING), 0) AS BIGINT)
                    AS later_mass
                FROM census)
              SELECT t, n_at_risk, d AS deaths,
                round(CAST(d AS DOUBLE) / CAST(n_at_risk AS DOUBLE), 12)
                  AS hazard,
                round(CAST(survivors AS DOUBLE)
                  / CAST(n_total AS DOUBLE), 12) AS survival,
                CASE WHEN survivors = 0 THEN NULL
                  ELSE round(CAST(later_mass - survivors * t AS DOUBLE)
                    / CAST(n_at_risk AS DOUBLE), 12)
                  END AS e_remaining_months
              FROM w ORDER BY t""")),

    // ── nested Theil decomposition: region → nation revenue inequality ──
    // q_theil_between's full two-level story: total Theil T (GE(1)) over
    // the 25-nation revenue census splits EXACTLY into between-region
    // and within-region components (T = T_b + Σ s_r·T_r), and the same
    // census yields the mean-log-deviation MLD (GE(0)) pair. The only
    // libm op is ln on identical exact-ratio doubles; every term is
    // rounded to 12 dp and folded nation-pinned (the q_js_drift
    // discipline), so both engines add identical terms in identical
    // order. One orders⋈customer⋈nation pass → 25-row census.
    Q("q_theil_decomposition",
      (s, dir) => {
        val census = t(s, dir, "orders")
          .join(t(s, dir, "customer"),
            col("o_custkey") === col("c_custkey"))
          .join(broadcast(t(s, dir, "nation")),
            col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("n_regionkey").as("region"),
            col("n_name").as("nation"))
          .agg((sum(dec2(col("o_totalprice"))) * 100).cast("long")
            .as("cents"))
          .persist()
        // grand/region totals stay DECIMAL(38,0) through the ratio/log
        // arithmetic (at 100 TB the grand total in cents is ~2.25e18 —
        // under 4x headroom from int64 wrap, with divergent failure
        // modes: Spark non-ANSI cast nulls, DuckDB HUGEINT→BIGINT
        // errors); doubles only at the readout casts below.
        val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
        val tot = census.agg(sum(col("cents").cast(dec38)).as("x"),
          count(lit(1)).cast("long").as("k")).localCheckpoint(false)
        val rtot = census.groupBy(col("region").as("r2"))
          .agg(sum(col("cents").cast(dec38)).as("xr"),
            count(lit(1)).cast("long").as("kr"))
        val terms = census.join(broadcast(rtot),
            col("region") === col("r2"))
          .crossJoin(broadcast(tot))
          .select(col("region"), col("nation"), col("xr"), col("kr"),
            col("x"), col("k"),
            // within-region GE(1)/GE(0) terms (share and log of exact
            // ratios — identical doubles both engines, 12-dp pinned)
            round((col("cents").cast("double") / col("xr").cast("double"))
              * log((col("cents").cast("double")
                / col("xr").cast("double"))
                * col("kr").cast("double")), 12).as("t_term"),
            round(log((col("xr").cast("double")
              / col("cents").cast("double"))
              / col("kr").cast("double")), 12).as("m_term"))
        val within = terms.groupBy("region", "xr", "kr", "x", "k")
          .agg(
            round(expr(
              """aggregate(array_sort(collect_list(struct(nation, t_term))),
                |  CAST(0 AS DOUBLE), (a, x) -> a + x.t_term)"""
                .stripMargin), 12).as("t_within"),
            round(expr(
              """aggregate(array_sort(collect_list(struct(nation, m_term))),
                |  CAST(0 AS DOUBLE), (a, x) -> a + x.m_term)"""
                .stripMargin), 12).as("mld_sum"))
          .select(col("region"), col("kr"),
            round(col("xr").cast("double") / col("x").cast("double"), 12)
              .as("rev_share"),
            col("t_within"),
            round(col("mld_sum") / col("kr").cast("double"), 12)
              .as("mld_within"),
            // between-region terms at the region grain
            round((col("xr").cast("double") / col("x").cast("double"))
              * log((col("xr").cast("double") / col("x").cast("double"))
                * (col("k").cast("double") / col("kr").cast("double"))),
              12).as("tb_term"),
            round((col("kr").cast("double") / col("k").cast("double"))
              * log((col("x").cast("double") / col("xr").cast("double"))
                * (col("kr").cast("double") / col("k").cast("double"))),
              12).as("mb_term"))
        within.select(col("region"), col("kr").as("n_nations"),
            col("rev_share"), col("t_within"), col("mld_within"),
            col("tb_term"), col("mb_term"))
          .orderBy("region")
      },
      Some("""WITH census AS (
                SELECT n_regionkey AS region, n_name AS nation,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                    AS BIGINT) AS cents
                FROM orders
                  JOIN customer ON o_custkey = c_custkey
                  JOIN nation ON c_nationkey = n_nationkey
                GROUP BY 1, 2),
              tot AS (
                SELECT SUM(cents) AS x,
                  CAST(count(*) AS BIGINT) AS k
                FROM census),
              rtot AS (
                SELECT region AS r2, SUM(cents) AS xr,
                  CAST(count(*) AS BIGINT) AS kr
                FROM census GROUP BY 1),
              terms AS (
                SELECT region, nation, xr, kr, x, k,
                  round((CAST(cents AS DOUBLE) / CAST(xr AS DOUBLE))
                    * ln((CAST(cents AS DOUBLE) / CAST(xr AS DOUBLE))
                      * CAST(kr AS DOUBLE)), 12) AS t_term,
                  round(ln((CAST(xr AS DOUBLE)
                    / CAST(cents AS DOUBLE))
                    / CAST(kr AS DOUBLE)), 12) AS m_term
                FROM census JOIN rtot ON region = r2 CROSS JOIN tot),
              within AS (
                SELECT region, xr, kr, x, k,
                  round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(t_term ORDER BY nation)), (a, b) -> a + b), 12)
                    AS t_within,
                  round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(m_term ORDER BY nation)), (a, b) -> a + b), 12)
                    AS mld_sum
                FROM terms GROUP BY 1, 2, 3, 4, 5)
              SELECT region, kr AS n_nations,
                round(CAST(xr AS DOUBLE) / CAST(x AS DOUBLE), 12)
                  AS rev_share,
                t_within,
                round(mld_sum / CAST(kr AS DOUBLE), 12) AS mld_within,
                round((CAST(xr AS DOUBLE) / CAST(x AS DOUBLE))
                  * ln((CAST(xr AS DOUBLE) / CAST(x AS DOUBLE))
                    * (CAST(k AS DOUBLE) / CAST(kr AS DOUBLE))), 12)
                  AS tb_term,
                round((CAST(kr AS DOUBLE) / CAST(k AS DOUBLE))
                  * ln((CAST(x AS DOUBLE) / CAST(xr AS DOUBLE))
                    * (CAST(kr AS DOUBLE) / CAST(k AS DOUBLE))), 12)
                  AS mb_term
              FROM within ORDER BY region""")),

    // ── rank-distance audit: brand revenue rank vs volume rank ──────────
    // Do the two natural brand orderings agree? Spearman's footrule
    // Σ|r_rev − r_vol| and the Kendall (bubble-sort) distance — the
    // rank-DISTANCE readouts q_spearman/q_kendall_tau (correlations)
    // don't give. Ranks are deterministic over the ≤25-brand census
    // (value desc, brand asc tiebreak); the pair scan is C(25,2)
    // row-local; normalized distances are one division each.
    Q("q_rank_distance",
      (s, dir) => {
        val census = t(s, dir, "part")
          .join(t(s, dir, "lineitem"),
            col("p_partkey") === col("l_partkey"))
          .groupBy(col("p_brand").as("brand"))
          .agg((sum(dec2(col("l_extendedprice"))) * 100).cast("long")
            .as("rev"), count(lit(1)).cast("long").as("vol"))
          .persist()
        val wr = Window.orderBy(col("rev").desc, col("brand"))
        val wv = Window.orderBy(col("vol").desc, col("brand"))
        val ranked = census
          .select(col("brand"),
            row_number().over(wr).cast("long").as("rr"),
            row_number().over(wv).cast("long").as("rv"))
        val foot = ranked
          .agg(count(lit(1)).cast("long").as("k"),
            sum(abs(col("rr") - col("rv"))).cast("long").as("footrule"))
        val kd = ranked.as("a")
          .join(ranked.as("b"), col("a.brand") < col("b.brand"))
          .agg(sum(when((col("a.rr") < col("b.rr"))
              =!= (col("a.rv") < col("b.rv")), 1L).otherwise(0L))
            .cast("long").as("kendall_dist"))
        foot.crossJoin(kd)
          .select(col("k"), col("footrule"), col("kendall_dist"),
            // max footrule = ⌊k²/2⌋, max kendall = C(k,2)
            round(col("footrule").cast("double")
              / expr("(k * k) div 2").cast("double"), 12)
              .as("footrule_norm"),
            round(col("kendall_dist").cast("double")
              / (col("k") * (col("k") - 1) / 2).cast("double"), 12)
              .as("kendall_norm"))
      },
      Some("""WITH census AS (
                SELECT p_brand AS brand,
                  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) * 100
                    AS BIGINT) AS rev,
                  CAST(count(*) AS BIGINT) AS vol
                FROM part JOIN lineitem ON p_partkey = l_partkey
                GROUP BY 1),
              ranked AS (
                SELECT brand,
                  CAST(row_number() OVER (ORDER BY rev DESC, brand)
                    AS BIGINT) AS rr,
                  CAST(row_number() OVER (ORDER BY vol DESC, brand)
                    AS BIGINT) AS rv
                FROM census),
              foot AS (
                SELECT CAST(count(*) AS BIGINT) AS k,
                  CAST(SUM(abs(rr - rv)) AS BIGINT) AS footrule
                FROM ranked),
              kd AS (
                SELECT CAST(SUM(CASE WHEN (a.rr < b.rr) <> (a.rv < b.rv)
                  THEN 1 ELSE 0 END) AS BIGINT) AS kendall_dist
                FROM ranked a JOIN ranked b ON a.brand < b.brand)
              SELECT k, footrule, kendall_dist,
                round(CAST(footrule AS DOUBLE)
                  / CAST((k * k) // 2 AS DOUBLE), 12) AS footrule_norm,
                round(CAST(kendall_dist AS DOUBLE)
                  / CAST(k * (k - 1) // 2 AS DOUBLE), 12) AS kendall_norm
              FROM foot, kd""")),

    // ── interquartile mass: where does the revenue actually sit? ────────
    // The distributional readout the palma/top-share family (by
    // CUSTOMER) doesn't give: how much order-value MASS lies below p25,
    // between the quartiles, and above p75 — ONE prefix-sums-at-rank
    // pass (thresholds + S(k) together), total from the same persisted
    // projection, three exact-ratio shares.
    Q("q_middle_mass_share",
      (s, dir) => {
        val dec38 = DecimalType(38, 0)
        val base = t(s, dir, "orders")
          .select((dec2(col("o_totalprice")) * 100).cast("long")
            .as("cents"))
          .withColumn("g", lit(1L)).persist()
        val tot = base.agg(sum(col("cents").cast(dec38)).as("s_all"))
        RangeRank.groupValuesAtRanks(base, Seq("g"), "cents",
          Seq(RangeRank.RankPick("p25", n => ceil(n * 0.25),
              sumName = Some("s25")),
            RangeRank.RankPick("p75", n => ceil(n * 0.75),
              sumName = Some("s75"))))
          .crossJoin(broadcast(tot))
          .select(col("n"),
            round(col("p25").cast("double") / 100.0, 2).as("p25_dollars"),
            round(col("p75").cast("double") / 100.0, 2).as("p75_dollars"),
            round(col("s25").cast("double") / col("s_all").cast("double"),
              12).as("bottom_share"),
            round((col("s75") - col("s25")).cast("double")
              / col("s_all").cast("double"), 12).as("middle_share"),
            round((col("s_all") - col("s75")).cast("double")
              / col("s_all").cast("double"), 12).as("top_share"))
      },
      Some("""WITH base AS (
                SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                  AS BIGINT) AS cents
                FROM orders),
              r AS (
                SELECT cents,
                  CAST(row_number() OVER (ORDER BY cents) AS BIGINT)
                    AS rn,
                  CAST(count(*) OVER () AS BIGINT) AS n
                FROM base),
              qs AS (
                SELECT MAX(n) AS n,
                  SUM(CAST(cents AS HUGEINT)) AS s_all,
                  MAX(CASE WHEN rn = CAST(ceil(n * 0.25) AS BIGINT)
                    THEN cents END) AS p25,
                  SUM(CASE WHEN rn <= CAST(ceil(n * 0.25) AS BIGINT)
                    THEN CAST(cents AS HUGEINT) END) AS s25,
                  MAX(CASE WHEN rn = CAST(ceil(n * 0.75) AS BIGINT)
                    THEN cents END) AS p75,
                  SUM(CASE WHEN rn <= CAST(ceil(n * 0.75) AS BIGINT)
                    THEN CAST(cents AS HUGEINT) END) AS s75
                FROM r)
              SELECT n,
                round(CAST(p25 AS DOUBLE) / 100.0, 2) AS p25_dollars,
                round(CAST(p75 AS DOUBLE) / 100.0, 2) AS p75_dollars,
                round(CAST(s25 AS DOUBLE) / CAST(s_all AS DOUBLE), 12)
                  AS bottom_share,
                round(CAST(s75 - s25 AS DOUBLE)
                  / CAST(s_all AS DOUBLE), 12) AS middle_share,
                round(CAST(s_all - s75 AS DOUBLE)
                  / CAST(s_all AS DOUBLE), 12) AS top_share
              FROM qs""")),

    // ── share-of-wallet concentration: customers' top-brand loyalty ─────
    // q_brand_loyalty reads loyalty per BRAND; this reads it per
    // CUSTOMER: what fraction of each customer's spend goes to their
    // single favorite brand, censused into permille bands. The
    // favorite-brand pick is a deterministic struct-argmax (spend desc,
    // brand DESC on spend ties — max(struct(cents, brand)) compares the
    // brand field ascending-under-max, i.e. the LARGEST brand wins; the
    // oracle mirrors the identical struct order, and only the spend
    // value reaches the output anyway); the share is an exact integer
    // permille
    // ((max·1000) div total), so the band histogram and the per-band
    // mean permille are pure integer arithmetic.
    Q("q_share_of_wallet",
      (s, dir) => {
        val dec38 = DecimalType(38, 0)
        val spend = t(s, dir, "lineitem")
          .join(t(s, dir, "orders").select("o_orderkey", "o_custkey"),
            col("l_orderkey") === col("o_orderkey"))
          .join(t(s, dir, "part").select("p_partkey", "p_brand"),
            col("l_partkey") === col("p_partkey"))
          .groupBy(col("o_custkey"), col("p_brand"))
          .agg((sum(dec2(col("l_extendedprice"))) * 100).cast("long")
            .as("cents"))
        // per-customer totals stay comfortably inside int64 (cents ≤
        // ~9e15 per customer before the ×1000 could wrap)
        val perCust = spend.groupBy("o_custkey")
          .agg(sum(col("cents")).cast("long").as("total"),
            max(struct(col("cents").as("c"), col("p_brand").as("b")))
              .as("mx"))
          .select(col("o_custkey"),
            expr("(mx.c * 1000) div total").cast("long").as("permille"))
        perCust.groupBy(expr("permille div 100").as("band"))
          .agg(count(lit(1)).cast("long").as("n_customers"),
            sum(col("permille")).cast("long").as("sp"))
          .select(col("band"), col("n_customers"),
            round(col("sp").cast("double")
              / col("n_customers").cast("double"), 6)
              .as("avg_permille"))
          .orderBy("band")
      },
      Some("""WITH spend AS (
                SELECT o_custkey, p_brand,
                  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) * 100
                    AS BIGINT) AS cents
                FROM lineitem
                  JOIN orders ON l_orderkey = o_orderkey
                  JOIN part ON l_partkey = p_partkey
                GROUP BY 1, 2),
              pc AS (
                SELECT o_custkey,
                  CAST(CAST((MAX(struct_pack(c := cents, b := p_brand))).c
                      AS HUGEINT) * 1000
                    // SUM(CAST(cents AS HUGEINT)) AS BIGINT) AS permille
                FROM spend GROUP BY 1)
              SELECT permille // 100 AS band,
                CAST(count(*) AS BIGINT) AS n_customers,
                round(CAST(SUM(permille) AS DOUBLE)
                  / CAST(count(*) AS DOUBLE), 6) AS avg_permille
              FROM pc GROUP BY 1 ORDER BY band""")),

    // ── min-cost supplier per part (TPC-H Q2 shape) ──────────────────────
    // The correlated-min decorrelation: "suppliers matching the best
    // offer" becomes agg-to-one-row-per-part + equality join — each side
    // scans once, no per-part re-probe. The region membership rides the
    // supplier dim (constant-size → BHJ); the small-part semi prunes the
    // fact before any wide column appears. Cost compares in DECIMAL
    // (exact ties), casts to double only on output.
    Q("q_min_cost_supplier",
      (s, dir) => {
        val euroSupp = t(s, dir, "supplier")
          .join(broadcast(t(s, dir, "nation")),
            col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(t(s, dir, "region")),
            col("n_regionkey") === col("r_regionkey"))
          .filter(col("r_name") === "EUROPE")
          .select("s_suppkey", "s_name", "n_name")
        val smallParts = t(s, dir, "part")
          .filter(col("p_size") <= 5).select("p_partkey")
        val offers = t(s, dir, "lineitem")
          .join(smallParts, col("l_partkey") === col("p_partkey"), "left_semi")
          .join(euroSupp.select("s_suppkey"),
            col("l_suppkey") === col("s_suppkey"), "left_semi")
          .groupBy("l_partkey", "l_suppkey")
          .agg(min(dec2(col("l_extendedprice"))).as("cost_dec"))
        val best = offers.groupBy(col("l_partkey").as("bp"))
          .agg(min(col("cost_dec")).as("best_dec"))
        offers
          .join(best, col("l_partkey") === col("bp")
            && col("cost_dec") === col("best_dec"))
          .join(euroSupp, col("l_suppkey") === col("s_suppkey"))
          .select(col("l_partkey").as("p_partkey"),
            col("l_suppkey").as("s_suppkey"), col("s_name"), col("n_name"),
            col("cost_dec").cast("double").as("cost"))
          .orderBy("p_partkey", "s_suppkey")
      },
      Some("""WITH euro_supp AS (
                SELECT s_suppkey, s_name, n_name
                FROM supplier JOIN nation ON s_nationkey = n_nationkey
                  JOIN region ON n_regionkey = r_regionkey
                WHERE r_name = 'EUROPE'),
              offers AS (
                SELECT l_partkey, l_suppkey,
                  MIN(CAST(l_extendedprice AS DECIMAL(18,2))) AS cost_dec
                FROM lineitem JOIN euro_supp ON l_suppkey = s_suppkey
                WHERE EXISTS (SELECT 1 FROM part
                              WHERE p_partkey = l_partkey AND p_size <= 5)
                GROUP BY 1, 2),
              best AS (SELECT l_partkey AS bp, MIN(cost_dec) AS best_dec
                       FROM offers GROUP BY 1)
              SELECT l_partkey AS p_partkey, l_suppkey AS s_suppkey,
                s_name, n_name, CAST(cost_dec AS DOUBLE) AS cost
              FROM offers JOIN best ON l_partkey = bp AND cost_dec = best_dec
                JOIN euro_supp ON l_suppkey = s_suppkey
              ORDER BY p_partkey, s_suppkey""")),

    // ── high-share parts vs global value (TPC-H Q11 shape) ───────────────
    // The HAVING-vs-global-scalar shape: per-part traded value against a
    // 1-row corpus total (constant size at any SF → the one legitimate
    // broadcast). Both operands of the share division are exact-decimal→
    // double casts of identical decimal sums, so the >0.0008 cut and the
    // surfaced share are bit-identical across engines.
    Q("q_important_parts",
      (s, dir) => {
        val v = t(s, dir, "lineitem")
          .groupBy("l_partkey")
          .agg(sum(dec2(col("l_extendedprice")) * dec2(col("l_quantity")))
            .as("val_dec"))
        // persist: the part-value census feeds the corpus total AND the
        // share projection — cached, lineitem folds once
        val vP = v.persist()
        val tot = vP.agg(sum(col("val_dec")).cast("double").as("total"))
        vP.crossJoin(broadcast(tot))
          .select(col("l_partkey").as("p_partkey"),
            col("val_dec").cast("double").as("value"),
            (col("val_dec").cast("double") / col("total")).as("share"))
          .filter(col("share") > 0.0008)
          .orderBy(col("value").desc, col("p_partkey"))
      },
      Some("""WITH v AS (
                SELECT l_partkey,
                  SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_quantity AS DECIMAL(18,2))) AS val_dec
                FROM lineitem GROUP BY 1),
              tot AS (SELECT CAST(SUM(val_dec) AS DOUBLE) AS total FROM v)
              SELECT l_partkey AS p_partkey, CAST(val_dec AS DOUBLE) AS value,
                CAST(val_dec AS DOUBLE) / total AS share
              FROM v, tot
              WHERE CAST(val_dec AS DOUBLE) / total > 0.0008
              ORDER BY value DESC, p_partkey""")),

    // ── supplier census by part class (TPC-H Q16 shape) ──────────────────
    // NOT IN + COUNT(DISTINCT): the negative-balance suppliers become a
    // left-anti probe (constant-ish side, never a full-scan re-check per
    // row); distinct-count is partial+final over (class, suppkey) — the
    // two-level distinct plan, no row explosion. Brand exclusion prunes
    // the part dim before the fact join.
    Q("q_part_type_census",
      (s, dir) => {
        val badSupp = t(s, dir, "supplier")
          .filter(col("s_acctbal") < 0).select("s_suppkey")
        val parts = t(s, dir, "part")
          .filter(col("p_brand") =!= "Brand#1")
          .select("p_partkey", "p_brand", "p_type", "p_size")
        t(s, dir, "lineitem").select("l_partkey", "l_suppkey")
          .join(badSupp, col("l_suppkey") === col("s_suppkey"), "left_anti")
          .join(parts, col("l_partkey") === col("p_partkey"))
          .groupBy("p_brand", "p_type", "p_size")
          .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
          .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
            col("p_size"))
      },
      Some("""WITH pl AS (
                SELECT p_brand, p_type, p_size, l_suppkey
                FROM lineitem JOIN part ON l_partkey = p_partkey
                WHERE p_brand <> 'Brand#1'
                  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                        WHERE s_acctbal < 0))
              SELECT p_brand, p_type, p_size,
                CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
              FROM pl GROUP BY 1, 2, 3
              ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""")),

    // ── dominant-share suppliers on contested parts (TPC-H Q20 shape) ────
    // The excess-inventory semi-chain: recent per-(part,supplier) volume
    // vs the per-part total, keeping suppliers holding >50% of a part
    // that at least 3 suppliers ship. Share test is DECIMAL×2 vs DECIMAL
    // (exact, no division); both aggs are partial+final on the pruned
    // (partkey, suppkey, quantity) projection.
    Q("q_excess_share",
      (s, dir) => {
        val ps = t(s, dir, "lineitem")
          .filter(col("l_shipdate") >= lit("2001-01-01").cast("timestamp"))
          .groupBy("l_partkey", "l_suppkey")
          .agg(sum(dec2(col("l_quantity"))).as("sq"))
        // persist: ps feeds the per-part totals AND the rejoin — cached,
        // the filtered lineitem aggregation runs once
        val psP = ps.persist()
        val tot = psP.groupBy(col("l_partkey").as("tp"))
          .agg(sum(col("sq")).as("tq"), count(lit(1)).as("nsupp"))
        psP.join(tot, col("l_partkey") === col("tp")
            && col("nsupp") >= 3 && col("sq") * 2 > col("tq"))
          .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
          .select(col("l_partkey").as("p_partkey"),
            col("l_suppkey").as("s_suppkey"), col("s_name"),
            col("sq").cast("double").as("supp_qty"),
            col("tq").cast("double").as("part_qty"))
          .orderBy("p_partkey", "s_suppkey")
      },
      Some("""WITH ps AS (
                SELECT l_partkey, l_suppkey,
                  SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sq
                FROM lineitem
                WHERE l_shipdate >= TIMESTAMP '2001-01-01'
                GROUP BY 1, 2),
              tot AS (SELECT l_partkey AS tp, SUM(sq) AS tq,
                        COUNT(*) AS nsupp
                      FROM ps GROUP BY 1)
              SELECT l_partkey AS p_partkey, l_suppkey AS s_suppkey, s_name,
                CAST(sq AS DOUBLE) AS supp_qty, CAST(tq AS DOUBLE) AS part_qty
              FROM ps JOIN tot ON l_partkey = tp
                AND nsupp >= 3 AND sq * 2 > tq
                JOIN supplier ON l_suppkey = s_suppkey
              ORDER BY p_partkey, s_suppkey""")),

    // ── sole-late supplier per multi-supplier order (TPC-H Q21 shape) ────
    // The double-EXISTS decorrelation: "another supplier on the order,
    // but no other LATE supplier" collapses to one per-order aggregate —
    // distinct suppliers, distinct late suppliers, and (when unique) the
    // late supplier's key — ONE shuffle on orderkey instead of two
    // correlated re-probes of the fact table. Lateness is exact
    // timestamp + interval arithmetic. The distincts are NOT
    // countDistinct calls: two distinct-aggregate groups would plan an
    // Expand (×2 row blowup through the shuffle) — instead a
    // (orderkey, suppkey) pre-aggregate makes suppliers unique, and the
    // per-order rollup is then plain count/sum/max. Both aggs and the
    // join share the orderkey-led partitioning.
    Q("q_supplier_wait",
      (s, dir) => {
        val j = t(s, dir, "lineitem")
          .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
          .select(col("l_orderkey"), col("l_suppkey"),
            (col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
              .as("late"))
        val perSupp = j.groupBy("l_orderkey", "l_suppkey")
          .agg(max(when(col("late"), 1L).otherwise(0L)).as("late"))
        val perO = perSupp.groupBy("l_orderkey")
          .agg(count(lit(1)).as("n_supp"),
            sum(col("late")).as("n_late"),
            max(when(col("late") === 1L, col("l_suppkey"))).as("the_supp"))
        perO.filter(col("n_supp") > 1 && col("n_late") === 1)
          .join(t(s, dir, "supplier"), col("the_supp") === col("s_suppkey"))
          .groupBy("s_suppkey", "s_name")
          .agg(count(lit(1)).as("numwait"))
          .orderBy(col("numwait").desc, col("s_suppkey"))
      },
      Some("""WITH j AS (
                SELECT l_orderkey, l_suppkey,
                  CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
                       THEN 1 ELSE 0 END AS late
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
              per_o AS (
                SELECT l_orderkey,
                  COUNT(DISTINCT l_suppkey) AS n_supp,
                  COUNT(DISTINCT CASE WHEN late = 1 THEN l_suppkey END)
                    AS n_late,
                  MAX(CASE WHEN late = 1 THEN l_suppkey END) AS the_supp
                FROM j GROUP BY 1)
              SELECT s_suppkey, s_name, COUNT(*) AS numwait
              FROM per_o JOIN supplier ON the_supp = s_suppkey
              WHERE n_supp > 1 AND n_late = 1
              GROUP BY 1, 2 ORDER BY numwait DESC, s_suppkey""")),

    // ── Pareto frontier per segment (skyline operator) ───────────────────
    // The skyline query (Börzsönyi et al., ICDE'01) on (price↑, date↑):
    // an order is dominated iff some same-segment order beats it on BOTH
    // dims strictly. The naive form is a quadratic NOT-EXISTS self-join;
    // this plan is the sort-based linear scan — per-price-group max date,
    // then a prefix-max over strictly-greater prices (window, partitioned
    // per segment, so parallelism = |segments| and the sort spills). The
    // DuckDB oracle IS the quadratic NOT EXISTS — the two formulations
    // agreeing is the semantic proof. At 100 TB the same plan holds with
    // range-partitioned prefix-max (the q_feature_binning swap-in note).
    Q("q_pareto_frontier",
      (s, dir) => {
        val pts = t(s, dir, "orders")
          .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
          .select(col("c_mktsegment").as("segment"), col("o_orderkey"),
            dec2(col("o_totalprice")).as("price"), col("o_orderdate"))
        val grp = pts.groupBy("segment", "price")
          .agg(max(col("o_orderdate")).as("gmax"))
        val w = Window.partitionBy("segment").orderBy(col("price").desc)
          .rowsBetween(Window.unboundedPreceding, -1)
        val pref = grp.select(col("segment").as("g_seg"),
          col("price").as("g_price"), max(col("gmax")).over(w).as("pref"))
        pts.join(pref, col("segment") === col("g_seg")
            && col("price") === col("g_price"))
          .filter(col("pref").isNull || col("o_orderdate") >= col("pref"))
          .select(col("segment"), col("o_orderkey"),
            col("price").cast("double").as("price"), col("o_orderdate"))
          .orderBy(col("segment"), col("price").desc, col("o_orderkey"))
      },
      Some("""WITH pts AS (
                SELECT c_mktsegment AS segment, o_orderkey,
                  CAST(o_totalprice AS DECIMAL(18,2)) AS price, o_orderdate
                FROM orders JOIN customer ON o_custkey = c_custkey)
              SELECT segment, o_orderkey, CAST(price AS DOUBLE) AS price,
                o_orderdate
              FROM pts a
              WHERE NOT EXISTS (
                SELECT 1 FROM pts b
                WHERE b.segment = a.segment AND b.price > a.price
                  AND b.o_orderdate > a.o_orderdate)
              ORDER BY segment, price DESC, o_orderkey""")),

    // ── interpolated percentiles (PERCENTILE_CONT semantics) ─────────────
    // The continuous twin of q_percentile_disc: pos = (n−1)·q, then one
    // lerp lo + (hi−lo)·frac between the two bracketing members. Both
    // engines evaluate the IDENTICAL formula on identical operands
    // (members are rank-SELECTED, frac = pos − floor(pos)), so the
    // result hashes — built-in percentile()/quantile_cont are avoided
    // because their internal lerp forms may differ by 1 ulp. Ranks come
    // from RangeRank's 2-pass range-partitioned selection, so the sort
    // parallelism is cluster-sized, not |groups|.
    Q("q_percentile_cont",
      (s, dir) => {
        RangeRank.ranked(
          t(s, dir, "lineitem")
            .select("l_returnflag", "l_extendedprice", "l_orderkey",
              "l_linenumber"),
          groupCols = Seq("l_returnflag"),
          sortCols = Seq(col("l_extendedprice"), col("l_orderkey"),
            col("l_linenumber")))
          .select(col("l_returnflag"), col("l_extendedprice").as("x"),
            col("rn"), col("n"))
          .select(col("l_returnflag"), col("x"), col("rn"),
            explode(expr("array(0.5D, 0.9D)")).as("q"),
            col("n"))
          .select(col("l_returnflag"), col("x"), col("rn"), col("q"),
            ((col("n") - 1) * col("q")).as("pos"))
          .groupBy("l_returnflag", "q", "pos")
          .agg(
            max(when(col("rn") === floor(col("pos")).cast("long") + 1,
              col("x"))).as("lo"),
            max(when(col("rn") === ceil(col("pos")).cast("long") + 1,
              col("x"))).as("hi"))
          .select(col("l_returnflag"), col("q"),
            (col("lo") + (col("hi") - col("lo"))
              * (col("pos") - floor(col("pos")))).as("pct"))
          .orderBy("l_returnflag", "q")
      },
      Some("""WITH r AS (
                SELECT l_returnflag, l_extendedprice AS x,
                  CAST(row_number() OVER (PARTITION BY l_returnflag
                    ORDER BY l_extendedprice, l_orderkey, l_linenumber)
                    AS BIGINT) AS rn,
                  CAST(COUNT(*) OVER (PARTITION BY l_returnflag)
                    AS BIGINT) AS n
                FROM lineitem),
              qs AS (SELECT CAST(0.5 AS DOUBLE) AS q
                     UNION ALL SELECT CAST(0.9 AS DOUBLE)),
              sel AS (
                SELECT l_returnflag, q, (n - 1) * q AS pos,
                  MAX(CASE WHEN rn = CAST(floor((n - 1) * q) AS BIGINT) + 1
                      THEN x END) AS lo,
                  MAX(CASE WHEN rn = CAST(ceil((n - 1) * q) AS BIGINT) + 1
                      THEN x END) AS hi
                FROM r, qs GROUP BY 1, 2, pos)
              SELECT l_returnflag, q,
                lo + (hi - lo) * (pos - floor(pos)) AS pct
              FROM sel ORDER BY l_returnflag, q""")),

    // ── ordered, capped string aggregation (LISTAGG shape) ───────────────
    // The report-building string op: per-nation customer roster sample.
    // collect_list folds per group, the SORT + 20-item cap are row-local
    // on the aggregated array — the cap is the scale contract (an
    // uncapped LISTAGG over a 100-TB group is an OOM by construction;
    // production either caps, as here, or spills through a dedicated
    // ordered-concat aggregator). Deterministic: members sort before
    // slicing, so the sample is a pure function of the data.
    Q("q_string_agg",
      (s, dir) => t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_cust"),
          concat_ws(",", slice(sort_array(collect_list(col("c_name"))), 1, 20))
            .as("sample_names"))
        .orderBy("n_name"),
      Some("""SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_cust,
                array_to_string(list_sort(list(c_name))[1:20], ',')
                  AS sample_names
              FROM customer JOIN nation ON c_nationkey = n_nationkey
              GROUP BY 1 ORDER BY n_name""")),

    // ── MODE: most frequent value per group (deterministic ties) ─────────
    // The statistical mode as two partial+final aggregations and an
    // arg-max — no window, no sort of the value domain: count per
    // (group, value), then min_by over (−count, value) picks the most
    // frequent value with ties broken toward the SMALLEST value (both
    // engines' tie rule is pinned explicitly — built-in mode()/mode
    // functions leave ties undefined). Key space is bounded by the
    // group×distinct-value grid; nothing row-sized crosses the second
    // shuffle.
    Q("q_mode",
      (s, dir) => t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_quantity"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy("l_returnflag")
        .agg(
          min_by(col("l_quantity"),
            struct(negate(col("cnt")).as("nc"), col("l_quantity"))).as("mode_qty"),
          max(col("cnt")).as("mode_cnt"))
        .orderBy("l_returnflag"),
      Some("""WITH c AS (
                SELECT l_returnflag, l_quantity,
                  CAST(COUNT(*) AS BIGINT) AS cnt
                FROM lineitem GROUP BY 1, 2),
              r AS (
                SELECT l_returnflag, l_quantity, cnt,
                  row_number() OVER (PARTITION BY l_returnflag
                    ORDER BY cnt DESC, l_quantity) AS rk
                FROM c)
              SELECT l_returnflag, l_quantity AS mode_qty, cnt AS mode_cnt
              FROM r WHERE rk = 1 ORDER BY l_returnflag""")),

    // ── month-over-month / year-over-year growth report ──────────────────
    // The period-comparison shape every revenue dashboard ships: monthly
    // revenue with MoM and YoY growth via lag windows over the month
    // series. Revenue is decimal-summed then surfaced BOTH as double and
    // as exact integer cents — the growth ratios divide the exact cents
    // (one IEEE division each; lag rows with no base period stay NULL in
    // both engines). Corpus-sized work is the one partial+final agg to
    // months; the lag windows run on the CALENDAR-bounded month frame,
    // so the single-partition window is iteration-constant, never
    // data-sized.
    Q("q_yoy_growth",
      (s, dir) => {
        val w = Window.orderBy("month")
        t(s, dir, "orders")
          .groupBy((year(col("o_orderdate")) * 100
            + month(col("o_orderdate"))).cast("long").as("month"))
          .agg(sum(dec2(col("o_totalprice"))).as("revd"))
          .select(col("month"), col("revd").cast("double").as("revenue"),
            (col("revd") * 100).cast("long").as("cents"))
          .select(col("month"), col("revenue"), col("cents"),
            lag(col("cents"), 1).over(w).as("prev_cents"),
            lag(col("cents"), 12).over(w).as("yoy_cents"))
          .select(col("month"), col("revenue"), col("cents"),
            ((col("cents") - col("prev_cents")).cast("double")
              / col("prev_cents").cast("double")).as("mom_growth"),
            ((col("cents") - col("yoy_cents")).cast("double")
              / col("yoy_cents").cast("double")).as("yoy_growth"))
          .orderBy("month")
      },
      Some("""WITH m AS (
                SELECT CAST(YEAR(o_orderdate) * 100 + MONTH(o_orderdate)
                    AS BIGINT) AS month,
                  SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revd
                FROM orders GROUP BY 1),
              c AS (
                SELECT month, CAST(revd AS DOUBLE) AS revenue,
                  CAST(revd * 100 AS BIGINT) AS cents
                FROM m),
              l AS (
                SELECT month, revenue, cents,
                  lag(cents, 1) OVER (ORDER BY month) AS prev_cents,
                  lag(cents, 12) OVER (ORDER BY month) AS yoy_cents
                FROM c)
              SELECT month, revenue, cents,
                CAST(cents - prev_cents AS DOUBLE)
                  / CAST(prev_cents AS DOUBLE) AS mom_growth,
                CAST(cents - yoy_cents AS DOUBLE)
                  / CAST(yoy_cents AS DOUBLE) AS yoy_growth
              FROM l ORDER BY month""")),

    // ── Gini concentration of customer revenue per nation ────────────────
    // How concentrated is spend across customers? The inequality metric
    // every mix/risk report wants, in exact integers: with per-customer
    // revenue x in cents ranked i = 1..n within the nation (total order
    // pinned by (cents, custkey)), G = (2·Σ i·x − (n+1)·Σx) / (n·Σx) —
    // the numerator is int64-exact (Σ i·x tops out ~2e15 at sf0.1's
    // 6k customers/nation; re-cast to DECIMAL if a group nears 10⁹
    // members), the division happens ONCE. Shape: revenue is a cust-
    // keyed partial+final agg; the rank is RangeRank's 2-pass range-
    // partitioned selection, so the per-nation sort parallelizes across
    // the cluster instead of 25 tasks.
    Q("q_gini",
      (s, dir) => {
        val cust = t(s, dir, "orders")
          .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_nationkey"), col("c_custkey"))
          .agg((sum(dec2(col("o_totalprice"))) * 100).cast("long").as("cents"))
        RangeRank.ranked(cust,
            groupCols = Seq("c_nationkey"),
            sortCols = Seq(col("cents"), col("c_custkey")),
            rnName = "i", nName = None)
          .groupBy(col("c_nationkey").cast("long").as("nationkey"))
          .agg(count(lit(1)).as("n_cust"),
            sum(col("cents")).as("total_cents"),
            (lit(2L) * sum(col("i") * col("cents"))).as("twice_ranked"))
          .select(col("nationkey"), col("n_cust"), col("total_cents"),
            ((col("twice_ranked") - (col("n_cust") + 1L) * col("total_cents"))
              .cast("double")
              / (col("n_cust") * col("total_cents")).cast("double"))
              .as("gini"))
          .orderBy("nationkey")
      },
      Some("""WITH cust AS (
                SELECT c_nationkey, c_custkey,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                    AS BIGINT) AS cents
                FROM orders JOIN customer ON o_custkey = c_custkey
                GROUP BY 1, 2),
              r AS (
                SELECT c_nationkey, cents,
                  CAST(row_number() OVER (PARTITION BY c_nationkey
                    ORDER BY cents, c_custkey) AS BIGINT) AS i
                FROM cust),
              a AS (
                SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
                  CAST(COUNT(*) AS BIGINT) AS n_cust,
                  SUM(cents) AS total_cents,
                  2 * SUM(i * cents) AS twice_ranked
                FROM r GROUP BY 1)
              SELECT nationkey, n_cust, CAST(total_cents AS BIGINT)
                  AS total_cents,
                CAST(twice_ranked - (n_cust + 1) * total_cents AS DOUBLE)
                  / CAST(n_cust * total_cents AS DOUBLE) AS gini
              FROM a ORDER BY nationkey""")),

    // ── rank-based quantile normalization (feature transform) ────────────
    // The ML feature-prep transform that maps a skewed column onto a
    // uniform [0,1] scale immune to outliers: percent_rank of c_acctbal
    // within each market segment, tie-broken by custkey so the rank is
    // a TOTAL order and both engines agree bit-exactly (percent_rank
    // over a partial order is nondeterministic under ties). Ranks come
    // from RangeRank's range-partitioned 2-pass, and percent_rank is
    // rebuilt from them as (rn−1)/(n−1) in one double division — the
    // EXACT formula both Spark's PercentRank and DuckDB evaluate, on
    // identical integer operands, so the value is bit-identical to the
    // built-in; output stays row-sized because a transform's contract is
    // one feature per row.
    Q("q_quantile_norm",
      (s, dir) => {
        RangeRank.ranked(
          t(s, dir, "customer")
            .select("c_custkey", "c_mktsegment", "c_acctbal"),
          groupCols = Seq("c_mktsegment"),
          sortCols = Seq(col("c_acctbal"), col("c_custkey")))
          .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
            when(col("n") > 1L,
              (col("rn") - 1L).cast("double") / (col("n") - 1L).cast("double"))
              .otherwise(lit(0.0)).as("qnorm"))
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_mktsegment, c_acctbal,
                percent_rank() OVER (PARTITION BY c_mktsegment
                  ORDER BY c_acctbal, c_custkey) AS qnorm
              FROM customer ORDER BY c_custkey""")),

    // ── Herfindahl-Hirschman supplier concentration per part brand ───────
    // The antitrust-style concentration index, Gini's sibling on the
    // conventional 0-10000 scale: per brand, HHI = 10⁴·Σx² / (Σx)² over
    // supplier revenue shares. Units are WHOLE DOLLARS (exact decimal
    // cent sum, then one truncating div 100) so every moment stays
    // int64 — wide-integer (HUGEINT/decimal128) → double conversions
    // double-round differently across engines, while int64 → double is
    // bit-identical everywhere; the IEEE tail is one division and one
    // ×10⁴ written in the same order on both sides. (At fact volumes
    // where Σx² nears 2⁶³, re-scale the unit — HHI is scale-invariant.)
    // Shape: a (brand, supplier)-keyed partial+final agg, then a
    // brand-keyed partial+final agg — no windows, no data-sized sort.
    // ── Rosenbluth (Hall–Tideman) concentration index per brand ────────
    // The rank-weighted sibling of q_hhi on the SAME supplier-revenue
    // frame: B = T/(2·Σᵢ i·dᵢ − T) with suppliers ranked by revenue
    // DESC (i = 1 the largest; ties broken by suppkey for a total
    // order). Unlike HHI it weights by rank, so it reacts to the
    // SHAPE of the tail, not just the big squares. The rank window
    // partitions by brand (scaling key); numerator and T stay exact
    // dec38 integers, one IEEE division per brand.
    Q("q_rosenbluth_index",
      (s, dir) => {
        val dec38 = DecimalType(38, 0)
        val w = Window.partitionBy("p_brand")
          .orderBy(col("dollars").desc, col("l_suppkey"))
        t(s, dir, "lineitem")
          .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
          .groupBy(col("p_brand"), col("l_suppkey"))
          .agg(((sum(dec2(col("l_extendedprice"))) * 100).cast("long"))
            .as("cents"))
          .select(col("p_brand"), col("l_suppkey"),
            expr("cents div 100").as("dollars"))
          .withColumn("i", row_number().over(w).cast("long"))
          .groupBy("p_brand")
          .agg(count(lit(1)).as("n_suppliers"),
            sum(col("dollars").cast(dec38)).as("t"),
            sum(col("i").cast(dec38) * col("dollars")).as("iw"))
          .select(col("p_brand"), col("n_suppliers"),
            col("t").cast("long").as("total_dollars"),
            when(lit(2L).cast(dec38) * col("iw") - col("t") <= 0,
              lit(null).cast("double"))
              .otherwise(col("t").cast("double")
                / (lit(2L).cast(dec38) * col("iw") - col("t"))
                  .cast("double")).as("rosenbluth"))
          .orderBy("p_brand")
      },
      Some("""WITH rev AS (
                SELECT p_brand, l_suppkey,
                  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) * 100
                    AS BIGINT) // 100 AS dollars
                FROM lineitem JOIN part ON l_partkey = p_partkey
                GROUP BY 1, 2),
              rk AS (
                SELECT p_brand, dollars,
                  CAST(row_number() OVER (PARTITION BY p_brand
                    ORDER BY dollars DESC, l_suppkey) AS BIGINT) AS i
                FROM rev),
              agg AS (
                SELECT p_brand,
                  CAST(count(*) AS BIGINT) AS n_suppliers,
                  SUM(CAST(dollars AS HUGEINT)) AS t,
                  SUM(CAST(i AS HUGEINT) * dollars) AS iw
                FROM rk GROUP BY 1)
              SELECT p_brand, n_suppliers,
                CAST(t AS BIGINT) AS total_dollars,
                CASE WHEN 2 * iw - t <= 0 THEN NULL
                  ELSE CAST(t AS DOUBLE) / CAST(2 * iw - t AS DOUBLE)
                  END AS rosenbluth
              FROM agg ORDER BY p_brand""")),

    Q("q_hhi",
      (s, dir) => {
        val rev = t(s, dir, "lineitem")
          .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
          .groupBy(col("p_brand"), col("l_suppkey"))
          .agg(((sum(dec2(col("l_extendedprice"))) * 100).cast("long"))
            .as("cents"))
          .select(col("p_brand"), expr("cents div 100").as("dollars"))
        rev.groupBy("p_brand")
          .agg(count(lit(1)).as("n_suppliers"),
            sum(col("dollars")).as("total_dollars"),
            sum(col("dollars") * col("dollars")).as("sum_sq"))
          .select(col("p_brand"), col("n_suppliers"),
            col("total_dollars").cast("long").as("total_dollars"),
            ((col("sum_sq").cast("double")
              / (col("total_dollars") * col("total_dollars")).cast("double"))
              * 10000.0).as("hhi"))
          .orderBy("p_brand")
      },
      Some("""WITH rev AS (
                SELECT p_brand, l_suppkey,
                  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) * 100
                    AS BIGINT) // 100 AS dollars
                FROM lineitem JOIN part ON l_partkey = p_partkey
                GROUP BY 1, 2)
              SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_suppliers,
                CAST(SUM(dollars) AS BIGINT) AS total_dollars,
                (CAST(CAST(SUM(dollars * dollars) AS BIGINT) AS DOUBLE)
                  / CAST(CAST(SUM(dollars) AS BIGINT)
                    * CAST(SUM(dollars) AS BIGINT) AS DOUBLE)) * 10000.0
                  AS hhi
              FROM rev GROUP BY 1 ORDER BY p_brand""")),

    // ── functional-dependency discovery census ───────────────────────────
    // The data-profiling DISCOVERY pass (q_constraint_check asserts
    // declared rules; this MEASURES whether candidate column rules hold
    // at all): for each candidate determinant → dependent pair, count
    // determinant groups whose dependent is not single-valued. Each
    // candidate is one partial+final (det, dep) census collapsed to a
    // per-det distinct count — the determinant key space bounds every
    // shuffle, and the verdict frame is 3 rows. The exact shape FD
    // miners (TANE-family) run per lattice level at warehouse scale.
    Q("q_fd_check",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val ord = t(s, dir, "orders")
        def fd(name: String, df: DataFrame, det: String, dep: String) =
          df.groupBy(col(det))
            .agg(countDistinct(col(dep)).as("n_dep"))
            .agg(count(lit(1)).as("n_groups"),
              sum(when(col("n_dep") > 1, 1L).otherwise(0L))
                .as("n_violating"))
            .select(lit(name).as("fd"), col("n_groups"),
              col("n_violating"), (col("n_violating") === 0L).as("holds"))
        fd("orderkey->orderstatus", ord, "o_orderkey", "o_orderstatus")
          .unionByName(fd("custkey->orderpriority", ord,
            "o_custkey", "o_orderpriority"))
          .unionByName(fd("partkey->suppkey", li, "l_partkey", "l_suppkey"))
          .orderBy("fd")
      },
      Some("""WITH f1 AS (
                SELECT 'orderkey->orderstatus' AS fd,
                  CAST(COUNT(*) AS BIGINT) AS n_groups,
                  CAST(SUM(CASE WHEN n_dep > 1 THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_violating
                FROM (SELECT o_orderkey, COUNT(DISTINCT o_orderstatus)
                        AS n_dep FROM orders GROUP BY 1)),
              f2 AS (
                SELECT 'custkey->orderpriority' AS fd,
                  CAST(COUNT(*) AS BIGINT) AS n_groups,
                  CAST(SUM(CASE WHEN n_dep > 1 THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_violating
                FROM (SELECT o_custkey, COUNT(DISTINCT o_orderpriority)
                        AS n_dep FROM orders GROUP BY 1)),
              f3 AS (
                SELECT 'partkey->suppkey' AS fd,
                  CAST(COUNT(*) AS BIGINT) AS n_groups,
                  CAST(SUM(CASE WHEN n_dep > 1 THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_violating
                FROM (SELECT l_partkey, COUNT(DISTINCT l_suppkey)
                        AS n_dep FROM lineitem GROUP BY 1))
              SELECT fd, n_groups, n_violating, n_violating = 0 AS holds
              FROM (SELECT * FROM f1 UNION ALL SELECT * FROM f2
                    UNION ALL SELECT * FROM f3)
              ORDER BY fd""")),

    // ── higher-moment profile: skewness + excess kurtosis per flag ───────
    // The distribution-shape row the profiling pass (q_profile_table,
    // q_stats_agg) stops short of: 3rd/4th standardized moments of
    // l_quantity per return flag. Determinism discipline: the SUMS are
    // exact int64 of (qty − 25)^p — centering by a FIXED literal keeps
    // Σ(x−c)⁴ ≤ n·25⁴ (fits int64 far past 10⁹ rows; at larger N
    // re-center/rescale, the standardized moments are invariant) — and
    // the double tail is ONE identical scalar expression evaluated on
    // identical int64 operands in both engines, so every IEEE op rounds
    // identically (reduction ORDER is the only cross-engine FP hazard,
    // and all reductions here are integer). Shape: one partial+final
    // agg, 3-row frame — the cheapest possible pass over the fact table.
    Q("q_moments",
      (s, dir) => {
        val cd = col("s1").cast("double"); val n = col("n").cast("double")
        val m1 = cd / n
        val m2 = col("s2").cast("double") / n - m1 * m1
        val m3 = (col("s3").cast("double") / n
          - lit(3.0) * m1 * (col("s2").cast("double") / n)
          + lit(2.0) * m1 * m1 * m1)
        val m4 = (col("s4").cast("double") / n
          - lit(4.0) * m1 * (col("s3").cast("double") / n)
          + lit(6.0) * m1 * m1 * (col("s2").cast("double") / n)
          - lit(3.0) * m1 * m1 * m1 * m1)
        t(s, dir, "lineitem")
          .select(col("l_returnflag"),
            (col("l_quantity").cast("long") - 25L).as("x"))
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"), sum(col("x")).as("s1"),
            sum(col("x") * col("x")).as("s2"),
            sum(col("x") * col("x") * col("x")).as("s3"),
            sum(col("x") * col("x") * col("x") * col("x")).as("s4"))
          .select(col("l_returnflag"), col("n"), col("s1"), col("s2"),
            col("s3"), col("s4"),
            (m3 / (m2 * sqrt(m2))).as("skewness"),
            (m4 / (m2 * m2) - lit(3.0)).as("kurtosis"))
          .orderBy("l_returnflag")
      },
      Some("""WITH c AS (
                SELECT l_returnflag,
                  CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(SUM(x) AS BIGINT) AS s1,
                  CAST(SUM(x * x) AS BIGINT) AS s2,
                  CAST(SUM(x * x * x) AS BIGINT) AS s3,
                  CAST(SUM(x * x * x * x) AS BIGINT) AS s4
                FROM (SELECT l_returnflag,
                        CAST(l_quantity AS BIGINT) - 25 AS x FROM lineitem)
                GROUP BY 1)
              SELECT l_returnflag, n, s1, s2, s3, s4,
                ((CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)
                    - 3.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                      * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))
                    + 2.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                      * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                      * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
                  / ((CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
                        - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                          * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
                     * sqrt(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
                        - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                          * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))))
                  AS skewness,
                ((CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE)
                    - 4.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                      * (CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE))
                    + 6.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                      * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                      * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))
                    - 3.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                      * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                      * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                      * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
                  / ((CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
                        - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                          * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
                     * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
                        - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                          * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))))
                  - 3.0) AS kurtosis
              FROM c ORDER BY l_returnflag""")),

    // ── pairwise Pearson correlation matrix (single-pass) ────────────────
    // The feature-correlation readout over the fact table: all three
    // pairwise correlations among (quantity, whole-dollar price,
    // discount%) from ONE partial+final agg that carries every sum and
    // cross-moment — the single-pass correlation-matrix shape that at
    // 100 TB replaces three separate corr() scans with one. All ten
    // accumulators are exact int64 (dollars not cents keeps Σd² well
    // under 2⁶³ into the trillions of rows); the corr tail is the same
    // IEEE expression on both engines (int64→double casts are
    // correctly-rounded everywhere, and n·Σxy − ΣxΣy in double rounds
    // identically given identical operands). 3-row output frame.
    Q("q_corr_matrix",
      (s, dir) => {
        def corrOf(sx: String, sy: String, sxx: String, syy: String,
                   sxy: String): org.apache.spark.sql.Column = {
          val n = col("n").cast("double")
          val num = (n * col(sxy).cast("double")
            - col(sx).cast("double") * col(sy).cast("double"))
          val dx = sqrt(n * col(sxx).cast("double")
            - col(sx).cast("double") * col(sx).cast("double"))
          val dy = sqrt(n * col(syy).cast("double")
            - col(sy).cast("double") * col(sy).cast("double"))
          num / (dx * dy)
        }
        val m = t(s, dir, "lineitem")
          .select(col("l_quantity").cast("long").as("q"),
            expr("cast(cast(l_extendedprice as decimal(18,2)) * 100 as bigint) div 100")
              .as("d"),
            expr("cast(cast(l_discount as decimal(18,2)) * 100 as bigint)")
              .as("c"))
          .agg(count(lit(1)).as("n"),
            sum(col("q")).as("sq"), sum(col("d")).as("sd"),
            sum(col("c")).as("sc"),
            sum(col("q") * col("q")).as("sqq"),
            sum(col("d") * col("d")).as("sdd"),
            sum(col("c") * col("c")).as("scc"),
            sum(col("q") * col("d")).as("sqd"),
            sum(col("q") * col("c")).as("sqc"),
            sum(col("d") * col("c")).as("sdc"))
        m.select(lit("qty_discount").as("pair"), col("n"),
            corrOf("sq", "sc", "sqq", "scc", "sqc").as("corr"))
          .unionByName(m.select(lit("qty_dollars").as("pair"), col("n"),
            corrOf("sq", "sd", "sqq", "sdd", "sqd").as("corr")))
          .unionByName(m.select(lit("dollars_discount").as("pair"), col("n"),
            corrOf("sd", "sc", "sdd", "scc", "sdc").as("corr")))
          .orderBy("pair")
      },
      Some("""WITH m AS (
                SELECT CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(SUM(q) AS BIGINT) AS sq, CAST(SUM(d) AS BIGINT) AS sd,
                  CAST(SUM(c) AS BIGINT) AS sc,
                  CAST(SUM(q * q) AS BIGINT) AS sqq,
                  CAST(SUM(d * d) AS BIGINT) AS sdd,
                  CAST(SUM(c * c) AS BIGINT) AS scc,
                  CAST(SUM(q * d) AS BIGINT) AS sqd,
                  CAST(SUM(q * c) AS BIGINT) AS sqc,
                  CAST(SUM(d * c) AS BIGINT) AS sdc
                FROM (SELECT CAST(l_quantity AS BIGINT) AS q,
                        CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                          AS BIGINT) // 100 AS d,
                        CAST(CAST(l_discount AS DECIMAL(18,2)) * 100
                          AS BIGINT) AS c
                      FROM lineitem))
              SELECT 'qty_discount' AS pair, n,
                (CAST(n AS DOUBLE) * CAST(sqc AS DOUBLE)
                   - CAST(sq AS DOUBLE) * CAST(sc AS DOUBLE))
                / (sqrt(CAST(n AS DOUBLE) * CAST(sqq AS DOUBLE)
                     - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
                   * sqrt(CAST(n AS DOUBLE) * CAST(scc AS DOUBLE)
                     - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE))) AS corr
              FROM m
              UNION ALL
              SELECT 'qty_dollars' AS pair, n,
                (CAST(n AS DOUBLE) * CAST(sqd AS DOUBLE)
                   - CAST(sq AS DOUBLE) * CAST(sd AS DOUBLE))
                / (sqrt(CAST(n AS DOUBLE) * CAST(sqq AS DOUBLE)
                     - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
                   * sqrt(CAST(n AS DOUBLE) * CAST(sdd AS DOUBLE)
                     - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE))) AS corr
              FROM m
              UNION ALL
              SELECT 'dollars_discount' AS pair, n,
                (CAST(n AS DOUBLE) * CAST(sdc AS DOUBLE)
                   - CAST(sd AS DOUBLE) * CAST(sc AS DOUBLE))
                / (sqrt(CAST(n AS DOUBLE) * CAST(sdd AS DOUBLE)
                     - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE))
                   * sqrt(CAST(n AS DOUBLE) * CAST(scc AS DOUBLE)
                     - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE))) AS corr
              FROM m ORDER BY pair""")),

    // ── Spearman rank correlation: account balance vs order activity ─────
    // The robust (monotone, outlier-proof) dependence check a Pearson
    // corr can't give: per market segment, does customer balance rank
    // track order-count rank? Ranks come from a PINNED total order
    // (value, custkey) so both engines assign identical integer ranks —
    // no average-tie fractions, no FP before the tail — then Spearman is
    // Pearson on exact int64 rank moments (Σr² ≤ n³ fits int64 to n≈2M
    // per segment; beyond that, rank by percentile bucket first). Shape:
    // an aggregate-then-join (orders collapses to per-customer counts
    // BEFORE joining customer — never the raw join), two grouped window
    // sorts, one 5-row agg frame.
    Q("q_spearman",
      (s, dir) => {
        val cnt = t(s, dir, "orders").groupBy("o_custkey")
          .agg(count(lit(1)).as("n_orders"))
        val base = t(s, dir, "customer")
          .join(cnt, col("c_custkey") === col("o_custkey"), "left")
          .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"),
            coalesce(col("n_orders"), lit(0L)).as("n_orders"))
        val rBal = Window.partitionBy("c_mktsegment")
          .orderBy(col("c_acctbal"), col("c_custkey"))
        val rOrd = Window.partitionBy("c_mktsegment")
          .orderBy(col("n_orders"), col("c_custkey"))
        val n = col("n").cast("double")
        val num = (n * col("sxy").cast("double")
          - col("sx").cast("double") * col("sy").cast("double"))
        val den = (sqrt(n * col("sxx").cast("double")
            - col("sx").cast("double") * col("sx").cast("double"))
          * sqrt(n * col("syy").cast("double")
            - col("sy").cast("double") * col("sy").cast("double")))
        base
          .select(col("c_mktsegment"),
            row_number().over(rBal).cast("long").as("rx"),
            row_number().over(rOrd).cast("long").as("ry"))
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n"), sum(col("rx")).as("sx"),
            sum(col("ry")).as("sy"),
            sum(col("rx") * col("rx")).as("sxx"),
            sum(col("ry") * col("ry")).as("syy"),
            sum(col("rx") * col("ry")).as("sxy"))
          .select(col("c_mktsegment"), col("n"), (num / den).as("spearman"))
          .orderBy("c_mktsegment")
      },
      Some("""WITH cnt AS (
                SELECT o_custkey, COUNT(*) AS n_orders
                FROM orders GROUP BY 1),
              base AS (
                SELECT c_mktsegment, c_custkey, c_acctbal,
                  COALESCE(n_orders, 0) AS n_orders
                FROM customer LEFT JOIN cnt ON c_custkey = o_custkey),
              ranked AS (
                SELECT c_mktsegment,
                  CAST(row_number() OVER (PARTITION BY c_mktsegment
                    ORDER BY c_acctbal, c_custkey) AS BIGINT) AS rx,
                  CAST(row_number() OVER (PARTITION BY c_mktsegment
                    ORDER BY n_orders, c_custkey) AS BIGINT) AS ry
                FROM base),
              m AS (
                SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(SUM(rx) AS BIGINT) AS sx,
                  CAST(SUM(ry) AS BIGINT) AS sy,
                  CAST(SUM(rx * rx) AS BIGINT) AS sxx,
                  CAST(SUM(ry * ry) AS BIGINT) AS syy,
                  CAST(SUM(rx * ry) AS BIGINT) AS sxy
                FROM ranked GROUP BY 1)
              SELECT c_mktsegment, n,
                (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                   * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                  AS spearman
              FROM m ORDER BY c_mktsegment""")),

    // ── point-in-time lookup against SCD2 validity intervals ─────────────
    // The feature-store join q_scd2_build's output exists FOR: every
    // ship event (lineitem, at l_shipdate) probes its customer's order
    // version that was CURRENT at ship time — train-serving-skew-free
    // feature lookup, no future leakage. Shape: fact⋈fact equi join on
    // orderkey (co-partitioned), then an equi join on custkey whose
    // range predicate [valid_from, valid_to) runs as a residual filter —
    // fan-out bounded by versions-per-customer, never a data² range
    // scan. A ship date is ≥ its own order's date ≥ the customer's
    // first valid_from, so every probe matches exactly one interval
    // (half-open: NULL valid_to = current). Rollup to the version frame
    // keeps the gate output catalog-sized; counts/cents exact int64.
    Q("q_scd2_lookup",
      (s, dir) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_orderdate"), col("o_orderkey"))
        val hist = t(s, dir, "orders")
          .select(col("o_custkey").as("h_custkey"),
            col("o_orderdate").as("valid_from"),
            lead(col("o_orderdate"), 1).over(w).as("valid_to"),
            row_number().over(w).cast("long").as("version"))
        val spine = t(s, dir, "lineitem")
          .join(t(s, dir, "orders").select("o_orderkey", "o_custkey"),
            col("l_orderkey") === col("o_orderkey"))
          .select(col("o_custkey"), col("l_shipdate"),
            col("l_extendedprice"))
        spine.join(hist,
            col("o_custkey") === col("h_custkey")
              && col("valid_from") <= col("l_shipdate")
              && (col("valid_to").isNull
                  || col("l_shipdate") < col("valid_to")))
          .groupBy("version")
          .agg(count(lit(1)).as("n_items"),
            (sum(dec2(col("l_extendedprice"))) * 100).cast("long")
              .as("cents"))
          .orderBy("version")
      },
      Some("""WITH hist AS (
                SELECT o_custkey AS h_custkey,
                  o_orderdate AS valid_from,
                  lead(o_orderdate) OVER w AS valid_to,
                  CAST(row_number() OVER w AS BIGINT) AS version
                FROM orders
                WINDOW w AS (PARTITION BY o_custkey
                  ORDER BY o_orderdate, o_orderkey)),
              spine AS (
                SELECT o_custkey, l_shipdate, l_extendedprice
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
              SELECT version, CAST(COUNT(*) AS BIGINT) AS n_items,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) * 100
                  AS BIGINT) AS cents
              FROM spine JOIN hist
                ON o_custkey = h_custkey
                AND valid_from <= l_shipdate
                AND (valid_to IS NULL OR l_shipdate < valid_to)
              GROUP BY 1 ORDER BY version""")),

    // ── Kendall rank stability of nation revenue, year over year ─────────
    // How much does the nation revenue LEADERBOARD reshuffle each year?
    // Kendall's τ between consecutive years' rankings: concordant minus
    // discordant nation pairs over n(n−1)/2. Everything after the
    // (nation, year) revenue census is catalog-bounded — ranks come from
    // a pinned (revenue desc, nation) total order, and the pair frame is
    // |nations|²×|years|, so the O(n²) pair join the merge-sort trick
    // exists to avoid is here a constant, the RIGHT trade at any SF.
    // All counts exact int64; τ is ONE division.
    Q("q_kendall_tau",
      (s, dir) => {
        val rev = t(s, dir, "lineitem")
          .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
          .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
          .join(broadcast(t(s, dir, "nation")),
            col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name"), year(col("o_orderdate")).as("yr"))
          .agg((sum(dec2(col("l_extendedprice"))) * 100).cast("long")
            .as("cents"))
        val wr = Window.partitionBy("yr")
          .orderBy(col("cents").desc, col("n_name"))
        // persist: rk is nation×year-bounded but sits on the corpus-sized
        // 3-join rev subtree, and the rk self-join plus the adj self-join
        // below reference it 4× — cached, the fact tables are scanned once.
        val rk = rev.select(col("n_name"), col("yr"),
          row_number().over(wr).cast("long").as("rk"))
          .persist()
        val adj = rk.as("a").join(rk.as("b"),
            col("a.n_name") === col("b.n_name")
              && col("b.yr") === col("a.yr") + 1)
          .select(col("a.yr").as("yr"), col("a.n_name").as("nation"),
            col("a.rk").as("ra"), col("b.rk").as("rb"))
        adj.as("p").join(adj.as("q"),
            col("p.yr") === col("q.yr")
              && col("p.nation") < col("q.nation"))
          .select(col("p.yr").as("yr"),
            (((col("p.ra") - col("q.ra")) * (col("p.rb") - col("q.rb")))
              > 0).cast("long").as("conc"))
          .groupBy("yr")
          .agg(count(lit(1)).as("n_pairs"),
            sum(col("conc")).as("concordant"))
          .select(col("yr").cast("long").as("year_from"), col("n_pairs"),
            col("concordant"),
            (col("n_pairs") - col("concordant")).as("discordant"),
            ((lit(2L) * col("concordant") - col("n_pairs")).cast("double")
              / col("n_pairs").cast("double")).as("tau"))
          .orderBy("year_from")
      },
      Some("""WITH rev AS (
                SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS yr,
                  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) * 100
                    AS BIGINT) AS cents
                FROM lineitem
                  JOIN orders ON l_orderkey = o_orderkey
                  JOIN customer ON o_custkey = c_custkey
                  JOIN nation ON c_nationkey = n_nationkey
                GROUP BY 1, 2),
              rk AS (
                SELECT n_name, yr,
                  CAST(row_number() OVER (PARTITION BY yr
                    ORDER BY cents DESC, n_name) AS BIGINT) AS rk
                FROM rev),
              adj AS (
                SELECT a.yr, a.n_name AS nation, a.rk AS ra, b.rk AS rb
                FROM rk a JOIN rk b
                  ON a.n_name = b.n_name AND b.yr = a.yr + 1),
              pairs AS (
                SELECT p.yr,
                  CAST(((p.ra - q.ra) * (p.rb - q.rb)) > 0 AS BIGINT)
                    AS conc
                FROM adj p JOIN adj q
                  ON p.yr = q.yr AND p.nation < q.nation)
              SELECT yr AS year_from, CAST(COUNT(*) AS BIGINT) AS n_pairs,
                CAST(SUM(conc) AS BIGINT) AS concordant,
                CAST(COUNT(*) - SUM(conc) AS BIGINT) AS discordant,
                CAST(2 * SUM(conc) - COUNT(*) AS DOUBLE)
                  / CAST(COUNT(*) AS DOUBLE) AS tau
              FROM pairs GROUP BY 1 ORDER BY year_from""")),

    // ── clamped running balance (non-associative scan) ───────────────────
    // The inventory/ledger scan no window frame can express: per
    // supplier, stock walks its ship-ordered event sequence as
    // balance ← max(0, balance + delta) (returns restock, ships drain,
    // and the floor at 0 makes the fold NON-associative — partial aggs
    // can't merge, so this is the one scan family where a row-local
    // sorted-array left fold IS the distributed answer: each key's
    // whole sequence folds inside its partition, keys stay hash-
    // partitioned, nothing crosses keys). Both engines run the
    // identical integer fold over the identically pinned
    // (shipdate, orderkey, linenumber) order — exact end to end.
    Q("q_inventory_running",
      (s, dir) => {
        t(s, dir, "lineitem")
          .select(col("l_suppkey"),
            struct(col("l_shipdate"), col("l_orderkey"),
              col("l_linenumber"),
              when(col("l_returnflag") === "R",
                col("l_quantity").cast("long"))
                .otherwise(-col("l_quantity").cast("long")).as("delta"))
              .as("ev"))
          .groupBy("l_suppkey")
          .agg(count(lit(1)).as("n_events"),
            sum(col("ev.delta")).as("net_delta"),
            expr("""aggregate(array_sort(collect_list(ev)),
                      CAST(0 AS BIGINT),
                      (a, x) -> greatest(CAST(0 AS BIGINT), a + x.delta))""")
              .as("final_balance"))
          .orderBy("l_suppkey")
      },
      Some("""WITH ev AS (
                SELECT l_suppkey, l_shipdate, l_orderkey, l_linenumber,
                  CASE WHEN l_returnflag = 'R'
                       THEN CAST(l_quantity AS BIGINT)
                       ELSE -CAST(l_quantity AS BIGINT) END AS delta
                FROM lineitem)
              SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS n_events,
                CAST(SUM(delta) AS BIGINT) AS net_delta,
                list_reduce(list_prepend(CAST(0 AS BIGINT),
                  list(delta ORDER BY l_shipdate, l_orderkey, l_linenumber)),
                  (a, x) -> greatest(CAST(0 AS BIGINT), a + x))
                  AS final_balance
              FROM ev GROUP BY 1 ORDER BY l_suppkey""")),

    // ── largest-remainder allocation (exact integer apportionment) ───────
    // The warehouse allocation every finance pipeline needs: split each
    // order's total cents across its line items proportional to
    // extended price so the parts sum EXACTLY to the whole (naive
    // rounding leaks cents; doubles leak more). Hamilton's method,
    // integer-exact: floor share = total·w_i div W, then the remainder
    // R < n_lines goes +1 to the R largest fractional remainders
    // (total·w_i mod W, ties pinned by linenumber). Row-local per
    // order: one grouped window rank over the order's own lines —
    // key-partitioned, no cross-order traffic; products stay int64
    // (cents·cents ≤ 5e7·5e7 at any per-order size). Output rolls up
    // to a per-supplier census plus the zero-leak invariant columns.
    Q("q_allocation",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"),
            (dec2(col("l_extendedprice")) * 100).cast("long").as("w"))
        val ord = t(s, dir, "orders")
          .select(col("o_orderkey"),
            (dec2(col("o_totalprice")) * 100).cast("long").as("total"))
        val wW = Window.partitionBy("l_orderkey")
        val base = li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .select(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"),
            col("total"), col("w"),
            sum(col("w")).over(wW).as("bigw"),
            count(lit(1)).over(wW).cast("long").as("n_lines"))
          .select(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"),
            col("total"), col("n_lines"),
            expr("total * w div bigw").as("floor_share"),
            expr("total * w % bigw").as("rem"))
        val wR = Window.partitionBy("l_orderkey")
          .orderBy(col("rem").desc, col("l_linenumber"))
        base
          .select(col("l_orderkey"), col("l_suppkey"),
            (col("floor_share")
              + when(row_number().over(wR)
                  <= col("total") - sum(col("floor_share")).over(wW), 1L)
                .otherwise(0L)).as("alloc_cents"))
          .groupBy("l_suppkey")
          .agg(count(lit(1)).as("n_lines"),
            sum(col("alloc_cents")).as("alloc_cents"))
          .orderBy("l_suppkey")
      },
      Some("""WITH li AS (
                SELECT l_orderkey, l_linenumber, l_suppkey,
                  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS w
                FROM lineitem),
              ord AS (
                SELECT o_orderkey,
                  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS total
                FROM orders),
              base AS (
                SELECT l_orderkey, l_linenumber, l_suppkey, total,
                  total * w // SUM(w) OVER (PARTITION BY l_orderkey)
                    AS floor_share,
                  total * w % SUM(w) OVER (PARTITION BY l_orderkey) AS rem
                FROM li JOIN ord ON l_orderkey = o_orderkey),
              ranked AS (
                SELECT l_orderkey, l_suppkey, floor_share,
                  floor_share + CASE WHEN
                    row_number() OVER (PARTITION BY l_orderkey
                      ORDER BY rem DESC, l_linenumber)
                    <= total - SUM(floor_share)
                         OVER (PARTITION BY l_orderkey)
                    THEN 1 ELSE 0 END AS alloc_cents
                FROM base)
              SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS n_lines,
                CAST(SUM(alloc_cents) AS BIGINT) AS alloc_cents
              FROM ranked GROUP BY 1 ORDER BY l_suppkey""")),

    // ── weighted median unit price per return flag ───────────────────────
    // The inventory-weighted robust center: order line prices by value,
    // walk the QUANTITY mass, and pick the first price where twice the
    // cumulative weight reaches the total (lower weighted median — both
    // engines share the closed form). All mass arithmetic is exact int64
    // (price cents × integral quantities); zero FP anywhere. Scale
    // shape: this is THE RangeRank.PrefixSum consumer — the running
    // weight comes from the 2-pass range-partitioned rank (census →
    // broadcast offsets → local cumsum), so the few-group/scaling-fact
    // prefix sum parallelizes by cluster partitions, not by the 3-value
    // flag; the oracle runs the equivalent single-window form. The
    // 3-row total frame is the one legitimate broadcast.
    Q("q_weighted_median",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .select(col("l_returnflag"),
            (dec2(col("l_extendedprice")) * 100).cast("long").as("cents"),
            col("l_quantity").cast("long").as("qty"),
            col("l_orderkey"), col("l_linenumber"))
        val tot = li.groupBy("l_returnflag").agg(sum(col("qty")).as("tot_qty"))
        RangeRank.ranked(li, groupCols = Seq("l_returnflag"),
            sortCols = Seq(col("cents"), col("l_orderkey"), col("l_linenumber")),
            rnName = "rn", nName = None,
            prefixSums = Seq(RangeRank.PrefixSum(col("qty"), "wcum_ex")))
          .join(broadcast(tot), "l_returnflag")
          .filter((col("wcum_ex") + col("qty")) * 2 >= col("tot_qty"))
          .groupBy("l_returnflag")
          .agg(min_by(col("cents"), col("rn")).as("med_price_cents"),
            max(col("tot_qty")).as("tot_qty"))
          .orderBy("l_returnflag")
      },
      Some("""WITH r AS (
                SELECT l_returnflag,
                  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS cents,
                  CAST(l_quantity AS BIGINT) AS qty,
                  l_orderkey, l_linenumber
                FROM lineitem),
              w AS (
                SELECT l_returnflag, cents,
                  SUM(qty) OVER (PARTITION BY l_returnflag
                    ORDER BY cents, l_orderkey, l_linenumber
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                  SUM(qty) OVER (PARTITION BY l_returnflag) AS tot,
                  row_number() OVER (PARTITION BY l_returnflag
                    ORDER BY cents, l_orderkey, l_linenumber) AS rn
                FROM r),
              pick AS (
                SELECT l_returnflag, cents, tot,
                  row_number() OVER (PARTITION BY l_returnflag
                    ORDER BY rn) AS k
                FROM w WHERE cum * 2 >= tot)
              SELECT l_returnflag,
                CAST(cents AS BIGINT) AS med_price_cents,
                CAST(tot AS BIGINT) AS tot_qty
              FROM pick WHERE k = 1 ORDER BY l_returnflag""")),

    // ── top-1% revenue concentration per market segment ──────────────────
    // The "how whale-heavy is this segment" readout (Gini's actionable
    // sibling): the revenue share held by the top ⌈n/100⌉ customers.
    // Revenue folds to one exact-cents row per customer first; the
    // top-percentile cut needs a rank over the customer-sized frame
    // under a 5-value segment key — RangeRank's 2-pass shape again
    // (rank AND per-group n come back from the census, so the ⌈n/100⌉
    // threshold is pure row arithmetic). All mass exact int64; share is
    // the one IEEE division.
    Q("q_top_share",
      (s, dir) => {
        val cust = t(s, dir, "orders")
          .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_mktsegment"), col("c_custkey"))
          .agg((sum(dec2(col("o_totalprice"))) * 100).cast("long").as("cents"))
        RangeRank.ranked(cust, groupCols = Seq("c_mktsegment"),
            sortCols = Seq(col("cents").desc, col("c_custkey")))
          .withColumn("keep", col("rn") <= expr("(n + 99) div 100"))
          .groupBy("c_mktsegment")
          .agg(max(col("n")).as("n_cust"),
            max(expr("(n + 99) div 100")).as("k"),
            sum(when(col("keep"), col("cents")).otherwise(0L)).as("top_cents"),
            sum(col("cents")).as("total_cents"))
          .select(col("c_mktsegment"), col("n_cust"), col("k"),
            col("top_cents"), col("total_cents"),
            (col("top_cents").cast("double")
              / col("total_cents").cast("double")).as("share"))
          .orderBy("c_mktsegment")
      },
      Some("""WITH cust AS (
                SELECT c_mktsegment, c_custkey,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                    AS BIGINT) AS cents
                FROM orders JOIN customer ON o_custkey = c_custkey
                GROUP BY 1, 2),
              r AS (
                SELECT c_mktsegment, cents,
                  CAST(row_number() OVER (PARTITION BY c_mktsegment
                    ORDER BY cents DESC, c_custkey) AS BIGINT) AS rn,
                  CAST(COUNT(*) OVER (PARTITION BY c_mktsegment)
                    AS BIGINT) AS n
                FROM cust)
              SELECT c_mktsegment,
                CAST(MAX(n) AS BIGINT) AS n_cust,
                CAST(MAX((n + 99) // 100) AS BIGINT) AS k,
                CAST(SUM(CASE WHEN rn <= (n + 99) // 100 THEN cents
                  ELSE 0 END) AS BIGINT) AS top_cents,
                CAST(SUM(cents) AS BIGINT) AS total_cents,
                CAST(SUM(CASE WHEN rn <= (n + 99) // 100 THEN cents
                  ELSE 0 END) AS DOUBLE) / CAST(SUM(cents) AS DOUBLE)
                  AS share
              FROM r GROUP BY 1 ORDER BY c_mktsegment"""))
    ,

    // ── k-anonymity audit (privacy, alongside q_gdpr_purge/q_pii_scrub) ──
    // Quasi-identifier census: customers grouped by the release's
    // quasi-ids (nation, segment, account-balance band); every
    // equivalence class smaller than k=5 is a re-identification risk the
    // release must generalize or suppress. One partial+final agg to a
    // combo-bounded census (≤ |nations|·|segments|·|bands| rows —
    // SF-independent), violators filtered census-side. The balance band
    // is exact-integer arithmetic: decimal cents shifted +100000 so both
    // engines' integral division (Spark `div` truncates toward zero,
    // DuckDB `//` floors) agree on the strictly-positive operand.
    Q("q_k_anonymity",
      (s, dir) => kAnonFinish(kAnonCensus(t(s, dir, "customer"))),
      Some("""SELECT c_nationkey, c_mktsegment,
                (CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
                  + 100000) // 100000 AS bal_band,
                count(*) AS class_size
              FROM customer
              GROUP BY 1, 2, 3 HAVING count(*) < 5
              ORDER BY c_nationkey, c_mktsegment, bal_band""")),

    // ── l-diversity report (the follow-on privacy audit) ─────────────────
    // k-anonymity alone leaks when a class's SENSITIVE attribute is
    // homogeneous: per quasi-id class (nation, segment), measure how
    // diverse the sensitive order-priority column actually is — l =
    // distinct sensitive values, top_share = the largest value's
    // frequency (1.0 = everyone in the class is identical → the join of
    // any external record to the class reveals the attribute). Shape:
    // fact⋈dim join, then a two-level census (class×value counts →
    // class rollup, ≤125 rows); the share is one IEEE division of exact
    // integers.
    Q("q_l_diversity",
      (s, dir) => {
        val cnt = t(s, dir, "orders")
          .join(t(s, dir, "customer"),
            col("o_custkey") === col("c_custkey"))
          .groupBy("c_nationkey", "c_mktsegment", "o_orderpriority")
          .agg(count(lit(1)).as("c"))
        cnt.groupBy("c_nationkey", "c_mktsegment")
          .agg(sum(col("c")).as("n"), count(lit(1)).as("l"),
            max(col("c")).as("max_c"))
          .select(col("c_nationkey"), col("c_mktsegment"), col("n"),
            col("l"),
            (col("max_c").cast("double") / col("n").cast("double"))
              .as("top_share"))
          .orderBy("c_nationkey", "c_mktsegment")
      },
      Some("""WITH cnt AS (
                SELECT c_nationkey, c_mktsegment, o_orderpriority,
                  count(*) AS c
                FROM orders JOIN customer ON o_custkey = c_custkey
                GROUP BY 1, 2, 3)
              SELECT c_nationkey, c_mktsegment,
                CAST(SUM(c) AS BIGINT) AS n,
                CAST(COUNT(*) AS BIGINT) AS l,
                CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE)
                  AS top_share
              FROM cnt GROUP BY 1, 2
              ORDER BY c_nationkey, c_mktsegment""")),

    // ── t-closeness report (the third privacy audit) ────────────────────
    // Completes the k-anonymity → l-diversity → t-closeness triad:
    // a class can be k-anonymous AND l-diverse yet still leak if its
    // sensitive-attribute DISTRIBUTION differs from the table's (the
    // attacker updates a prior). For the ordered sensitive attribute
    // (order priority 1..5), t = ordered-EMD = Σ_{j<5} |F_class(j) −
    // F_global(j)| / (k−1). Exact to the end: class and global
    // cumulatives are census integers, each prefix term is the
    // cross-product |cum_c·N − cum_g·n| in DECIMAL(38,0), and t is
    // ONE IEEE division per class. Shape: one fact⋈dim shuffle to the
    // ≤125×5 class×value census, everything after census-sized.
    Q("q_t_closeness",
      (s, dir) => {
        val dec38 = DecimalType(38, 0)
        val wC = Window.partitionBy("c_nationkey", "c_mktsegment")
          .orderBy("p")
          .rowsBetween(Window.unboundedPreceding, 0)
        val wG = Window.orderBy("p")
          .rowsBetween(Window.unboundedPreceding, 0)
        val cnt = t(s, dir, "orders")
          .join(t(s, dir, "customer"),
            col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_nationkey"), col("c_mktsegment"),
            substring(col("o_orderpriority"), 1, 1).cast("long").as("p"))
          .agg(count(lit(1)).as("c"))
          .persist()
        // dense class × priority grid: a class with NO orders at some
        // priority still carries its running cumulative at that prefix
        // point — a sparse join would silently skip the term
        val grid = cnt.select("c_nationkey", "c_mktsegment").distinct()
          .crossJoin(cnt.select("p").distinct())
          .join(cnt, Seq("c_nationkey", "c_mktsegment", "p"), "left")
          .select(col("c_nationkey"), col("c_mktsegment"), col("p"),
            coalesce(col("c"), lit(0L)).as("c0"))
        val globalCum = cnt.groupBy("p")
          .agg(sum(col("c")).as("g"))
          .select(col("p"), sum(col("g")).over(wG).as("cum_g"))
        val tot = cnt.agg(sum(col("c")).cast("long").as("nn"))
        val classCum = grid
          .select(col("c_nationkey"), col("c_mktsegment"), col("p"),
            sum(col("c0")).over(wC).as("cum_c"))
        val classN = cnt.groupBy("c_nationkey", "c_mktsegment")
          .agg(sum(col("c")).cast("long").as("n"))
        classCum
          .join(broadcast(globalCum), "p")
          .join(classN, Seq("c_nationkey", "c_mktsegment"))
          .crossJoin(broadcast(tot))
          .filter(col("p") < 5)
          .groupBy(col("c_nationkey"), col("c_mktsegment"), col("n"),
            col("nn"))
          .agg(sum(abs(col("cum_c").cast(dec38) * col("nn")
            - col("cum_g").cast(dec38) * col("n"))).as("dev"))
          .select(col("c_nationkey").cast("long").as("c_nationkey"),
            col("c_mktsegment"), col("n"),
            when(col("n") === 0 || col("nn") === 0,
              lit(null).cast("double"))
              .otherwise(round(col("dev").cast("double")
                / (lit(4.0) * col("n").cast("double")
                  * col("nn").cast("double")), 12)).as("t"))
          .orderBy("c_nationkey", "c_mktsegment")
      },
      Some("""WITH cnt AS (
                SELECT c_nationkey, c_mktsegment,
                  CAST(substring(o_orderpriority, 1, 1) AS BIGINT) AS p,
                  CAST(count(*) AS BIGINT) AS c
                FROM orders JOIN customer ON o_custkey = c_custkey
                GROUP BY 1, 2, 3),
              grid0 AS (
                SELECT k.c_nationkey, k.c_mktsegment, pv.p
                FROM (SELECT DISTINCT c_nationkey, c_mktsegment
                      FROM cnt) k
                CROSS JOIN (SELECT DISTINCT p FROM cnt) pv),
              grid AS (
                SELECT g.c_nationkey, g.c_mktsegment, g.p,
                  COALESCE(c.c, 0) AS c0
                FROM grid0 g LEFT JOIN cnt c
                  ON g.c_nationkey = c.c_nationkey
                  AND g.c_mktsegment = c.c_mktsegment AND g.p = c.p),
              gc AS (
                SELECT p, SUM(SUM(c)) OVER (ORDER BY p
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS cum_g
                FROM cnt GROUP BY p),
              tot AS (SELECT CAST(SUM(c) AS BIGINT) AS nn FROM cnt),
              cc AS (
                SELECT c_nationkey, c_mktsegment, p,
                  SUM(c0) OVER (PARTITION BY c_nationkey, c_mktsegment
                    ORDER BY p ROWS BETWEEN UNBOUNDED PRECEDING
                    AND CURRENT ROW) AS cum_c
                FROM grid),
              cn AS (
                SELECT c_nationkey, c_mktsegment,
                  CAST(SUM(c) AS BIGINT) AS n
                FROM cnt GROUP BY 1, 2)
              SELECT CAST(cc.c_nationkey AS BIGINT) AS c_nationkey,
                cc.c_mktsegment, cn.n,
                CASE WHEN cn.n = 0 OR tot.nn = 0 THEN NULL
                  ELSE round(CAST(SUM(abs(CAST(cc.cum_c AS HUGEINT)
                      * tot.nn - CAST(gc.cum_g AS HUGEINT) * cn.n))
                    AS DOUBLE)
                    / (4.0 * CAST(cn.n AS DOUBLE)
                      * CAST(tot.nn AS DOUBLE)), 12) END AS t
              FROM cc
                JOIN gc ON cc.p = gc.p
                JOIN cn ON cc.c_nationkey = cn.c_nationkey
                  AND cc.c_mktsegment = cn.c_mktsegment, tot
              WHERE cc.p < 5
              GROUP BY cc.c_nationkey, cc.c_mktsegment, cn.n, tot.nn
              ORDER BY c_nationkey, cc.c_mktsegment""")),

    // ── ordinal association: γ, Somers' D, Kendall τ-b in one census ────
    // Does order priority (1..5) track quantity band (0..4)? All three
    // ordinal-association coefficients fall out of ONE ≤25-cell census:
    // concordant/discordant mass is a 625-row cell×cell classification
    // (each unordered pair counted once by the strict-both-greater
    // direction), tie masses are census identities ((Σc)²−Σc² halved —
    // provably even), everything exact DECIMAL(38,0) until the three
    // final IEEE ratios.
    Q("q_ordinal_association",
      (s, dir) => {
        val dec38 = DecimalType(38, 0)
        val cells = t(s, dir, "lineitem")
          .join(t(s, dir, "orders"),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(
            substring(col("o_orderpriority"), 1, 1).cast("long").as("p"),
            expr("(CAST(l_quantity AS BIGINT) - 1) div 10").as("qb"))
          .agg(count(lit(1)).cast("long").as("c"))
          .persist()
        val cd = cells.as("a")
          .crossJoin(cells.select(col("p").as("p2"), col("qb").as("qb2"),
            col("c").as("c2")))
          .agg(
            sum(when(col("p2") > col("p") && col("qb2") > col("qb"),
              col("c").cast(dec38) * col("c2")).otherwise(
              lit(0).cast(dec38))).as("conc"),
            sum(when(col("p2") > col("p") && col("qb2") < col("qb"),
              col("c").cast(dec38) * col("c2")).otherwise(
              lit(0).cast(dec38))).as("disc"))
        val ties = cells
          .agg(sum(col("c")).cast(dec38).as("n"),
            sum(col("c").cast(dec38) * col("c")).as("sc2"))
        val tx = cells.groupBy("p").agg(sum(col("c")).cast(dec38).as("np"))
          .agg(sum(col("np") * col("np")).as("sp2"))
        val ty = cells.groupBy("qb").agg(sum(col("c")).cast(dec38).as("nq"))
          .agg(sum(col("nq") * col("nq")).as("sq2"))
        // ratios are computed from the exact DECIMAL(38,0) masses; the
        // BIGINT casts are DISPLAY-only (ADVICE r7: a premature cast
        // would wrap/overflow past ~9.2e18 pairs, lineitem ≳ 4e9 rows,
        // with divergent Spark-NULL vs DuckDB-error failure modes)
        cd.crossJoin(ties).crossJoin(tx).crossJoin(ty)
          .select(col("n"),
            col("conc"),
            col("disc"),
            ((col("sp2") - col("sc2")) / 2).cast(dec38).as("t_x"),
            ((col("sq2") - col("sc2")) / 2).cast(dec38).as("t_y"))
          .select(col("n").cast("long").as("n"),
            col("conc").cast("long").as("conc"),
            col("disc").cast("long").as("disc"),
            when(col("conc") + col("disc") === 0,
              lit(null).cast("double"))
              .otherwise(round((col("conc") - col("disc")).cast("double")
                / (col("conc") + col("disc")).cast("double"), 12))
              .as("gamma"),
            when(col("conc") + col("disc") + col("t_y") === 0,
              lit(null).cast("double"))
              .otherwise(round((col("conc") - col("disc")).cast("double")
                / (col("conc") + col("disc") + col("t_y"))
                  .cast("double"), 12)).as("somers_d"),
            when((col("conc") + col("disc") + col("t_x")) === 0
              || (col("conc") + col("disc") + col("t_y")) === 0,
              lit(null).cast("double"))
              .otherwise(round((col("conc") - col("disc")).cast("double")
                / sqrt((col("conc") + col("disc") + col("t_x"))
                  .cast("double")
                  * (col("conc") + col("disc") + col("t_y"))
                    .cast("double")), 12)).as("tau_b"))
      },
      Some("""WITH cells AS (
                SELECT CAST(substring(o_orderpriority, 1, 1) AS BIGINT)
                    AS p,
                  (CAST(l_quantity AS BIGINT) - 1) // 10 AS qb,
                  CAST(count(*) AS BIGINT) AS c
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                GROUP BY 1, 2),
              cd AS (
                SELECT
                  SUM(CASE WHEN b.p > a.p AND b.qb > a.qb
                    THEN CAST(a.c AS HUGEINT) * b.c
                    ELSE CAST(0 AS HUGEINT) END) AS conc,
                  SUM(CASE WHEN b.p > a.p AND b.qb < a.qb
                    THEN CAST(a.c AS HUGEINT) * b.c
                    ELSE CAST(0 AS HUGEINT) END) AS disc
                FROM cells a CROSS JOIN cells b),
              tie AS (
                SELECT CAST(SUM(c) AS HUGEINT) AS n,
                  SUM(CAST(c AS HUGEINT) * c) AS sc2
                FROM cells),
              txx AS (
                SELECT SUM(CAST(np AS HUGEINT) * np) AS sp2
                FROM (SELECT p, CAST(SUM(c) AS BIGINT) AS np
                      FROM cells GROUP BY 1)),
              tyy AS (
                SELECT SUM(CAST(nq AS HUGEINT) * nq) AS sq2
                FROM (SELECT qb, CAST(SUM(c) AS BIGINT) AS nq
                      FROM cells GROUP BY 1)),
              m AS (
                SELECT n, conc, disc,
                  (sp2 - sc2) // 2 AS t_x,
                  (sq2 - sc2) // 2 AS t_y
                FROM cd, tie, txx, tyy)
              SELECT CAST(n AS BIGINT) AS n,
                CAST(conc AS BIGINT) AS conc,
                CAST(disc AS BIGINT) AS disc,
                CASE WHEN conc + disc = 0 THEN NULL
                  ELSE round(CAST(conc - disc AS DOUBLE)
                    / CAST(conc + disc AS DOUBLE), 12) END AS gamma,
                CASE WHEN conc + disc + t_y = 0 THEN NULL
                  ELSE round(CAST(conc - disc AS DOUBLE)
                    / CAST(conc + disc + t_y AS DOUBLE), 12)
                  END AS somers_d,
                CASE WHEN conc + disc + t_x = 0
                    OR conc + disc + t_y = 0 THEN NULL
                  ELSE round(CAST(conc - disc AS DOUBLE)
                    / sqrt(CAST(conc + disc + t_x AS DOUBLE)
                      * CAST(conc + disc + t_y AS DOUBLE)), 12)
                  END AS tau_b
              FROM m""")),

    // ── Palma ratio: top-10% share over bottom-40% share ────────────────
    // The inequality headline number policy work actually quotes. Both
    // shares are EXACT prefix-sum picks — cum at rank (2n) div 5 and
    // rank (9n) div 10 off one RangeRank pass (rank + inclusive prefix
    // in dec38) — and the ratio is one guarded IEEE division.
    Q("q_palma_ratio",
      (s, dir) => {
        val dec38 = DecimalType(38, 0)
        val spend = t(s, dir, "orders")
          .groupBy("o_custkey")
          .agg((sum(dec2(col("o_totalprice"))) * 100).cast("long")
            .as("x"))
        val ranked = RangeRank.ranked(spend, Seq.empty,
          Seq(col("x"), col("o_custkey")), nName = Some("n"),
          prefixSums = Seq(RangeRank.PrefixSum(
            col("x").cast(dec38), "cum_ex")))
        val tot = ranked.agg(sum(col("x").cast(dec38)).as("t"))
        ranked.crossJoin(broadcast(tot))
          .select(col("rn"), col("n"), col("t"),
            (col("cum_ex") + col("x")).as("cum"))
          .filter(col("rn") === expr("(2 * n) div 5")
            || col("rn") === expr("(9 * n) div 10"))
          .groupBy("n", "t")
          .agg(
            max(when(col("rn") === expr("(2 * n) div 5"), col("cum")))
              .as("cum40"),
            max(when(col("rn") === expr("(9 * n) div 10"), col("cum")))
              .as("cum90"))
          .select(col("n"),
            round(col("cum40").cast("double") / col("t").cast("double"),
              12).as("bottom40_share"),
            round((col("t") - col("cum90")).cast("double")
              / col("t").cast("double"), 12).as("top10_share"),
            when(col("cum40") === 0, lit(null).cast("double"))
              .otherwise(round((col("t") - col("cum90")).cast("double")
                / col("cum40").cast("double"), 12)).as("palma"))
      },
      Some("""WITH spend AS (
                SELECT o_custkey,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                    AS BIGINT) AS x
                FROM orders GROUP BY 1),
              ranked AS (
                SELECT x,
                  CAST(row_number() OVER (ORDER BY x, o_custkey)
                    AS BIGINT) AS rn,
                  CAST(count(*) OVER () AS BIGINT) AS n,
                  SUM(CAST(x AS HUGEINT)) OVER (ORDER BY x, o_custkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS cum
                FROM spend),
              tot AS (SELECT CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT)
                        AS t FROM spend),
              picks AS (
                SELECT n, t,
                  MAX(CASE WHEN rn = (2 * n) // 5 THEN cum END) AS cum40,
                  MAX(CASE WHEN rn = (9 * n) // 10 THEN cum END)
                    AS cum90
                FROM ranked, tot
                WHERE rn = (2 * n) // 5 OR rn = (9 * n) // 10
                GROUP BY 1, 2)
              SELECT n,
                round(CAST(cum40 AS DOUBLE) / CAST(t AS DOUBLE), 12)
                  AS bottom40_share,
                round(CAST(t - cum90 AS DOUBLE) / CAST(t AS DOUBLE), 12)
                  AS top10_share,
                CASE WHEN cum40 = 0 THEN NULL
                  ELSE round(CAST(t - cum90 AS DOUBLE)
                    / CAST(cum40 AS DOUBLE), 12) END AS palma
              FROM picks""")),

    // ── Goodman–Kruskal λ: does segment predict priority? ───────────────
    // The proportional-reduction-in-error measure for NOMINAL pairs
    // (χ²/Cramér's V say association exists; λ says how much it HELPS
    // PREDICTION): λ = (Σ_seg max_prio c − max_prio marginal)/(N −
    // max marginal). Exact integers off the ≤25-cell census with one
    // division; max ties resolve identically (max over counts).
    Q("q_gk_lambda",
      (s, dir) => {
        val cells = t(s, dir, "orders")
          .join(t(s, dir, "customer"),
            col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_mktsegment").as("seg"),
            substring(col("o_orderpriority"), 1, 1).cast("long").as("p"))
          .agg(count(lit(1)).cast("long").as("c"))
          .persist()
        val rowMax = cells.groupBy("seg")
          .agg(max(col("c")).as("mx"))
          .agg(sum(col("mx")).cast("long").as("sum_rowmax"))
        val colMax = cells.groupBy("p")
          .agg(sum(col("c")).as("cp"))
          .agg(max(col("cp")).cast("long").as("max_marginal"),
            sum(col("cp")).cast("long").as("n"))
        rowMax.crossJoin(colMax)
          .select(col("n"), col("sum_rowmax"), col("max_marginal"),
            when(col("n") === col("max_marginal"),
              lit(null).cast("double"))
              .otherwise(round(
                (col("sum_rowmax") - col("max_marginal")).cast("double")
                  / (col("n") - col("max_marginal")).cast("double"), 12))
              .as("lambda"))
      },
      Some("""WITH cells AS (
                SELECT c_mktsegment AS seg,
                  CAST(substring(o_orderpriority, 1, 1) AS BIGINT) AS p,
                  CAST(count(*) AS BIGINT) AS c
                FROM orders JOIN customer ON o_custkey = c_custkey
                GROUP BY 1, 2),
              rm AS (
                SELECT CAST(SUM(mx) AS BIGINT) AS sum_rowmax
                FROM (SELECT seg, MAX(c) AS mx FROM cells GROUP BY 1)),
              cm AS (
                SELECT CAST(MAX(cp) AS BIGINT) AS max_marginal,
                  CAST(SUM(cp) AS BIGINT) AS n
                FROM (SELECT p, SUM(c) AS cp FROM cells GROUP BY 1))
              SELECT n, sum_rowmax, max_marginal,
                CASE WHEN n = max_marginal THEN NULL
                  ELSE round(CAST(sum_rowmax - max_marginal AS DOUBLE)
                    / CAST(n - max_marginal AS DOUBLE), 12)
                  END AS lambda
              FROM rm, cm""")),

    // ── Goodman–Kruskal τ: variance-type PRE association, both ways ────
    // The third categorical-association lens on the seg×priority
    // frame: q_cramers_v asks "is there association" (χ²-scaled),
    // q_gk_lambda asks "how much better is the MODAL guess" (and is
    // famously 0 when one mode dominates every row), τ asks "how much
    // of the full DISTRIBUTION's Gini concentration does knowing X
    // remove" — nonzero whenever any cell deviates, and asymmetric,
    // so both directions are emitted. Exact arithmetic: every
    // Σn²/marginal term is a single division of exact dec38 integers
    // (identical doubles, no rounding), folds seg-/priority-pinned,
    // τ two final IEEE steps. Same one-scan ≤ segments×priorities
    // census as its two siblings.
    Q("q_gk_tau",
      (s, dir) => {
        val dec38 = DecimalType(38, 0)
        val cells = t(s, dir, "orders")
          .join(t(s, dir, "customer"),
            col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_mktsegment").as("seg"),
            substring(col("o_orderpriority"), 1, 1).cast("long").as("p"))
          .agg(count(lit(1)).cast("long").as("c"))
          .persist()
        val byX = cells.groupBy("seg")
          .agg(sum(col("c")).cast("long").as("nx"),
            sum(col("c").cast(dec38) * col("c")).as("sq"))
          .select(col("seg"),
            (col("sq").cast("double") / col("nx").cast("double"))
              .as("tx"))
          .agg(expr("""aggregate(array_sort(collect_list(struct(seg, tx))),
                  CAST(0 AS DOUBLE), (a, x) -> a + x.tx)""").as("a_yx"))
        val byY = cells.groupBy("p")
          .agg(sum(col("c")).cast("long").as("ny"),
            sum(col("c").cast(dec38) * col("c")).as("sq"))
          .select(col("p"),
            (col("sq").cast("double") / col("ny").cast("double"))
              .as("ty"))
          .agg(expr("""aggregate(array_sort(collect_list(struct(p, ty))),
                  CAST(0 AS DOUBLE), (a, x) -> a + x.ty)""").as("a_xy"))
        val marg = cells.agg(sum(col("c")).cast("long").as("n"))
          .crossJoin(broadcast(cells.groupBy("p")
            .agg(sum(col("c")).cast("long").as("cp"))
            .agg(sum(col("cp").cast(dec38) * col("cp")).as("sy2"))))
          .crossJoin(broadcast(cells.groupBy("seg")
            .agg(sum(col("c")).cast("long").as("cx"))
            .agg(sum(col("cx").cast(dec38) * col("cx")).as("sx2"))))
        marg.crossJoin(broadcast(byX)).crossJoin(broadcast(byY))
          .select(col("n"),
            (col("sy2").cast("double") / col("n").cast("double"))
              .as("b_y"),
            (col("sx2").cast("double") / col("n").cast("double"))
              .as("b_x"),
            col("a_yx"), col("a_xy"))
          .select(col("n"),
            when(col("n").cast("double") - col("b_y") <= 0,
              lit(null).cast("double"))
              .otherwise((col("a_yx") - col("b_y"))
                / (col("n").cast("double") - col("b_y")))
              .as("tau_prio_given_seg"),
            when(col("n").cast("double") - col("b_x") <= 0,
              lit(null).cast("double"))
              .otherwise((col("a_xy") - col("b_x"))
                / (col("n").cast("double") - col("b_x")))
              .as("tau_seg_given_prio"))
      },
      Some("""WITH cells AS (
                SELECT c_mktsegment AS seg,
                  CAST(substring(o_orderpriority, 1, 1) AS BIGINT) AS p,
                  CAST(count(*) AS BIGINT) AS c
                FROM orders JOIN customer ON o_custkey = c_custkey
                GROUP BY 1, 2),
              bx AS (
                SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(tx ORDER BY seg)), (a, x) -> a + x) AS a_yx
                FROM (SELECT seg,
                        CAST(SUM(CAST(c AS HUGEINT) * c) AS DOUBLE)
                          / CAST(SUM(c) AS DOUBLE) AS tx
                      FROM cells GROUP BY 1)),
              by_ AS (
                SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(ty ORDER BY p)), (a, x) -> a + x) AS a_xy
                FROM (SELECT p,
                        CAST(SUM(CAST(c AS HUGEINT) * c) AS DOUBLE)
                          / CAST(SUM(c) AS DOUBLE) AS ty
                      FROM cells GROUP BY 1)),
              marg AS (
                SELECT CAST(SUM(c) AS BIGINT) AS n,
                  (SELECT SUM(CAST(cp AS HUGEINT) * cp) FROM
                    (SELECT p, CAST(SUM(c) AS BIGINT) AS cp
                     FROM cells GROUP BY 1)) AS sy2,
                  (SELECT SUM(CAST(cx AS HUGEINT) * cx) FROM
                    (SELECT seg, CAST(SUM(c) AS BIGINT) AS cx
                     FROM cells GROUP BY 1)) AS sx2
                FROM cells),
              m AS (
                SELECT n,
                  CAST(sy2 AS DOUBLE) / CAST(n AS DOUBLE) AS b_y,
                  CAST(sx2 AS DOUBLE) / CAST(n AS DOUBLE) AS b_x,
                  a_yx, a_xy
                FROM marg, bx, by_)
              SELECT n,
                CASE WHEN CAST(n AS DOUBLE) - b_y <= 0 THEN NULL
                  ELSE (a_yx - b_y) / (CAST(n AS DOUBLE) - b_y) END
                  AS tau_prio_given_seg,
                CASE WHEN CAST(n AS DOUBLE) - b_x <= 0 THEN NULL
                  ELSE (a_xy - b_x) / (CAST(n AS DOUBLE) - b_x) END
                  AS tau_seg_given_prio
              FROM m""")),

    // ── process capability Cp / Cpk of order values ─────────────────────
    // The SPC readout q_control_chart's per-day limits don't give:
    // against FIXED spec limits ($1k–$400k, pinned literals), how
    // capable is the whole order process? Cp = (USL−LSL)/6σ, Cpk =
    // min(USL−μ, μ−LSL)/3σ, plus the EXACT out-of-spec count (integer
    // comparisons, no FP boundary). Moments ride the one-agg dec38
    // census; σ is IEEE from identical integers.
    Q("q_cpk_capability",
      (s, dir) => {
        val dec38 = DecimalType(38, 0)
        val lsl = 100000L // cents
        val usl = 40000000L
        t(s, dir, "orders")
          .select((dec2(col("o_totalprice")) * 100).cast("long")
            .as("cents"))
          .agg(count(lit(1)).cast("long").as("n"),
            sum(col("cents").cast(dec38)).as("s"),
            sum(col("cents").cast(dec38) * col("cents")).as("ss"),
            sum(when(col("cents") < lsl || col("cents") > usl, 1L)
              .otherwise(0L)).cast("long").as("n_oos"))
          .select(col("n"), col("n_oos"),
            (col("s").cast("double") / col("n").cast("double"))
              .as("mu"),
            sqrt((col("ss").cast("double")
              - col("s").cast("double") * col("s").cast("double")
                / col("n").cast("double"))
              / (col("n") - 1).cast("double")).as("sd"))
          .select(col("n"), col("n_oos"),
            round(col("mu") / 100.0, 2).as("mean_value"),
            when(col("sd") === 0.0, lit(null).cast("double"))
              .otherwise(round(lit((usl - lsl).toDouble)
                / (lit(6.0) * col("sd")), 6)).as("cp"),
            when(col("sd") === 0.0, lit(null).cast("double"))
              .otherwise(round(least(lit(usl.toDouble) - col("mu"),
                col("mu") - lit(lsl.toDouble))
                / (lit(3.0) * col("sd")), 6)).as("cpk"))
      },
      Some("""WITH m AS (
                SELECT CAST(count(*) AS BIGINT) AS n,
                  SUM(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS HUGEINT)) AS s,
                  SUM(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                      AS BIGINT) AS HUGEINT)
                    * CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                      AS BIGINT)) AS ss,
                  CAST(SUM(CASE WHEN CAST(CAST(o_totalprice
                      AS DECIMAL(18,2)) * 100 AS BIGINT) < 100000
                    OR CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                      AS BIGINT) > 40000000
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_oos
                FROM orders),
              d AS (
                SELECT n, n_oos,
                  CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
                  sqrt((CAST(ss AS DOUBLE)
                    - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                      / CAST(n AS DOUBLE))
                    / CAST(n - 1 AS DOUBLE)) AS sd
                FROM m)
              SELECT n, n_oos,
                round(mu / 100.0, 2) AS mean_value,
                CASE WHEN sd = 0.0 THEN NULL
                  ELSE round(CAST(40000000 - 100000 AS DOUBLE)
                    / (6.0 * sd), 6) END AS cp,
                CASE WHEN sd = 0.0 THEN NULL
                  ELSE round(least(40000000.0 - mu, mu - 100000.0)
                    / (3.0 * sd), 6) END AS cpk
              FROM d""")),

    // ── Duncan dissimilarity index (urgent-order segregation) ───────────
    // Are urgent orders geographically segregated from the rest?
    // D = ½·Σᵢ|aᵢ/A − bᵢ/B| — the share of either group that would
    // have to relocate to equalize the nation mix. Exact to the single
    // division: per-nation cross-products |aᵢ·B − bᵢ·A| sum in
    // DECIMAL(38,0), D = Σ/(2·A·B). One fact⋈dim shuffle to the
    // ≤25-row census.
    Q("q_duncan_segregation",
      (s, dir) => {
        val dec38 = DecimalType(38, 0)
        val census = t(s, dir, "orders")
          .join(t(s, dir, "customer"),
            col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_nationkey").cast("long").as("nation"))
          .agg(sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"),
            1L).otherwise(0L)).as("a"),
            sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"),
              0L).otherwise(1L)).as("b"))
          .persist()
        val tot = census.agg(sum(col("a")).cast("long").as("aa"),
          sum(col("b")).cast("long").as("bb"))
        census.crossJoin(broadcast(tot))
          .groupBy("aa", "bb")
          .agg(count(lit(1)).cast("long").as("n_nations"),
            sum(abs(col("a").cast(dec38) * col("bb")
              - col("b").cast(dec38) * col("aa"))).as("dev"))
          .select(col("n_nations"), col("aa").as("n_urgent"),
            col("bb").as("n_rest"),
            when(col("aa") === 0 || col("bb") === 0,
              lit(null).cast("double"))
              .otherwise(round(col("dev").cast("double")
                / (lit(2.0) * col("aa").cast("double")
                  * col("bb").cast("double")), 12)).as("duncan_d"))
      },
      Some("""WITH census AS (
                SELECT CAST(c_nationkey AS BIGINT) AS nation,
                  CAST(SUM(CASE WHEN o_orderpriority IN
                    ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
                    AS BIGINT) AS a,
                  CAST(SUM(CASE WHEN o_orderpriority IN
                    ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END)
                    AS BIGINT) AS b
                FROM orders JOIN customer ON o_custkey = c_custkey
                GROUP BY 1),
              tot AS (
                SELECT CAST(SUM(a) AS BIGINT) AS aa,
                  CAST(SUM(b) AS BIGINT) AS bb
                FROM census)
              SELECT CAST(count(*) AS BIGINT) AS n_nations,
                aa AS n_urgent, bb AS n_rest,
                CASE WHEN aa = 0 OR bb = 0 THEN NULL
                  ELSE round(CAST(SUM(abs(CAST(a AS HUGEINT) * bb
                      - CAST(b AS HUGEINT) * aa)) AS DOUBLE)
                    / (2.0 * CAST(aa AS DOUBLE) * CAST(bb AS DOUBLE)),
                    12) END AS duncan_d
              FROM census, tot GROUP BY aa, bb""")),

    // ── shift-share decomposition of nation revenue growth ──────────────
    // The regional-economics split of 1996→1997 growth: per nation,
    // growth = NATIONAL effect (base × overall rate) + segment-MIX
    // effect (over/under-weighting nationally fast segments) +
    // COMPETITIVE effect (beating the segment's national rate). All
    // rates are IEEE ratios of exact cents off ONE (nation, segment,
    // year) census; the three effects reconstruct actual growth by
    // construction. Segment-pinned folds for the two Σ_seg terms.
    Q("q_shift_share",
      (s, dir) => {
        val dec38 = DecimalType(38, 0)
        val census = t(s, dir, "orders")
          .filter(year(col("o_orderdate")).isin(1996, 1997))
          .join(t(s, dir, "customer"),
            col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_nationkey").cast("long").as("nation"),
            col("c_mktsegment").as("segment"))
          .agg(sum(when(year(col("o_orderdate")) === 1996,
            (dec2(col("o_totalprice")) * 100).cast("long"))
            .otherwise(0L).cast(dec38)).as("base"),
            sum(when(year(col("o_orderdate")) === 1997,
              (dec2(col("o_totalprice")) * 100).cast("long"))
              .otherwise(0L).cast(dec38)).as("cur"))
          .persist()
        val segRates = census.groupBy("segment")
          .agg(sum(col("base")).as("sb"), sum(col("cur")).as("sc"))
          .select(col("segment"),
            ((col("sc") - col("sb")).cast("double")
              / col("sb").cast("double")).as("r_seg"))
        val natRate = census.agg(
          ((sum(col("cur")) - sum(col("base"))).cast("double")
            / sum(col("base")).cast("double")).as("r_nat"))
        census.join(broadcast(segRates), "segment")
          .crossJoin(broadcast(natRate))
          .groupBy("nation", "r_nat")
          .agg(sum(col("base")).as("base"),
            sum(col("cur")).as("cur"),
            expr("""aggregate(array_sort(collect_list(named_struct(
                 's', segment,
                 't', CAST(base AS DOUBLE) * (r_seg - r_nat)))),
                 CAST(0 AS DOUBLE), (a, x) -> a + x.t)""").as("mix"),
            expr("""aggregate(array_sort(collect_list(named_struct(
                 's', segment,
                 't', CAST(cur AS DOUBLE) - CAST(base AS DOUBLE)
                   - CAST(base AS DOUBLE) * r_seg))),
                 CAST(0 AS DOUBLE), (a, x) -> a + x.t)""").as("comp"))
          .select(col("nation"),
            round(col("base").cast("double") / 100.0, 2).as("base_1996"),
            round((col("cur") - col("base")).cast("double") / 100.0, 2)
              .as("growth"),
            round(col("base").cast("double") * col("r_nat") / 100.0, 2)
              .as("national_effect"),
            round(col("mix") / 100.0, 2).as("mix_effect"),
            round(col("comp") / 100.0, 2).as("competitive_effect"))
          .orderBy("nation")
      },
      Some("""WITH census AS (
                SELECT CAST(c_nationkey AS BIGINT) AS nation,
                  c_mktsegment AS segment,
                  SUM(CASE WHEN year(o_orderdate) = 1996
                    THEN CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2))
                      * 100 AS BIGINT) AS HUGEINT)
                    ELSE CAST(0 AS HUGEINT) END) AS base,
                  SUM(CASE WHEN year(o_orderdate) = 1997
                    THEN CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2))
                      * 100 AS BIGINT) AS HUGEINT)
                    ELSE CAST(0 AS HUGEINT) END) AS cur
                FROM orders JOIN customer ON o_custkey = c_custkey
                WHERE year(o_orderdate) IN (1996, 1997)
                GROUP BY 1, 2),
              sr AS (
                SELECT segment,
                  CAST(SUM(cur) - SUM(base) AS DOUBLE)
                    / CAST(SUM(base) AS DOUBLE) AS r_seg
                FROM census GROUP BY 1),
              nr AS (
                SELECT CAST(SUM(cur) - SUM(base) AS DOUBLE)
                  / CAST(SUM(base) AS DOUBLE) AS r_nat
                FROM census),
              j AS (
                SELECT c.nation, c.segment, c.base, c.cur,
                  sr.r_seg, nr.r_nat
                FROM census c JOIN sr ON c.segment = sr.segment, nr),
              folded AS (
                SELECT nation, r_nat,
                  CAST(SUM(base) AS HUGEINT) AS base,
                  CAST(SUM(cur) AS HUGEINT) AS cur,
                  list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(CAST(base AS DOUBLE) * (r_seg - r_nat)
                      ORDER BY segment)), (a, x) -> a + x) AS mix,
                  list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(CAST(cur AS DOUBLE) - CAST(base AS DOUBLE)
                      - CAST(base AS DOUBLE) * r_seg
                      ORDER BY segment)), (a, x) -> a + x) AS comp
                FROM j GROUP BY 1, 2)
              SELECT nation,
                round(CAST(base AS DOUBLE) / 100.0, 2) AS base_1996,
                round(CAST(cur - base AS DOUBLE) / 100.0, 2) AS growth,
                round(CAST(base AS DOUBLE) * r_nat / 100.0, 2)
                  AS national_effect,
                round(mix / 100.0, 2) AS mix_effect,
                round(comp / 100.0, 2) AS competitive_effect
              FROM folded ORDER BY nation""")),
    // The forecasting-method router q_croston assumes: classify each
    // part's demand pattern by mean inter-demand interval (ADI) and
    // demand-size CV² into smooth / intermittent / erratic / lumpy.
    // The cutoffs (1.32, 0.49) are EXACT integer cross-comparisons —
    // ADI ≥ 1.32 ⇔ 100·span ≥ 132·(k−1), CV² ≥ 0.49 ⇔ 100·k·Σq² ≥
    // 149·(Σq)² (population variance) — so the quadrant census never
    // touches FP. One lineitem pass to the (part, day) demand census,
    // a per-part rollup, 4-row output.
    Q("q_sbc_classification",
      (s, dir) => {
        val dec38 = DecimalType(38, 0)
        val demand = t(s, dir, "lineitem")
          .groupBy(col("l_partkey"),
            expr("datediff(CAST(l_shipdate AS DATE), DATE'1970-01-01')")
              .as("d"))
          .agg(sum(col("l_quantity").cast("long")).as("q"))
        val perPart = demand.groupBy("l_partkey")
          .agg(count(lit(1)).cast("long").as("k"),
            (max(col("d")) - min(col("d"))).cast("long").as("span"),
            sum(col("q").cast(dec38)).as("sq"),
            sum(col("q").cast(dec38) * col("q")).as("sq2"))
          .filter(col("k") >= 2)
        perPart
          .select(
            (col("span") * 100 >= (col("k") - 1) * 132).as("adi_high"),
            (col("sq2") * col("k") * 100 >= col("sq") * col("sq") * 149)
              .as("cv_high"))
          .groupBy()
          .agg(count(lit(1)).cast("long").as("n_parts"),
            sum(when(!col("adi_high") && !col("cv_high"), 1L)
              .otherwise(0L)).cast("long").as("smooth"),
            sum(when(col("adi_high") && !col("cv_high"), 1L)
              .otherwise(0L)).cast("long").as("intermittent"),
            sum(when(!col("adi_high") && col("cv_high"), 1L)
              .otherwise(0L)).cast("long").as("erratic"),
            sum(when(col("adi_high") && col("cv_high"), 1L)
              .otherwise(0L)).cast("long").as("lumpy"))
      },
      Some("""WITH demand AS (
                SELECT l_partkey,
                  date_diff('day', DATE '1970-01-01',
                    CAST(l_shipdate AS DATE)) AS d,
                  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
                FROM lineitem GROUP BY 1, 2),
              per AS (
                SELECT l_partkey, CAST(count(*) AS BIGINT) AS k,
                  CAST(MAX(d) - MIN(d) AS BIGINT) AS span,
                  CAST(SUM(CAST(q AS HUGEINT)) AS HUGEINT) AS sq,
                  SUM(CAST(q AS HUGEINT) * q) AS sq2
                FROM demand GROUP BY 1
                HAVING count(*) >= 2),
              flags AS (
                SELECT span * 100 >= (k - 1) * 132 AS adi_high,
                  sq2 * k * 100 >= sq * sq * 149 AS cv_high
                FROM per)
              SELECT CAST(count(*) AS BIGINT) AS n_parts,
                CAST(SUM(CASE WHEN NOT adi_high AND NOT cv_high
                  THEN 1 ELSE 0 END) AS BIGINT) AS smooth,
                CAST(SUM(CASE WHEN adi_high AND NOT cv_high
                  THEN 1 ELSE 0 END) AS BIGINT) AS intermittent,
                CAST(SUM(CASE WHEN NOT adi_high AND cv_high
                  THEN 1 ELSE 0 END) AS BIGINT) AS erratic,
                CAST(SUM(CASE WHEN adi_high AND cv_high
                  THEN 1 ELSE 0 END) AS BIGINT) AS lumpy
              FROM flags""")),

    // ── Lorenz asymmetry coefficient (global customer spend) ────────────
    // Two populations can share a Gini yet differ in WHERE the
    // inequality lives; S = F(μ) + L(μ) reads it off the Lorenz curve
    // (S < 1: driven by many small spenders, S > 1: by few whales).
    // Everything is census-exact: m = #{x < μ} compares x·n < T in
    // DECIMAL(38,0) (no FP mean), the bracketing values x_m / x_{m+1}
    // are conditional max/min, and only the interpolation fraction δ
    // and the final two shares are IEEE — on identical integers.
    Q("q_lorenz_asymmetry",
      (s, dir) => {
        val dec38 = DecimalType(38, 0)
        val spend = t(s, dir, "orders")
          .groupBy("o_custkey")
          .agg((sum(dec2(col("o_totalprice"))) * 100).cast("long")
            .as("x"))
          .persist()
        val tot = spend.agg(count(lit(1)).cast("long").as("n"),
          sum(col("x").cast(dec38)).as("t"))
        spend.crossJoin(broadcast(tot))
          .groupBy("n", "t")
          .agg(
            sum(when(col("x").cast(dec38) * col("n") < col("t"), 1L)
              .otherwise(0L)).cast("long").as("m"),
            sum(when(col("x").cast(dec38) * col("n") < col("t"),
              col("x").cast(dec38)).otherwise(lit(0).cast(dec38)))
              .as("l_m"),
            max(when(col("x").cast(dec38) * col("n") < col("t"),
              col("x"))).as("xm"),
            min(when(col("x").cast(dec38) * col("n") >= col("t"),
              col("x"))).as("xm1"))
          .select(col("n"), col("m"),
            when(col("xm").isNull || col("xm1").isNull
              || col("xm1") === col("xm") || col("t") === 0,
              lit(null).cast("double"))
              .otherwise(round(
                (col("m").cast("double")
                  + (col("t").cast("double") / col("n").cast("double")
                    - col("xm").cast("double"))
                    / (col("xm1").cast("double")
                      - col("xm").cast("double")))
                  / col("n").cast("double")
                + (col("l_m").cast("double")
                  + (col("t").cast("double") / col("n").cast("double")
                    - col("xm").cast("double"))
                    / (col("xm1").cast("double")
                      - col("xm").cast("double"))
                    * col("xm1").cast("double"))
                  / col("t").cast("double"), 12))
              .as("s_coeff"))
      },
      Some("""WITH spend AS (
                SELECT o_custkey,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                    AS BIGINT) AS x
                FROM orders GROUP BY 1),
              tot AS (
                SELECT CAST(count(*) AS BIGINT) AS n,
                  CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS t
                FROM spend),
              agg AS (
                SELECT n, t,
                  CAST(SUM(CASE WHEN CAST(x AS HUGEINT) * n < t
                    THEN 1 ELSE 0 END) AS BIGINT) AS m,
                  SUM(CASE WHEN CAST(x AS HUGEINT) * n < t
                    THEN CAST(x AS HUGEINT)
                    ELSE CAST(0 AS HUGEINT) END) AS l_m,
                  MAX(CASE WHEN CAST(x AS HUGEINT) * n < t
                    THEN x END) AS xm,
                  MIN(CASE WHEN CAST(x AS HUGEINT) * n >= t
                    THEN x END) AS xm1
                FROM spend, tot GROUP BY 1, 2)
              SELECT n, m,
                CASE WHEN xm IS NULL OR xm1 IS NULL OR xm1 = xm
                    OR t = 0 THEN NULL
                  ELSE round(
                    (CAST(m AS DOUBLE)
                      + (CAST(t AS DOUBLE) / CAST(n AS DOUBLE)
                        - CAST(xm AS DOUBLE))
                        / (CAST(xm1 AS DOUBLE) - CAST(xm AS DOUBLE)))
                      / CAST(n AS DOUBLE)
                    + (CAST(l_m AS DOUBLE)
                      + (CAST(t AS DOUBLE) / CAST(n AS DOUBLE)
                        - CAST(xm AS DOUBLE))
                        / (CAST(xm1 AS DOUBLE) - CAST(xm AS DOUBLE))
                        * CAST(xm1 AS DOUBLE))
                      / CAST(t AS DOUBLE), 12) END AS s_coeff
              FROM agg""")),

    // ── Kolkata index: the "top (1−k) own k" crossing ───────────────────
    // The generalized-Pareto readout (k = 0.8 recovers the 80/20
    // rule): the k where F(x) + L(x) = 1 on the Lorenz curve. The
    // crossing is found by EXACT integer comparison — rn·T + n·cum ≥
    // n·T on the RangeRank-ranked spend census (rank + inclusive
    // prefix sum, both scale-safe) — and only the output shares
    // divide. First crossing row via ORDER rn LIMIT 1 on the
    // (tiny) crossing set.
    Q("q_kolkata_index",
      (s, dir) => {
        val dec38 = DecimalType(38, 0)
        val spend = t(s, dir, "orders")
          .groupBy("o_custkey")
          .agg((sum(dec2(col("o_totalprice"))) * 100).cast("long")
            .as("x"))
        val ranked = RangeRank.ranked(spend, Seq.empty,
          Seq(col("x"), col("o_custkey")), nName = Some("n"),
          prefixSums = Seq(RangeRank.PrefixSum(
            col("x").cast(dec38), "cum_ex")))
        val tot = ranked.agg(sum(col("x").cast(dec38)).as("t"))
        ranked.crossJoin(broadcast(tot))
          .select(col("rn"), col("n"), col("t"),
            (col("cum_ex") + col("x")).as("cum"))
          .filter(col("rn").cast(dec38) * col("t")
            + col("cum") * col("n") >= col("n").cast(dec38) * col("t"))
          .orderBy("rn")
          .limit(1)
          .select(col("n"),
            round(col("rn").cast("double") / col("n").cast("double"), 12)
              .as("k_index"),
            round(col("cum").cast("double") / col("t").cast("double"), 12)
              .as("bottom_share"))
      },
      Some("""WITH spend AS (
                SELECT o_custkey,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                    AS BIGINT) AS x
                FROM orders GROUP BY 1),
              ranked AS (
                SELECT x,
                  CAST(row_number() OVER (ORDER BY x, o_custkey)
                    AS BIGINT) AS rn,
                  CAST(count(*) OVER () AS BIGINT) AS n,
                  SUM(CAST(x AS HUGEINT)) OVER (ORDER BY x, o_custkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS cum
                FROM spend),
              tot AS (SELECT CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT)
                        AS t FROM spend)
              SELECT n,
                round(CAST(rn AS DOUBLE) / CAST(n AS DOUBLE), 12)
                  AS k_index,
                round(CAST(cum AS DOUBLE) / CAST(t AS DOUBLE), 12)
                  AS bottom_share
              FROM ranked, tot
              WHERE CAST(rn AS HUGEINT) * t + CAST(cum AS HUGEINT) * n
                >= CAST(n AS HUGEINT) * t
              ORDER BY rn LIMIT 1""")),

    // ── Bowley quartile skewness per market segment ─────────────────────
    // The outlier-proof skewness the third-moment version can't give:
    // (Q₃ + Q₁ − 2·Q₂)/(Q₃ − Q₁) from EXACT percentile_disc picks —
    // one RangeRank pass over the per-customer spend census groups the
    // 5 segments, the three quartiles are rank-equality filters on
    // exact integers, and the statistic is one guarded IEEE ratio.
    Q("q_bowley_skew",
      (s, dir) => {
        val spend = t(s, dir, "orders")
          .groupBy("o_custkey")
          .agg((sum(dec2(col("o_totalprice"))) * 100).cast("long")
            .as("x"))
          .join(t(s, dir, "customer")
            .select(col("c_custkey"), col("c_mktsegment").as("segment")),
            col("o_custkey") === col("c_custkey"))
          .select("segment", "x", "o_custkey")
        val ranked = RangeRank.ranked(spend, Seq("segment"),
          Seq(col("x"), col("o_custkey")))
        ranked
          .groupBy("segment")
          .agg(max(col("n")).as("n"),
            min(when(col("rn") === expr("(n + 3) div 4"), col("x")))
              .as("q1"),
            min(when(col("rn") === expr("(n + 1) div 2"), col("x")))
              .as("q2"),
            min(when(col("rn") === expr("(3 * n + 1) div 4"), col("x")))
              .as("q3"))
          .select(col("segment"), col("n"),
            round(col("q1").cast("double") / 100.0, 2).as("q1"),
            round(col("q2").cast("double") / 100.0, 2).as("q2"),
            round(col("q3").cast("double") / 100.0, 2).as("q3"),
            when(col("q3") === col("q1"), lit(null).cast("double"))
              .otherwise(round(
                (col("q3") + col("q1") - lit(2L) * col("q2"))
                  .cast("double")
                  / (col("q3") - col("q1")).cast("double"), 12))
              .as("bowley"))
          .orderBy("segment")
      },
      Some("""WITH spend AS (
                SELECT c_mktsegment AS segment, o_custkey,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                    AS BIGINT) AS x
                FROM orders JOIN customer ON o_custkey = c_custkey
                GROUP BY 1, 2),
              ranked AS (
                SELECT segment, x,
                  CAST(row_number() OVER (PARTITION BY segment
                    ORDER BY x, o_custkey) AS BIGINT) AS rn,
                  CAST(count(*) OVER (PARTITION BY segment) AS BIGINT)
                    AS n
                FROM spend),
              q AS (
                SELECT segment, CAST(MAX(n) AS BIGINT) AS n,
                  MIN(CASE WHEN rn = (n + 3) // 4 THEN x END) AS q1,
                  MIN(CASE WHEN rn = (n + 1) // 2 THEN x END) AS q2,
                  MIN(CASE WHEN rn = (3 * n + 1) // 4 THEN x END) AS q3
                FROM ranked GROUP BY 1)
              SELECT segment, n,
                round(CAST(q1 AS DOUBLE) / 100.0, 2) AS q1,
                round(CAST(q2 AS DOUBLE) / 100.0, 2) AS q2,
                round(CAST(q3 AS DOUBLE) / 100.0, 2) AS q3,
                CASE WHEN q3 = q1 THEN NULL
                  ELSE round(CAST(q3 + q1 - 2 * q2 AS DOUBLE)
                    / CAST(q3 - q1 AS DOUBLE), 12) END AS bowley
              FROM q ORDER BY segment""")),

    // ── Tukey median polish: robust nation × year decomposition ─────────
    // The outlier-proof two-way split (value = row effect + column
    // effect + residual) that mean-based ANOVA decompositions can't
    // give. ONE polish sweep over the ≤25×7 nation×year cents table:
    // row medians are exact LOWER-median picks (row_number over
    // (value, year) within ≤7-value groups), subtracted in integer
    // cents; column medians of the residuals likewise; the output grid
    // is FULLY exact integers — no FP anywhere.
    Q("q_median_polish",
      (s, dir) => {
        val cells = t(s, dir, "orders")
          .join(t(s, dir, "customer"),
            col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_nationkey").cast("long").as("nation"),
            year(col("o_orderdate")).cast("long").as("y"))
          .agg((sum(dec2(col("o_totalprice"))) * 100).cast("long")
            .as("v"))
          .persist()
        val wRow = Window.partitionBy("nation").orderBy("v", "y")
        val rowMed = cells
          .withColumn("rn", row_number().over(wRow))
          .withColumn("cnt", count(lit(1)).over(
            Window.partitionBy("nation")))
          .filter(col("rn") === expr("(cnt + 1) div 2"))
          .select(col("nation"), col("v").as("row_eff"))
        val r1 = cells.join(rowMed, "nation")
          .select(col("nation"), col("y"), col("row_eff"),
            (col("v") - col("row_eff")).as("r1"))
        val wCol = Window.partitionBy("y").orderBy("r1", "nation")
        val colMed = r1
          .withColumn("rn", row_number().over(wCol))
          .withColumn("cnt", count(lit(1)).over(Window.partitionBy("y")))
          .filter(col("rn") === expr("(cnt + 1) div 2"))
          .select(col("y"), col("r1").as("col_eff"))
        r1.join(colMed, "y")
          .select(col("nation"), col("y"), col("row_eff"),
            col("col_eff"), (col("r1") - col("col_eff")).as("resid"))
          .orderBy("nation", "y")
      },
      Some("""WITH cells AS (
                SELECT CAST(c_nationkey AS BIGINT) AS nation,
                  CAST(year(o_orderdate) AS BIGINT) AS y,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                    AS BIGINT) AS v
                FROM orders JOIN customer ON o_custkey = c_custkey
                GROUP BY 1, 2),
              rm AS (
                SELECT nation, v AS row_eff
                FROM (SELECT nation, v,
                        row_number() OVER (PARTITION BY nation
                          ORDER BY v, y) AS rn,
                        count(*) OVER (PARTITION BY nation) AS cnt
                      FROM cells)
                WHERE rn = (cnt + 1) // 2),
              r1 AS (
                SELECT c.nation, c.y, rm.row_eff,
                  c.v - rm.row_eff AS r1
                FROM cells c JOIN rm ON c.nation = rm.nation),
              cm AS (
                SELECT y, r1 AS col_eff
                FROM (SELECT y, r1,
                        row_number() OVER (PARTITION BY y
                          ORDER BY r1, nation) AS rn,
                        count(*) OVER (PARTITION BY y) AS cnt
                      FROM r1)
                WHERE rn = (cnt + 1) // 2)
              SELECT r1.nation, r1.y, r1.row_eff, cm.col_eff,
                r1.r1 - cm.col_eff AS resid
              FROM r1 JOIN cm ON r1.y = cm.y
              ORDER BY r1.nation, r1.y""")),

    // ── iterative proportional fitting (raking) to known margins ────────
    // The survey-calibration workhorse: scale the observed
    // segment × priority order table so row margins match the CUSTOMER
    // POPULATION's segment counts and column margins match a uniform
    // priority target — two full IPF sweeps (row-scale, col-scale) ×2.
    // Round 14 (r13 verdict item 2): the four per-sweep grouped-agg +
    // broadcast-rejoin passes cost ~2 s of pure job overhead on a
    // ≤25-cell census — the whole grid now packs into ONE row and the
    // four sweeps run as index folds inside a single job (the
    // q_holt_winters sequential-fold machinery, state = the weight
    // vector). Each margin is the same within-group p-ordered
    // left-to-right double fold the per-sweep spelling used (non-group
    // members contribute an exact +0.0), so the fitted weights are
    // bit-identical in both engines.
    Q("q_ipf_raking",
      (s, dir) => {
        val obs = t(s, dir, "orders")
          .join(t(s, dir, "customer"),
            col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_mktsegment").as("segment"),
            substring(col("o_orderpriority"), 1, 1).cast("long").as("p"))
          .agg(count(lit(1)).cast("long").as("c"))
        // leaf-cut (lazy): the 5-row margin frame feeds BOTH the cell
        // join and the total — one customer scan, materialized inside
        // the single job
        val rowTarget = t(s, dir, "customer")
          .groupBy(col("c_mktsegment").as("segment"))
          .agg(count(lit(1)).cast("long").as("r_t"))
          .localCheckpoint(false)
        // column target = uniform fifth of the ROW-target mass, so the
        // two margin systems are consistent and IPF converges
        val tot = rowTarget.agg(sum(col("r_t")).cast("long").as("rt_tot"))
        val cells = obs.join(broadcast(rowTarget), "segment")
          .crossJoin(broadcast(tot))
          .withColumn("c_t", col("rt_tot").cast("double") / 5.0)
        val packed = cells.agg(
            expr("array_sort(collect_list(struct(segment, p, c," +
              " CAST(r_t AS DOUBLE) AS rt)))").as("g"),
            expr("any_value(c_t)").as("c_t"))
          .selectExpr(
            "transform(g, x -> x.segment) AS segs",
            "transform(g, x -> x.p) AS ps",
            "transform(g, x -> x.c) AS cs",
            "transform(g, x -> x.rt) AS rts",
            "c_t", "size(g) AS n")
        // one sweep = a new weight vector; the margin under element i
        // is the in-order fold over the cells sharing its group key
        def sweep(prev: String, key: String, target: String): String =
          s"""transform(sequence(1, n), i ->
             |  element_at($prev, i) * $target /
             |  aggregate(sequence(1, n), CAST(0 AS DOUBLE), (a, j) ->
             |    a + IF(element_at($key, j) = element_at($key, i),
             |      CAST(element_at(cs, j) AS DOUBLE)
             |        * element_at($prev, j),
             |      CAST(0 AS DOUBLE))))""".stripMargin
        val fitted = packed
          .withColumn("w0",
            expr("transform(sequence(1, n), i -> CAST(1.0 AS DOUBLE))"))
          .withColumn("w1", expr(sweep("w0", "segs", "element_at(rts, i)")))
          .withColumn("w2", expr(sweep("w1", "ps", "c_t")))
          .withColumn("w3", expr(sweep("w2", "segs", "element_at(rts, i)")))
          .withColumn("w4", expr(sweep("w3", "ps", "c_t")))
        fitted
          .select(explode(expr("sequence(1, n)")).as("i"),
            col("segs"), col("ps"), col("cs"), col("w4"))
          .select(expr("element_at(segs, i)").as("segment"),
            expr("element_at(ps, i)").as("p"),
            expr("element_at(cs, i)").as("c"),
            expr("round(element_at(w4, i), 9)").as("w"),
            expr("round(CAST(element_at(cs, i) AS DOUBLE)" +
              " * element_at(w4, i), 4)").as("adjusted"))
          .orderBy("segment", "p")
      },
      Some("""WITH obs AS (
                SELECT c_mktsegment AS segment,
                  CAST(substring(o_orderpriority, 1, 1) AS BIGINT) AS p,
                  CAST(count(*) AS BIGINT) AS c
                FROM orders JOIN customer ON o_custkey = c_custkey
                GROUP BY 1, 2),
              rt AS (
                SELECT c_mktsegment AS segment,
                  CAST(count(*) AS BIGINT) AS r_t
                FROM customer GROUP BY 1),
              tot AS (SELECT CAST(SUM(r_t) AS BIGINT) AS rt_tot FROM rt),
              cells AS (
                SELECT obs.segment, obs.p, obs.c, rt.r_t,
                  CAST(rt_tot AS DOUBLE) / 5.0 AS c_t
                FROM obs JOIN rt ON obs.segment = rt.segment, tot),
              packed AS (
                SELECT list(segment ORDER BY segment, p) AS segs,
                  list(p ORDER BY segment, p) AS ps,
                  list(c ORDER BY segment, p) AS cs,
                  list(CAST(r_t AS DOUBLE) ORDER BY segment, p) AS rts,
                  any_value(c_t) AS c_t,
                  CAST(count(*) AS INTEGER) AS n
                FROM cells),
              sw AS (
                SELECT *, list_transform(range(1, n + 1),
                    i -> CAST(1.0 AS DOUBLE)) AS w0
                FROM packed),
              s1 AS (SELECT *, list_transform(range(1, n + 1), i ->
                  w0[i] * rts[i] / list_reduce(list_prepend(
                    CAST(0 AS DOUBLE),
                    list_transform(range(1, n + 1), j ->
                      CASE WHEN segs[j] = segs[i]
                        THEN CAST(cs[j] AS DOUBLE) * w0[j]
                        ELSE CAST(0 AS DOUBLE) END)),
                    (a, x) -> a + x)) AS w1
                FROM sw),
              s2 AS (SELECT *, list_transform(range(1, n + 1), i ->
                  w1[i] * c_t / list_reduce(list_prepend(
                    CAST(0 AS DOUBLE),
                    list_transform(range(1, n + 1), j ->
                      CASE WHEN ps[j] = ps[i]
                        THEN CAST(cs[j] AS DOUBLE) * w1[j]
                        ELSE CAST(0 AS DOUBLE) END)),
                    (a, x) -> a + x)) AS w2
                FROM s1),
              s3 AS (SELECT *, list_transform(range(1, n + 1), i ->
                  w2[i] * rts[i] / list_reduce(list_prepend(
                    CAST(0 AS DOUBLE),
                    list_transform(range(1, n + 1), j ->
                      CASE WHEN segs[j] = segs[i]
                        THEN CAST(cs[j] AS DOUBLE) * w2[j]
                        ELSE CAST(0 AS DOUBLE) END)),
                    (a, x) -> a + x)) AS w3
                FROM s2),
              s4 AS (SELECT *, list_transform(range(1, n + 1), i ->
                  w3[i] * c_t / list_reduce(list_prepend(
                    CAST(0 AS DOUBLE),
                    list_transform(range(1, n + 1), j ->
                      CASE WHEN ps[j] = ps[i]
                        THEN CAST(cs[j] AS DOUBLE) * w3[j]
                        ELSE CAST(0 AS DOUBLE) END)),
                    (a, x) -> a + x)) AS w4
                FROM s3)
              SELECT segs[i] AS segment, ps[i] AS p, cs[i] AS c,
                round(w4[i], 9) AS w,
                round(CAST(cs[i] AS DOUBLE) * w4[i], 4) AS adjusted
              FROM s4, unnest(range(1, n + 1)) AS u(i)
              ORDER BY segment, p""")),
    // The classic customer-scoring rollup: one per-customer census
    // (last order date, order count, exact lifetime cents), banded into
    // a 5×6×6 segment cube. The reference date is the table's own max
    // order date folded in as a 1-row broadcast (no driver-side action);
    // bands are exact integer arithmetic on non-negative operands so
    // Spark `div` (truncate) and DuckDB `//` (floor) agree; the segment
    // census is combo-bounded, SF-independent. Shape at 100 TB: ONE
    // orders shuffle to the customer census, everything after is
    // census-sized.
    Q("q_rfm_segments",
      (s, dir) => {
        val orders = t(s, dir, "orders")
        val ref = orders
          .agg(max(col("o_orderdate").cast("date")).as("ref_date"))
        val cust = orders.groupBy("o_custkey")
          .agg(max(col("o_orderdate").cast("date")).as("last_order"),
            count(lit(1)).as("freq"),
            sum(expr(
              "cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)"))
              .as("cents"))
        cust.crossJoin(broadcast(ref))
          .select(
            least(expr("cast(datediff(ref_date, last_order) as bigint)" +
              " div 365"), lit(4L)).as("r_band"),
            least(col("freq"), lit(5L)).as("f_band"),
            least(expr("cents div 50000000"), lit(5L)).as("m_band"),
            col("cents"))
          .groupBy("r_band", "f_band", "m_band")
          .agg(count(lit(1)).as("n_customers"),
            sum(col("cents")).as("total_cents"))
          .orderBy("r_band", "f_band", "m_band")
      },
      Some("""WITH ref AS (
                SELECT MAX(CAST(o_orderdate AS DATE)) AS ref_date
                FROM orders),
              c AS (
                SELECT o_custkey,
                  MAX(CAST(o_orderdate AS DATE)) AS last_order,
                  count(*) AS freq,
                  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT)) AS BIGINT) AS cents
                FROM orders GROUP BY 1),
              b AS (
                SELECT
                  LEAST(CAST(date_diff('day', last_order, ref_date)
                    AS BIGINT) // 365, 4) AS r_band,
                  LEAST(freq, 5) AS f_band,
                  LEAST(cents // 50000000, 5) AS m_band,
                  cents
                FROM c, ref)
              SELECT r_band, f_band, m_band,
                count(*) AS n_customers,
                CAST(SUM(cents) AS BIGINT) AS total_cents
              FROM b GROUP BY 1, 2, 3
              ORDER BY r_band, f_band, m_band""")),

    // ── revenue mix-shift decomposition (volume vs rate vs interaction) ──
    // The "why did the metric move" readout: per-segment YoY revenue
    // delta split into volume effect (order-count change at last year's
    // average ticket), rate effect (ticket change at last year's
    // volume), and the interaction remainder — the three terms sum
    // EXACTLY to Δrevenue by construction, so the decomposition is
    // self-auditing. Shape: one fact⋈dim shuffle to a (segment × year)
    // census, pivoted by conditional extremes, effects as a few IEEE
    // ops on exact cents/counts. Census-bounded everywhere after the
    // first agg.
    Q("q_mix_shift",
      (s, dir) => {
        val base = t(s, dir, "orders")
          .filter(year(col("o_orderdate")).isin(1995, 1996))
          .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
          .select(col("c_mktsegment"), year(col("o_orderdate")).as("yr"),
            expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)")
              .as("cents"))
          .groupBy("c_mktsegment", "yr")
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("rev"))
        base.groupBy("c_mktsegment")
          .agg(max(when(col("yr") === 1995, col("n"))).as("n1"),
            max(when(col("yr") === 1995, col("rev"))).as("rev1"),
            max(when(col("yr") === 1996, col("n"))).as("n2"),
            max(when(col("yr") === 1996, col("rev"))).as("rev2"))
          .select(col("c_mktsegment"), col("n1"), col("n2"),
            col("rev1"), col("rev2"),
            (col("rev1").cast("double") / col("n1").cast("double"))
              .as("avg1"),
            (col("rev2").cast("double") / col("n2").cast("double"))
              .as("avg2"))
          .select(col("c_mktsegment"), col("n1"), col("n2"),
            col("rev1"), col("rev2"),
            ((col("n2") - col("n1")).cast("double") * col("avg1"))
              .as("volume_eff"),
            (col("n1").cast("double") * (col("avg2") - col("avg1")))
              .as("rate_eff"),
            ((col("n2") - col("n1")).cast("double")
              * (col("avg2") - col("avg1"))).as("interaction"))
          .orderBy("c_mktsegment")
      },
      Some("""WITH base AS (
                SELECT c_mktsegment, year(o_orderdate) AS yr,
                  count(*) AS n,
                  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT)) AS BIGINT) AS rev
                FROM orders JOIN customer ON o_custkey = c_custkey
                WHERE year(o_orderdate) IN (1995, 1996)
                GROUP BY 1, 2),
              p AS (
                SELECT c_mktsegment,
                  CAST(MAX(CASE WHEN yr = 1995 THEN n END) AS BIGINT) AS n1,
                  CAST(MAX(CASE WHEN yr = 1995 THEN rev END) AS BIGINT)
                    AS rev1,
                  CAST(MAX(CASE WHEN yr = 1996 THEN n END) AS BIGINT) AS n2,
                  CAST(MAX(CASE WHEN yr = 1996 THEN rev END) AS BIGINT)
                    AS rev2
                FROM base GROUP BY 1),
              a AS (
                SELECT *, CAST(rev1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS avg1,
                  CAST(rev2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS avg2
                FROM p)
              SELECT c_mktsegment, n1, n2, rev1, rev2,
                CAST(n2 - n1 AS DOUBLE) * avg1 AS volume_eff,
                CAST(n1 AS DOUBLE) * (avg2 - avg1) AS rate_eff,
                CAST(n2 - n1 AS DOUBLE) * (avg2 - avg1) AS interaction
              FROM a ORDER BY c_mktsegment""")),

    // ── ABC classification (Pareto inventory classes via RangeRank) ──────
    // The warehouse staple: parts covering the first 80% of revenue are
    // class A, the next 15% B, the tail C. The cumulative-share walk is
    // a data-sized total order (parts scale with SF) — it rides
    // RangeRank's 2-pass exclusive prefix sum, never a single-task
    // window; the class test is exact-integer (cum·5 < total·4 in
    // DECIMAL — no 0.8·total FP boundary that two engines could round
    // apart). Output: 3-row class census.
    Q("q_abc_classification",
      (s, dir) => {
        val parts = t(s, dir, "lineitem")
          .groupBy("l_partkey")
          .agg((sum(dec2(col("l_extendedprice"))) * 100).cast("long")
            .as("cents"))
        val ranked = graft.ops.RangeRank.ranked(parts,
          groupCols = Nil,
          sortCols = Seq(col("cents").desc, col("l_partkey")),
          prefixSums = Seq(graft.ops.RangeRank.PrefixSum(col("cents"), "cum")))
        val total = ranked.agg(sum(col("cents")).as("total"))
        ranked.crossJoin(broadcast(total))
          .select(col("cents"),
            when(expr("cast(cum as decimal(38,0)) * 5" +
              " < cast(total as decimal(38,0)) * 4"), "A")
              .when(expr("cast(cum as decimal(38,0)) * 20" +
                " < cast(total as decimal(38,0)) * 19"), "B")
              .otherwise("C").as("abc_class"),
            col("total"))
          .groupBy("abc_class")
          .agg(count(lit(1)).as("n_parts"),
            sum(col("cents")).as("class_cents"),
            (sum(col("cents")).cast("double")
              / max(col("total")).cast("double")).as("share"))
          .orderBy("abc_class")
      },
      Some("""WITH parts AS (
                SELECT l_partkey,
                  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) * 100
                    AS BIGINT) AS cents
                FROM lineitem GROUP BY 1),
              r AS (
                SELECT cents,
                  CAST(COALESCE(SUM(cents) OVER (ORDER BY cents DESC,
                    l_partkey ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING), 0) AS BIGINT) AS cum,
                  CAST(SUM(cents) OVER () AS BIGINT) AS total
                FROM parts),
              c AS (
                SELECT cents, total,
                  CASE WHEN CAST(cum AS DECIMAL(38,0)) * 5
                         < CAST(total AS DECIMAL(38,0)) * 4 THEN 'A'
                       WHEN CAST(cum AS DECIMAL(38,0)) * 20
                         < CAST(total AS DECIMAL(38,0)) * 19 THEN 'B'
                       ELSE 'C' END AS abc_class
                FROM r)
              SELECT abc_class, count(*) AS n_parts,
                CAST(SUM(cents) AS BIGINT) AS class_cents,
                CAST(SUM(cents) AS DOUBLE) / CAST(MAX(total) AS DOUBLE)
                  AS share
              FROM c GROUP BY 1 ORDER BY abc_class""")),

    // ── grouped OLS: price elasticity of demand per part type ───────────
    // Does a deeper discount move more units, and does the answer differ
    // by product line? Per-type OLS slope of quantity on discount —
    // q_regression's five-sums shape, grouped: one lineitem⋈part join
    // (part is a SCALING dim — size-gated, no hint), one partial+final
    // agg to a |p_type|-bounded sums census, slope = a few IEEE ops on
    // exact integers (discount and quantity both carried as ×100
    // integers; products fit int64 with room at any SF's per-type
    // volume ≤ ~10¹²).
    Q("q_price_elasticity",
      (s, dir) => {
        val base = t(s, dir, "lineitem")
          .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
          .select(col("p_type"),
            expr("cast(cast(l_discount as decimal(18,2)) * 100 as bigint)")
              .as("x"),
            expr("cast(cast(l_quantity as decimal(18,2)) * 100 as bigint)")
              .as("y"))
        base.groupBy("p_type")
          .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
            sum(col("y")).as("sy"),
            sum(col("x") * col("y")).as("sxy"),
            sum(col("x") * col("x")).as("sxx"))
          .select(col("p_type"), col("n"),
            (col("sx").cast("double") / col("n").cast("double") / 100.0)
              .as("mean_disc"),
            (col("sy").cast("double") / col("n").cast("double") / 100.0)
              .as("mean_qty"),
            ((col("n").cast("double") * col("sxy").cast("double")
              - col("sx").cast("double") * col("sy").cast("double"))
              / (col("n").cast("double") * col("sxx").cast("double")
                - col("sx").cast("double") * col("sx").cast("double")))
              .as("slope"))
          .orderBy("p_type")
      },
      Some("""WITH b AS (
                SELECT p_type,
                  CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT)
                    AS x,
                  CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)
                    AS y
                FROM lineitem JOIN part ON l_partkey = p_partkey),
              s AS (
                SELECT p_type, count(*) AS n,
                  CAST(SUM(x) AS BIGINT) AS sx,
                  CAST(SUM(y) AS BIGINT) AS sy,
                  CAST(SUM(x * y) AS BIGINT) AS sxy,
                  CAST(SUM(x * x) AS BIGINT) AS sxx
                FROM b GROUP BY 1)
              SELECT p_type, n,
                CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) / 100.0
                  AS mean_disc,
                CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) / 100.0
                  AS mean_qty,
                (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope
              FROM s ORDER BY p_type""")),

    // ── percent rank within nation (the distributed PERCENT_RANK) ───────
    // Each customer's spend percentile within its nation. The naive
    // window partitions by nation — 25 groups, so at 100 TB a
    // twenty-fifth of the customer census funnels through one task.
    // RangeRank's 2-pass rank gives the identical row_number at cluster
    // parallelism; percent rank is derived arithmetically from (rn, n)
    // in BOTH engines (native percent_rank ranks ties differently, so
    // the derivation IS the portability contract). Ties broken by
    // custkey — total order, bit-stable.
    Q("q_percent_rank",
      (s, dir) => {
        val spend = t(s, dir, "orders")
          .groupBy(col("o_custkey"))
          .agg((sum(dec2(col("o_totalprice"))) * 100).cast("long").as("cents"))
        val base = spend.join(
          t(s, dir, "customer")
            .select(col("c_custkey").as("o_custkey"), col("c_nationkey")),
          "o_custkey")
        RangeRank.ranked(base, Seq("c_nationkey"),
            Seq(col("cents"), col("o_custkey")))
          .select(col("c_nationkey").cast("long").as("c_nationkey"),
            col("o_custkey").as("c_custkey"), col("cents"),
            when(col("n") === 1, lit(0.0))
              .otherwise((col("rn") - 1).cast("double")
                / (col("n") - 1).cast("double")).as("pct_rank"))
          .orderBy("c_nationkey", "c_custkey")
      },
      Some("""WITH spend AS (
                SELECT o_custkey,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                    AS BIGINT) AS cents
                FROM orders GROUP BY 1),
              b AS (
                SELECT c_nationkey, o_custkey AS c_custkey, cents,
                  CAST(row_number() OVER (PARTITION BY c_nationkey
                    ORDER BY cents, o_custkey) AS BIGINT) AS rn,
                  COUNT(*) OVER (PARTITION BY c_nationkey) AS n
                FROM spend JOIN customer ON o_custkey = c_custkey)
              SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey,
                c_custkey, cents,
                CASE WHEN n = 1 THEN 0.0
                     ELSE CAST(rn - 1 AS DOUBLE) / CAST(n - 1 AS DOUBLE)
                END AS pct_rank
              FROM b ORDER BY c_nationkey, c_custkey""")),

    // ── global NTILE quartiles (the distributed NTILE) ───────────────────
    // Order-value quartiles over the WHOLE fact table. Native NTILE is
    // an unpartitioned window — the entire table through one task; the
    // quartile id here derives from RangeRank's global row_number
    // ((rn−1)·4 div n + 1, mirrored verbatim in the oracle so the
    // uneven-bucket convention cannot drift), and the readout is a
    // 4-row census. The rank pass runs at cluster parallelism.
    Q("q_ntile_orders",
      (s, dir) => {
        val base = t(s, dir, "orders")
          .select(col("o_orderkey"),
            (dec2(col("o_totalprice")) * 100).cast("long").as("cents"))
        RangeRank.ranked(base, Seq.empty,
            Seq(col("cents"), col("o_orderkey")))
          .select(expr("(rn - 1) * 4 div n + 1").as("quartile"), col("cents"))
          .groupBy("quartile")
          .agg(count(lit(1)).as("n_orders"),
            min(col("cents")).as("min_cents"),
            max(col("cents")).as("max_cents"),
            (sum(col("cents")).cast("double") / 100.0).as("revenue"))
          .orderBy("quartile")
      },
      Some("""WITH b AS (
                SELECT o_orderkey,
                  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                    AS cents
                FROM orders),
              r AS (
                SELECT cents,
                  CAST(row_number() OVER (ORDER BY cents, o_orderkey)
                    AS BIGINT) AS rn,
                  COUNT(*) OVER () AS n
                FROM b)
              SELECT (rn - 1) * 4 // n + 1 AS quartile,
                COUNT(*) AS n_orders,
                CAST(MIN(cents) AS BIGINT) AS min_cents,
                CAST(MAX(cents) AS BIGINT) AS max_cents,
                CAST(SUM(cents) AS DOUBLE) / 100.0 AS revenue
              FROM r GROUP BY 1 ORDER BY quartile""")),

    // ── monthly revenue + trailing moving average + MoM growth ───────────
    // The report-page staple. Corpus-sized work is ONE month census
    // (partial+final agg, calendar-bounded); the 3-month trailing mean
    // and the month-over-month delta are windows over the ≤|months|
    // census frame — the q_rolling_median discipline, never a window
    // over raw orders. Exact cents through the window sums; ma3/mom are
    // single IEEE divisions (mom NULL-guarded identically in both
    // engines for a zero-revenue month).
    Q("q_moving_avg",
      (s, dir) => {
        val m = t(s, dir, "orders")
          .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
          .agg((sum(dec2(col("o_totalprice"))) * 100).cast("long").as("cents"))
        val w3 = Window.orderBy("month").rowsBetween(-2, 0)
        val w1 = Window.orderBy("month")
        m.select(col("month"), col("cents"),
            count(lit(1)).over(w3).as("c3"),
            sum(col("cents")).over(w3).as("s3"),
            lag(col("cents"), 1).over(w1).as("prev"))
          .select(col("month"),
            (col("cents").cast("double") / 100.0).as("revenue"),
            when(col("c3") === 3, col("s3").cast("double") / 300.0)
              .as("ma3"),
            when(col("prev").isNotNull && col("prev") =!= 0,
              (col("cents") - col("prev")).cast("double")
                / col("prev").cast("double")).as("mom"))
          .orderBy("month")
      },
      Some("""WITH m AS (
                SELECT date_trunc('month', o_orderdate) AS month,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                    AS BIGINT) AS cents
                FROM orders GROUP BY 1),
              w AS (
                SELECT month, cents,
                  COUNT(*) OVER tw AS c3,
                  CAST(SUM(cents) OVER tw AS BIGINT) AS s3,
                  LAG(cents, 1) OVER (ORDER BY month) AS prev
                FROM m
                WINDOW tw AS (ORDER BY month
                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW))
              SELECT month, CAST(cents AS DOUBLE) / 100.0 AS revenue,
                CASE WHEN c3 = 3 THEN CAST(s3 AS DOUBLE) / 300.0 END AS ma3,
                CASE WHEN prev IS NOT NULL AND prev <> 0
                     THEN CAST(cents - prev AS DOUBLE) / CAST(prev AS DOUBLE)
                END AS mom
              FROM w ORDER BY month""")),

    // ── reorder-interval distribution ────────────────────────────────────
    // Time between a customer's consecutive orders, bucketed log₂ in
    // days — the repeat-purchase cadence a retention model consumes.
    // One lag window PARTITIONED BY THE SCALING o_custkey (constant
    // per-partition work), then a ≤64-bucket census. All-integer.
    Q("q_reorder_interval",
      (s, dir) => {
        val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        t(s, dir, "orders")
          .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
          .withColumn("prev", lag(col("o_orderdate"), 1).over(w))
          .filter(col("prev").isNotNull)
          .select(datediff(col("o_orderdate"), col("prev")).cast("long")
            .as("gap_days"))
          .groupBy(length(bin(greatest(col("gap_days"), lit(1L)))).cast("long")
            .as("gap_bucket"))
          .agg(count(lit(1)).as("n_gaps"),
            min(col("gap_days")).as("min_days"),
            max(col("gap_days")).as("max_days"),
            sum(col("gap_days")).as("sum_days"))
          .orderBy("gap_bucket")
      },
      Some("""WITH g AS (
                SELECT date_diff('day',
                  lag(o_orderdate) OVER (PARTITION BY o_custkey
                    ORDER BY o_orderdate, o_orderkey),
                  o_orderdate) AS gap_days
                FROM orders
                QUALIFY lag(o_orderdate) OVER (PARTITION BY o_custkey
                  ORDER BY o_orderdate, o_orderkey) IS NOT NULL)
              SELECT CAST(length(bin(greatest(gap_days, 1))) AS BIGINT)
                  AS gap_bucket,
                count(*) AS n_gaps,
                CAST(MIN(gap_days) AS BIGINT) AS min_days,
                CAST(MAX(gap_days) AS BIGINT) AS max_days,
                CAST(SUM(gap_days) AS BIGINT) AS sum_days
              FROM g GROUP BY 1 ORDER BY gap_bucket""")),

    // ── basket-size distribution (fact-fact census) ─────────────────────
    // Lineitems per order → how large are baskets and where is the
    // revenue? First fold is per-orderkey (the co-partitioned fact-fact
    // key — at 100 TB it rides the bucketed layout exchange-free), the
    // readout is a ≤max-basket census. Exact cents end-to-end.
    Q("q_basket_size_dist",
      (s, dir) => t(s, dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(count(lit(1)).as("n_items"),
          (sum(dec2(col("l_extendedprice"))) * 100).cast("long").as("cents"))
        .groupBy("n_items")
        .agg(count(lit(1)).as("n_orders"),
          (sum(col("cents")).cast("double") / 100.0).as("revenue"))
        .orderBy("n_items"),
      Some("""WITH b AS (
                SELECT l_orderkey, count(*) AS n_items,
                  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) * 100
                    AS BIGINT) AS cents
                FROM lineitem GROUP BY 1)
              SELECT n_items, count(*) AS n_orders,
                CAST(SUM(cents) AS DOUBLE) / 100.0 AS revenue
              FROM b GROUP BY 1 ORDER BY n_items""")),

    // ── customer lifetime-value deciles (Pareto curve over customers) ───
    // q_abc_classification's customer-side sibling: spend deciles with
    // per-decile and cumulative revenue share. The data-sized total
    // order rides RangeRank's 2-pass global row_number; the decile id
    // derives as (rn−1)·10 div n (mirrored verbatim); shares and the
    // cumulative walk live on the 10-row census.
    Q("q_ltv_deciles",
      (s, dir) => {
        val spend = t(s, dir, "orders")
          .groupBy(col("o_custkey"))
          .agg((sum(dec2(col("o_totalprice"))) * 100).cast("long").as("cents"))
        val deciles = RangeRank.ranked(spend, Seq.empty,
            Seq(col("cents").desc, col("o_custkey")))
          .select(expr("(rn - 1) * 10 div n + 1").as("decile"), col("cents"))
          .groupBy("decile")
          .agg(count(lit(1)).as("n_customers"),
            sum(col("cents")).as("cents"))
        val w = Window.orderBy("decile")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val tot = Window.partitionBy()
        deciles
          .select(col("decile"), col("n_customers"),
            (col("cents").cast("double") / 100.0).as("revenue"),
            (col("cents").cast("double")
              / sum(col("cents")).over(tot).cast("double")).as("rev_share"),
            (sum(col("cents")).over(w).cast("double")
              / sum(col("cents")).over(tot).cast("double")).as("cum_share"))
          .orderBy("decile")
      },
      Some("""WITH spend AS (
                SELECT o_custkey,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                    AS BIGINT) AS cents
                FROM orders GROUP BY 1),
              r AS (
                SELECT cents,
                  CAST(row_number() OVER (ORDER BY cents DESC, o_custkey)
                    AS BIGINT) AS rn,
                  COUNT(*) OVER () AS n
                FROM spend),
              d AS (
                SELECT (rn - 1) * 10 // n + 1 AS decile,
                  count(*) AS n_customers,
                  CAST(SUM(cents) AS BIGINT) AS cents
                FROM r GROUP BY 1)
              SELECT decile, n_customers,
                CAST(cents AS DOUBLE) / 100.0 AS revenue,
                CAST(cents AS DOUBLE)
                  / CAST(SUM(cents) OVER () AS DOUBLE) AS rev_share,
                CAST(SUM(cents) OVER (ORDER BY decile
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS DOUBLE)
                  / CAST(SUM(cents) OVER () AS DOUBLE) AS cum_share
              FROM d ORDER BY decile""")),

    // ── supplier concentration per part ──────────────────────────────────
    // Sourcing-risk census: per part, what share of shipped quantity
    // comes from its TOP supplier? Two partial+final aggs (the per-
    // (part, supplier) fold, then the per-part argmax via max(struct) —
    // no window over the fact), and the share bands in the INTEGER
    // domain ((top·10) div total — no FP boundary can flip a band).
    Q("q_supplier_concentration",
      (s, dir) => {
        val ps = t(s, dir, "lineitem")
          .groupBy("l_partkey", "l_suppkey")
          .agg((sum(dec2(col("l_quantity"))) * 100).cast("long").as("q"))
        ps.groupBy("l_partkey")
          .agg(sum(col("q")).as("total_q"),
            max(struct(col("q"), col("l_suppkey"))).getField("q").as("top_q"),
            count(lit(1)).as("n_suppliers"))
          .select(expr("least((top_q * 10) div total_q, 9)").as("share_band"),
            col("n_suppliers"))
          .groupBy("share_band")
          .agg(count(lit(1)).as("n_parts"),
            sum(col("n_suppliers")).as("n_part_suppliers"))
          .orderBy("share_band")
      },
      Some("""WITH ps AS (
                SELECT l_partkey, l_suppkey,
                  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) * 100
                    AS BIGINT) AS q
                FROM lineitem GROUP BY 1, 2),
              p AS (
                SELECT l_partkey, CAST(SUM(q) AS BIGINT) AS total_q,
                  CAST(MAX(q) AS BIGINT) AS top_q,
                  count(*) AS n_suppliers
                FROM ps GROUP BY 1)
              SELECT least((top_q * 10) // total_q, 9) AS share_band,
                count(*) AS n_parts,
                CAST(SUM(n_suppliers) AS BIGINT) AS n_part_suppliers
              FROM p GROUP BY 1 ORDER BY share_band""")),

    // ── discount-band economics ──────────────────────────────────────────
    // Per discount band (exact integer percent — round, identical in
    // both engines for the non-negative domain): volume, gross and
    // discounted revenue, realized margin give-up. ONE partial+final
    // agg over lineitem; money exact through DECIMAL carriers.
    Q("q_discount_band",
      (s, dir) => t(s, dir, "lineitem")
        .select(round(col("l_discount") * 100).cast("long").as("band"),
          dec2(col("l_extendedprice")).as("p"),
          (dec2(col("l_extendedprice"))
            * (lit(1.0) - col("l_discount")).cast(DecimalType(18, 2)))
            .as("disc_p"))
        .groupBy("band")
        .agg(count(lit(1)).as("n_lines"),
          sum(col("p")).cast("double").as("gross"),
          sum(col("disc_p")).cast("double").as("net"))
        .orderBy("band"),
      Some("""SELECT CAST(round(l_discount * 100, 0) AS BIGINT) AS band,
                count(*) AS n_lines,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                  AS DOUBLE) AS gross,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                  * CAST(1.0 - l_discount AS DECIMAL(18,2)))
                  AS DOUBLE) AS net
              FROM lineitem GROUP BY 1 ORDER BY band""")),

    // ── grouped exact percentiles (p50/p90/p99 per event type) ──────────
    // The per-segment latency-percentile shape, with a FEW-group key
    // (5 event types): a native percentile window would sort a fifth of
    // the stream on one task — the rank rides RangeRank's 2-pass
    // row_number at cluster parallelism instead, and the three discrete
    // percentiles are rank-select filters (FP-free: rn = ceil(q·n) in
    // the integer domain). Cents-exact values; 5×3 output rows.
    Q("q_group_percentiles",
      (s, dir) => {
        val base = t(s, dir, "events")
          .select(col("event_type"),
            (dec2(col("value")) * 100).cast("long").as("cents"),
            col("event_id"))
        val ranked = RangeRank.ranked(base, Seq("event_type"),
          Seq(col("cents"), col("event_id")))
        ranked
          .select(col("event_type"), col("cents"), col("rn"), col("n"))
          .filter(col("rn") === expr("(n * 50 + 99) div 100")
            || col("rn") === expr("(n * 90 + 99) div 100")
            || col("rn") === expr("(n * 99 + 99) div 100"))
          .select(col("event_type"),
            when(col("rn") === expr("(n * 50 + 99) div 100"), 50L)
              .when(col("rn") === expr("(n * 90 + 99) div 100"), 90L)
              .otherwise(99L).as("pct"),
            (col("cents").cast("double") / 100.0).as("value"))
          .groupBy("event_type", "pct")
          .agg(min(col("value")).as("value"))
          .orderBy("event_type", "pct")
      },
      Some("""WITH r AS (
                SELECT event_type,
                  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                    AS cents,
                  CAST(row_number() OVER (PARTITION BY event_type
                    ORDER BY CAST(CAST(value AS DECIMAL(18,2)) * 100
                      AS BIGINT), event_id) AS BIGINT) AS rn,
                  COUNT(*) OVER (PARTITION BY event_type) AS n
                FROM events),
              hits AS (
                SELECT event_type,
                  CASE WHEN rn = (n * 50 + 99) // 100 THEN 50
                       WHEN rn = (n * 90 + 99) // 100 THEN 90
                       ELSE 99 END AS pct,
                  CAST(cents AS DOUBLE) / 100.0 AS value
                FROM r
                WHERE rn = (n * 50 + 99) // 100
                   OR rn = (n * 90 + 99) // 100
                   OR rn = (n * 99 + 99) // 100)
              SELECT event_type, CAST(pct AS BIGINT) AS pct,
                MIN(value) AS value
              FROM hits GROUP BY 1, 2 ORDER BY event_type, pct""")),

    // ── JSON key census over the props column ────────────────────────────
    // Semi-structured observability: which keys does the event payload
    // actually carry, at what fill rate? json_object_keys explodes
    // row-locally; one partial+final agg to the key-vocabulary census.
    // The fill-rate denominator is the 1-row total broadcast.
    Q("q_json_key_census",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val tot = ev.agg(count(lit(1)).as("n_events"))
        ev.select(explode(expr("json_object_keys(props)")).as("key"))
          .groupBy("key").agg(count(lit(1)).as("n"))
          .crossJoin(broadcast(tot))
          .select(col("key"), col("n"),
            (col("n").cast("double") / col("n_events").cast("double"))
              .as("fill_rate"))
          .orderBy("key")
      },
      Some("""WITH k AS (
                SELECT unnest(json_keys(props)) AS key FROM events),
              c AS (SELECT key, CAST(count(*) AS BIGINT) AS n
                    FROM k GROUP BY 1),
              t AS (SELECT count(*) AS n_events FROM events)
              SELECT key, n,
                CAST(n AS DOUBLE) / CAST(n_events AS DOUBLE) AS fill_rate
              FROM c, t ORDER BY key""")),

    // ── nation-pair trade matrix (TPC-H Q7 generalized to the full grid) ─
    // Revenue by (customer nation, supplier nation) — the whole 25×25
    // matrix, not Q7's two-nation slice. Both nation joins are
    // size-gated dim broadcasts; the two fact joins hash-partition on
    // their scaling keys; ONE partial+final agg to the nation² census.
    Q("q_trade_matrix",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey"),
            dec2(col("l_extendedprice")).as("p"))
        val ord = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
        val cust = t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
        val supp = t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(cust, col("o_custkey") === col("c_custkey"))
          .join(supp, col("l_suppkey") === col("s_suppkey"))
          .groupBy(col("c_nationkey").cast("long").as("cust_nation"),
            col("s_nationkey").cast("long").as("supp_nation"))
          .agg(count(lit(1)).as("n_lines"),
            sum(col("p")).cast("double").as("revenue"))
          .orderBy("cust_nation", "supp_nation")
      },
      Some("""SELECT CAST(c_nationkey AS BIGINT) AS cust_nation,
                CAST(s_nationkey AS BIGINT) AS supp_nation,
                count(*) AS n_lines,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                  AS revenue
              FROM lineitem
                JOIN orders ON l_orderkey = o_orderkey
                JOIN customer ON o_custkey = c_custkey
                JOIN supplier ON l_suppkey = s_suppkey
              GROUP BY 1, 2 ORDER BY cust_nation, supp_nation""")),

    // ── customer spend-band migration (H1 → H2 transition matrix) ───────
    // Lifecycle analytics: each customer's log₂ spend band in the first
    // half of the timeline vs the second (band 0 = absent that half);
    // the (from, to) census shows upgrades, churn-to-zero and
    // activations in one readout. Two per-customer censuses off ONE
    // orders scan (CASE-split partial aggs — not two scans), full-outer
    // reconciliation keyed on the scaling custkey, ≤ bands² output.
    Q("q_customer_migration",
      (s, dir) => {
        val cut = lit("1995-07-01").cast("timestamp")
        val per = t(s, dir, "orders")
          .groupBy("o_custkey")
          .agg(
            (sum(when(col("o_orderdate") < cut, dec2(col("o_totalprice")))
              .otherwise(lit(0).cast(DecimalType(18, 2)))) * 100)
              .cast("long").as("c1"),
            (sum(when(col("o_orderdate") >= cut, dec2(col("o_totalprice")))
              .otherwise(lit(0).cast(DecimalType(18, 2)))) * 100)
              .cast("long").as("c2"))
        per.select(
            when(col("c1") === 0, 0L)
              .otherwise(length(bin(col("c1"))).cast("long")).as("band_h1"),
            when(col("c2") === 0, 0L)
              .otherwise(length(bin(col("c2"))).cast("long")).as("band_h2"))
          .groupBy("band_h1", "band_h2")
          .agg(count(lit(1)).as("n_customers"))
          .orderBy("band_h1", "band_h2")
      },
      Some("""WITH per AS (
                SELECT o_custkey,
                  CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP '1995-07-01'
                    THEN CAST(o_totalprice AS DECIMAL(18,2))
                    ELSE CAST(0 AS DECIMAL(18,2)) END) * 100 AS BIGINT) AS c1,
                  CAST(SUM(CASE WHEN o_orderdate >= TIMESTAMP '1995-07-01'
                    THEN CAST(o_totalprice AS DECIMAL(18,2))
                    ELSE CAST(0 AS DECIMAL(18,2)) END) * 100 AS BIGINT) AS c2
                FROM orders GROUP BY 1)
              SELECT CASE WHEN c1 = 0 THEN 0
                       ELSE CAST(length(bin(c1)) AS BIGINT) END AS band_h1,
                CASE WHEN c2 = 0 THEN 0
                  ELSE CAST(length(bin(c2)) AS BIGINT) END AS band_h2,
                count(*) AS n_customers
              FROM per GROUP BY 1, 2 ORDER BY band_h1, band_h2""")),

    // ── Stuart–Maxwell marginal-homogeneity test (first → last order) ───
    // The inferential partner of q_customer_migration's descriptive
    // matrix and of q_bowker_symmetry (Bowker asks "are flows
    // symmetric CELL-wise?"; Stuart–Maxwell asks "did the MARGINS
    // move?" — a population can churn cell-wise yet keep its mix).
    // Paired categorical: each customer's FIRST vs LAST order priority
    // bucket (urgent 1-2 / medium 3 / low 4-5; first/last by
    // (date, orderkey) — deterministic). k = 3 makes the quadratic
    // form d'V⁻¹d CLOSED-FORM on the 2×2 inverse: χ² = (V₂₂d₁² −
    // 2V₁₂d₁d₂ + V₁₁d₂²)/(V₁₁V₂₂ − V₁₂²) with every d and V entry an
    // exact census integer — dec38 through the quadratic form (d² is
    // ~10²⁰ past int64 at 100-TB customer counts), ONE double division.
    // Per-customer first/last ride scaling-key windows; the 3×3 census
    // is 9 rows; dof = 2.
    Q("q_stuart_maxwell",
      (s, dir) => {
        val dec38 = DecimalType(38, 0)
        val wF = Window.partitionBy("o_custkey")
          .orderBy(col("o_orderdate"), col("o_orderkey"))
        val wL = Window.partitionBy("o_custkey")
          .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
        val bucketed = t(s, dir, "orders")
          .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"),
            when(substring(col("o_orderpriority"), 1, 1).isin("1", "2"),
              1L)
              .when(substring(col("o_orderpriority"), 1, 1) === "3", 2L)
              .otherwise(3L).as("b"))
          .withColumn("rf", row_number().over(wF))
          .withColumn("rl", row_number().over(wL))
        val cells = bucketed.filter(col("rf") === 1)
          .select(col("o_custkey"), col("b").as("bf"))
          .join(bucketed.filter(col("rl") === 1)
            .select(col("o_custkey"), col("b").as("bl")), "o_custkey")
          .groupBy("bf", "bl").agg(count(lit(1)).cast("long").as("c"))
        val m = cells.agg(
          sum(col("c")).cast("long").as("n"),
          sum(when(col("bf") === 1, col("c")).otherwise(0L)).cast("long")
            .as("r1"),
          sum(when(col("bf") === 2, col("c")).otherwise(0L)).cast("long")
            .as("r2"),
          sum(when(col("bl") === 1, col("c")).otherwise(0L)).cast("long")
            .as("c1"),
          sum(when(col("bl") === 2, col("c")).otherwise(0L)).cast("long")
            .as("c2"),
          sum(when(col("bf") === 1 && col("bl") === 1, col("c"))
            .otherwise(0L)).cast("long").as("n11"),
          sum(when(col("bf") === 2 && col("bl") === 2, col("c"))
            .otherwise(0L)).cast("long").as("n22"),
          sum(when(col("bf") === 1 && col("bl") === 2, col("c"))
            .otherwise(0L)).cast("long").as("n12"),
          sum(when(col("bf") === 2 && col("bl") === 1, col("c"))
            .otherwise(0L)).cast("long").as("n21"))
        m.select(col("n"),
            (col("r1") - col("c1")).as("d1"),
            (col("r2") - col("c2")).as("d2"),
            (col("r1") + col("c1") - lit(2L) * col("n11")).as("v11"),
            (col("r2") + col("c2") - lit(2L) * col("n22")).as("v22"),
            (-(col("n12") + col("n21"))).as("v12"))
          .select(col("n"), col("d1"), col("d2"),
            (col("v11").cast(dec38) * col("v22")
              - col("v12").cast(dec38) * col("v12")).as("det"),
            (col("v22").cast(dec38) * col("d1") * col("d1")
              - lit(2L).cast(dec38) * col("v12") * col("d1") * col("d2")
              + col("v11").cast(dec38) * col("d2") * col("d2"))
              .as("qf"))
          .select(col("n"), col("d1"), col("d2"),
            col("det").cast("double").as("det"),
            when(col("det") <= 0, lit(null).cast("double"))
              .otherwise(col("qf").cast("double")
                / col("det").cast("double")).as("chi2_sm"))
      },
      Some("""WITH bucketed AS (
                SELECT o_custkey, o_orderdate, o_orderkey,
                  CASE WHEN substring(o_orderpriority, 1, 1) IN ('1','2')
                    THEN 1
                    WHEN substring(o_orderpriority, 1, 1) = '3' THEN 2
                    ELSE 3 END AS b,
                  row_number() OVER (PARTITION BY o_custkey
                    ORDER BY o_orderdate, o_orderkey) AS rf,
                  row_number() OVER (PARTITION BY o_custkey
                    ORDER BY o_orderdate DESC, o_orderkey DESC) AS rl
                FROM orders),
              cells AS (
                SELECT f.b AS bf, l.b AS bl,
                  CAST(count(*) AS BIGINT) AS c
                FROM (SELECT o_custkey, b FROM bucketed WHERE rf = 1) f
                JOIN (SELECT o_custkey, b FROM bucketed WHERE rl = 1) l
                  USING (o_custkey)
                GROUP BY 1, 2),
              m AS (
                SELECT CAST(SUM(c) AS BIGINT) AS n,
                  CAST(SUM(CASE WHEN bf = 1 THEN c ELSE 0 END) AS BIGINT)
                    AS r1,
                  CAST(SUM(CASE WHEN bf = 2 THEN c ELSE 0 END) AS BIGINT)
                    AS r2,
                  CAST(SUM(CASE WHEN bl = 1 THEN c ELSE 0 END) AS BIGINT)
                    AS c1,
                  CAST(SUM(CASE WHEN bl = 2 THEN c ELSE 0 END) AS BIGINT)
                    AS c2,
                  CAST(SUM(CASE WHEN bf = 1 AND bl = 1 THEN c ELSE 0 END)
                    AS BIGINT) AS n11,
                  CAST(SUM(CASE WHEN bf = 2 AND bl = 2 THEN c ELSE 0 END)
                    AS BIGINT) AS n22,
                  CAST(SUM(CASE WHEN bf = 1 AND bl = 2 THEN c ELSE 0 END)
                    AS BIGINT) AS n12,
                  CAST(SUM(CASE WHEN bf = 2 AND bl = 1 THEN c ELSE 0 END)
                    AS BIGINT) AS n21
                FROM cells),
              v AS (
                SELECT n, r1 - c1 AS d1, r2 - c2 AS d2,
                  r1 + c1 - 2 * n11 AS v11,
                  r2 + c2 - 2 * n22 AS v22,
                  -(n12 + n21) AS v12
                FROM m),
              q AS (
                SELECT n, d1, d2,
                  CAST(v11 AS HUGEINT) * v22
                    - CAST(v12 AS HUGEINT) * v12 AS det,
                  CAST(v22 AS HUGEINT) * d1 * d1
                    - CAST(2 AS HUGEINT) * v12 * d1 * d2
                    + CAST(v11 AS HUGEINT) * d2 * d2 AS qf
                FROM v)
              SELECT n, d1, d2, CAST(det AS DOUBLE) AS det,
                CASE WHEN det <= 0 THEN NULL
                  ELSE CAST(qf AS DOUBLE) / CAST(det AS DOUBLE)
                  END AS chi2_sm
              FROM q""")),

    // ── Stuart–Maxwell marginal homogeneity, k = 4 ──────────────────────
    // The r10-scoped seed: the k=3 closed form above generalizes one
    // step — d = (rᵢ−cᵢ)ᵢ₌₁..₃, V the 3×3 covariance (vᵢᵢ = rᵢ+cᵢ−2nᵢᵢ,
    // vᵢⱼ = −(nᵢⱼ+nⱼᵢ)), and χ² = dᵀV⁻¹d computed RATIONALLY through
    // the exact 3×3 adjugate: qf = dᵀ·adj(V)·d and det(V) are integer
    // polynomials of degree 3 in O(n) cell counts — exact in dec38 up
    // to ~10¹² customers (n³ < 10³⁸), far past the 100-TB envelope —
    // and χ² = qf/det is the ONE pinned double division. Beyond k=5
    // the adjugate degree would outgrow dec38; that k would drop to
    // pinned doubles (documented wall, not needed for the 5-priority
    // domain). Same first/last-order transition frame as k=3; buckets
    // 1/2/3/rest.
    Q("q_stuart_maxwell4",
      (s, dir) => {
        val dec38 = DecimalType(38, 0)
        val wF = Window.partitionBy("o_custkey")
          .orderBy(col("o_orderdate"), col("o_orderkey"))
        val wL = Window.partitionBy("o_custkey")
          .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
        val bucketed = t(s, dir, "orders")
          .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"),
            when(substring(col("o_orderpriority"), 1, 1) === "1", 1L)
              .when(substring(col("o_orderpriority"), 1, 1) === "2", 2L)
              .when(substring(col("o_orderpriority"), 1, 1) === "3", 3L)
              .otherwise(4L).as("b"))
          .withColumn("rf", row_number().over(wF))
          .withColumn("rl", row_number().over(wL))
        val cells = bucketed.filter(col("rf") === 1)
          .select(col("o_custkey"), col("b").as("bf"))
          .join(bucketed.filter(col("rl") === 1)
            .select(col("o_custkey"), col("b").as("bl")), "o_custkey")
          .groupBy("bf", "bl").agg(count(lit(1)).cast("long").as("c"))
        def rsum(i: Int) = sum(when(col("bf") === i, col("c"))
          .otherwise(0L)).cast("long").as(s"r$i")
        def csum(i: Int) = sum(when(col("bl") === i, col("c"))
          .otherwise(0L)).cast("long").as(s"c$i")
        def nij(i: Int, j: Int) =
          sum(when(col("bf") === i && col("bl") === j, col("c"))
            .otherwise(0L)).cast("long").as(s"n$i$j")
        val m = cells.agg(sum(col("c")).cast("long").as("n"),
          rsum(1), rsum(2), rsum(3), csum(1), csum(2), csum(3),
          nij(1, 1), nij(2, 2), nij(3, 3),
          nij(1, 2), nij(2, 1), nij(1, 3), nij(3, 1), nij(2, 3),
          nij(3, 2))
        val v = m.select(col("n"),
          (col("r1") - col("c1")).as("d1"),
          (col("r2") - col("c2")).as("d2"),
          (col("r3") - col("c3")).as("d3"),
          (col("r1") + col("c1") - lit(2L) * col("n11")).cast(dec38)
            .as("v11"),
          (col("r2") + col("c2") - lit(2L) * col("n22")).cast(dec38)
            .as("v22"),
          (col("r3") + col("c3") - lit(2L) * col("n33")).cast(dec38)
            .as("v33"),
          (-(col("n12") + col("n21"))).cast(dec38).as("v12"),
          (-(col("n13") + col("n31"))).cast(dec38).as("v13"),
          (-(col("n23") + col("n32"))).cast(dec38).as("v23"))
        val co = v.select(col("n"), col("d1"), col("d2"), col("d3"),
          col("v11"), col("v12"), col("v13"),
          (col("v22") * col("v33") - col("v23") * col("v23")).as("a11"),
          (col("v11") * col("v33") - col("v13") * col("v13")).as("a22"),
          (col("v11") * col("v22") - col("v12") * col("v12")).as("a33"),
          (negate(col("v12") * col("v33") - col("v13") * col("v23")))
            .as("a12"),
          (col("v12") * col("v23") - col("v22") * col("v13")).as("a13"),
          (negate(col("v11") * col("v23") - col("v12") * col("v13")))
            .as("a23"))
        co.select(col("n"), col("d1"), col("d2"), col("d3"),
            (col("v11") * col("a11") + col("v12") * col("a12")
              + col("v13") * col("a13")).as("det"),
            (col("a11") * col("d1") * col("d1")
              + col("a22") * col("d2") * col("d2")
              + col("a33") * col("d3") * col("d3")
              + lit(2L).cast(dec38) * col("a12") * col("d1") * col("d2")
              + lit(2L).cast(dec38) * col("a13") * col("d1") * col("d3")
              + lit(2L).cast(dec38) * col("a23") * col("d2") * col("d3"))
              .as("qf"))
          .select(col("n"), col("d1"), col("d2"), col("d3"),
            col("det").cast("double").as("det"),
            when(col("det") <= 0, lit(null).cast("double"))
              .otherwise(col("qf").cast("double")
                / col("det").cast("double")).as("chi2_sm4"))
      },
      Some("""WITH bucketed AS (
                SELECT o_custkey, o_orderdate, o_orderkey,
                  CASE substring(o_orderpriority, 1, 1)
                    WHEN '1' THEN 1 WHEN '2' THEN 2 WHEN '3' THEN 3
                    ELSE 4 END AS b,
                  row_number() OVER (PARTITION BY o_custkey
                    ORDER BY o_orderdate, o_orderkey) AS rf,
                  row_number() OVER (PARTITION BY o_custkey
                    ORDER BY o_orderdate DESC, o_orderkey DESC) AS rl
                FROM orders),
              cells AS (
                SELECT f.b AS bf, l.b AS bl,
                  CAST(count(*) AS BIGINT) AS c
                FROM (SELECT o_custkey, b FROM bucketed WHERE rf = 1) f
                JOIN (SELECT o_custkey, b FROM bucketed WHERE rl = 1) l
                  USING (o_custkey)
                GROUP BY 1, 2),
              m AS (
                SELECT CAST(SUM(c) AS BIGINT) AS n,
                  SUM(CASE WHEN bf = 1 THEN c ELSE 0 END) AS r1,
                  SUM(CASE WHEN bf = 2 THEN c ELSE 0 END) AS r2,
                  SUM(CASE WHEN bf = 3 THEN c ELSE 0 END) AS r3,
                  SUM(CASE WHEN bl = 1 THEN c ELSE 0 END) AS c1,
                  SUM(CASE WHEN bl = 2 THEN c ELSE 0 END) AS c2,
                  SUM(CASE WHEN bl = 3 THEN c ELSE 0 END) AS c3,
                  SUM(CASE WHEN bf = 1 AND bl = 1 THEN c ELSE 0 END) AS n11,
                  SUM(CASE WHEN bf = 2 AND bl = 2 THEN c ELSE 0 END) AS n22,
                  SUM(CASE WHEN bf = 3 AND bl = 3 THEN c ELSE 0 END) AS n33,
                  SUM(CASE WHEN bf = 1 AND bl = 2 THEN c ELSE 0 END) AS n12,
                  SUM(CASE WHEN bf = 2 AND bl = 1 THEN c ELSE 0 END) AS n21,
                  SUM(CASE WHEN bf = 1 AND bl = 3 THEN c ELSE 0 END) AS n13,
                  SUM(CASE WHEN bf = 3 AND bl = 1 THEN c ELSE 0 END) AS n31,
                  SUM(CASE WHEN bf = 2 AND bl = 3 THEN c ELSE 0 END) AS n23,
                  SUM(CASE WHEN bf = 3 AND bl = 2 THEN c ELSE 0 END) AS n32
                FROM cells),
              v AS (
                SELECT n,
                  CAST(r1 - c1 AS BIGINT) AS d1,
                  CAST(r2 - c2 AS BIGINT) AS d2,
                  CAST(r3 - c3 AS BIGINT) AS d3,
                  CAST(r1 + c1 - 2 * n11 AS HUGEINT) AS v11,
                  CAST(r2 + c2 - 2 * n22 AS HUGEINT) AS v22,
                  CAST(r3 + c3 - 2 * n33 AS HUGEINT) AS v33,
                  CAST(-(n12 + n21) AS HUGEINT) AS v12,
                  CAST(-(n13 + n31) AS HUGEINT) AS v13,
                  CAST(-(n23 + n32) AS HUGEINT) AS v23
                FROM m),
              co AS (
                SELECT n, d1, d2, d3, v11, v12, v13,
                  v22 * v33 - v23 * v23 AS a11,
                  v11 * v33 - v13 * v13 AS a22,
                  v11 * v22 - v12 * v12 AS a33,
                  -(v12 * v33 - v13 * v23) AS a12,
                  v12 * v23 - v22 * v13 AS a13,
                  -(v11 * v23 - v12 * v13) AS a23
                FROM v),
              q AS (
                SELECT n, d1, d2, d3,
                  v11 * a11 + v12 * a12 + v13 * a13 AS det,
                  a11 * d1 * d1 + a22 * d2 * d2 + a33 * d3 * d3
                    + 2 * a12 * d1 * d2 + 2 * a13 * d1 * d3
                    + 2 * a23 * d2 * d3 AS qf
                FROM co)
              SELECT n, d1, d2, d3, CAST(det AS DOUBLE) AS det,
                CASE WHEN det <= 0 THEN NULL
                  ELSE CAST(qf AS DOUBLE) / CAST(det AS DOUBLE)
                  END AS chi2_sm4
              FROM q""")),

    // ── return rate by brand ─────────────────────────────────────────────
    // Product-quality lens: per part brand, the returned-line share and
    // returned-revenue share. One size-gated lineitem × part join
    // (part SCALES with SF — no hint, the q_promo_share discipline),
    // ONE partial+final agg to the brand census; shares are IEEE
    // divisions of exact counts/cents.
    Q("q_returns_by_brand",
      (s, dir) => t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_returnflag"),
          dec2(col("l_extendedprice")).as("p"))
        .join(t(s, dir, "part").select(col("p_partkey"), col("p_brand")),
          col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_lines"),
          sum(when(col("l_returnflag") === "R", 1L).otherwise(0L))
            .as("n_returned"),
          (sum(col("p")) * 100).cast("long").as("cents"),
          (sum(when(col("l_returnflag") === "R", col("p"))
            .otherwise(lit(0).cast(DecimalType(18, 2)))) * 100)
            .cast("long").as("ret_cents"))
        .select(col("p_brand"), col("n_lines"), col("n_returned"),
          (col("n_returned").cast("double") / col("n_lines").cast("double"))
            .as("return_rate"),
          (col("ret_cents").cast("double") / col("cents").cast("double"))
            .as("returned_rev_share"))
        .orderBy("p_brand"),
      Some("""SELECT p_brand, count(*) AS n_lines,
                CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_returned,
                CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*) AS return_rate,
                CAST(CAST(SUM(CASE WHEN l_returnflag = 'R'
                    THEN CAST(l_extendedprice AS DECIMAL(18,2))
                    ELSE CAST(0 AS DECIMAL(18,2)) END) * 100 AS BIGINT)
                  AS DOUBLE)
                / CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                    * 100 AS BIGINT) AS DOUBLE) AS returned_rev_share
              FROM lineitem JOIN part ON l_partkey = p_partkey
              GROUP BY 1 ORDER BY p_brand""")),

    // ── deep-discount anomaly census (statistical outlier flags) ─────────
    // Lines discounted more than 2σ above their part type's mean — the
    // pricing-integrity sweep. Per-type moments come from ONE exact
    // integer-sum census (discount as exact basis points); the
    // threshold compare runs row-side against the broadcast ≤|p_type|
    // moment frame. Both engines derive identical doubles from
    // identical integers, so the 2σ boundary cannot flip between them.
    Q("q_deep_discount",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .select(col("l_partkey"),
            round(col("l_discount") * 10000).cast("long").as("bp"))
          .join(t(s, dir, "part").select(col("p_partkey"), col("p_type")),
            col("l_partkey") === col("p_partkey"))
          .select(col("p_type"), col("bp"))
          .persist()
        // Σbp and Σbp² in DECIMAL(38,0): bp² reaches 1e8 per row, so a
        // plain long sum wraps silently past ~9e10 rows per type — the
        // same dec38/HUGEINT discipline as the neighboring moment
        // censuses (ADVICE r6).
        val stats = li.groupBy("p_type")
          .agg(count(lit(1)).as("n"),
            sum(col("bp").cast(DecimalType(38, 0))).as("s"),
            sum((col("bp") * col("bp")).cast(DecimalType(38, 0))).as("ss"))
          .select(col("p_type").as("t2"),
            (col("s").cast("double") / col("n").cast("double")).as("mean_bp"),
            sqrt((col("ss").cast("double") / col("n").cast("double"))
              - (col("s").cast("double") / col("n").cast("double"))
              * (col("s").cast("double") / col("n").cast("double")))
              .as("sd_bp"))
        li.join(broadcast(stats), col("p_type") === col("t2"))
          .groupBy("p_type")
          .agg(count(lit(1)).as("n_lines"),
            sum(when(col("bp").cast("double")
              > col("mean_bp") + col("sd_bp") * 2.0, 1L).otherwise(0L))
              .as("n_deep"))
          .select(col("p_type"), col("n_lines"), col("n_deep"),
            (col("n_deep").cast("double") / col("n_lines").cast("double"))
              .as("deep_share"))
          .orderBy("p_type")
      },
      Some("""WITH li AS (
                SELECT p_type,
                  CAST(round(l_discount * 10000, 0) AS BIGINT) AS bp
                FROM lineitem JOIN part ON l_partkey = p_partkey),
              stats AS (
                SELECT p_type,
                  CAST(SUM(CAST(bp AS HUGEINT)) AS DOUBLE) / count(*)
                    AS mean_bp,
                  sqrt(CAST(SUM(CAST(bp AS HUGEINT) * bp) AS DOUBLE)
                      / count(*)
                    - (CAST(SUM(CAST(bp AS HUGEINT)) AS DOUBLE) / count(*))
                    * (CAST(SUM(CAST(bp AS HUGEINT)) AS DOUBLE) / count(*)))
                    AS sd_bp
                FROM li GROUP BY 1)
              SELECT li.p_type, count(*) AS n_lines,
                CAST(SUM(CASE WHEN CAST(bp AS DOUBLE)
                    > mean_bp + 2.0 * sd_bp THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_deep,
                CAST(SUM(CASE WHEN CAST(bp AS DOUBLE)
                    > mean_bp + 2.0 * sd_bp THEN 1 ELSE 0 END) AS DOUBLE)
                  / count(*) AS deep_share
              FROM li JOIN stats ON li.p_type = stats.p_type
              GROUP BY 1 ORDER BY li.p_type""")),

    // ── Cramér's V: segment × order-priority association ────────────────
    // The categorical-association statistic. One scaling join (customer
    // grows with SF — size-gated, no hint) folds to the ≤5×5 cell
    // census; marginals are windows over the census, NOT extra scans.
    // χ² per-cell terms: (c·n − cx·cy) stays exact in BIGINT (≤3.6e11
    // at ×8 — no overflow), squares/divides as IEEE doubles from
    // identical integers, rounds to 12 decimals, and crosses the final
    // sum through the position-pinned fold (the q_mutual_info libm
    // discipline) so 25 doubles cannot re-associate between engines.
    Q("q_cramers_v",
      (s, dir) => {
        val wAll = Window.partitionBy()
        val wX = Window.partitionBy("seg")
        val wY = Window.partitionBy("prio")
        t(s, dir, "orders")
          .select(col("o_custkey"), col("o_orderpriority").as("prio"))
          .join(t(s, dir, "customer")
            .select(col("c_custkey"), col("c_mktsegment").as("seg")),
            col("o_custkey") === col("c_custkey"))
          .groupBy("seg", "prio").agg(count(lit(1)).as("c"))
          .select(col("seg"), col("prio"), col("c"),
            sum(col("c")).over(wX).cast("long").as("cx"),
            sum(col("c")).over(wY).cast("long").as("cy"),
            sum(col("c")).over(wAll).cast("long").as("n"))
          .select(col("seg"), col("prio"), col("n"),
            round((col("c") * col("n") - col("cx") * col("cy"))
                .cast("double") * (col("c") * col("n")
                - col("cx") * col("cy")).cast("double")
              / (col("n").cast("double") * col("cx").cast("double")
                * col("cy").cast("double")), 12).as("term"))
          .agg(max(col("n")).as("n"),
            countDistinct(col("seg")).cast("long").as("r"),
            countDistinct(col("prio")).cast("long").as("cc"),
            round(expr(
              """aggregate(array_sort(collect_list(struct(seg, prio, term))),
                   CAST(0 AS DOUBLE), (a, x) -> a + x.term)"""), 12)
              .as("chi2"))
          .select(col("n"), col("r"), col("cc").as("c"), col("chi2"),
            sqrt(col("chi2") / (col("n").cast("double")
              * least(col("r") - 1, col("cc") - 1).cast("double")))
              .as("cramers_v"))
      },
      Some("""WITH cells AS (
                SELECT c_mktsegment AS seg, o_orderpriority AS prio,
                  CAST(count(*) AS BIGINT) AS c
                FROM orders JOIN customer ON o_custkey = c_custkey
                GROUP BY 1, 2),
              m AS (
                SELECT seg, prio, c,
                  CAST(SUM(c) OVER (PARTITION BY seg) AS BIGINT) AS cx,
                  CAST(SUM(c) OVER (PARTITION BY prio) AS BIGINT) AS cy,
                  CAST(SUM(c) OVER () AS BIGINT) AS n
                FROM cells),
              terms AS (
                SELECT seg, prio, n,
                  round(CAST(c * n - cx * cy AS DOUBLE)
                      * CAST(c * n - cx * cy AS DOUBLE)
                    / (CAST(n AS DOUBLE) * CAST(cx AS DOUBLE)
                      * CAST(cy AS DOUBLE)), 12) AS term
                FROM m),
              agg AS (
                SELECT CAST(MAX(n) AS BIGINT) AS n,
                  CAST(count(DISTINCT seg) AS BIGINT) AS r,
                  CAST(count(DISTINCT prio) AS BIGINT) AS c,
                  round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(term ORDER BY seg, prio)), (a, x) -> a + x), 12)
                    AS chi2
                FROM terms)
              SELECT n, r, c, chi2,
                sqrt(chi2 / (CAST(n AS DOUBLE)
                  * CAST(least(r - 1, c - 1) AS DOUBLE))) AS cramers_v
              FROM agg""")),

    // ── customer spend-decile transition (H1 → H2) ──────────────────────
    // The data-driven twin of q_customer_migration: deciles are ranked
    // within each half (not fixed log₂ bands), so the matrix reads as
    // relative movement. Each half's data-sized total order rides
    // RangeRank's range exchange (custkey tiebreak = total order ⇒
    // NTILE-free determinism); customers absent a half land in decile
    // 0. ONE orders scan (CASE-split halves, persisted), ≤11² output.
    Q("q_decile_transition",
      (s, dir) => {
        val cut = lit("1995-07-01").cast("timestamp")
        val per = t(s, dir, "orders")
          .groupBy("o_custkey")
          .agg(
            (sum(when(col("o_orderdate") < cut, dec2(col("o_totalprice")))
              .otherwise(lit(0).cast(DecimalType(18, 2)))) * 100)
              .cast("long").as("c1"),
            (sum(when(col("o_orderdate") >= cut, dec2(col("o_totalprice")))
              .otherwise(lit(0).cast(DecimalType(18, 2)))) * 100)
              .cast("long").as("c2"))
          .persist()
        def deciles(cents: String, out: String) =
          RangeRank.ranked(
              per.filter(col(cents) > 0).select(col("o_custkey"), col(cents)),
              Seq.empty, Seq(col(cents).desc, col("o_custkey")))
            .select(col("o_custkey"),
              expr("(rn - 1) * 10 div n + 1").as(out))
        per.select(col("o_custkey"))
          .join(deciles("c1", "d1"), Seq("o_custkey"), "left")
          .join(deciles("c2", "d2"), Seq("o_custkey"), "left")
          .select(coalesce(col("d1"), lit(0L)).as("decile_h1"),
            coalesce(col("d2"), lit(0L)).as("decile_h2"))
          .groupBy("decile_h1", "decile_h2")
          .agg(count(lit(1)).as("n_customers"))
          .orderBy("decile_h1", "decile_h2")
      },
      Some("""WITH per AS (
                SELECT o_custkey,
                  CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP '1995-07-01'
                    THEN CAST(o_totalprice AS DECIMAL(18,2))
                    ELSE CAST(0 AS DECIMAL(18,2)) END) * 100 AS BIGINT) AS c1,
                  CAST(SUM(CASE WHEN o_orderdate >= TIMESTAMP '1995-07-01'
                    THEN CAST(o_totalprice AS DECIMAL(18,2))
                    ELSE CAST(0 AS DECIMAL(18,2)) END) * 100 AS BIGINT) AS c2
                FROM orders GROUP BY 1),
              d1 AS (
                SELECT o_custkey,
                  (CAST(row_number() OVER (ORDER BY c1 DESC, o_custkey)
                    AS BIGINT) - 1) * 10 // COUNT(*) OVER () + 1 AS d1
                FROM per WHERE c1 > 0),
              d2 AS (
                SELECT o_custkey,
                  (CAST(row_number() OVER (ORDER BY c2 DESC, o_custkey)
                    AS BIGINT) - 1) * 10 // COUNT(*) OVER () + 1 AS d2
                FROM per WHERE c2 > 0)
              SELECT coalesce(d1, 0) AS decile_h1,
                coalesce(d2, 0) AS decile_h2,
                count(*) AS n_customers
              FROM per
                LEFT JOIN d1 ON per.o_custkey = d1.o_custkey
                LEFT JOIN d2 ON per.o_custkey = d2.o_custkey
              GROUP BY 1, 2 ORDER BY decile_h1, decile_h2""")),

    // ── discount vs order-quantity curve ─────────────────────────────────
    // Pricing-policy lens: does the discount actually rise with volume?
    // Quantity is integral by generation, so the census key is an exact
    // cast; discounts aggregate as exact basis points (one partial+final
    // agg, ≤50 groups), and the averages are single IEEE divisions of
    // identical integers.
    Q("q_discount_quantity_curve",
      (s, dir) => t(s, dir, "lineitem")
        .groupBy(col("l_quantity").cast("long").as("quantity"))
        .agg(count(lit(1)).as("n_lines"),
          sum(round(col("l_discount") * 10000).cast("long")).as("bp"),
          (sum(dec2(col("l_extendedprice"))) * 100).cast("long").as("cents"))
        .select(col("quantity"), col("n_lines"),
          (col("bp").cast("double") / col("n_lines").cast("double")
            / 10000.0).as("avg_discount"),
          (col("cents").cast("double") / col("n_lines").cast("double")
            / 100.0).as("avg_price"))
        .orderBy("quantity"),
      Some("""SELECT CAST(l_quantity AS BIGINT) AS quantity,
                count(*) AS n_lines,
                CAST(SUM(CAST(round(l_discount * 10000, 0) AS BIGINT))
                  AS DOUBLE) / count(*) / 10000.0 AS avg_discount,
                CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) * 100
                  AS BIGINT) AS DOUBLE) / count(*) / 100.0 AS avg_price
              FROM lineitem GROUP BY 1 ORDER BY quantity""")),

    // ── revenue waterfall by ship year ───────────────────────────────────
    // The finance decomposition: gross → −discount → net → +tax →
    // charged, per year. One scan, ONE partial+final agg carrying all
    // five decimal sums (the q_pricing_summary exactness discipline:
    // every product stays DECIMAL until the final double surfacing, so
    // summation order cannot drift between engines).
    Q("q_margin_waterfall",
      (s, dir) => t(s, dir, "lineitem")
        .groupBy(year(col("l_shipdate")).cast("long").as("ship_year"))
        .agg(count(lit(1)).as("n_lines"),
          sumDec2(col("l_extendedprice")).as("gross"),
          sum(dec2(col("l_extendedprice")) * dec2(col("l_discount")))
            .cast("double").as("discount_amt"),
          sum(dec2(col("l_extendedprice"))
            * (lit(1) - dec2(col("l_discount"))))
            .cast("double").as("net"),
          sum((dec2(col("l_extendedprice"))
              * (lit(1) - dec2(col("l_discount")))).cast(DecimalType(18, 4))
            * dec2(col("l_tax"))).cast("double").as("tax_amt"),
          sum((dec2(col("l_extendedprice"))
              * (lit(1) - dec2(col("l_discount")))).cast(DecimalType(18, 4))
            * (lit(1) + dec2(col("l_tax")))).cast("double").as("charged"))
        .orderBy("ship_year"),
      Some("""SELECT CAST(year(l_shipdate) AS BIGINT) AS ship_year,
                count(*) AS n_lines,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                  AS gross,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                  * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE)
                  AS discount_amt,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                  * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
                  AS net,
                CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))
                    AS DECIMAL(18,4))
                  * CAST(l_tax AS DECIMAL(18,2))) AS DOUBLE) AS tax_amt,
                CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))
                    AS DECIMAL(18,4))
                  * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE)
                  AS charged
              FROM lineitem GROUP BY 1 ORDER BY ship_year""")),

    // ── order-value dispersion per market segment ────────────────────────
    // Coefficient of variation of order values: the risk/heterogeneity
    // readout per segment. One scaling join (customer grows — size-
    // gated) into a 5-group moment census; Σd² rides a DECIMAL(38,0)
    // sum (HUGEINT in the oracle) so the moments stay exact at any
    // volume; sd/mean are IEEE ops on identical exact integers.
    Q("q_order_value_cv",
      (s, dir) => t(s, dir, "orders")
        .select(col("o_custkey"),
          expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as long) " +
            "div 100").as("d"))
        .join(t(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment").as("segment")),
          col("o_custkey") === col("c_custkey"))
        .groupBy("segment")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("d")).cast("long").as("s"),
          sum((col("d") * col("d")).cast(DecimalType(38, 0))).as("ss"))
        .select(col("segment"), col("n_orders"),
          (col("s").cast("double") / col("n_orders").cast("double"))
            .as("mean_dollars"),
          (sqrt(col("ss").cast("double") / col("n_orders").cast("double")
            - (col("s").cast("double") / col("n_orders").cast("double"))
            * (col("s").cast("double") / col("n_orders").cast("double")))
            / (col("s").cast("double") / col("n_orders").cast("double")))
            .as("cv"))
        .orderBy("segment"),
      Some("""WITH o AS (
                SELECT o_custkey,
                  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                    // 100 AS d
                FROM orders),
              m AS (
                SELECT c_mktsegment AS segment, count(*) AS n_orders,
                  CAST(SUM(d) AS BIGINT) AS s,
                  SUM(CAST(d * d AS HUGEINT)) AS ss
                FROM o JOIN customer ON o_custkey = c_custkey
                GROUP BY 1)
              SELECT segment, n_orders,
                CAST(s AS DOUBLE) / n_orders AS mean_dollars,
                sqrt(CAST(ss AS DOUBLE) / n_orders
                  - (CAST(s AS DOUBLE) / n_orders)
                  * (CAST(s AS DOUBLE) / n_orders))
                  / (CAST(s AS DOUBLE) / n_orders) AS cv
              FROM m ORDER BY segment""")),

    // ── brand-pair basket affinity ───────────────────────────────────────
    // Market-basket lift at the BRAND level: the alphabet (≤25 brands)
    // bounds per-order fan-out at C(25,2) with no cap needed — the
    // q_also_bought shape where the key space itself is the guard. The
    // pair counts, brand marginals and order total are cells of the
    // pinned brand-basket census (Censuses.brandBaskets); the query is a
    // row-local finish over its pair cells.
    Q("q_brand_affinity",
      (s, dir) => Censuses.brandBaskets(s, dir)
        .filter(col("b").isNotNull)
        .select(col("a").as("ba"), col("b").as("bb"), col("n").as("n_both"),
          (col("n").cast("double") * col("n_all").cast("double")
            / (col("n_a").cast("double") * col("n_b").cast("double")))
            .as("lift"))
        .orderBy("ba", "bb"),
      Some("""WITH ob AS (
                SELECT DISTINCT l_orderkey, p_brand
                FROM lineitem JOIN part ON l_partkey = p_partkey),
              pairs AS (
                SELECT a.p_brand AS ba, b.p_brand AS bb,
                  CAST(count(*) AS BIGINT) AS n_both
                FROM ob a JOIN ob b ON a.l_orderkey = b.l_orderkey
                  AND a.p_brand < b.p_brand
                GROUP BY 1, 2),
              sz AS (SELECT p_brand, CAST(count(*) AS BIGINT) AS n
                     FROM ob GROUP BY 1),
              tot AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT)
                        AS n_orders FROM ob)
              SELECT ba, bb, n_both,
                CAST(n_both AS DOUBLE) * CAST(n_orders AS DOUBLE)
                  / (CAST(za.n AS DOUBLE) * CAST(zb.n AS DOUBLE)) AS lift
              FROM pairs JOIN sz za ON ba = za.p_brand
                JOIN sz zb ON bb = zb.p_brand, tot
              ORDER BY ba, bb""")),

    // ── customer spend-rank stability (Spearman H1 vs H2) ───────────────
    // One number for "do the same customers stay big?": Spearman's ρ of
    // H1 vs H2 spend ranks over customers active in BOTH halves. Each
    // half's total order rides RangeRank (custkey tiebreak = a total
    // order, the documented tie rule — identical in the oracle, so
    // parity is by construction); Σd² crosses the shuffle as
    // DECIMAL(38,0)/HUGEINT; ρ's denominator n(n²−1) is evaluated in
    // doubles (n³ overflows int64 at ~10⁹ customers).
    Q("q_spearman_customers",
      (s, dir) => {
        val cut = lit("1995-07-01").cast("timestamp")
        val per = t(s, dir, "orders")
          .groupBy("o_custkey")
          .agg(
            (sum(when(col("o_orderdate") < cut, dec2(col("o_totalprice")))
              .otherwise(lit(0).cast(DecimalType(18, 2)))) * 100)
              .cast("long").as("c1"),
            (sum(when(col("o_orderdate") >= cut, dec2(col("o_totalprice")))
              .otherwise(lit(0).cast(DecimalType(18, 2)))) * 100)
              .cast("long").as("c2"))
          .filter(col("c1") > 0 && col("c2") > 0)
          .persist()
        def rk(c: String, out: String) =
          RangeRank.ranked(per.select(col("o_custkey"), col(c)),
              Seq.empty, Seq(col(c), col("o_custkey")), nName = None)
            .select(col("o_custkey"), col("rn").as(out))
        rk("c1", "r1").join(rk("c2", "r2"), "o_custkey")
          .select(((col("r1") - col("r2")) * (col("r1") - col("r2")))
            .cast(DecimalType(38, 0)).as("d2"))
          .agg(count(lit(1)).as("n_customers"),
            sum(col("d2")).cast("double").as("sum_d2"))
          .select(col("n_customers"), col("sum_d2"),
            (lit(1.0) - lit(6.0) * col("sum_d2")
              / (col("n_customers").cast("double")
                * (col("n_customers").cast("double")
                  * col("n_customers").cast("double") - 1.0))).as("rho"))
      },
      Some("""WITH per AS (
                SELECT o_custkey,
                  CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP '1995-07-01'
                    THEN CAST(o_totalprice AS DECIMAL(18,2))
                    ELSE CAST(0 AS DECIMAL(18,2)) END) * 100 AS BIGINT) AS c1,
                  CAST(SUM(CASE WHEN o_orderdate >= TIMESTAMP '1995-07-01'
                    THEN CAST(o_totalprice AS DECIMAL(18,2))
                    ELSE CAST(0 AS DECIMAL(18,2)) END) * 100 AS BIGINT) AS c2
                FROM orders GROUP BY 1),
              b AS (SELECT * FROM per WHERE c1 > 0 AND c2 > 0),
              r AS (
                SELECT o_custkey,
                  CAST(row_number() OVER (ORDER BY c1, o_custkey) AS BIGINT)
                    AS r1,
                  CAST(row_number() OVER (ORDER BY c2, o_custkey) AS BIGINT)
                    AS r2
                FROM b),
              d AS (
                SELECT count(*) AS n_customers,
                  CAST(SUM(CAST((r1 - r2) * (r1 - r2) AS HUGEINT))
                    AS DOUBLE) AS sum_d2
                FROM r)
              SELECT n_customers, sum_d2,
                1.0 - 6.0 * sum_d2 / (CAST(n_customers AS DOUBLE)
                  * (CAST(n_customers AS DOUBLE)
                    * CAST(n_customers AS DOUBLE) - 1.0)) AS rho
              FROM d""")),

    // ── supplier-nation revenue trend (grouped OLS over years) ──────────
    // Trend mining: per supplier nation, the OLS slope of yearly
    // revenue — which nations are growing? The q_price_elasticity
    // five-integer-sum discipline on the (nation, year) census: slope
    // arithmetic runs on exact BIGINT sums (x = year−1995 ≤ 7), one
    // IEEE division at the end. Supplier join is un-hinted (scales).
    Q("q_supplier_trend",
      (s, dir) => {
        val cen = t(s, dir, "lineitem")
          .select(col("l_suppkey"), col("l_shipdate"),
            dec2(col("l_extendedprice")).as("p"))
          .join(t(s, dir, "supplier")
            .select(col("s_suppkey"), col("s_nationkey")),
            col("l_suppkey") === col("s_suppkey"))
          .groupBy(col("s_nationkey").cast("long").as("nation"),
            (year(col("l_shipdate")) - 1995).cast("long").as("x"))
          .agg(expr("cast(cast(sum(p) * 100 as long) div 100 as long)")
            .as("y"))
        cen.groupBy("nation")
          .agg(count(lit(1)).as("n_years"),
            sum(col("x")).as("sx"), sum(col("y")).as("sy"),
            sum(col("x") * col("x")).as("sxx"),
            sum(col("x") * col("y")).as("sxy"))
          .select(col("nation"), col("n_years"),
            col("sy").cast("long").as("total_dollars"),
            when(col("n_years") * col("sxx") - col("sx") * col("sx") === 0,
              lit(null).cast("double"))
              .otherwise((col("n_years") * col("sxy")
                - col("sx") * col("sy")).cast("double")
                / (col("n_years") * col("sxx")
                  - col("sx") * col("sx")).cast("double"))
              .as("slope_dollars_per_year"))
          .orderBy("nation")
      },
      Some("""WITH cen AS (
                SELECT CAST(s_nationkey AS BIGINT) AS nation,
                  CAST(year(l_shipdate) - 1995 AS BIGINT) AS x,
                  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) * 100
                    AS BIGINT) // 100 AS y
                FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
                GROUP BY 1, 2)
              SELECT nation, count(*) AS n_years,
                CAST(SUM(y) AS BIGINT) AS total_dollars,
                CASE WHEN count(*) * SUM(x * x) - SUM(x) * SUM(x) = 0
                  THEN NULL
                  ELSE CAST(count(*) * SUM(x * y) - SUM(x) * SUM(y)
                    AS DOUBLE)
                    / CAST(count(*) * SUM(x * x) - SUM(x) * SUM(x)
                      AS DOUBLE) END AS slope_dollars_per_year
              FROM cen GROUP BY 1 ORDER BY nation""")),

    // ── weekend effect per market segment ────────────────────────────────
    // Does order value differ on weekends? Day-of-week from the
    // engine-neutral (epoch_days + 4) % 7 formula (Spark and DuckDB
    // disagree on dayofweek numbering — the q_tumbling_window rule);
    // ONE CASE-split partial+final agg per segment, exact cents, two
    // guarded IEEE divisions.
    Q("q_weekend_effect",
      (s, dir) => {
        val dow = (datediff(col("o_orderdate").cast("date"),
          lit("1970-01-01").cast("date")) + 4) % 7
        t(s, dir, "orders")
          .select(col("o_custkey"), dec2(col("o_totalprice")).as("p"),
            (dow === 0 || dow === 6).as("is_we"))
          .join(t(s, dir, "customer")
            .select(col("c_custkey"), col("c_mktsegment").as("segment")),
            col("o_custkey") === col("c_custkey"))
          .groupBy("segment")
          .agg(sum(when(col("is_we"), 1L).otherwise(0L)).as("n_we"),
            sum(when(!col("is_we"), 1L).otherwise(0L)).as("n_wd"),
            (sum(when(col("is_we"), col("p"))
              .otherwise(lit(0).cast(DecimalType(18, 2)))) * 100)
              .cast("long").as("we_cents"),
            (sum(when(!col("is_we"), col("p"))
              .otherwise(lit(0).cast(DecimalType(18, 2)))) * 100)
              .cast("long").as("wd_cents"))
          .select(col("segment"), col("n_we"), col("n_wd"),
            when(col("n_we") === 0 || col("n_wd") === 0,
              lit(null).cast("double"))
              .otherwise((col("we_cents").cast("double")
                / col("n_we").cast("double"))
                / (col("wd_cents").cast("double")
                  / col("n_wd").cast("double"))).as("value_ratio"),
            (col("n_we").cast("double")
              / (col("n_we") + col("n_wd")).cast("double"))
              .as("weekend_volume_share"))
          .orderBy("segment")
      },
      Some("""WITH o AS (
                SELECT o_custkey, CAST(o_totalprice AS DECIMAL(18,2)) AS p,
                  (date_diff('day', DATE '1970-01-01',
                    CAST(o_orderdate AS DATE)) + 4) % 7 IN (0, 6) AS is_we
                FROM orders),
              m AS (
                SELECT c_mktsegment AS segment,
                  CAST(SUM(CASE WHEN is_we THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_we,
                  CAST(SUM(CASE WHEN is_we THEN 0 ELSE 1 END) AS BIGINT)
                    AS n_wd,
                  CAST(SUM(CASE WHEN is_we THEN p
                    ELSE CAST(0 AS DECIMAL(18,2)) END) * 100 AS BIGINT)
                    AS we_cents,
                  CAST(SUM(CASE WHEN is_we THEN CAST(0 AS DECIMAL(18,2))
                    ELSE p END) * 100 AS BIGINT) AS wd_cents
                FROM o JOIN customer ON o_custkey = c_custkey
                GROUP BY 1)
              SELECT segment, n_we, n_wd,
                CASE WHEN n_we = 0 OR n_wd = 0 THEN NULL
                  ELSE (CAST(we_cents AS DOUBLE) / n_we)
                    / (CAST(wd_cents AS DOUBLE) / n_wd) END AS value_ratio,
                CAST(n_we AS DOUBLE) / CAST(n_we + n_wd AS DOUBLE)
                  AS weekend_volume_share
              FROM m ORDER BY segment""")),

    // ── catalog cold-start audit ─────────────────────────────────────────
    // Parts that have never shipped a line, by brand — the dead-stock /
    // catalog-coverage readout. LEFT ANTI against the DISTINCT partkey
    // set (the fact table collapses to its key census before the join —
    // at 100 TB the anti-join probe is |parts|, not |lineitem|);
    // brand census output.
    Q("q_cold_start_parts",
      (s, dir) => {
        val part = t(s, dir, "part")
          .select(col("p_partkey"), col("p_brand"))
        val sold = t(s, dir, "lineitem").select(col("l_partkey")).distinct()
        val cold = part.join(sold,
            col("p_partkey") === col("l_partkey"), "left_anti")
          .groupBy("p_brand").agg(count(lit(1)).as("n_cold"))
        part.groupBy("p_brand").agg(count(lit(1)).as("n_parts"))
          .join(cold, Seq("p_brand"), "left")
          .select(col("p_brand"), col("n_parts"),
            coalesce(col("n_cold"), lit(0L)).as("n_cold"),
            (coalesce(col("n_cold"), lit(0L)).cast("double")
              / col("n_parts").cast("double")).as("cold_share"))
          .orderBy("p_brand")
      },
      Some("""WITH sold AS (SELECT DISTINCT l_partkey FROM lineitem),
              cold AS (
                SELECT p_brand, CAST(count(*) AS BIGINT) AS n_cold
                FROM part WHERE p_partkey NOT IN (SELECT * FROM sold)
                GROUP BY 1),
              tot AS (SELECT p_brand, CAST(count(*) AS BIGINT) AS n_parts
                      FROM part GROUP BY 1)
              SELECT tot.p_brand, n_parts,
                coalesce(n_cold, 0) AS n_cold,
                CAST(coalesce(n_cold, 0) AS DOUBLE)
                  / CAST(n_parts AS DOUBLE) AS cold_share
              FROM tot LEFT JOIN cold ON tot.p_brand = cold.p_brand
              ORDER BY tot.p_brand""")),

    // ── order depth ↔ value correlation ─────────────────────────────────
    // Pearson r between lines-per-order and order value. The fact table
    // collapses to a per-order (depth, cents) frame first (co-
    // partitioned fact-fact key), then ONE moment agg: r's six sums
    // stay exact (Σy² and Σxy ride DECIMAL(38,0)/HUGEINT — y is cents),
    // and r is IEEE arithmetic on identical integers.
    Q("q_depth_value_corr",
      (s, dir) => {
        val depth = t(s, dir, "lineitem")
          .groupBy("l_orderkey").agg(count(lit(1)).as("x"))
        val per = t(s, dir, "orders")
          .select(col("o_orderkey"),
            expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as long)" +
              " div 100").as("y"))
          .join(depth, col("o_orderkey") === col("l_orderkey"))
        per.agg(count(lit(1)).as("n"),
            sum(col("x")).as("sx"), sum(col("y")).as("sy"),
            sum(col("x") * col("x")).as("sxx"),
            sum((col("x") * col("y")).cast(DecimalType(38, 0))).as("sxy"),
            sum((col("y") * col("y")).cast(DecimalType(38, 0))).as("syy"))
          .select(col("n"),
            ((col("n").cast("double") * col("sxy").cast("double")
              - col("sx").cast("double") * col("sy").cast("double"))
              / (sqrt(col("n").cast("double") * col("sxx").cast("double")
                  - col("sx").cast("double") * col("sx").cast("double"))
                * sqrt(col("n").cast("double") * col("syy").cast("double")
                  - col("sy").cast("double") * col("sy").cast("double"))))
              .as("pearson_r"))
      },
      Some("""WITH depth AS (
                SELECT l_orderkey, CAST(count(*) AS BIGINT) AS x
                FROM lineitem GROUP BY 1),
              per AS (
                SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) // 100 AS y, x
                FROM orders JOIN depth ON o_orderkey = l_orderkey),
              m AS (
                SELECT count(*) AS n,
                  CAST(SUM(x) AS BIGINT) AS sx,
                  CAST(SUM(y) AS BIGINT) AS sy,
                  CAST(SUM(x * x) AS BIGINT) AS sxx,
                  SUM(CAST(x * y AS HUGEINT)) AS sxy,
                  SUM(CAST(y * y AS HUGEINT)) AS syy
                FROM per)
              SELECT n,
                (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                    - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                  AS pearson_r
              FROM m""")),

    // ── multi-sourcing depth histogram ───────────────────────────────────
    // How many suppliers does each part actually ship from? Distinct
    // (part, supplier) census → per-part supplier count → bounded
    // histogram. The sourcing-resilience twin of
    // q_supplier_concentration (which measures the top supplier's
    // share; this measures the breadth).
    Q("q_multisource_depth",
      (s, dir) => t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey")).distinct()
        .groupBy("l_partkey")
        .agg(count(lit(1)).as("n_suppliers"))
        .groupBy("n_suppliers")
        .agg(count(lit(1)).as("n_parts"))
        .orderBy("n_suppliers"),
      Some("""WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey
                          FROM lineitem),
              d AS (SELECT l_partkey, CAST(count(*) AS BIGINT)
                      AS n_suppliers FROM ps GROUP BY 1)
              SELECT n_suppliers, count(*) AS n_parts
              FROM d GROUP BY 1 ORDER BY n_suppliers""")),

    // ── demand assortment diversity per customer nation ──────────────────
    // Shannon entropy (bits) of the brand mix each customer nation
    // buys — concentrated vs diverse demand. The 4-table chain folds to
    // the ≤nations×brands census; marginals are windows over the
    // census; −p·log₂p terms round to 12 decimals and cross the final
    // per-nation sum through the pinned fold (the q_char_entropy libm
    // discipline).
    Q("q_assortment_entropy",
      (s, dir) => {
        val wN = Window.partitionBy("nation")
        t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_partkey"))
          .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
          .join(t(s, dir, "customer")
            .select(col("c_custkey"), col("c_nationkey")),
            col("o_custkey") === col("c_custkey"))
          .join(t(s, dir, "part").select(col("p_partkey"), col("p_brand")),
            col("l_partkey") === col("p_partkey"))
          .groupBy(col("c_nationkey").cast("long").as("nation"),
            col("p_brand"))
          .agg(count(lit(1)).as("c"))
          .select(col("nation"), col("p_brand"), col("c"),
            sum(col("c")).over(wN).cast("long").as("n"))
          .select(col("nation"), col("p_brand"), col("n"),
            round(-(col("c").cast("double") / col("n").cast("double"))
              * log2(col("c").cast("double") / col("n").cast("double")), 12)
              .as("term"))
          .groupBy("nation")
          .agg(max(col("n")).as("n_lines"),
            count(lit(1)).cast("long").as("n_brands"),
            round(expr(
              """aggregate(array_sort(collect_list(struct(p_brand, term))),
                   CAST(0 AS DOUBLE), (a, x) -> a + x.term)"""), 12)
              .as("entropy_bits"))
          .orderBy("nation")
      },
      Some("""WITH cen AS (
                SELECT CAST(c_nationkey AS BIGINT) AS nation, p_brand,
                  CAST(count(*) AS BIGINT) AS c
                FROM lineitem
                  JOIN orders ON l_orderkey = o_orderkey
                  JOIN customer ON o_custkey = c_custkey
                  JOIN part ON l_partkey = p_partkey
                GROUP BY 1, 2),
              m AS (
                SELECT nation, p_brand, c,
                  CAST(SUM(c) OVER (PARTITION BY nation) AS BIGINT) AS n
                FROM cen),
              terms AS (
                SELECT nation, p_brand, n,
                  round(-(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
                    * log2(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)), 12)
                    AS term
                FROM m)
              SELECT nation, CAST(MAX(n) AS BIGINT) AS n_lines,
                CAST(count(*) AS BIGINT) AS n_brands,
                round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                  list(term ORDER BY p_brand)), (a, x) -> a + x), 12)
                  AS entropy_bits
              FROM terms GROUP BY 1 ORDER BY nation""")),

    // ── referential-integrity orphan audit ───────────────────────────────
    // The FK probes q_constraint_check's declared rules don't cover:
    // per FK edge, how many child rows reference a missing parent? Each
    // probe is a LEFT ANTI against the parent's DISTINCT key census
    // (the q_cold_start_parts discipline — the anti probe carries keys,
    // never rows), unioned into a 4-row verdict frame.
    Q("q_fk_orphans",
      (s, dir) => {
        def orphans(name: String, child: DataFrame, ck: String,
            parent: DataFrame, pk: String) =
          child.select(col(ck)).join(parent.select(col(pk)).distinct(),
              col(ck) === col(pk), "left_anti")
            .agg(count(lit(1)).as("n_orphans"))
            .select(lit(name).as("fk_edge"), col("n_orphans"))
        val li = t(s, dir, "lineitem")
        orphans("lineitem->orders", li, "l_orderkey",
            t(s, dir, "orders"), "o_orderkey")
          .unionByName(orphans("lineitem->part", li, "l_partkey",
            t(s, dir, "part"), "p_partkey"))
          .unionByName(orphans("lineitem->supplier", li, "l_suppkey",
            t(s, dir, "supplier"), "s_suppkey"))
          .unionByName(orphans("orders->customer", t(s, dir, "orders"),
            "o_custkey", t(s, dir, "customer"), "c_custkey"))
          .orderBy("fk_edge")
      },
      Some("""SELECT 'lineitem->orders' AS fk_edge,
                CAST(count(*) AS BIGINT) AS n_orphans
              FROM lineitem
              WHERE l_orderkey NOT IN (SELECT DISTINCT o_orderkey FROM orders)
              UNION ALL
              SELECT 'lineitem->part',
                CAST(count(*) AS BIGINT)
              FROM lineitem
              WHERE l_partkey NOT IN (SELECT DISTINCT p_partkey FROM part)
              UNION ALL
              SELECT 'lineitem->supplier',
                CAST(count(*) AS BIGINT)
              FROM lineitem
              WHERE l_suppkey NOT IN (SELECT DISTINCT s_suppkey FROM supplier)
              UNION ALL
              SELECT 'orders->customer',
                CAST(count(*) AS BIGINT)
              FROM orders
              WHERE o_custkey NOT IN (SELECT DISTINCT c_custkey FROM customer)
              ORDER BY fk_edge""")),

    // ── nation trade self-sufficiency ────────────────────────────────────
    // Per customer nation: what share of its purchased revenue ships
    // from SAME-nation suppliers? The q_trade_matrix 4-table chain with
    // a CASE-split diagonal — one partial+final agg to the ≤25-row
    // census, exact cents until the single share division.
    Q("q_nation_self_sufficiency",
      (s, dir) => t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"),
          dec2(col("l_extendedprice")).as("p"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer")
          .select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(t(s, dir, "supplier")
          .select(col("s_suppkey"), col("s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("c_nationkey").cast("long").as("nation"))
        .agg(count(lit(1)).as("n_lines"),
          (sum(col("p")) * 100).cast("long").as("cents"),
          (sum(when(col("c_nationkey") === col("s_nationkey"), col("p"))
            .otherwise(lit(0).cast(DecimalType(18, 2)))) * 100)
            .cast("long").as("dom_cents"))
        .select(col("nation"), col("n_lines"),
          (col("cents").cast("double") / 100.0).as("revenue"),
          (col("dom_cents").cast("double") / col("cents").cast("double"))
            .as("self_sufficiency"))
        .orderBy("nation"),
      Some("""SELECT CAST(c_nationkey AS BIGINT) AS nation,
                count(*) AS n_lines,
                CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) * 100
                  AS BIGINT) AS DOUBLE) / 100.0 AS revenue,
                CAST(CAST(SUM(CASE WHEN c_nationkey = s_nationkey
                    THEN CAST(l_extendedprice AS DECIMAL(18,2))
                    ELSE CAST(0 AS DECIMAL(18,2)) END) * 100 AS BIGINT)
                  AS DOUBLE)
                / CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                    * 100 AS BIGINT) AS DOUBLE) AS self_sufficiency
              FROM lineitem
                JOIN orders ON l_orderkey = o_orderkey
                JOIN customer ON o_custkey = c_custkey
                JOIN supplier ON l_suppkey = s_suppkey
              GROUP BY 1 ORDER BY nation""")),

    // ── month-end load skew ──────────────────────────────────────────────
    // Operations lens: do orders pile up at month end? Share of orders
    // in each day-of-month band vs the uniform expectation — the
    // batch-window sizing readout. Calendar-bounded census; exact
    // integer counts, IEEE shares.
    Q("q_month_end_load",
      (s, dir) => {
        val dom = dayofmonth(col("o_orderdate")).cast("long")
        val cells = t(s, dir, "orders")
          .groupBy(when(dom <= 10, "d01_10").when(dom <= 20, "d11_20")
            .when(dom <= 28, "d21_28").otherwise("d29_31").as("dom_band"))
          .agg(count(lit(1)).as("n_orders"))
          .persist()
        val tot = cells.agg(sum(col("n_orders")).as("n_all"))
        cells.crossJoin(broadcast(tot))
          .select(col("dom_band"), col("n_orders"),
            (col("n_orders").cast("double") / col("n_all").cast("double"))
              .as("share"))
          .orderBy("dom_band")
      },
      Some("""WITH cells AS (
                SELECT CASE WHEN dayofmonth(o_orderdate) <= 10 THEN 'd01_10'
                       WHEN dayofmonth(o_orderdate) <= 20 THEN 'd11_20'
                       WHEN dayofmonth(o_orderdate) <= 28 THEN 'd21_28'
                       ELSE 'd29_31' END AS dom_band,
                  CAST(count(*) AS BIGINT) AS n_orders
                FROM orders GROUP BY 1),
              tot AS (SELECT CAST(SUM(n_orders) AS BIGINT) AS n_all
                      FROM cells)
              SELECT dom_band, n_orders,
                CAST(n_orders AS DOUBLE) / CAST(n_all AS DOUBLE) AS share
              FROM cells, tot ORDER BY dom_band""")),

    // ── customer order cadence ───────────────────────────────────────────
    // Median days between a customer's consecutive orders, folded into
    // a bounded band census. The gap lag partitions by custkey
    // (population parallelism); the per-customer median is a row-local
    // sorted-array pick over the customer's own gaps (bounded by their
    // order count — the collect-basket class), exact in the integer
    // day domain.
    Q("q_order_cadence",
      (s, dir) => {
        val w = Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")
        val gaps = t(s, dir, "orders")
          .select(col("o_custkey"), col("o_orderkey"),
            datediff(col("o_orderdate").cast("date"),
              lit("1970-01-01").cast("date")).cast("long").as("d"))
          .withColumn("gap", col("d") - lag(col("d"), 1).over(w))
          .filter(col("gap").isNotNull)
        gaps.groupBy("o_custkey")
          .agg(sort_array(collect_list(col("gap"))).as("gs"))
          .select((element_at(col("gs"),
            expr("(size(gs) + 1) div 2").cast("int")).cast("long"))
            .as("median_gap_days"))
          .groupBy(expr("median_gap_days div 30").as("month_band"))
          .agg(count(lit(1)).as("n_customers"))
          .orderBy("month_band")
      },
      Some("""WITH d AS (
                SELECT o_custkey, o_orderkey,
                  CAST(date_diff('day', DATE '1970-01-01',
                    CAST(o_orderdate AS DATE)) AS BIGINT) AS d
                FROM orders),
              g AS (
                SELECT o_custkey,
                  d - lag(d) OVER (PARTITION BY o_custkey
                    ORDER BY d, o_orderkey) AS gap
                FROM d),
              med AS (
                SELECT o_custkey,
                  CAST(list_sort(list(gap))[(len(list(gap)) + 1) // 2]
                    AS BIGINT) AS median_gap_days
                FROM g WHERE gap IS NOT NULL GROUP BY 1)
              SELECT median_gap_days // 30 AS month_band,
                count(*) AS n_customers
              FROM med GROUP BY 1 ORDER BY month_band""")),

    // ── average order value trend (monthly + MoM delta) ─────────────────
    // The headline commerce KPI: monthly AOV with its month-over-month
    // delta. ONE calendar-bounded (month, cents, n) census; AOV is one
    // IEEE division of exact cents, the delta a lag over the ≤months
    // frame.
    Q("q_aov_monthly",
      (s, dir) => {
        val w = Window.orderBy("month")
        t(s, dir, "orders")
          .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
          .agg(count(lit(1)).as("n_orders"),
            (sum(dec2(col("o_totalprice"))) * 100).cast("long").as("cents"))
          .select(col("month"), col("n_orders"),
            (col("cents").cast("double") / col("n_orders").cast("double")
              / 100.0).as("aov"))
          .withColumn("aov_delta", col("aov") - lag(col("aov"), 1).over(w))
          .orderBy("month")
      },
      Some("""WITH m AS (
                SELECT strftime(o_orderdate, '%Y-%m') AS month,
                  count(*) AS n_orders,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                    AS BIGINT) AS cents
                FROM orders GROUP BY 1)
              SELECT month, n_orders,
                CAST(cents AS DOUBLE) / n_orders / 100.0 AS aov,
                CAST(cents AS DOUBLE) / n_orders / 100.0
                  - lag(CAST(cents AS DOUBLE) / n_orders / 100.0)
                    OVER (ORDER BY month) AS aov_delta
              FROM m ORDER BY month""")),

    // ── brand revenue momentum (largest YoY swing per brand) ────────────
    // Which brands are moving? Per brand, the year with the largest
    // absolute YoY revenue delta. (brand, year) exact-cents census;
    // deltas and the argmax pick live on the ≤brands×years frame
    // (the q_type_share_drift discipline on the revenue axis).
    Q("q_brand_momentum",
      (s, dir) => {
        val cells = t(s, dir, "lineitem")
          .select(col("l_partkey"), col("l_shipdate"),
            dec2(col("l_extendedprice")).as("p"))
          .join(t(s, dir, "part").select(col("p_partkey"), col("p_brand")),
            col("l_partkey") === col("p_partkey"))
          .groupBy(col("p_brand"),
            year(col("l_shipdate")).cast("long").as("yr"))
          .agg((sum(col("p")) * 100).cast("long").as("cents"))
          .persist()
        val wLag = Window.partitionBy("p_brand").orderBy("yr")
        val pick = Window.partitionBy("p_brand")
          .orderBy(abs(col("delta")).desc, col("yr"))
        cells
          .withColumn("delta",
            ((col("cents") - lag(col("cents"), 1).over(wLag)).cast("double")
              / 100.0))
          .filter(col("delta").isNotNull)
          .withColumn("rn", row_number().over(pick))
          .filter(col("rn") === 1)
          .select(col("p_brand"), col("yr").as("peak_year"),
            (col("cents").cast("double") / 100.0).as("revenue"),
            col("delta").as("yoy_delta"))
          .orderBy("p_brand")
      },
      Some("""WITH cells AS (
                SELECT p_brand, CAST(year(l_shipdate) AS BIGINT) AS yr,
                  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) * 100
                    AS BIGINT) AS cents
                FROM lineitem JOIN part ON l_partkey = p_partkey
                GROUP BY 1, 2),
              d AS (
                SELECT p_brand, yr, cents,
                  CAST(cents - lag(cents) OVER (PARTITION BY p_brand
                    ORDER BY yr) AS DOUBLE) / 100.0 AS delta
                FROM cells),
              r AS (
                SELECT p_brand, yr, cents, delta,
                  row_number() OVER (PARTITION BY p_brand
                    ORDER BY abs(delta) DESC, yr) AS rn
                FROM d WHERE delta IS NOT NULL)
              SELECT p_brand, yr AS peak_year,
                CAST(cents AS DOUBLE) / 100.0 AS revenue,
                delta AS yoy_delta
              FROM r WHERE rn = 1 ORDER BY p_brand""")),

    // ── order-priority migration (first → last priority per customer) ───
    // Do customers escalate? Each customer's chronologically first vs
    // last order priority, as a ≤5×5 transition census. Both endpoints
    // are exact min/max picks over the (epoch-day, orderkey, priority)
    // total order — one partial+final agg per customer, no window.
    Q("q_priority_migration",
      (s, dir) => {
        val st = struct(
          datediff(col("o_orderdate").cast("date"),
            lit("1970-01-01").cast("date")).cast("long").as("d"),
          col("o_orderkey"), col("o_orderpriority").as("pr"))
        t(s, dir, "orders")
          .groupBy("o_custkey")
          .agg(min(st).getField("pr").as("first_priority"),
            max(st).getField("pr").as("last_priority"))
          .groupBy("first_priority", "last_priority")
          .agg(count(lit(1)).as("n_customers"))
          .orderBy("first_priority", "last_priority")
      },
      Some("""WITH o AS (
                SELECT o_custkey, o_orderpriority,
                  row_number() OVER (PARTITION BY o_custkey
                    ORDER BY CAST(o_orderdate AS DATE), o_orderkey) AS rf,
                  row_number() OVER (PARTITION BY o_custkey
                    ORDER BY CAST(o_orderdate AS DATE) DESC,
                      o_orderkey DESC) AS rl
                FROM orders),
              fl AS (
                SELECT o_custkey,
                  MIN(CASE WHEN rf = 1 THEN o_orderpriority END)
                    AS first_priority,
                  MIN(CASE WHEN rl = 1 THEN o_orderpriority END)
                    AS last_priority
                FROM o GROUP BY 1)
              SELECT first_priority, last_priority,
                count(*) AS n_customers
              FROM fl GROUP BY 1, 2
              ORDER BY first_priority, last_priority""")),

    // ── supplier supply continuity ───────────────────────────────────────
    // Per supplier, how many distinct months did they actually ship?
    // Distinct (supplier, month) census → per-supplier count →
    // bounded histogram (months are calendar-bounded) — the time-axis
    // twin of q_multisource_depth's breadth readout.
    Q("q_supplier_continuity",
      (s, dir) => t(s, dir, "lineitem")
        .select(col("l_suppkey"),
          date_format(col("l_shipdate"), "yyyy-MM").as("month"))
        .distinct()
        .groupBy("l_suppkey")
        .agg(count(lit(1)).as("n_months"))
        .groupBy("n_months")
        .agg(count(lit(1)).as("n_suppliers"))
        .orderBy("n_months"),
      Some("""WITH sm AS (SELECT DISTINCT l_suppkey,
                  strftime(l_shipdate, '%Y-%m') AS month
                FROM lineitem),
              d AS (SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n_months
                    FROM sm GROUP BY 1)
              SELECT n_months, count(*) AS n_suppliers
              FROM d GROUP BY 1 ORDER BY n_months""")),

    // ── discount × tax joint distribution ────────────────────────────────
    // Pricing-policy joint grid: are discount and tax rates set
    // independently? Both dimensions as exact basis points (the
    // round()-both-sides discipline), ONE partial+final agg to the
    // bounded rate² census.
    Q("q_discount_tax_grid",
      (s, dir) => t(s, dir, "lineitem")
        .groupBy(round(col("l_discount") * 100).cast("long").as("disc_pct"),
          round(col("l_tax") * 100).cast("long").as("tax_pct"))
        .agg(count(lit(1)).as("n_lines"),
          sumDec2(col("l_extendedprice")).as("revenue"))
        .orderBy("disc_pct", "tax_pct"),
      Some("""SELECT CAST(round(l_discount * 100, 0) AS BIGINT) AS disc_pct,
                CAST(round(l_tax * 100, 0) AS BIGINT) AS tax_pct,
                count(*) AS n_lines,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                  AS revenue
              FROM lineitem GROUP BY 1, 2 ORDER BY disc_pct, tax_pct""")),

    // ── customer growth accounting (orders side) ────────────────────────
    // Monthly active customers split new vs returning (first-order
    // month = the cohort mark) — q_growth_accounting's commerce twin.
    // The persisted distinct (customer, month) census feeds BOTH the
    // first-month frame and the activity join; everything downstream is
    // calendar × customer-keyed, exact counts.
    Q("q_customer_growth",
      (s, dir) => {
        val cm = t(s, dir, "orders")
          .select(col("o_custkey"),
            date_format(col("o_orderdate"), "yyyy-MM").as("month"))
          .distinct()
          .persist()
        val first = cm.groupBy("o_custkey").agg(min(col("month")).as("fm"))
        cm.join(first, "o_custkey")
          .groupBy("month")
          .agg(count(lit(1)).as("n_active"),
            sum(when(col("month") === col("fm"), 1L).otherwise(0L))
              .as("n_new"))
          .select(col("month"), col("n_active"), col("n_new"),
            (col("n_active") - col("n_new")).cast("long")
              .as("n_returning"),
            (col("n_new").cast("double") / col("n_active").cast("double"))
              .as("new_share"))
          .orderBy("month")
      },
      Some("""WITH cm AS (
                SELECT DISTINCT o_custkey,
                  strftime(o_orderdate, '%Y-%m') AS month
                FROM orders),
              f AS (SELECT o_custkey, MIN(month) AS fm FROM cm GROUP BY 1)
              SELECT month, count(*) AS n_active,
                CAST(SUM(CASE WHEN month = fm THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_new,
                CAST(count(*) - SUM(CASE WHEN month = fm THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_returning,
                CAST(SUM(CASE WHEN month = fm THEN 1 ELSE 0 END) AS DOUBLE)
                  / count(*) AS new_share
              FROM cm JOIN f ON cm.o_custkey = f.o_custkey
              GROUP BY 1 ORDER BY month""")),

    // ── brand loyalty (repeat-purchase rate) ─────────────────────────────
    // Per brand: of the customers who bought it at all, how many came
    // back in a DIFFERENT order? The 3-table chain folds to the
    // (customer, brand, n_orders) census first (distinct orders per
    // pair — co-partitioned keys), then one brand census; repeat rate
    // is exact counts.
    Q("q_brand_loyalty",
      (s, dir) => t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "part").select(col("p_partkey"), col("p_brand")),
          col("l_partkey") === col("p_partkey"))
        .select(col("o_custkey"), col("p_brand"), col("o_orderkey"))
        .distinct()
        .groupBy("o_custkey", "p_brand")
        .agg(count(lit(1)).as("n_orders"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_buyers"),
          sum(when(col("n_orders") >= 2, 1L).otherwise(0L))
            .as("n_repeat"))
        .select(col("p_brand"), col("n_buyers"), col("n_repeat"),
          (col("n_repeat").cast("double") / col("n_buyers").cast("double"))
            .as("repeat_rate"))
        .orderBy("p_brand"),
      Some("""WITH cb AS (
                SELECT DISTINCT o_custkey, p_brand, o_orderkey
                FROM lineitem
                  JOIN orders ON l_orderkey = o_orderkey
                  JOIN part ON l_partkey = p_partkey),
              per AS (
                SELECT o_custkey, p_brand, CAST(count(*) AS BIGINT)
                  AS n_orders
                FROM cb GROUP BY 1, 2)
              SELECT p_brand, count(*) AS n_buyers,
                CAST(SUM(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_repeat,
                CAST(SUM(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*) AS repeat_rate
              FROM per GROUP BY 1 ORDER BY p_brand""")),

    // ── per-customer order concentration ─────────────────────────────────
    // Whale detection: among multi-order customers, what share of a
    // customer's lifetime value sits in their single biggest order?
    // ONE per-customer (max, sum) cents census, share band histogram —
    // the exact max/total ratio of identical integers cannot band
    // differently between engines.
    Q("q_order_concentration",
      (s, dir) => t(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          max((dec2(col("o_totalprice")) * 100).cast("long")).as("top"),
          sum((dec2(col("o_totalprice")) * 100).cast("long")).as("tot"))
        .filter(col("n_orders") >= 2)
        .groupBy(floor(col("top").cast("double")
          / col("tot").cast("double") * 10).cast("long").as("share_band"))
        .agg(count(lit(1)).as("n_customers"),
          min(col("n_orders")).cast("long").as("min_orders"),
          max(col("n_orders")).cast("long").as("max_orders"))
        .orderBy("share_band"),
      Some("""WITH per AS (
                SELECT o_custkey, count(*) AS n_orders,
                  CAST(MAX(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT)) AS BIGINT) AS top,
                  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT)) AS BIGINT) AS tot
                FROM orders GROUP BY 1)
              SELECT CAST(floor(CAST(top AS DOUBLE) / CAST(tot AS DOUBLE)
                  * 10) AS BIGINT) AS share_band,
                count(*) AS n_customers,
                CAST(MIN(n_orders) AS BIGINT) AS min_orders,
                CAST(MAX(n_orders) AS BIGINT) AS max_orders
              FROM per WHERE n_orders >= 2
              GROUP BY 1 ORDER BY share_band""")),

    // ── brand price positioning index ────────────────────────────────────
    // Is a brand premium or discount within its own category? Per
    // (brand, type): avg line price over the type's avg — an index > 1
    // = premium positioning. ONE (brand, type) cents census, persisted;
    // type averages are census-over-census; the index divides two
    // exact-integer averages.
    Q("q_brand_price_index",
      (s, dir) => {
        val cen = t(s, dir, "lineitem")
          .select(col("l_partkey"), dec2(col("l_extendedprice")).as("p"),
            col("l_quantity"))
          .join(t(s, dir, "part")
            .select(col("p_partkey"), col("p_brand"), col("p_type")),
            col("l_partkey") === col("p_partkey"))
          .groupBy("p_brand", "p_type")
          .agg(count(lit(1)).as("n_lines"),
            (sum(col("p")) * 100).cast("long").as("cents"))
          .persist()
        val perType = cen.groupBy("p_type")
          .agg((sum(col("cents")).cast("double")
            / sum(col("n_lines")).cast("double")).as("type_avg"))
        cen.join(perType, "p_type")
          .select(col("p_brand"), col("p_type"), col("n_lines"),
            ((col("cents").cast("double") / col("n_lines").cast("double"))
              / col("type_avg")).as("price_index"))
          .orderBy("p_brand", "p_type")
      },
      Some("""WITH cen AS (
                SELECT p_brand, p_type, count(*) AS n_lines,
                  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) * 100
                    AS BIGINT) AS cents
                FROM lineitem JOIN part ON l_partkey = p_partkey
                GROUP BY 1, 2),
              pt AS (
                SELECT p_type,
                  CAST(SUM(cents) AS DOUBLE) / CAST(SUM(n_lines) AS DOUBLE)
                    AS type_avg
                FROM cen GROUP BY 1)
              SELECT p_brand, cen.p_type, n_lines,
                (CAST(cents AS DOUBLE) / n_lines) / type_avg
                  AS price_index
              FROM cen JOIN pt ON cen.p_type = pt.p_type
              ORDER BY p_brand, cen.p_type""")),

    // ── line-position effect within orders ───────────────────────────────
    // Does a line's POSITION in its order predict its size? (Basket
    // composition: first-listed items vs add-ons.) The projected
    // lineitem frame is persisted — it feeds the per-order total census
    // AND the position re-join (one parquet scan); position averages
    // and the share-of-order mass ratio are IEEE divisions of exact
    // DECIMAL sums on the ≤|positions|-row census.
    Q("q_line_position_effect",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            (dec2(col("l_quantity")) * 100).cast("long").as("qty_c"),
            (dec2(col("l_extendedprice")) * 100).cast("long").as("cents"))
          .persist()
        val tot = li.groupBy("l_orderkey")
          .agg(sum(col("cents")).cast("long").as("order_cents"))
        li.join(tot, "l_orderkey")
          .groupBy(col("l_linenumber").cast("long").as("pos"))
          .agg(count(lit(1)).as("n"),
            sum(col("qty_c").cast("decimal(38,0)")).as("qm"),
            sum(col("cents").cast("decimal(38,0)")).as("lm"),
            sum(col("order_cents").cast("decimal(38,0)")).as("om"))
          .select(col("pos"), col("n"),
            (col("qm").cast("double") / col("n").cast("double") / 100.0)
              .as("avg_qty"),
            (col("lm").cast("double") / col("n").cast("double") / 100.0)
              .as("avg_price"),
            (col("lm").cast("double") / col("om").cast("double"))
              .as("share_of_order"))
          .orderBy("pos")
      },
      Some("""WITH li AS (
                SELECT l_orderkey, l_linenumber,
                  CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)
                    AS qty_c,
                  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS cents
                FROM lineitem),
              tot AS (
                SELECT l_orderkey, CAST(SUM(cents) AS BIGINT)
                  AS order_cents
                FROM li GROUP BY 1)
              SELECT CAST(l_linenumber AS BIGINT) AS pos,
                count(*) AS n,
                CAST(SUM(CAST(qty_c AS HUGEINT)) AS DOUBLE) / count(*)
                  / 100.0 AS avg_qty,
                CAST(SUM(CAST(cents AS HUGEINT)) AS DOUBLE) / count(*)
                  / 100.0 AS avg_price,
                CAST(SUM(CAST(cents AS HUGEINT)) AS DOUBLE)
                  / CAST(SUM(CAST(order_cents AS HUGEINT)) AS DOUBLE)
                  AS share_of_order
              FROM li JOIN tot ON li.l_orderkey = tot.l_orderkey
              GROUP BY 1 ORDER BY pos""")),

    // ── between-nation Theil index (inequality decomposition) ────────────
    // Which share of revenue inequality is BETWEEN markets? The Theil T
    // between-group term Σ s_g·ln(s_g/p_g) over revenue shares s_g and
    // population shares p_g — the group-level complement of q_gini's
    // customer-level curve (Theil decomposes additively; Gini doesn't).
    // The 3-table chain folds to the ≤|nations| (n, Σcents) census ONCE
    // (persisted: totals + terms both read it); shares are IEEE ratios
    // of exact DECIMAL sums, terms are 12-decimal rounded and summed by
    // the nation-pinned fold.
    Q("q_theil_between",
      (s, dir) => {
        val cen = t(s, dir, "orders")
          .join(t(s, dir, "customer")
            .select(col("c_custkey"), col("c_nationkey")),
            col("o_custkey") === col("c_custkey"))
          .join(t(s, dir, "nation")
            .select(col("n_nationkey"), col("n_name")),
            col("c_nationkey") === col("n_nationkey"))
          .groupBy("n_name")
          .agg(count(lit(1)).cast("long").as("n_g"),
            (sum(dec2(col("o_totalprice"))) * 100).cast("decimal(38,0)")
              .as("cents_g"))
          .persist()
        val tot = cen.agg(sum(col("n_g")).cast("long").as("n_tot"),
          sum(col("cents_g")).as("cents_tot"))
        cen.crossJoin(broadcast(tot))
          .select(col("n_name"), col("n_tot"),
            round((col("cents_g").cast("double")
              / col("cents_tot").cast("double"))
              * log((col("cents_g").cast("double")
                / col("cents_tot").cast("double"))
                / (col("n_g").cast("double")
                  / col("n_tot").cast("double"))), 12).as("term"))
          .groupBy(col("n_tot").as("n"))
          .agg(count(lit(1)).cast("long").as("k"),
            expr("""aggregate(array_sort(collect_list(
                      struct(n_name, term))),
                    CAST(0 AS DOUBLE), (a, x) -> a + x.term)""")
              .as("t_between"))
          .select(col("k"), col("n"), col("t_between"))
      },
      Some("""WITH cen AS (
                SELECT n_name, CAST(count(*) AS BIGINT) AS n_g,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                    AS HUGEINT) AS cents_g
                FROM orders
                JOIN customer ON o_custkey = c_custkey
                JOIN nation ON c_nationkey = n_nationkey
                GROUP BY 1),
              tot AS (SELECT CAST(SUM(n_g) AS BIGINT) AS n_tot,
                        CAST(SUM(cents_g) AS HUGEINT) AS cents_tot
                      FROM cen),
              terms AS (
                SELECT n_name, n_tot,
                  round((CAST(cents_g AS DOUBLE)
                      / CAST(cents_tot AS DOUBLE))
                    * ln((CAST(cents_g AS DOUBLE)
                        / CAST(cents_tot AS DOUBLE))
                      / (CAST(n_g AS DOUBLE)
                        / CAST(n_tot AS DOUBLE))), 12) AS term
                FROM cen, tot)
              SELECT CAST(count(*) AS BIGINT) AS k,
                CAST(MAX(n_tot) AS BIGINT) AS n,
                list_reduce(list_prepend(CAST(0 AS DOUBLE),
                  list(term ORDER BY n_name)), (a, x) -> a + x)
                  AS t_between
              FROM terms""")),

    // ── price-volume-mix revenue bridge, 1997 → 1998 per brand ──────────
    // The FP&A decomposition: how much of each brand's revenue change
    // came from selling MORE (volume at old prices) vs charging MORE
    // (new price on new volume)? Both years fold to ONE exact
    // (qty, cents) census per brand in a single partial+final agg over
    // the year-filtered scan (filter + p_brand pushed to parquet);
    // unit prices are IEEE ratios of exact DECIMAL sums, each effect
    // is a row-local rounded expression — no cross-row FP fold.
    // NULL-guarded for a brand absent from either year.
    Q("q_price_volume_mix",
      (s, dir) => {
        val cen = t(s, dir, "lineitem")
          .filter(year(col("l_shipdate")).isin(1997, 1998))
          .join(t(s, dir, "part")
            .select(col("p_partkey"), col("p_brand")),
            col("l_partkey") === col("p_partkey"))
          .select(col("p_brand"),
            (year(col("l_shipdate")) === 1998).as("is1"),
            (dec2(col("l_quantity")) * 100).cast("long").as("qty_c"),
            (dec2(col("l_extendedprice")) * 100).cast("long").as("cents"))
          .groupBy("p_brand")
          .agg(
            sum(when(!col("is1"), col("qty_c")).otherwise(0L)
              .cast("decimal(38,0)")).as("q0"),
            sum(when(!col("is1"), col("cents")).otherwise(0L)
              .cast("decimal(38,0)")).as("r0"),
            sum(when(col("is1"), col("qty_c")).otherwise(0L)
              .cast("decimal(38,0)")).as("q1"),
            sum(when(col("is1"), col("cents")).otherwise(0L)
              .cast("decimal(38,0)")).as("r1"))
        cen.select(col("p_brand"),
            (col("r0").cast("double") / 100.0).as("rev0"),
            (col("r1").cast("double") / 100.0).as("rev1"),
            ((col("r1") - col("r0")).cast("double") / 100.0).as("delta"),
            when(col("q0") === 0 || col("q1") === 0,
              lit(null).cast("double"))
              .otherwise(round(
                ((col("q1") - col("q0")).cast("double") / 100.0)
                  * (col("r0").cast("double")
                    / col("q0").cast("double")), 6))
              .as("volume_effect"),
            when(col("q0") === 0 || col("q1") === 0,
              lit(null).cast("double"))
              .otherwise(round(
                (col("r1").cast("double") / col("q1").cast("double")
                  - col("r0").cast("double") / col("q0").cast("double"))
                  * (col("q1").cast("double") / 100.0), 6))
              .as("price_effect"))
          .orderBy("p_brand")
      },
      Some("""WITH cen AS (
                SELECT p_brand,
                  SUM(CASE WHEN year(l_shipdate) = 1997
                    THEN CAST(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100
                      AS BIGINT) AS HUGEINT) ELSE 0 END) AS q0,
                  SUM(CASE WHEN year(l_shipdate) = 1997
                    THEN CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                      * 100 AS BIGINT) AS HUGEINT) ELSE 0 END) AS r0,
                  SUM(CASE WHEN year(l_shipdate) = 1998
                    THEN CAST(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100
                      AS BIGINT) AS HUGEINT) ELSE 0 END) AS q1,
                  SUM(CASE WHEN year(l_shipdate) = 1998
                    THEN CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                      * 100 AS BIGINT) AS HUGEINT) ELSE 0 END) AS r1
                FROM lineitem JOIN part ON l_partkey = p_partkey
                WHERE year(l_shipdate) IN (1997, 1998)
                GROUP BY 1)
              SELECT p_brand,
                CAST(r0 AS DOUBLE) / 100.0 AS rev0,
                CAST(r1 AS DOUBLE) / 100.0 AS rev1,
                CAST(r1 - r0 AS DOUBLE) / 100.0 AS delta,
                CASE WHEN q0 = 0 OR q1 = 0 THEN NULL
                  ELSE round((CAST(q1 - q0 AS DOUBLE) / 100.0)
                    * (CAST(r0 AS DOUBLE) / CAST(q0 AS DOUBLE)), 6) END
                  AS volume_effect,
                CASE WHEN q0 = 0 OR q1 = 0 THEN NULL
                  ELSE round((CAST(r1 AS DOUBLE) / CAST(q1 AS DOUBLE)
                    - CAST(r0 AS DOUBLE) / CAST(q0 AS DOUBLE))
                    * (CAST(q1 AS DOUBLE) / 100.0), 6) END
                  AS price_effect
              FROM cen ORDER BY p_brand""")),

    // ── market-basket association rules over brand pairs ────────────────
    // support / confidence / lift for brands co-bought in one order —
    // the classic rule-mining readout q_also_bought's raw pair counts
    // stop short of. Pair counts (≤C(25,2) per order — catalog-bounded,
    // never orders²), brand marginals and the order total are cells of
    // the pinned brand-basket census (Censuses.brandBaskets); every
    // ratio is one IEEE division of exact longs.
    Q("q_basket_lift",
      (s, dir) => brandRules(s, dir)
        .select(col("b1"), col("b2"), col("n_ab"),
          round(col("n_ab").cast("double")
            / col("n_orders").cast("double"), 12).as("support"),
          round(col("n_ab").cast("double")
            / col("n_a").cast("double"), 12).as("conf_ab"),
          round(col("n_ab").cast("double")
            / col("n_bb").cast("double"), 12).as("conf_ba"),
          round(col("n_orders").cast("double")
            * col("n_ab").cast("double")
            / (col("n_a").cast("double") * col("n_bb").cast("double")),
            12).as("lift"))
        .orderBy("b1", "b2"),
      Some("""WITH cen AS (
                SELECT DISTINCT l_orderkey AS ok, p_brand AS b
                FROM lineitem JOIN part ON l_partkey = p_partkey),
              tot AS (
                SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_orders
                FROM cen),
              marg AS (
                SELECT b, CAST(count(*) AS BIGINT) AS n_b
                FROM cen GROUP BY 1),
              pairs AS (
                SELECT x.b AS b1, y.b AS b2,
                  CAST(count(*) AS BIGINT) AS n_ab
                FROM cen x JOIN cen y
                  ON x.ok = y.ok AND x.b < y.b
                GROUP BY 1, 2 HAVING count(*) >= 50)
              SELECT b1, b2, n_ab,
                round(CAST(n_ab AS DOUBLE) / CAST(n_orders AS DOUBLE), 12)
                  AS support,
                round(CAST(n_ab AS DOUBLE) / CAST(ma.n_b AS DOUBLE), 12)
                  AS conf_ab,
                round(CAST(n_ab AS DOUBLE) / CAST(mb.n_b AS DOUBLE), 12)
                  AS conf_ba,
                round(CAST(n_orders AS DOUBLE) * CAST(n_ab AS DOUBLE)
                  / (CAST(ma.n_b AS DOUBLE) * CAST(mb.n_b AS DOUBLE)), 12)
                  AS lift
              FROM pairs
              JOIN marg ma ON pairs.b1 = ma.b
              JOIN marg mb ON pairs.b2 = mb.b, tot
              ORDER BY b1, b2""")),

    // ── association-rule quality metrics beyond lift ────────────────────
    // The rule-mining readouts q_basket_lift stops short of, on the
    // SAME brand-basket census + ≥50-pair threshold: leverage =
    // supp(AB) − supp(A)·supp(B) (additive deviation), conviction =
    // (1 − supp(B))/(1 − conf(A→B)) in both directions (∞-prone —
    // conf=1 rules get NULL on both engines), and basket Jaccard.
    // Counts exact; each metric a short pinned double chain.
    Q("q_association_metrics",
      (s, dir) => brandRules(s, dir)
        .select(col("b1"), col("b2"), col("n_ab"),
          round(col("n_ab").cast("double")
              / col("n_orders").cast("double")
            - col("n_a").cast("double")
              / col("n_orders").cast("double")
              * (col("n_bb").cast("double")
                / col("n_orders").cast("double")), 12).as("leverage"),
          when(col("n_a") === col("n_ab"), lit(null).cast("double"))
            .otherwise(round(
              (lit(1.0) - col("n_bb").cast("double")
                / col("n_orders").cast("double"))
              / (lit(1.0) - col("n_ab").cast("double")
                / col("n_a").cast("double")), 12)).as("conviction_ab"),
          when(col("n_bb") === col("n_ab"), lit(null).cast("double"))
            .otherwise(round(
              (lit(1.0) - col("n_a").cast("double")
                / col("n_orders").cast("double"))
              / (lit(1.0) - col("n_ab").cast("double")
                / col("n_bb").cast("double")), 12)).as("conviction_ba"),
          round(col("n_ab").cast("double")
            / (col("n_a") + col("n_bb") - col("n_ab")).cast("double"),
            12).as("jaccard"))
        .orderBy("b1", "b2"),
      Some("""WITH cen AS (
                SELECT DISTINCT l_orderkey AS ok, p_brand AS b
                FROM lineitem JOIN part ON l_partkey = p_partkey),
              tot AS (
                SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_orders
                FROM cen),
              marg AS (
                SELECT b, CAST(count(*) AS BIGINT) AS n_b
                FROM cen GROUP BY 1),
              pairs AS (
                SELECT x.b AS b1, y.b AS b2,
                  CAST(count(*) AS BIGINT) AS n_ab
                FROM cen x JOIN cen y ON x.ok = y.ok AND x.b < y.b
                GROUP BY 1, 2 HAVING count(*) >= 50)
              SELECT b1, b2, n_ab,
                round(CAST(n_ab AS DOUBLE) / CAST(n_orders AS DOUBLE)
                  - CAST(ma.n_b AS DOUBLE) / CAST(n_orders AS DOUBLE)
                    * (CAST(mb.n_b AS DOUBLE)
                      / CAST(n_orders AS DOUBLE)), 12) AS leverage,
                CASE WHEN ma.n_b = n_ab THEN NULL
                  ELSE round((1.0 - CAST(mb.n_b AS DOUBLE)
                      / CAST(n_orders AS DOUBLE))
                    / (1.0 - CAST(n_ab AS DOUBLE)
                      / CAST(ma.n_b AS DOUBLE)), 12) END AS conviction_ab,
                CASE WHEN mb.n_b = n_ab THEN NULL
                  ELSE round((1.0 - CAST(ma.n_b AS DOUBLE)
                      / CAST(n_orders AS DOUBLE))
                    / (1.0 - CAST(n_ab AS DOUBLE)
                      / CAST(mb.n_b AS DOUBLE)), 12) END AS conviction_ba,
                round(CAST(n_ab AS DOUBLE)
                  / CAST(ma.n_b + mb.n_b - n_ab AS DOUBLE), 12)
                  AS jaccard
              FROM pairs JOIN marg ma ON ma.b = b1
                JOIN marg mb ON mb.b = b2, tot
              ORDER BY b1, b2""")),

    // ── partial correlation: quantity ↔ price, discount partialled out ──
    // Does quantity still track price once the discount channel is
    // removed? r_xy·z = (r_xy − r_xz·r_yz)/√((1−r_xz²)(1−r_yz²)).
    // ONE partial+final agg to the 9 exact moment sums (cents /
    // basis-point integers in DECIMAL(38,0) — the q_corr_matrix
    // discipline); all three Pearson r's and the partial are row-local
    // IEEE expressions of those exact sums — zero cross-row FP folds.
    // NULL-guarded for zero-variance or |r|=1 degeneracies.
    Q("q_partial_corr",
      (s, dir) => {
        val m = t(s, dir, "lineitem")
          .select((dec2(col("l_quantity")) * 100).cast("long").as("x"),
            (dec2(col("l_extendedprice")) * 100).cast("long").as("y"),
            (col("l_discount").cast("decimal(18,4)") * 10000)
              .cast("long").as("z"))
          .agg(count(lit(1)).cast("long").as("n"),
            sum(col("x").cast("decimal(38,0)")).as("sx"),
            sum(col("y").cast("decimal(38,0)")).as("sy"),
            sum(col("z").cast("decimal(38,0)")).as("sz"),
            sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"),
            sum(col("y").cast("decimal(38,0)") * col("y")).as("syy"),
            sum(col("z").cast("decimal(38,0)") * col("z")).as("szz"),
            sum(col("x").cast("decimal(38,0)") * col("y")).as("sxy"),
            sum(col("x").cast("decimal(38,0)") * col("z")).as("sxz"),
            sum(col("y").cast("decimal(38,0)") * col("z")).as("syz"))
        val r = m.select(col("n"),
          ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
            / sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
              .cast("double")
              * (col("n") * col("syy") - col("sy") * col("sy"))
                .cast("double"))).as("r_xy"),
          ((col("n") * col("sxz") - col("sx") * col("sz")).cast("double")
            / sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
              .cast("double")
              * (col("n") * col("szz") - col("sz") * col("sz"))
                .cast("double"))).as("r_xz"),
          ((col("n") * col("syz") - col("sy") * col("sz")).cast("double")
            / sqrt((col("n") * col("syy") - col("sy") * col("sy"))
              .cast("double")
              * (col("n") * col("szz") - col("sz") * col("sz"))
                .cast("double"))).as("r_yz"))
        r.select(col("n"),
          round(col("r_xy"), 12).as("r_xy"),
          round(col("r_xz"), 12).as("r_xz"),
          round(col("r_yz"), 12).as("r_yz"),
          when((lit(1.0) - col("r_xz") * col("r_xz")) <= 0
            || (lit(1.0) - col("r_yz") * col("r_yz")) <= 0,
            lit(null).cast("double"))
            .otherwise(round((col("r_xy") - col("r_xz") * col("r_yz"))
              / sqrt((lit(1.0) - col("r_xz") * col("r_xz"))
                * (lit(1.0) - col("r_yz") * col("r_yz"))), 12))
            .as("r_xy_given_z"))
      },
      Some("""WITH mom AS (
                SELECT CAST(count(*) AS BIGINT) AS n,
                  SUM(CAST(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS HUGEINT)) AS sx,
                  SUM(CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                    * 100 AS BIGINT) AS HUGEINT)) AS sy,
                  SUM(CAST(CAST(CAST(l_discount AS DECIMAL(18,4)) * 10000
                    AS BIGINT) AS HUGEINT)) AS sz,
                  SUM(CAST(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS HUGEINT)
                    * CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100
                      AS BIGINT)) AS sxx,
                  SUM(CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                    * 100 AS BIGINT) AS HUGEINT)
                    * CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                      AS BIGINT)) AS syy,
                  SUM(CAST(CAST(CAST(l_discount AS DECIMAL(18,4)) * 10000
                    AS BIGINT) AS HUGEINT)
                    * CAST(CAST(l_discount AS DECIMAL(18,4)) * 10000
                      AS BIGINT)) AS szz,
                  SUM(CAST(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS HUGEINT)
                    * CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                      AS BIGINT)) AS sxy,
                  SUM(CAST(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS HUGEINT)
                    * CAST(CAST(l_discount AS DECIMAL(18,4)) * 10000
                      AS BIGINT)) AS sxz,
                  SUM(CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                    * 100 AS BIGINT) AS HUGEINT)
                    * CAST(CAST(l_discount AS DECIMAL(18,4)) * 10000
                      AS BIGINT)) AS syz
                FROM lineitem),
              r AS (
                SELECT n,
                  CAST(n * sxy - sx * sy AS DOUBLE)
                    / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                      * CAST(n * syy - sy * sy AS DOUBLE)) AS r_xy,
                  CAST(n * sxz - sx * sz AS DOUBLE)
                    / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                      * CAST(n * szz - sz * sz AS DOUBLE)) AS r_xz,
                  CAST(n * syz - sy * sz AS DOUBLE)
                    / sqrt(CAST(n * syy - sy * sy AS DOUBLE)
                      * CAST(n * szz - sz * sz AS DOUBLE)) AS r_yz
                FROM mom)
              SELECT n,
                round(r_xy, 12) AS r_xy,
                round(r_xz, 12) AS r_xz,
                round(r_yz, 12) AS r_yz,
                CASE WHEN (1.0 - r_xz * r_xz) <= 0
                    OR (1.0 - r_yz * r_yz) <= 0 THEN NULL
                  ELSE round((r_xy - r_xz * r_yz)
                    / sqrt((1.0 - r_xz * r_xz)
                      * (1.0 - r_yz * r_yz)), 12) END AS r_xy_given_z
              FROM r""")),

    // ── Simpson's-paradox scan: per-brand vs pooled price~qty slope ─────
    // Does the within-brand price/quantity relationship reverse the
    // pooled one? OLS slope per brand and pooled, flagged on sign
    // reversal. ONE partial+final agg to per-brand exact moment sums
    // (persisted: the pooled slope is the DECIMAL column-sum of the
    // SAME census — exact, order-free — so no second corpus pass);
    // slopes are row-local IEEE ratios, the reversal flag compares a
    // product of identical doubles. NULL-guarded zero-variance cells.
    Q("q_simpson_reversal",
      (s, dir) => {
        val cen = t(s, dir, "lineitem")
          .join(broadcast(t(s, dir, "part")
            .select(col("p_partkey"), col("p_brand"))),
            col("l_partkey") === col("p_partkey"))
          .select(col("p_brand"),
            (dec2(col("l_quantity")) * 100).cast("long").as("x"),
            (dec2(col("l_extendedprice")) * 100).cast("long").as("y"))
          .groupBy("p_brand")
          .agg(count(lit(1)).cast("long").as("n"),
            sum(col("x").cast("decimal(38,0)")).as("sx"),
            sum(col("y").cast("decimal(38,0)")).as("sy"),
            sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"),
            sum(col("x").cast("decimal(38,0)") * col("y")).as("sxy"))
          .persist()
        val pooled = cen.agg(
          sum(col("n")).cast("long").as("np"),
          sum(col("sx")).as("px"), sum(col("sy")).as("py"),
          sum(col("sxx")).as("pxx"), sum(col("sxy")).as("pxy"))
          .select(
            when(col("np") * col("pxx") - col("px") * col("px") === 0,
              lit(null).cast("double"))
              .otherwise((col("np") * col("pxy") - col("px") * col("py"))
                .cast("double")
                / (col("np") * col("pxx") - col("px") * col("px"))
                  .cast("double")).as("pooled_slope"))
        cen.crossJoin(broadcast(pooled))
          .select(col("p_brand"), col("n"),
            when(col("n") * col("sxx") - col("sx") * col("sx") === 0,
              lit(null).cast("double"))
              .otherwise((col("n") * col("sxy") - col("sx") * col("sy"))
                .cast("double")
                / (col("n") * col("sxx") - col("sx") * col("sx"))
                  .cast("double")).as("slope"),
            col("pooled_slope"))
          .select(col("p_brand"), col("n"),
            round(col("slope"), 12).as("slope"),
            round(col("pooled_slope"), 12).as("pooled_slope"),
            when(col("slope").isNull || col("pooled_slope").isNull,
              lit(null).cast("boolean"))
              .otherwise(col("slope") * col("pooled_slope") < 0)
              .as("reversed"))
          .orderBy("p_brand")
      },
      Some("""WITH cen AS (
                SELECT p_brand, CAST(count(*) AS BIGINT) AS n,
                  SUM(CAST(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS HUGEINT)) AS sx,
                  SUM(CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                    * 100 AS BIGINT) AS HUGEINT)) AS sy,
                  SUM(CAST(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS HUGEINT)
                    * CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100
                      AS BIGINT)) AS sxx,
                  SUM(CAST(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS HUGEINT)
                    * CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                      AS BIGINT)) AS sxy
                FROM lineitem JOIN part ON l_partkey = p_partkey
                GROUP BY 1),
              pool AS (
                SELECT CAST(SUM(n) AS BIGINT) AS np,
                  SUM(sx) AS px, SUM(sy) AS py,
                  SUM(sxx) AS pxx, SUM(sxy) AS pxy
                FROM cen),
              ps AS (
                SELECT CASE WHEN np * pxx - px * px = 0 THEN NULL
                  ELSE CAST(np * pxy - px * py AS DOUBLE)
                    / CAST(np * pxx - px * px AS DOUBLE) END
                  AS pooled_slope
                FROM pool),
              sl AS (
                SELECT p_brand, n,
                  CASE WHEN n * sxx - sx * sx = 0 THEN NULL
                    ELSE CAST(n * sxy - sx * sy AS DOUBLE)
                      / CAST(n * sxx - sx * sx AS DOUBLE) END AS slope,
                  pooled_slope
                FROM cen, ps)
              SELECT p_brand, n,
                round(slope, 12) AS slope,
                round(pooled_slope, 12) AS pooled_slope,
                CASE WHEN slope IS NULL OR pooled_slope IS NULL THEN NULL
                  ELSE slope * pooled_slope < 0 END AS reversed
              FROM sl ORDER BY p_brand""")),

    // ── Kendall's W: do the 5 regions rank brands concordantly? ─────────
    // Concordance of m regional brand-revenue rankings. The fact chain
    // folds ONCE to the (region, brand, cents) census; the grid is
    // densified (absent cell = 0 revenue) so every region ranks every
    // brand — a ≤regions×brands frame. Ranks are row_number over the
    // exact (cents DESC, brand) total order (no tie fractions, stated
    // contract); rank sums and S are exact integers carried ×2
    // (D_i = 2R_i − m(n+1)), W = 3·ΣD²/(m²·(n³−n)) is ONE IEEE
    // division. NULL-guarded for n ≤ 1.
    Q("q_kendall_w",
      (s, dir) => {
        val cen = t(s, dir, "lineitem")
          .join(broadcast(t(s, dir, "part")
            .select(col("p_partkey"), col("p_brand"))),
            col("l_partkey") === col("p_partkey"))
          .join(t(s, dir, "orders")
            .select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(t(s, dir, "customer")
            .select(col("c_custkey"), col("c_nationkey"))),
            col("o_custkey") === col("c_custkey"))
          .join(broadcast(t(s, dir, "nation")
            .select(col("n_nationkey"), col("n_regionkey"))),
            col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("n_regionkey").as("rk"), col("p_brand"))
          .agg((sum(dec2(col("l_extendedprice"))) * 100)
            .cast("decimal(38,0)").as("cents"))
          .persist()
        val grid = cen.select(col("rk")).distinct()
          .crossJoin(cen.select(col("p_brand")).distinct())
          .join(cen, Seq("rk", "p_brand"), "left")
          .select(col("rk"), col("p_brand"),
            coalesce(col("cents"), lit(0).cast("decimal(38,0)"))
              .as("cents"))
        val wr = Window.partitionBy("rk")
          .orderBy(col("cents").desc, col("p_brand"))
        val ranks = grid
          .withColumn("rank", row_number().over(wr).cast("long"))
        val rs = ranks.groupBy("p_brand")
          .agg(count(lit(1)).cast("long").as("m"),
            sum(col("rank")).cast("long").as("r_i"))
          .persist()
        val nrow = rs.agg(count(lit(1)).cast("long").as("n"))
        rs.crossJoin(broadcast(nrow))
          .select(col("n"), col("m"),
            ((lit(2L) * col("r_i") - col("m") * (col("n") + 1L))
              .cast("decimal(38,0)")
              * (lit(2L) * col("r_i") - col("m") * (col("n") + 1L)))
              .as("d2"))
          .groupBy("n")
          .agg(max(col("m")).cast("long").as("m"),
            sum(col("d2")).as("sd2"))
          .select(col("n"), col("m"),
            when(col("n") <= 1, lit(null).cast("double"))
              .otherwise(round(lit(3.0) * col("sd2").cast("double")
                / (col("m").cast("double") * col("m").cast("double")
                  * (col("n").cast("double") * col("n").cast("double")
                    * col("n").cast("double") - col("n").cast("double"))),
                12)).as("w"))
      },
      Some("""WITH cen AS (
                SELECT n_regionkey AS rk, p_brand,
                  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) * 100
                    AS HUGEINT) AS cents
                FROM lineitem
                JOIN part ON l_partkey = p_partkey
                JOIN orders ON l_orderkey = o_orderkey
                JOIN customer ON o_custkey = c_custkey
                JOIN nation ON c_nationkey = n_nationkey
                GROUP BY 1, 2),
              grid AS (
                SELECT r.rk, b.p_brand,
                  COALESCE(cents, CAST(0 AS HUGEINT)) AS cents
                FROM (SELECT DISTINCT rk FROM cen) r
                CROSS JOIN (SELECT DISTINCT p_brand FROM cen) b
                LEFT JOIN cen ON cen.rk = r.rk
                  AND cen.p_brand = b.p_brand),
              ranks AS (
                SELECT rk, p_brand,
                  CAST(row_number() OVER (PARTITION BY rk
                    ORDER BY cents DESC, p_brand) AS BIGINT) AS rank
                FROM grid),
              rs AS (
                SELECT p_brand, CAST(count(*) AS BIGINT) AS m,
                  CAST(SUM(rank) AS BIGINT) AS r_i
                FROM ranks GROUP BY 1),
              nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM rs),
              agg AS (
                SELECT n, CAST(MAX(m) AS BIGINT) AS m,
                  SUM(CAST(2 * r_i - m * (n + 1) AS HUGEINT)
                    * (2 * r_i - m * (n + 1))) AS sd2
                FROM rs, nn GROUP BY n)
              SELECT n, m,
                CASE WHEN n <= 1 THEN NULL
                  ELSE round(3.0 * CAST(sd2 AS DOUBLE)
                    / (CAST(m AS DOUBLE) * CAST(m AS DOUBLE)
                      * (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                        * CAST(n AS DOUBLE) - CAST(n AS DOUBLE))), 12)
                  END AS w
              FROM agg""")),

    // ── ABC × XYZ inventory classification matrix ───────────────────────
    // The planner's 9-cell grid: ABC by cumulative revenue share
    // (80/95%), XYZ by monthly-demand variability (CV < 0.5 / 1.0).
    // ONE fact pass to the (part, month) census (persisted); per-part
    // revenue AND the demand CV both derive from it. The cumulative
    // rank rides a parts-bounded (rev DESC, partkey) window; shares
    // are IEEE ratios of exact DECIMAL sums, CV is 12-dec rounded
    // before its class compare (both engines branch on the identical
    // double). Cell readout: part counts + revenue share.
    Q("q_abc_xyz",
      (s, dir) => {
        val pm = t(s, dir, "lineitem")
          .select(col("l_partkey").as("pk"),
            expr("""(year(l_shipdate) * 12 + month(l_shipdate) - 1)""")
              .cast("long").as("m"),
            (dec2(col("l_quantity")) * 100).cast("long").as("q"),
            (dec2(col("l_extendedprice")) * 100).cast("long").as("cents"))
          .groupBy("pk", "m")
          .agg(sum(col("q").cast("decimal(38,0)")).as("mq"),
            sum(col("cents").cast("decimal(38,0)")).as("mc"))
          .persist()
        val parts = pm.groupBy("pk")
          .agg(count(lit(1)).cast("long").as("n_m"),
            sum(col("mc")).as("rev"),
            sum(col("mq")).as("sq"),
            sum(col("mq") * col("mq")).as("sqq"))
          .withColumn("cum",
            sum(col("rev")).over(Window
              .orderBy(col("rev").desc, col("pk"))
              .rowsBetween(Window.unboundedPreceding, 0)))
          .persist()
        val tot = parts.agg(sum(col("rev")).as("trev"))
        parts.crossJoin(broadcast(tot))
          .select(col("pk"), col("rev"),
            when(col("cum").cast("double") / col("trev").cast("double")
              <= 0.80, lit("A"))
              .when(col("cum").cast("double") / col("trev").cast("double")
                <= 0.95, lit("B"))
              .otherwise(lit("C")).as("abc"),
            round(
              when(col("sq") <= 0, lit(null).cast("double"))
                .otherwise(sqrt(col("sqq").cast("double")
                  / col("n_m").cast("double")
                  - (col("sq").cast("double") / col("n_m").cast("double"))
                    * (col("sq").cast("double")
                      / col("n_m").cast("double")))
                  / (col("sq").cast("double")
                    / col("n_m").cast("double"))), 12).as("cv"))
          .select(col("pk"), col("rev"), col("abc"),
            when(col("cv").isNull, lit("Z"))
              .when(col("cv") < 0.5, lit("X"))
              .when(col("cv") < 1.0, lit("Y"))
              .otherwise(lit("Z")).as("xyz"))
          .groupBy("abc", "xyz")
          .agg(count(lit(1)).cast("long").as("n_parts"),
            sum(col("rev")).as("cell_rev"))
          .crossJoin(broadcast(tot))
          .select(col("abc"), col("xyz"), col("n_parts"),
            round(col("cell_rev").cast("double")
              / col("trev").cast("double"), 12).as("rev_share"))
          .orderBy("abc", "xyz")
      },
      Some("""WITH pm AS (
                SELECT l_partkey AS pk,
                  CAST(year(l_shipdate) * 12 + month(l_shipdate) - 1
                    AS BIGINT) AS m,
                  SUM(CAST(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS HUGEINT)) AS mq,
                  SUM(CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                    * 100 AS BIGINT) AS HUGEINT)) AS mc
                FROM lineitem GROUP BY 1, 2),
              parts AS (
                SELECT pk, CAST(count(*) AS BIGINT) AS n_m,
                  SUM(mc) AS rev, SUM(mq) AS sq,
                  SUM(mq * mq) AS sqq
                FROM pm GROUP BY 1),
              ranked AS (
                SELECT pk, n_m, rev, sq, sqq,
                  SUM(rev) OVER (ORDER BY rev DESC, pk
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS cum
                FROM parts),
              tot AS (SELECT SUM(rev) AS trev FROM parts),
              cls AS (
                SELECT pk, rev,
                  CASE WHEN CAST(cum AS DOUBLE) / CAST(trev AS DOUBLE)
                      <= 0.80 THEN 'A'
                    WHEN CAST(cum AS DOUBLE) / CAST(trev AS DOUBLE)
                      <= 0.95 THEN 'B'
                    ELSE 'C' END AS abc,
                  round(CASE WHEN sq <= 0 THEN NULL
                    ELSE sqrt(CAST(sqq AS DOUBLE) / CAST(n_m AS DOUBLE)
                      - (CAST(sq AS DOUBLE) / CAST(n_m AS DOUBLE))
                        * (CAST(sq AS DOUBLE) / CAST(n_m AS DOUBLE)))
                      / (CAST(sq AS DOUBLE) / CAST(n_m AS DOUBLE)) END,
                    12) AS cv
                FROM ranked, tot),
              xy AS (
                SELECT pk, rev, abc,
                  CASE WHEN cv IS NULL THEN 'Z'
                    WHEN cv < 0.5 THEN 'X'
                    WHEN cv < 1.0 THEN 'Y'
                    ELSE 'Z' END AS xyz
                FROM cls)
              SELECT abc, xyz, CAST(count(*) AS BIGINT) AS n_parts,
                round(CAST(SUM(rev) AS DOUBLE) / CAST(MAX(trev)
                  AS DOUBLE), 12) AS rev_share
              FROM xy, tot GROUP BY 1, 2 ORDER BY abc, xyz""")),

    // ── Simpson's diversity of the brand mix per region ─────────────────
    // Ecology's concentration lens on assortment: D = Σnᵢ(nᵢ−1) /
    // (N(N−1)) — the probability two random line items share a brand —
    // plus the effective-brand count 1/D. D is an EXACT RATIONAL of
    // integer counts (unlike Shannon entropy, no transcendental at
    // all): one census to (region, brand) counts over the broadcast-
    // dimension join chain, exact DECIMAL numerator, ONE IEEE
    // division per region. NULL-guarded for N ≤ 1.
    Q("q_simpson_diversity",
      (s, dir) => {
        t(s, dir, "lineitem")
          .join(broadcast(t(s, dir, "part")
            .select(col("p_partkey"), col("p_brand"))),
            col("l_partkey") === col("p_partkey"))
          .join(broadcast(t(s, dir, "supplier")
            .select(col("s_suppkey"), col("s_nationkey"))),
            col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(t(s, dir, "nation")
            .select(col("n_nationkey"), col("n_regionkey"))),
            col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(t(s, dir, "region")),
            col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name"), col("p_brand"))
          .agg(count(lit(1)).cast("long").as("n_i"))
          .groupBy("r_name")
          .agg(count(lit(1)).cast("long").as("n_brands"),
            sum(col("n_i")).cast("long").as("n"),
            sum(col("n_i").cast("decimal(38,0)") * (col("n_i") - 1))
              .as("num"))
          .select(col("r_name"), col("n_brands"), col("n"),
            when(col("n") <= 1, lit(null).cast("double"))
              .otherwise(col("num").cast("double")
                / (col("n").cast("decimal(38,0)") * (col("n") - 1))
                  .cast("double")).as("simpson_d"))
          .select(col("r_name"), col("n_brands"), col("n"),
            round(col("simpson_d"), 12).as("simpson_d"),
            when(col("simpson_d").isNull || col("simpson_d") <= 0,
              lit(null).cast("double"))
              .otherwise(round(lit(1.0) / col("simpson_d"), 12))
              .as("effective_brands"))
          .orderBy("r_name")
      },
      Some("""WITH cen AS (
                SELECT r_name, p_brand, CAST(count(*) AS BIGINT) AS n_i
                FROM lineitem
                JOIN part ON l_partkey = p_partkey
                JOIN supplier ON l_suppkey = s_suppkey
                JOIN nation ON s_nationkey = n_nationkey
                JOIN region ON n_regionkey = r_regionkey
                GROUP BY 1, 2),
              agg AS (
                SELECT r_name, CAST(count(*) AS BIGINT) AS n_brands,
                  CAST(SUM(n_i) AS BIGINT) AS n,
                  SUM(CAST(n_i AS HUGEINT) * (n_i - 1)) AS num
                FROM cen GROUP BY 1),
              d AS (
                SELECT r_name, n_brands, n,
                  CASE WHEN n <= 1 THEN NULL
                    ELSE CAST(num AS DOUBLE)
                      / CAST(CAST(n AS HUGEINT) * (n - 1) AS DOUBLE) END
                    AS simpson_d
                FROM agg)
              SELECT r_name, n_brands, n,
                round(simpson_d, 12) AS simpson_d,
                CASE WHEN simpson_d IS NULL OR simpson_d <= 0 THEN NULL
                  ELSE round(1.0 / simpson_d, 12) END
                  AS effective_brands
              FROM d ORDER BY r_name""")),

    // ── variance inflation factors for the (qty, price, discount) trio ──
    // The collinearity diagnostic OLS users check before trusting
    // coefficients: VIF_i = 1/(1−R_i²), with each R_i² in closed form
    // from the three pairwise correlations (3-regressor identity —
    // no matrix inversion, no iteration). Same ONE-agg exact moment
    // census as q_partial_corr; everything after is row-local IEEE.
    // NULL-guarded degenerate correlations.
    Q("q_vif",
      (s, dir) => {
        val m = t(s, dir, "lineitem")
          .select((dec2(col("l_quantity")) * 100).cast("long").as("x"),
            (dec2(col("l_extendedprice")) * 100).cast("long").as("y"),
            (col("l_discount").cast("decimal(18,4)") * 10000)
              .cast("long").as("z"))
          .agg(count(lit(1)).cast("long").as("n"),
            sum(col("x").cast("decimal(38,0)")).as("sx"),
            sum(col("y").cast("decimal(38,0)")).as("sy"),
            sum(col("z").cast("decimal(38,0)")).as("sz"),
            sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"),
            sum(col("y").cast("decimal(38,0)") * col("y")).as("syy"),
            sum(col("z").cast("decimal(38,0)") * col("z")).as("szz"),
            sum(col("x").cast("decimal(38,0)") * col("y")).as("sxy"),
            sum(col("x").cast("decimal(38,0)") * col("z")).as("sxz"),
            sum(col("y").cast("decimal(38,0)") * col("z")).as("syz"))
        val r = m.select(col("n"),
          ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
            / sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
              .cast("double")
              * (col("n") * col("syy") - col("sy") * col("sy"))
                .cast("double"))).as("rxy"),
          ((col("n") * col("sxz") - col("sx") * col("sz")).cast("double")
            / sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
              .cast("double")
              * (col("n") * col("szz") - col("sz") * col("sz"))
                .cast("double"))).as("rxz"),
          ((col("n") * col("syz") - col("sy") * col("sz")).cast("double")
            / sqrt((col("n") * col("syy") - col("sy") * col("sy"))
              .cast("double")
              * (col("n") * col("szz") - col("sz") * col("sz"))
                .cast("double"))).as("ryz"))
        def r2(a: String, b: String, c: String) =
          ((col(a) * col(a) + col(b) * col(b)
            - lit(2.0) * col(a) * col(b) * col(c))
            / (lit(1.0) - col(c) * col(c)))
        def vif(a: String, b: String, c: String) =
          when((lit(1.0) - col(c) * col(c)) <= 0
            || (lit(1.0) - r2(a, b, c)) <= 0, lit(null).cast("double"))
            .otherwise(round(lit(1.0) / (lit(1.0) - r2(a, b, c)), 12))
        r.select(col("n"),
          vif("rxy", "rxz", "ryz").as("vif_qty"),
          vif("rxy", "ryz", "rxz").as("vif_price"),
          vif("rxz", "ryz", "rxy").as("vif_discount"))
      },
      Some("""WITH mom AS (
                SELECT CAST(count(*) AS BIGINT) AS n,
                  SUM(CAST(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS HUGEINT)) AS sx,
                  SUM(CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                    * 100 AS BIGINT) AS HUGEINT)) AS sy,
                  SUM(CAST(CAST(CAST(l_discount AS DECIMAL(18,4)) * 10000
                    AS BIGINT) AS HUGEINT)) AS sz,
                  SUM(CAST(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS HUGEINT)
                    * CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100
                      AS BIGINT)) AS sxx,
                  SUM(CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                    * 100 AS BIGINT) AS HUGEINT)
                    * CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                      AS BIGINT)) AS syy,
                  SUM(CAST(CAST(CAST(l_discount AS DECIMAL(18,4)) * 10000
                    AS BIGINT) AS HUGEINT)
                    * CAST(CAST(l_discount AS DECIMAL(18,4)) * 10000
                      AS BIGINT)) AS szz,
                  SUM(CAST(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS HUGEINT)
                    * CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                      AS BIGINT)) AS sxy,
                  SUM(CAST(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS HUGEINT)
                    * CAST(CAST(l_discount AS DECIMAL(18,4)) * 10000
                      AS BIGINT)) AS sxz,
                  SUM(CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                    * 100 AS BIGINT) AS HUGEINT)
                    * CAST(CAST(l_discount AS DECIMAL(18,4)) * 10000
                      AS BIGINT)) AS syz
                FROM lineitem),
              r AS (
                SELECT n,
                  CAST(n * sxy - sx * sy AS DOUBLE)
                    / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                      * CAST(n * syy - sy * sy AS DOUBLE)) AS rxy,
                  CAST(n * sxz - sx * sz AS DOUBLE)
                    / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                      * CAST(n * szz - sz * sz AS DOUBLE)) AS rxz,
                  CAST(n * syz - sy * sz AS DOUBLE)
                    / sqrt(CAST(n * syy - sy * sy AS DOUBLE)
                      * CAST(n * szz - sz * sz AS DOUBLE)) AS ryz
                FROM mom)
              SELECT n,
                CASE WHEN (1.0 - ryz * ryz) <= 0
                    OR (1.0 - (rxy * rxy + rxz * rxz
                      - 2.0 * rxy * rxz * ryz)
                      / (1.0 - ryz * ryz)) <= 0 THEN NULL
                  ELSE round(1.0 / (1.0 - (rxy * rxy + rxz * rxz
                    - 2.0 * rxy * rxz * ryz) / (1.0 - ryz * ryz)), 12)
                  END AS vif_qty,
                CASE WHEN (1.0 - rxz * rxz) <= 0
                    OR (1.0 - (rxy * rxy + ryz * ryz
                      - 2.0 * rxy * ryz * rxz)
                      / (1.0 - rxz * rxz)) <= 0 THEN NULL
                  ELSE round(1.0 / (1.0 - (rxy * rxy + ryz * ryz
                    - 2.0 * rxy * ryz * rxz) / (1.0 - rxz * rxz)), 12)
                  END AS vif_price,
                CASE WHEN (1.0 - rxy * rxy) <= 0
                    OR (1.0 - (rxz * rxz + ryz * ryz
                      - 2.0 * rxz * ryz * rxy)
                      / (1.0 - rxy * rxy)) <= 0 THEN NULL
                  ELSE round(1.0 / (1.0 - (rxz * rxz + ryz * ryz
                    - 2.0 * rxz * ryz * rxy) / (1.0 - rxy * rxy)), 12)
                  END AS vif_discount
              FROM r""")),

    // ── Fisher ideal price index (matched model, 1995-98 → 1999-01) ─────
    // The deflator pipeline: per-part unit prices in the base era
    // (ship years ≤ 1998) vs the current era, Laspeyres = Σp₁q₀/Σp₀q₀,
    // Paasche = Σp₁q₁/Σp₀q₁, Fisher = √(L·P). ONE lineitem scan with
    // conditional per-era sums (no two-scan self-join), matched model =
    // parts traded in BOTH eras. Unit prices are μ-integerized
    // (micro-cents via exact integer div), the four cross-term sums run
    // in DECIMAL(38,0)/HUGEINT, so the only IEEE ops are the three final
    // divisions and one sqrt — order-free and cross-engine exact. The
    // part census is dimension-sized; everything before it is
    // partial+final agg on the fact scan.
    Q("q_fisher_index",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .select(col("l_partkey"),
            (year(col("l_shipdate")) <= 1998).as("base"),
            expr("CAST(CAST(l_quantity AS DECIMAL(18,0)) AS BIGINT)")
              .as("q"),
            expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
              .as("cents"))
        val census = li.groupBy("l_partkey")
          .agg(
            sum(when(col("base"), col("q")).otherwise(lit(0L))
              .cast(DecimalType(38, 0))).as("q0"),
            sum(when(col("base"), col("cents")).otherwise(lit(0L))
              .cast(DecimalType(38, 0))).as("c0"),
            sum(when(!col("base"), col("q")).otherwise(lit(0L))
              .cast(DecimalType(38, 0))).as("q1"),
            sum(when(!col("base"), col("cents")).otherwise(lit(0L))
              .cast(DecimalType(38, 0))).as("c1"))
          .filter(col("q0") > 0 && col("q1") > 0)
          .select(col("l_partkey"),
            col("q0").cast("long").as("q0"),
            col("q1").cast("long").as("q1"),
            expr("CAST((c0 * 1000000) div q0 AS BIGINT)").as("p0"),
            expr("CAST((c1 * 1000000) div q1 AS BIGINT)").as("p1"))
        census.agg(
            count(lit(1)).cast("long").as("n_matched"),
            sum(col("p1").cast(DecimalType(38, 0)) * col("q0")).as("l_num"),
            sum(col("p0").cast(DecimalType(38, 0)) * col("q0")).as("l_den"),
            sum(col("p1").cast(DecimalType(38, 0)) * col("q1")).as("p_num"),
            sum(col("p0").cast(DecimalType(38, 0)) * col("q1")).as("p_den"))
          .select(col("n_matched"),
            round(col("l_num").cast("double")
              / col("l_den").cast("double"), 12).as("laspeyres"),
            round(col("p_num").cast("double")
              / col("p_den").cast("double"), 12).as("paasche"),
            round(sqrt((col("l_num").cast("double")
                / col("l_den").cast("double"))
              * (col("p_num").cast("double")
                / col("p_den").cast("double"))), 12).as("fisher"))
      },
      Some("""WITH li AS (
                SELECT l_partkey,
                  year(l_shipdate) <= 1998 AS base,
                  CAST(CAST(l_quantity AS DECIMAL(18,0)) AS BIGINT) AS q,
                  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS cents
                FROM lineitem),
              census AS (
                SELECT l_partkey,
                  SUM(CAST(CASE WHEN base THEN q ELSE 0 END AS HUGEINT))
                    AS q0,
                  SUM(CAST(CASE WHEN base THEN cents ELSE 0 END
                    AS HUGEINT)) AS c0,
                  SUM(CAST(CASE WHEN NOT base THEN q ELSE 0 END
                    AS HUGEINT)) AS q1,
                  SUM(CAST(CASE WHEN NOT base THEN cents ELSE 0 END
                    AS HUGEINT)) AS c1
                FROM li GROUP BY 1),
              px AS (
                SELECT l_partkey,
                  CAST(q0 AS BIGINT) AS q0, CAST(q1 AS BIGINT) AS q1,
                  CAST((c0 * 1000000) // q0 AS BIGINT) AS p0,
                  CAST((c1 * 1000000) // q1 AS BIGINT) AS p1
                FROM census WHERE q0 > 0 AND q1 > 0),
              m AS (
                SELECT CAST(count(*) AS BIGINT) AS n_matched,
                  SUM(CAST(p1 AS HUGEINT) * q0) AS l_num,
                  SUM(CAST(p0 AS HUGEINT) * q0) AS l_den,
                  SUM(CAST(p1 AS HUGEINT) * q1) AS p_num,
                  SUM(CAST(p0 AS HUGEINT) * q1) AS p_den
                FROM px)
              SELECT n_matched,
                round(CAST(l_num AS DOUBLE) / CAST(l_den AS DOUBLE), 12)
                  AS laspeyres,
                round(CAST(p_num AS DOUBLE) / CAST(p_den AS DOUBLE), 12)
                  AS paasche,
                round(sqrt((CAST(l_num AS DOUBLE) / CAST(l_den AS DOUBLE))
                  * (CAST(p_num AS DOUBLE) / CAST(p_den AS DOUBLE))), 12)
                  AS fisher
              FROM m""")),

    // ── Törnqvist price index (log form) ─────────────────────────────────
    // The superlative index that completes q_fisher_index's
    // Laspeyres/Paasche/Fisher trio: ln T = Σ s̄ᵢ·ln(p¹ᵢ/p⁰ᵢ) with
    // expenditure-share weights s̄ = (s⁰+s¹)/2 — the discrete Divisia
    // approximation national statistics offices actually publish.
    // Reported in LOG form (no cross-engine exp): shares are exact
    // cent ratios, each ln acts on an exact micro-price ratio, terms
    // 12-dec-pinned and part-pinned-folded. Same matched-part census
    // as Fisher (one lineitem pass).
    Q("q_tornqvist_index",
      (s, dir) => {
        val dec38 = DecimalType(38, 0)
        val li = t(s, dir, "lineitem")
          .select(col("l_partkey"),
            (year(col("l_shipdate")) <= 1998).as("base"),
            expr("CAST(CAST(l_quantity AS DECIMAL(18,0)) AS BIGINT)")
              .as("q"),
            expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
              .as("cents"))
        val census = li.groupBy("l_partkey")
          .agg(
            sum(when(col("base"), col("q")).otherwise(lit(0L))
              .cast(dec38)).as("q0"),
            sum(when(col("base"), col("cents")).otherwise(lit(0L))
              .cast(dec38)).as("c0"),
            sum(when(!col("base"), col("q")).otherwise(lit(0L))
              .cast(dec38)).as("q1"),
            sum(when(!col("base"), col("cents")).otherwise(lit(0L))
              .cast(dec38)).as("c1"))
          .filter(col("q0") > 0 && col("q1") > 0)
          .select(col("l_partkey"), col("c0"), col("c1"),
            expr("CAST((c0 * 1000000) div q0 AS BIGINT)").as("p0"),
            expr("CAST((c1 * 1000000) div q1 AS BIGINT)").as("p1"))
          .persist()
        val tot = census.agg(sum(col("c0")).as("tc0"),
          sum(col("c1")).as("tc1")).localCheckpoint(false)
        census.crossJoin(broadcast(tot))
          .select(col("l_partkey"),
            round(((col("c0").cast("double") / col("tc0").cast("double")
              + col("c1").cast("double") / col("tc1").cast("double"))
              / 2.0)
              * log(col("p1").cast("double") / col("p0").cast("double")),
              12).as("term"))
          .agg(count(lit(1)).cast("long").as("n_matched"),
            expr("""aggregate(array_sort(collect_list(
                      struct(l_partkey, term))),
                    CAST(0 AS DOUBLE), (a, x) -> a + x.term)""")
              .as("lnt"))
          .select(col("n_matched"), round(col("lnt"), 12)
            .as("ln_tornqvist"))
      },
      Some("""WITH li AS (
                SELECT l_partkey,
                  year(l_shipdate) <= 1998 AS base,
                  CAST(CAST(l_quantity AS DECIMAL(18,0)) AS BIGINT) AS q,
                  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS cents
                FROM lineitem),
              census AS (
                SELECT l_partkey,
                  SUM(CASE WHEN base THEN q ELSE 0 END) AS q0,
                  SUM(CASE WHEN base THEN cents ELSE 0 END) AS c0,
                  SUM(CASE WHEN NOT base THEN q ELSE 0 END) AS q1,
                  SUM(CASE WHEN NOT base THEN cents ELSE 0 END) AS c1
                FROM li GROUP BY 1
                HAVING SUM(CASE WHEN base THEN q ELSE 0 END) > 0
                  AND SUM(CASE WHEN NOT base THEN q ELSE 0 END) > 0),
              px AS (
                SELECT l_partkey, c0, c1,
                  CAST((c0 * 1000000) // q0 AS BIGINT) AS p0,
                  CAST((c1 * 1000000) // q1 AS BIGINT) AS p1
                FROM census),
              tot AS (SELECT SUM(c0) AS tc0, SUM(c1) AS tc1 FROM px),
              terms AS (
                SELECT l_partkey,
                  round(((CAST(c0 AS DOUBLE) / CAST(tc0 AS DOUBLE)
                    + CAST(c1 AS DOUBLE) / CAST(tc1 AS DOUBLE)) / 2.0)
                    * ln(CAST(p1 AS DOUBLE) / CAST(p0 AS DOUBLE)), 12)
                    AS term
                FROM px, tot)
              SELECT CAST(count(*) AS BIGINT) AS n_matched,
                round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                  list(term ORDER BY l_partkey)), (a, x) -> a + x), 12)
                  AS ln_tornqvist
              FROM terms""")),

    // ── Taylor's power law: variance ∝ mean^b across parts ──────────────
    // Ecology's fluctuation-scaling law as a demand-volatility lens:
    // per-part quantity mean/variance, then the ln-var ~ ln-mean OLS
    // slope across the part census. Per-part moments are exact integer
    // sums (one partial+final agg on the fact scan); mean/var/ln are
    // row-local IEEE on identical inputs; the cross-part sums
    // μ-integerize each log to 1e-9 (floor(x·1e9 + 0.5)) so the global
    // OLS sums are exact integers — order-free, no pinned fold needed.
    // Products run in DECIMAL(38,0)/HUGEINT (ln·1e9 ≈ 1e10 squares past
    // int64). Slope is scale-free; intercept rescales by 1e-9.
    Q("q_taylor_law",
      (s, dir) => {
        val mom = t(s, dir, "lineitem")
          .select(col("l_partkey"),
            expr("CAST(CAST(l_quantity AS DECIMAL(18,0)) AS BIGINT)")
              .as("q"))
          .groupBy("l_partkey")
          .agg(count(lit(1)).cast("long").as("n"),
            sum(col("q").cast(DecimalType(38, 0))).as("s1"),
            sum(col("q").cast(DecimalType(38, 0)) * col("q")).as("s2"))
          .filter(col("n") >= 2)
          .select(col("n").cast("double").as("nd"),
            col("s1").cast("double").as("s1d"),
            col("s2").cast("double").as("s2d"))
          .select((col("s1d") / col("nd")).as("mean"),
            ((col("s2d") - col("s1d") * col("s1d") / col("nd"))
              / (col("nd") - 1)).as("variance"))
          .filter(col("mean") > 0 && col("variance") > 0)
          .select(
            floor(log(col("mean")) * 1e9 + 0.5).cast("long").as("x"),
            floor(log(col("variance")) * 1e9 + 0.5).cast("long").as("y"))
        mom.agg(count(lit(1)).cast("long").as("n"),
            sum(col("x").cast(DecimalType(38, 0))).as("sx"),
            sum(col("y").cast(DecimalType(38, 0))).as("sy"),
            sum(col("x").cast(DecimalType(38, 0)) * col("y")).as("sxy"),
            sum(col("x").cast(DecimalType(38, 0)) * col("x")).as("sxx"))
          .select(col("n"),
            when((col("n") * col("sxx") - col("sx") * col("sx"))
              .cast("double") <= 0, lit(null).cast("double"))
              .otherwise(round(
                (col("n") * col("sxy") - col("sx") * col("sy"))
                  .cast("double")
                / (col("n") * col("sxx") - col("sx") * col("sx"))
                  .cast("double"), 6)).as("slope"),
            when((col("n") * col("sxx") - col("sx") * col("sx"))
              .cast("double") <= 0, lit(null).cast("double"))
              .otherwise(round(
                (col("sy").cast("double") / col("n").cast("double")
                  - ((col("n") * col("sxy") - col("sx") * col("sy"))
                    .cast("double")
                    / (col("n") * col("sxx") - col("sx") * col("sx"))
                      .cast("double"))
                    * col("sx").cast("double") / col("n").cast("double"))
                / 1e9, 6)).as("intercept"))
      },
      Some("""WITH mom AS (
                SELECT l_partkey, CAST(count(*) AS BIGINT) AS n,
                  SUM(CAST(CAST(CAST(l_quantity AS DECIMAL(18,0))
                    AS BIGINT) AS HUGEINT)) AS s1,
                  SUM(CAST(CAST(CAST(l_quantity AS DECIMAL(18,0))
                    AS BIGINT) AS HUGEINT)
                    * CAST(CAST(l_quantity AS DECIMAL(18,0)) AS BIGINT))
                    AS s2
                FROM lineitem GROUP BY 1),
              mv AS (
                SELECT CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
                  (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)
                    * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                    / (CAST(n AS DOUBLE) - 1) AS variance
                FROM mom WHERE n >= 2),
              xy AS (
                SELECT CAST(floor(ln(mean) * 1e9 + 0.5) AS BIGINT) AS x,
                  CAST(floor(ln(variance) * 1e9 + 0.5) AS BIGINT) AS y
                FROM mv WHERE mean > 0 AND variance > 0),
              m AS (
                SELECT CAST(count(*) AS BIGINT) AS n,
                  SUM(CAST(x AS HUGEINT)) AS sx,
                  SUM(CAST(y AS HUGEINT)) AS sy,
                  SUM(CAST(x AS HUGEINT) * y) AS sxy,
                  SUM(CAST(x AS HUGEINT) * x) AS sxx
                FROM xy)
              SELECT n,
                CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) <= 0
                  THEN NULL
                  ELSE round(CAST(n * sxy - sx * sy AS DOUBLE)
                    / CAST(n * sxx - sx * sx AS DOUBLE), 6) END AS slope,
                CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) <= 0
                  THEN NULL
                  ELSE round((CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
                    - (CAST(n * sxy - sx * sy AS DOUBLE)
                      / CAST(n * sxx - sx * sx AS DOUBLE))
                      * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                    / 1e9, 6) END AS intercept
              FROM m""")),

    // ── Lorenz curve: revenue concentration by customer decile ──────────
    // The curve behind q_gini's scalar: customers ranked ASCENDING by
    // exact order-revenue cents (tie-broken by custkey — a total
    // order), cut into tenths by (rn−1)·10 div n, per-decile exact
    // sums, then cumulative shares. The per-customer census is one
    // partial+final agg; the rank rides RangeRank's 2-pass range
    // partitioning — the customer census GROWS with the corpus, so a
    // single-task global window would serialize at 100 TB (the
    // q_ltv_deciles discipline); shares are final IEEE divisions on
    // the 10-row frame.
    Q("q_lorenz_curve",
      (s, dir) => {
        val wcum = Window.orderBy("decile")
          .rowsBetween(Window.unboundedPreceding, 0)
        // persist: the customer census feeds the decile cut AND the
        // grand totals — un-persisted, each consumer re-scans orders
        val cust = t(s, dir, "orders")
          .select(col("o_custkey"),
            expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
              .as("c"))
          .groupBy("o_custkey")
          .agg(sum(col("c").cast(DecimalType(38, 0))).as("cents"))
          .persist()
        RangeRank.ranked(cust, Seq.empty,
            Seq(col("cents"), col("o_custkey")))
          .select(col("cents"),
            expr("CAST((rn - 1) * 10 div n + 1 AS BIGINT)").as("decile"))
          .groupBy("decile")
          .agg(count(lit(1)).cast("long").as("n_customers"),
            sum(col("cents")).as("rev"))
          .withColumn("cum_rev", sum(col("rev")).over(wcum))
          .withColumn("cum_n", sum(col("n_customers")).over(wcum))
          .crossJoin(broadcast(
            cust.agg(sum(col("cents")).as("tot"),
              count(lit(1)).cast("long").as("nc"))))
          .select(col("decile"), col("n_customers"),
            round(col("rev").cast("double") / col("tot").cast("double"),
              12).as("rev_share"),
            round(col("cum_rev").cast("double") / col("tot").cast("double"),
              12).as("cum_rev_share"),
            round(col("cum_n").cast("double") / col("nc").cast("double"),
              12).as("cum_customer_share"))
          .orderBy("decile")
      },
      Some("""WITH cust AS (
                SELECT o_custkey,
                  SUM(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS HUGEINT)) AS cents
                FROM orders GROUP BY 1),
              dec AS (
                SELECT o_custkey, cents,
                  CAST((CAST(row_number() OVER (ORDER BY cents, o_custkey)
                    AS BIGINT) - 1) * 10
                    // (SELECT count(*) FROM cust) + 1 AS BIGINT)
                    AS decile
                FROM cust),
              per AS (
                SELECT decile, CAST(count(*) AS BIGINT) AS n_customers,
                  SUM(cents) AS rev
                FROM dec GROUP BY 1),
              cum AS (
                SELECT decile, n_customers, rev,
                  SUM(rev) OVER (ORDER BY decile
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS cum_rev,
                  SUM(n_customers) OVER (ORDER BY decile
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS cum_n
                FROM per),
              tot AS (
                SELECT SUM(cents) AS tot,
                  CAST(count(*) AS BIGINT) AS nc
                FROM cust)
              SELECT decile, n_customers,
                round(CAST(rev AS DOUBLE) / CAST(tot AS DOUBLE), 12)
                  AS rev_share,
                round(CAST(cum_rev AS DOUBLE) / CAST(tot AS DOUBLE), 12)
                  AS cum_rev_share,
                round(CAST(cum_n AS DOUBLE) / CAST(nc AS DOUBLE), 12)
                  AS cum_customer_share
              FROM cum, tot ORDER BY decile""")),

    // ── Friedman rank test: priority effect controlling for nation ──────
    // The nonparametric two-way companion to q_kruskal_wallis: blocks =
    // customer nations, treatments = order priorities, y = block×cell
    // mean order value. Cell means are IEEE ratios of exact cent sums
    // (identical doubles both engines); within-block ranks are
    // row_number over (mean, priority) — a deterministic total order —
    // so the rank sums Rⱼ are exact integers and χ²_F =
    // 12·ΣRⱼ²/(b·k·(k+1)) − 3·b·(k+1) is row-local IEEE on integers.
    // The cell census is nations×priorities-bounded; one orders scan.
    Q("q_friedman_test",
      (s, dir) => {
        val cells = t(s, dir, "orders")
          .join(broadcast(t(s, dir, "customer")
            .select(col("c_custkey"), col("c_nationkey"))),
            col("o_custkey") === col("c_custkey"))
          .select(col("c_nationkey"), col("o_orderpriority"),
            expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
              .as("c"))
          .groupBy("c_nationkey", "o_orderpriority")
          .agg(count(lit(1)).cast("long").as("n"),
            sum(col("c").cast(DecimalType(38, 0))).as("sc"))
          .select(col("c_nationkey"), col("o_orderpriority"),
            (col("sc").cast("double") / col("n").cast("double"))
              .as("m"))
          // persist: the ≤nations×priorities census feeds the k probe,
          // the full-block filter and the ranking — un-persisted, each
          // consumer re-runs the orders⋈customer scan
          .persist()
        val k = cells.groupBy("c_nationkey")
          .agg(count(lit(1)).as("kb"))
          .agg(max(col("kb")).cast("long").as("k"))
        val ranked = cells.crossJoin(broadcast(k))
          .withColumn("kb",
            count(lit(1)).over(Window.partitionBy("c_nationkey")))
          .filter(col("kb") === col("k"))
          .withColumn("r",
            row_number().over(Window.partitionBy("c_nationkey")
              .orderBy("m", "o_orderpriority")).cast("long"))
        val rsums = ranked.groupBy("o_orderpriority")
          .agg(sum(col("r")).cast("long").as("rank_sum"),
            count(lit(1)).cast("long").as("b"))
        rsums.crossJoin(broadcast(k))
          .crossJoin(broadcast(rsums.agg(
            sum(col("rank_sum") * col("rank_sum")).cast("long")
              .as("sr2"))))
          .select(col("o_orderpriority"), col("rank_sum"), col("b"),
            col("k"),
            round(col("rank_sum").cast("double")
              / col("b").cast("double"), 6).as("mean_rank"),
            round(lit(12.0) * col("sr2").cast("double")
              / (col("b") * col("k") * (col("k") + 1)).cast("double")
              - lit(3.0) * (col("b") * (col("k") + 1)).cast("double"), 6)
              .as("chi2_f"))
          .orderBy("o_orderpriority")
      },
      Some("""WITH cells AS (
                SELECT c_nationkey, o_orderpriority,
                  CAST(count(*) AS BIGINT) AS n,
                  SUM(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS HUGEINT)) AS sc
                FROM orders JOIN customer ON o_custkey = c_custkey
                GROUP BY 1, 2),
              mm AS (
                SELECT c_nationkey, o_orderpriority,
                  CAST(sc AS DOUBLE) / CAST(n AS DOUBLE) AS m
                FROM cells),
              kk AS (
                SELECT CAST(MAX(kb) AS BIGINT) AS k FROM (
                  SELECT count(*) AS kb FROM mm GROUP BY c_nationkey)),
              full_blocks AS (
                SELECT mm.*, kk.k FROM mm, kk
                WHERE c_nationkey IN (
                  SELECT c_nationkey FROM mm, kk
                  GROUP BY c_nationkey, k HAVING count(*) = k)),
              ranked AS (
                SELECT o_orderpriority, k,
                  CAST(row_number() OVER (PARTITION BY c_nationkey
                    ORDER BY m, o_orderpriority) AS BIGINT) AS r
                FROM full_blocks),
              rsums AS (
                SELECT o_orderpriority, MAX(k) AS k,
                  CAST(SUM(r) AS BIGINT) AS rank_sum,
                  CAST(count(*) AS BIGINT) AS b
                FROM ranked GROUP BY 1),
              sr AS (
                SELECT CAST(SUM(rank_sum * rank_sum) AS BIGINT) AS sr2
                FROM rsums)
              SELECT o_orderpriority, rank_sum, b, CAST(k AS BIGINT) AS k,
                round(CAST(rank_sum AS DOUBLE) / CAST(b AS DOUBLE), 6)
                  AS mean_rank,
                round(12.0 * CAST(sr2 AS DOUBLE)
                  / CAST(b * k * (k + 1) AS DOUBLE)
                  - 3.0 * CAST(b * (k + 1) AS DOUBLE), 6) AS chi2_f
              FROM rsums, sr ORDER BY o_orderpriority""")),

    // ── Nemenyi post-hoc: WHICH priority pairs differ, after Friedman ──
    // The blocked-design twin of q_dunn_posthoc (Dunn follows
    // Kruskal–Wallis, Nemenyi follows Friedman): pairwise mean-rank
    // gaps over the SAME nation-blocked priority ranks, studentized by
    // the constant SE = √(k(k+1)/(6b)) — the statistic CD diagrams
    // plot. Rank sums are exact integers off the deterministic
    // (mean, priority) within-block total order; mean ranks, SE and q
    // are one pinned IEEE sequence per pair; C(k,2) = 10 output rows,
    // catalog-bounded. One orders scan (the persisted cell census
    // feeds the k probe, the full-block filter and the ranking).
    Q("q_nemenyi_posthoc",
      (s, dir) => {
        val cells = t(s, dir, "orders")
          .join(broadcast(t(s, dir, "customer")
            .select(col("c_custkey"), col("c_nationkey"))),
            col("o_custkey") === col("c_custkey"))
          .select(col("c_nationkey"), col("o_orderpriority"),
            expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
              .as("c"))
          .groupBy("c_nationkey", "o_orderpriority")
          .agg(count(lit(1)).cast("long").as("n"),
            sum(col("c").cast(DecimalType(38, 0))).as("sc"))
          .select(col("c_nationkey"), col("o_orderpriority"),
            (col("sc").cast("double") / col("n").cast("double"))
              .as("m"))
          .persist()
        val k = cells.groupBy("c_nationkey")
          .agg(count(lit(1)).as("kb"))
          .agg(max(col("kb")).cast("long").as("k"))
        val ranked = cells.crossJoin(broadcast(k))
          .withColumn("kb",
            count(lit(1)).over(Window.partitionBy("c_nationkey")))
          .filter(col("kb") === col("k"))
          .withColumn("r",
            row_number().over(Window.partitionBy("c_nationkey")
              .orderBy("m", "o_orderpriority")).cast("long"))
        val rsums = ranked.groupBy("o_orderpriority")
          .agg(sum(col("r")).cast("long").as("rs"),
            count(lit(1)).cast("long").as("b"))
        rsums.as("a")
          .join(rsums.as("bb"),
            col("a.o_orderpriority") < col("bb.o_orderpriority"))
          .crossJoin(broadcast(k))
          .select(col("a.o_orderpriority").as("prio_a"),
            col("bb.o_orderpriority").as("prio_b"),
            col("a.rs").as("rs_a"), col("bb.rs").as("rs_b"),
            col("a.b").as("b"), col("k"))
          .select(col("prio_a"), col("prio_b"), col("rs_a"), col("rs_b"),
            col("b"), col("k"),
            when(col("b") <= 0, lit(null).cast("double"))
              .otherwise(round(
                (col("rs_a").cast("double") / col("b").cast("double")
                  - col("rs_b").cast("double") / col("b").cast("double"))
                / sqrt((col("k") * (col("k") + 1)).cast("double")
                  / (col("b") * 6L).cast("double")), 6)).as("q_stat"))
          .orderBy("prio_a", "prio_b")
      },
      Some("""WITH cells AS (
                SELECT c_nationkey, o_orderpriority,
                  CAST(count(*) AS BIGINT) AS n,
                  SUM(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS HUGEINT)) AS sc
                FROM orders JOIN customer ON o_custkey = c_custkey
                GROUP BY 1, 2),
              means AS (
                SELECT c_nationkey, o_orderpriority,
                  CAST(sc AS DOUBLE) / CAST(n AS DOUBLE) AS m
                FROM cells),
              kk AS (
                SELECT CAST(MAX(kb) AS BIGINT) AS k
                FROM (SELECT c_nationkey, count(*) AS kb
                      FROM means GROUP BY 1)),
              full_blocks AS (
                SELECT c_nationkey, o_orderpriority, m
                FROM (SELECT c_nationkey, o_orderpriority, m,
                        count(*) OVER (PARTITION BY c_nationkey) AS kb
                      FROM means), kk
                WHERE kb = k),
              ranked AS (
                SELECT o_orderpriority,
                  CAST(row_number() OVER (PARTITION BY c_nationkey
                    ORDER BY m, o_orderpriority) AS BIGINT) AS r
                FROM full_blocks),
              rsums AS (
                SELECT o_orderpriority, CAST(SUM(r) AS BIGINT) AS rs,
                  CAST(count(*) AS BIGINT) AS b
                FROM ranked GROUP BY 1)
              SELECT a.o_orderpriority AS prio_a,
                bb.o_orderpriority AS prio_b,
                a.rs AS rs_a, bb.rs AS rs_b, a.b AS b,
                CAST(k AS BIGINT) AS k,
                CASE WHEN a.b <= 0 THEN NULL
                  ELSE round(
                    (CAST(a.rs AS DOUBLE) / CAST(a.b AS DOUBLE)
                      - CAST(bb.rs AS DOUBLE) / CAST(bb.b AS DOUBLE))
                    / sqrt(CAST(k * (k + 1) AS DOUBLE)
                      / CAST(a.b * 6 AS DOUBLE)), 6) END AS q_stat
              FROM rsums a JOIN rsums bb
                ON a.o_orderpriority < bb.o_orderpriority, kk
              ORDER BY prio_a, prio_b""")),

    // ── Quade test: block-weighted rank ANOVA (Friedman's sharper kin) ──
    // Friedman throws away HOW DIFFERENT the blocks are; Quade weights
    // each nation block by the rank Q_b of its mean-value RANGE, so
    // high-signal nations dominate — the more powerful test at small k.
    // Entirely exact integers by doubling through the centering:
    // S = Q_b·(2r − (k+1)) keeps every score integral, so
    // F = (b−1)·ΣⱼSⱼ² / (b·ΣS² − ΣⱼSⱼ²) is ONE division of exact longs
    // — zero rounding, zero libm. Same persisted ≤nations×priorities
    // census as q_friedman_test (one orders⋈customer pass); block
    // ranks/ranges are census-grid windows.
    Q("q_quade",
      (s, dir) => {
        val cells = t(s, dir, "orders")
          .join(broadcast(t(s, dir, "customer")
            .select(col("c_custkey"), col("c_nationkey"))),
            col("o_custkey") === col("c_custkey"))
          .select(col("c_nationkey"), col("o_orderpriority"),
            expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
              .as("c"))
          .groupBy("c_nationkey", "o_orderpriority")
          .agg(count(lit(1)).cast("long").as("n"),
            sum(col("c").cast(DecimalType(38, 0))).as("sc"))
          .select(col("c_nationkey"), col("o_orderpriority"),
            (col("sc").cast("double") / col("n").cast("double"))
              .as("m"))
          .persist()
        val k = cells.groupBy("c_nationkey")
          .agg(count(lit(1)).as("kb"))
          .agg(max(col("kb")).cast("long").as("k"))
        val full = cells.crossJoin(broadcast(k))
          .withColumn("kb",
            count(lit(1)).over(Window.partitionBy("c_nationkey")))
          .filter(col("kb") === col("k"))
          .withColumn("r",
            row_number().over(Window.partitionBy("c_nationkey")
              .orderBy("m", "o_orderpriority")).cast("long"))
          .withColumn("rng", max(col("m"))
            .over(Window.partitionBy("c_nationkey"))
            - min(col("m")).over(Window.partitionBy("c_nationkey")))
        // block weights: rank of the block's range over the ≤|nations|
        // distinct (rng, nation) grid — deterministic (rng is an
        // identical double both engines, nation breaks ties)
        val qb = full.select("c_nationkey", "rng").distinct()
          .withColumn("qb", row_number()
            .over(Window.orderBy(col("rng"), col("c_nationkey")))
            .cast("long"))
          .select("c_nationkey", "qb")
        val scored = full.join(broadcast(qb), "c_nationkey")
          .select(col("o_orderpriority"), col("k"),
            (col("qb") * (col("r") * 2 - (col("k") + 1))).as("s2"))
          .persist()
        val perTreat = scored.groupBy("o_orderpriority")
          .agg(sum(col("s2")).cast("long").as("s2_sum"),
            count(lit(1)).cast("long").as("b"),
            max(col("k")).as("k"))
        val tot = perTreat.agg(
          sum(col("s2_sum") * col("s2_sum")).cast("long").as("sj2"),
          max(col("b")).cast("long").as("b"),
          max(col("k")).cast("long").as("k"))
          .crossJoin(broadcast(scored.agg(
            sum(col("s2") * col("s2")).cast("long").as("a2"))))
          .select(col("sj2"), col("a2"), col("b"), col("k"),
            when(col("b") * col("a2") - col("sj2") === 0,
              lit(null).cast("double"))
              .otherwise(((col("b") - 1) * col("sj2")).cast("double")
                / (col("b") * col("a2") - col("sj2")).cast("double"))
              .as("quade_f"),
            (col("k") - 1).cast("long").as("df1"),
            ((col("b") - 1) * (col("k") - 1)).cast("long").as("df2"))
        perTreat.select(col("o_orderpriority"), col("s2_sum"))
          .crossJoin(broadcast(tot.select(col("quade_f"), col("df1"),
            col("df2"), col("b"), col("k"))))
          .orderBy("o_orderpriority")
      },
      Some("""WITH cells AS (
                SELECT c_nationkey, o_orderpriority,
                  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT)) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                    AS m
                FROM orders JOIN customer ON o_custkey = c_custkey
                GROUP BY 1, 2),
              kk AS (
                SELECT CAST(MAX(kb) AS BIGINT) AS k
                FROM (SELECT c_nationkey, count(*) AS kb
                      FROM cells GROUP BY 1)),
              fullb AS (
                SELECT c.c_nationkey, c.o_orderpriority, c.m, kk.k,
                  CAST(row_number() OVER (PARTITION BY c.c_nationkey
                    ORDER BY c.m, c.o_orderpriority) AS BIGINT) AS r,
                  MAX(c.m) OVER (PARTITION BY c.c_nationkey)
                    - MIN(c.m) OVER (PARTITION BY c.c_nationkey) AS rng,
                  count(*) OVER (PARTITION BY c.c_nationkey) AS kb
                FROM cells c, kk),
              fb AS (SELECT * FROM fullb WHERE kb = k),
              qb AS (
                SELECT c_nationkey,
                  CAST(row_number() OVER (ORDER BY rng, c_nationkey)
                    AS BIGINT) AS qb
                FROM (SELECT DISTINCT c_nationkey, rng FROM fb)),
              scored AS (
                SELECT fb.o_orderpriority, fb.k,
                  qb.qb * (fb.r * 2 - (fb.k + 1)) AS s2
                FROM fb JOIN qb USING (c_nationkey)),
              pertreat AS (
                SELECT o_orderpriority,
                  CAST(SUM(s2) AS BIGINT) AS s2_sum,
                  CAST(count(*) AS BIGINT) AS b,
                  CAST(MAX(k) AS BIGINT) AS k
                FROM scored GROUP BY 1),
              tot AS (
                SELECT
                  CAST(SUM(s2_sum * s2_sum) AS BIGINT) AS sj2,
                  CAST(MAX(b) AS BIGINT) AS b, CAST(MAX(k) AS BIGINT) AS k,
                  (SELECT CAST(SUM(s2 * s2) AS BIGINT) FROM scored) AS a2
                FROM pertreat)
              SELECT p.o_orderpriority, p.s2_sum,
                CASE WHEN t.b * t.a2 - t.sj2 = 0 THEN NULL
                  ELSE CAST((t.b - 1) * t.sj2 AS DOUBLE)
                    / CAST(t.b * t.a2 - t.sj2 AS DOUBLE) END AS quade_f,
                CAST(t.k - 1 AS BIGINT) AS df1,
                CAST((t.b - 1) * (t.k - 1) AS BIGINT) AS df2,
                t.b, t.k
              FROM pertreat p, tot t ORDER BY p.o_orderpriority""")),

    // ── Mantel–Haenszel pooled odds ratio (nation-stratified 2×2) ───────
    // Does urgent priority associate with big orders once nation mix is
    // controlled? Per-nation 2×2 (exposed = priority 1-2, outcome =
    // totalprice > $250k), OR_MH = Σaᵢdᵢ/nᵢ ÷ Σbᵢcᵢ/nᵢ. Cells are
    // exact integer counts from ONE orders⋈customer pass; the rational
    // per-stratum terms are O(100) so they round to 6 (12 decimals past
    // double precision at that magnitude) and fold nation-pinned; the
    // pooled ratio is one final IEEE division. Nations-bounded census.
    Q("q_mantel_haenszel",
      (s, dir) => {
        val cells = t(s, dir, "orders")
          .join(broadcast(t(s, dir, "customer")
            .select(col("c_custkey"), col("c_nationkey"))),
            col("o_custkey") === col("c_custkey"))
          .select(col("c_nationkey"),
            col("o_orderpriority").isin("1-URGENT", "2-HIGH").as("e"),
            (expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
              > 25000000L).as("y"))
          .groupBy("c_nationkey")
          .agg(
            sum(when(col("e") && col("y"), 1L).otherwise(0L))
              .cast("long").as("a"),
            sum(when(col("e") && !col("y"), 1L).otherwise(0L))
              .cast("long").as("b"),
            sum(when(!col("e") && col("y"), 1L).otherwise(0L))
              .cast("long").as("c"),
            sum(when(!col("e") && !col("y"), 1L).otherwise(0L))
              .cast("long").as("d"))
          .select(col("c_nationkey"),
            (col("a") + col("b") + col("c") + col("d")).as("n"),
            col("a"), col("b"), col("c"), col("d"))
          .filter(col("n") > 0)
          .select(col("c_nationkey"),
            round((col("a") * col("d")).cast("double")
              / col("n").cast("double"), 6).as("r"),
            round((col("b") * col("c")).cast("double")
              / col("n").cast("double"), 6).as("ss"))
        cells.agg(count(lit(1)).cast("long").as("n_strata"),
            expr("""aggregate(array_sort(collect_list(
                      struct(c_nationkey, r))),
                    CAST(0 AS DOUBLE), (acc, x) -> acc + x.r)""")
              .as("sum_r"),
            expr("""aggregate(array_sort(collect_list(
                      struct(c_nationkey, ss))),
                    CAST(0 AS DOUBLE), (acc, x) -> acc + x.ss)""")
              .as("sum_s"))
          .select(col("n_strata"),
            round(col("sum_r"), 6).as("sum_r"),
            round(col("sum_s"), 6).as("sum_s"),
            when(col("sum_s") <= 0, lit(null).cast("double"))
              .otherwise(round(col("sum_r") / col("sum_s"), 6))
              .as("or_mh"))
      },
      Some("""WITH cells AS (
                SELECT c_nationkey,
                  CAST(SUM(CASE WHEN e AND y THEN 1 ELSE 0 END)
                    AS BIGINT) AS a,
                  CAST(SUM(CASE WHEN e AND NOT y THEN 1 ELSE 0 END)
                    AS BIGINT) AS b,
                  CAST(SUM(CASE WHEN NOT e AND y THEN 1 ELSE 0 END)
                    AS BIGINT) AS c,
                  CAST(SUM(CASE WHEN NOT e AND NOT y THEN 1 ELSE 0 END)
                    AS BIGINT) AS d
                FROM (
                  SELECT c_nationkey,
                    o_orderpriority IN ('1-URGENT', '2-HIGH') AS e,
                    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                      AS BIGINT) > 25000000 AS y
                  FROM orders JOIN customer ON o_custkey = c_custkey)
                GROUP BY 1),
              terms AS (
                SELECT c_nationkey,
                  round(CAST(a * d AS DOUBLE)
                    / CAST(a + b + c + d AS DOUBLE), 6) AS r,
                  round(CAST(b * c AS DOUBLE)
                    / CAST(a + b + c + d AS DOUBLE), 6) AS ss
                FROM cells WHERE a + b + c + d > 0),
              agg AS (
                SELECT CAST(count(*) AS BIGINT) AS n_strata,
                  list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(r ORDER BY c_nationkey)),
                    (acc, x) -> acc + x) AS sum_r,
                  list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(ss ORDER BY c_nationkey)),
                    (acc, x) -> acc + x) AS sum_s
                FROM terms)
              SELECT n_strata, round(sum_r, 6) AS sum_r,
                round(sum_s, 6) AS sum_s,
                CASE WHEN sum_s <= 0 THEN NULL
                  ELSE round(sum_r / sum_s, 6) END AS or_mh
              FROM agg""")),

    // ── Cochran–Mantel–Haenszel χ²: the TEST beside the OR estimate ────
    // q_mantel_haenszel pools the odds ratio, q_breslow_day checks the
    // strata agree — CMH is the missing third leg: does the
    // urgent→big-order association EXIST at all after nation
    // stratification? χ² = (Σ(aₖ−Eₖ))²/ΣVₖ over the SAME 25-stratum
    // 2×2 frame. Per-stratum the expected-count gap rides the ×n
    // integer domain (aₙ·n − r1·c1 exact in dec38 — r1·c1 passes int64
    // at ~3·10⁹-order strata) before its single rounded division, and
    // Vₖ = r1·r0·c1·c0/(n²(n−1)) is one pinned double product chain;
    // both fold nation-pinned, χ² is one final division. (No
    // continuity correction — the uncorrected statistic is the one
    // that generalizes to the I×J CMH family.)
    Q("q_cmh_test",
      (s, dir) => {
        val dec38 = DecimalType(38, 0)
        val cells = t(s, dir, "orders")
          .join(broadcast(t(s, dir, "customer")
            .select(col("c_custkey"), col("c_nationkey"))),
            col("o_custkey") === col("c_custkey"))
          .select(col("c_nationkey"),
            col("o_orderpriority").isin("1-URGENT", "2-HIGH").as("e"),
            (expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
              > 25000000L).as("y"))
          .groupBy("c_nationkey")
          .agg(
            sum(when(col("e") && col("y"), 1L).otherwise(0L))
              .cast("long").as("a"),
            sum(when(col("e") && !col("y"), 1L).otherwise(0L))
              .cast("long").as("b"),
            sum(when(!col("e") && col("y"), 1L).otherwise(0L))
              .cast("long").as("c"),
            sum(when(!col("e") && !col("y"), 1L).otherwise(0L))
              .cast("long").as("d"))
          .select(col("c_nationkey"), col("a"),
            (col("a") + col("b")).as("r1"), (col("c") + col("d")).as("r0"),
            (col("a") + col("c")).as("c1"), (col("b") + col("d")).as("c0"),
            (col("a") + col("b") + col("c") + col("d")).as("n"))
          .filter(col("n") > 1)
          .select(col("c_nationkey"),
            round((col("a").cast(dec38) * col("n")
              - col("r1").cast(dec38) * col("c1")).cast("double")
              / col("n").cast("double"), 9).as("diff"),
            round(col("r1").cast("double") * col("r0").cast("double")
              * col("c1").cast("double") * col("c0").cast("double")
              / (col("n").cast("double") * col("n").cast("double")
                * (col("n").cast("double") - 1.0)), 9).as("v"))
        cells.agg(count(lit(1)).cast("long").as("n_strata"),
            expr("""aggregate(array_sort(collect_list(
                      struct(c_nationkey, diff))),
                    CAST(0 AS DOUBLE), (acc, x) -> acc + x.diff)""")
              .as("sd"),
            expr("""aggregate(array_sort(collect_list(
                      struct(c_nationkey, v))),
                    CAST(0 AS DOUBLE), (acc, x) -> acc + x.v)""")
              .as("sv"))
          .select(col("n_strata"), round(col("sd"), 6).as("sum_diff"),
            when(col("sv") <= 0, lit(null).cast("double"))
              .otherwise(round(col("sd") * col("sd") / col("sv"), 6))
              .as("chi2_cmh"))
      },
      Some("""WITH cells AS (
                SELECT c_nationkey,
                  CAST(SUM(CASE WHEN e AND y THEN 1 ELSE 0 END)
                    AS BIGINT) AS a,
                  CAST(SUM(CASE WHEN e AND NOT y THEN 1 ELSE 0 END)
                    AS BIGINT) AS b,
                  CAST(SUM(CASE WHEN NOT e AND y THEN 1 ELSE 0 END)
                    AS BIGINT) AS c,
                  CAST(SUM(CASE WHEN NOT e AND NOT y THEN 1 ELSE 0 END)
                    AS BIGINT) AS d
                FROM (
                  SELECT c_nationkey,
                    o_orderpriority IN ('1-URGENT', '2-HIGH') AS e,
                    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                      AS BIGINT) > 25000000 AS y
                  FROM orders JOIN customer ON o_custkey = c_custkey)
                GROUP BY 1),
              m AS (
                SELECT c_nationkey, a,
                  a + b AS r1, c + d AS r0, a + c AS c1, b + d AS c0,
                  a + b + c + d AS n
                FROM cells WHERE a + b + c + d > 1),
              terms AS (
                SELECT c_nationkey,
                  round(CAST(CAST(a AS HUGEINT) * n
                    - CAST(r1 AS HUGEINT) * c1 AS DOUBLE)
                    / CAST(n AS DOUBLE), 9) AS diff,
                  round(CAST(r1 AS DOUBLE) * CAST(r0 AS DOUBLE)
                    * CAST(c1 AS DOUBLE) * CAST(c0 AS DOUBLE)
                    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                      * (CAST(n AS DOUBLE) - 1.0)), 9) AS v
                FROM m),
              agg AS (
                SELECT CAST(count(*) AS BIGINT) AS n_strata,
                  list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(diff ORDER BY c_nationkey)),
                    (acc, x) -> acc + x) AS sd,
                  list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(v ORDER BY c_nationkey)),
                    (acc, x) -> acc + x) AS sv
                FROM terms)
              SELECT n_strata, round(sd, 6) AS sum_diff,
                CASE WHEN sv <= 0 THEN NULL
                  ELSE round(sd * sd / sv, 6) END AS chi2_cmh
              FROM agg""")),

    // ── Breslow–Day homogeneity of odds ratios across strata ────────────
    // The companion q_mantel_haenszel assumes but cannot check: is the
    // urgent→high-value odds ratio the SAME in every nation stratum, or
    // does pooling hide heterogeneity? Per stratum, the expected a-cell
    // ã under the common OR solves the quadratic
    // (1−OR)x² + [n₂−m₁+OR(n₁+m₁)]x − OR·n₁·m₁ = 0 (both roots
    // computed, the in-range one picked by comparisons of identical
    // doubles); V = 1/(Σ reciprocal cells at ã); χ²_BD = Σ (a−ã)²/V,
    // dof = strata − 1. The common OR is the MH estimate at ITS
    // declared 6-dec precision (q_mantel_haenszel's exact output —
    // keeps both engines on one literal path); every downstream op is
    // a mirrored division/sqrt chain with 6-dec-pinned terms and a
    // stratum-pinned fold. One orders⋈customer pass → ≤|nations|
    // strata census.
    Q("q_breslow_day",
      (s, dir) => {
        val cells = t(s, dir, "orders")
          .join(broadcast(t(s, dir, "customer")
            .select(col("c_custkey"), col("c_nationkey"))),
            col("o_custkey") === col("c_custkey"))
          .select(col("c_nationkey"),
            col("o_orderpriority").isin("1-URGENT", "2-HIGH").as("e"),
            (expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
              > 25000000L).as("y"))
          .groupBy("c_nationkey")
          .agg(
            sum(when(col("e") && col("y"), 1L).otherwise(0L))
              .cast("long").as("a"),
            sum(when(col("e") && !col("y"), 1L).otherwise(0L))
              .cast("long").as("b"),
            sum(when(!col("e") && col("y"), 1L).otherwise(0L))
              .cast("long").as("c"),
            sum(when(!col("e") && !col("y"), 1L).otherwise(0L))
              .cast("long").as("d"))
          .persist()
        val orMh = cells
          .select(col("c_nationkey"),
            (col("a") + col("b") + col("c") + col("d")).as("n"),
            col("a"), col("b"), col("c"), col("d"))
          .filter(col("n") > 0)
          .select(col("c_nationkey"),
            round((col("a") * col("d")).cast("double")
              / col("n").cast("double"), 6).as("r"),
            round((col("b") * col("c")).cast("double")
              / col("n").cast("double"), 6).as("ss"))
          .agg(
            expr("""aggregate(array_sort(collect_list(
                      struct(c_nationkey, r))),
                    CAST(0 AS DOUBLE), (acc, x) -> acc + x.r)""")
              .as("sum_r"),
            expr("""aggregate(array_sort(collect_list(
                      struct(c_nationkey, ss))),
                    CAST(0 AS DOUBLE), (acc, x) -> acc + x.ss)""")
              .as("sum_s"))
          .select(round(col("sum_r") / col("sum_s"), 6).as("orc"))
          .localCheckpoint(false)
        val strata = cells.crossJoin(broadcast(orMh))
          .select(col("c_nationkey"), col("a"),
            (col("a") + col("b")).cast("double").as("n1"),
            (col("c") + col("d")).cast("double").as("n2"),
            (col("a") + col("c")).cast("double").as("m1"),
            (col("b") + col("d")).cast("double").as("m0"),
            col("orc"))
          .filter(col("n1") > 0 && col("n2") > 0 && col("m1") > 0
            && col("m0") > 0)
          .withColumn("qa", lit(1.0) - col("orc"))
          .withColumn("qb", col("n2") - col("m1")
            + col("orc") * (col("n1") + col("m1")))
          .withColumn("qc", -col("orc") * col("n1") * col("m1"))
          .withColumn("disc",
            sqrt(col("qb") * col("qb") - col("qa") * col("qc") * 4.0))
          .withColumn("r1", (-col("qb") + col("disc")) / (col("qa") * 2.0))
          .withColumn("r2", (-col("qb") - col("disc")) / (col("qa") * 2.0))
          .withColumn("lo", greatest(lit(0.0), col("m1") - col("n2")))
          .withColumn("hi", least(col("m1"), col("n1")))
          .withColumn("ea",
            when(col("orc") === 1.0,
              col("n1") * col("m1") / (col("n1") + col("n2")))
              .when(col("r1") > col("lo") && col("r1") < col("hi"),
                col("r1"))
              .otherwise(col("r2")))
          // when-guarded so a degenerate root can never hit an ANSI
          // divide-by-zero before the filter prunes it
          .withColumn("vinv",
            when(col("ea") > 0.0 && col("n1") - col("ea") > 0.0
              && col("m1") - col("ea") > 0.0
              && col("n2") - col("m1") + col("ea") > 0.0,
              lit(1.0) / col("ea") + lit(1.0) / (col("n1") - col("ea"))
                + lit(1.0) / (col("m1") - col("ea"))
                + lit(1.0) / (col("n2") - col("m1") + col("ea"))))
          .filter(col("vinv").isNotNull)
          .select(col("c_nationkey"), col("a"),
            round(col("ea"), 6).as("exp_a"),
            round((col("a").cast("double") - col("ea"))
              * (col("a").cast("double") - col("ea")) * col("vinv"), 6)
              .as("term"))
          .persist()
        val tot = strata.agg(
          count(lit(1)).cast("long").as("n_strata"),
          expr("""aggregate(array_sort(collect_list(
                    struct(c_nationkey, term))),
                  CAST(0 AS DOUBLE), (acc, x) -> acc + x.term)""")
            .as("chi2_bd"))
          .select(col("n_strata"), round(col("chi2_bd"), 6).as("chi2_bd"),
            (col("n_strata") - 1).cast("long").as("dof"))
        strata.crossJoin(broadcast(tot))
          .select(col("c_nationkey"), col("a"), col("exp_a"), col("term"),
            col("chi2_bd"), col("dof"))
          .orderBy("c_nationkey")
      },
      Some("""WITH cells AS (
                SELECT c_nationkey,
                  CAST(SUM(CASE WHEN o_orderpriority IN
                    ('1-URGENT', '2-HIGH')
                    AND CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                      AS BIGINT) > 25000000 THEN 1 ELSE 0 END)
                    AS BIGINT) AS a,
                  CAST(SUM(CASE WHEN o_orderpriority IN
                    ('1-URGENT', '2-HIGH')
                    AND NOT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                      AS BIGINT) > 25000000 THEN 1 ELSE 0 END)
                    AS BIGINT) AS b,
                  CAST(SUM(CASE WHEN o_orderpriority NOT IN
                    ('1-URGENT', '2-HIGH')
                    AND CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                      AS BIGINT) > 25000000 THEN 1 ELSE 0 END)
                    AS BIGINT) AS c,
                  CAST(SUM(CASE WHEN o_orderpriority NOT IN
                    ('1-URGENT', '2-HIGH')
                    AND NOT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                      AS BIGINT) > 25000000 THEN 1 ELSE 0 END)
                    AS BIGINT) AS d
                FROM orders JOIN customer ON o_custkey = c_custkey
                GROUP BY 1),
              mhterms AS (
                SELECT c_nationkey,
                  round(CAST(a * d AS DOUBLE)
                    / CAST(a + b + c + d AS DOUBLE), 6) AS r,
                  round(CAST(b * c AS DOUBLE)
                    / CAST(a + b + c + d AS DOUBLE), 6) AS ss
                FROM cells WHERE a + b + c + d > 0),
              ormh AS (
                SELECT round(
                  list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(r ORDER BY c_nationkey)), (acc, x) -> acc + x)
                  / list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(ss ORDER BY c_nationkey)), (acc, x) -> acc + x),
                  6) AS orc
                FROM mhterms),
              q AS (
                SELECT c_nationkey, a,
                  CAST(a + b AS DOUBLE) AS n1, CAST(c + d AS DOUBLE) AS n2,
                  CAST(a + c AS DOUBLE) AS m1, CAST(b + d AS DOUBLE) AS m0,
                  orc
                FROM cells, ormh
                WHERE a + b > 0 AND c + d > 0 AND a + c > 0 AND b + d > 0),
              roots AS (
                SELECT c_nationkey, a, n1, n2, m1, orc,
                  1.0 - orc AS qa,
                  n2 - m1 + orc * (n1 + m1) AS qb,
                  -orc * n1 * m1 AS qc
                FROM q),
              pick AS (
                SELECT c_nationkey, a, n1, n2, m1,
                  CASE WHEN orc = 1.0 THEN n1 * m1 / (n1 + n2)
                    WHEN (-qb + sqrt(qb * qb - qa * qc * 4.0))
                        / (qa * 2.0) > greatest(0.0, m1 - n2)
                      AND (-qb + sqrt(qb * qb - qa * qc * 4.0))
                        / (qa * 2.0) < least(m1, n1)
                      THEN (-qb + sqrt(qb * qb - qa * qc * 4.0))
                        / (qa * 2.0)
                    ELSE (-qb - sqrt(qb * qb - qa * qc * 4.0))
                      / (qa * 2.0) END AS ea
                FROM roots),
              terms AS (
                SELECT c_nationkey, a, round(ea, 6) AS exp_a,
                  round((CAST(a AS DOUBLE) - ea) * (CAST(a AS DOUBLE) - ea)
                    * (1.0 / ea + 1.0 / (n1 - ea) + 1.0 / (m1 - ea)
                      + 1.0 / (n2 - m1 + ea)), 6) AS term
                FROM pick
                WHERE ea > 0.0 AND n1 - ea > 0.0 AND m1 - ea > 0.0
                  AND n2 - m1 + ea > 0.0),
              tot AS (
                SELECT CAST(count(*) AS BIGINT) AS n_strata,
                  round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(term ORDER BY c_nationkey)),
                    (acc, x) -> acc + x), 6) AS chi2_bd
                FROM terms)
              SELECT t.c_nationkey, t.a, t.exp_a, t.term,
                tot.chi2_bd, CAST(tot.n_strata - 1 AS BIGINT) AS dof
              FROM terms t, tot ORDER BY t.c_nationkey""")),

    // ── Grubbs max-outlier statistic on daily order volume ──────────────
    // The formal single-outlier test the IQR/z-score screens lack:
    // G = max|xₜ − x̄| / s over the daily revenue census. Moments come
    // from exact DECIMAL cent sums (one orders pass → day census);
    // mean/sd/deviations are row-local IEEE on identical doubles; the
    // argmax day is an exact-compare pick off the 12-dec-rounded
    // deviation with a (dev DESC, day) total order.
    Q("q_grubbs_test",
      (s, dir) => {
        // persist: the day census feeds the moment agg AND the argmax
        // scan — un-persisted, each consumer re-scans orders
        val days = t(s, dir, "orders")
          .select(col("o_orderdate").cast("date").as("d"),
            expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
              .as("c"))
          .groupBy("d")
          .agg(sum(col("c").cast(DecimalType(38, 0))).as("x"))
          .persist()
        val mom = days.agg(count(lit(1)).cast("long").as("n"),
            sum(col("x")).as("s1"),
            sum(col("x") * col("x").cast(DecimalType(38, 0))).as("s2"))
          .select(col("n"),
            (col("s1").cast("double") / col("n").cast("double"))
              .as("mean"),
            sqrt((col("s2").cast("double")
              - col("s1").cast("double") * col("s1").cast("double")
                / col("n").cast("double"))
              / (col("n") - 1).cast("double")).as("sd"))
        days.crossJoin(broadcast(mom))
          .filter(col("sd") > 0)
          .select(col("d"), col("n"),
            round(abs(col("x").cast("double") - col("mean"))
              / col("sd"), 12).as("g"))
          .orderBy(col("g").desc, col("d"))
          .limit(1)
          .select(col("n").as("n_days"),
            round(col("g"), 6).as("grubbs_g"),
            date_format(col("d"), "yyyy-MM-dd").as("outlier_day"))
      },
      Some("""WITH days AS (
                SELECT CAST(o_orderdate AS DATE) AS d,
                  SUM(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS HUGEINT)) AS x
                FROM orders GROUP BY 1),
              mom AS (
                SELECT CAST(count(*) AS BIGINT) AS n,
                  CAST(SUM(x) AS DOUBLE) / count(*) AS mean,
                  sqrt((CAST(SUM(x * x) AS DOUBLE)
                    - CAST(SUM(x) AS DOUBLE) * CAST(SUM(x) AS DOUBLE)
                      / count(*)) / (count(*) - 1)) AS sd
                FROM days)
              SELECT n AS n_days,
                round(round(abs(CAST(x AS DOUBLE) - mean) / sd, 12), 6)
                  AS grubbs_g,
                strftime(d, '%Y-%m-%d') AS outlier_day
              FROM days, mom
              WHERE sd > 0
              ORDER BY round(abs(CAST(x AS DOUBLE) - mean) / sd, 12)
                DESC, d
              LIMIT 1""")),

    // ── Rosner generalized ESD: k=3 iterative outlier screen ────────────
    // What q_grubbs_test can't do: Grubbs is invalidated by MASKING
    // (two outliers hide each other); Rosner's ESD re-computes moments
    // after removing each extreme, so the screen survives clustered
    // anomalies. Three fixed rounds over the calendar-bounded day
    // census (localCheckpoint per round — the ccStar/k-means iterative
    // discipline); the per-round argmax is FP-FREE (maximize the exact
    // integer |n·x − Σx|, day tiebreak) and only the reported R
    // statistic divides doubles (identical operands → 6-dec display
    // round). Oracle = the identical three rounds as chained CTEs.
    Q("q_rosner_esd",
      (s, dir) => {
        val dec38 = DecimalType(38, 0)
        var rem = t(s, dir, "orders")
          .groupBy(col("o_orderdate").cast("date").as("d"))
          .agg(sum((dec2(col("o_totalprice")) * 100).cast("long")
            .cast(dec38)).as("x"))
          .localCheckpoint(false)
        val outs = Seq.newBuilder[DataFrame]
        for (i <- 1 to 3) {
          val mom = rem.agg(count(lit(1)).cast("long").as("n"),
            sum(col("x")).as("s1"),
            sum(col("x") * col("x")).as("s2"))
            .select(col("n"), col("s1"),
              (col("s1").cast("double") / col("n").cast("double"))
                .as("mean"),
              sqrt((col("s2").cast("double")
                - col("s1").cast("double") * col("s1").cast("double")
                  / col("n").cast("double"))
                / (col("n") - 1).cast("double")).as("sd"))
            .localCheckpoint(false)
          val pick = rem.crossJoin(broadcast(mom))
            .withColumn("absdev", abs(col("x") * col("n") - col("s1")))
            .orderBy(col("absdev").desc, col("d"))
            .limit(1)
            .select(col("d"), lit(i.toLong).as("iteration"),
              col("n").as("n_remaining"),
              date_format(col("d"), "yyyy-MM-dd").as("outlier_day"),
              col("x").cast("long").as("cents"),
              when(col("sd") > 0,
                round(abs(col("x").cast("double") - col("mean"))
                  / col("sd"), 6)).as("r_stat"))
            .localCheckpoint(false)
          outs += pick.drop("d")
          rem = rem.join(pick.select("d"), Seq("d"), "left_anti")
            .localCheckpoint(false)
        }
        outs.result().reduce(_ unionByName _).orderBy("iteration")
      },
      Some(rosnerOracle)),

    // ── ICC(1,1): how much order-value variance is "nation"? ────────────
    // One-way random-effects intraclass correlation over nations:
    // ICC = (MSB − MSW) / (MSB + (n₀−1)·MSW), n₀ the unbalanced-design
    // effective group size (N − Σnᵢ²/N)/(k−1). Per-nation exact cent
    // moments in ONE orders⋈customer pass; SSB/SSW terms are row-local
    // IEEE rounded 6 and fold nation-pinned (the q_anova idiom);
    // everything after the ≤25-row census is 1-row arithmetic.
    Q("q_icc",
      (s, dir) => {
        val census = t(s, dir, "orders")
          .join(broadcast(t(s, dir, "customer")
            .select(col("c_custkey"), col("c_nationkey"))),
            col("o_custkey") === col("c_custkey"))
          .select(col("c_nationkey"),
            expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
              .as("c"))
          .groupBy("c_nationkey")
          .agg(count(lit(1)).cast("long").as("n"),
            sum(col("c").cast(DecimalType(38, 0))).as("s"),
            sum((col("c") * col("c")).cast(DecimalType(38, 0))).as("ss"))
          .persist()
        val tot = census.agg(sum(col("n")).cast("long").as("n_tot"),
          sum(col("s")).as("s_tot"),
          sum(col("n").cast(DecimalType(38, 0)) * col("n")).as("sn2"))
        census.crossJoin(broadcast(tot))
          .select(col("c_nationkey"), col("n"), col("n_tot"), col("sn2"),
            round(col("n").cast("double")
              * (col("s").cast("double") / col("n").cast("double")
                - col("s_tot").cast("double") / col("n_tot").cast("double"))
              * (col("s").cast("double") / col("n").cast("double")
                - col("s_tot").cast("double") / col("n_tot").cast("double"))
              / 1e12, 6).as("ssb_term"),
            round((col("ss").cast("double")
              - col("s").cast("double") * col("s").cast("double")
                / col("n").cast("double")) / 1e12, 6).as("ssw_term"))
          .agg(count(lit(1)).cast("long").as("k"),
            max(col("n_tot")).as("n_tot"),
            max(col("sn2")).as("sn2"),
            expr("""aggregate(array_sort(collect_list(
                      struct(c_nationkey, ssb_term))),
                    CAST(0 AS DOUBLE), (a, x) -> a + x.ssb_term)""")
              .as("ssb"),
            expr("""aggregate(array_sort(collect_list(
                      struct(c_nationkey, ssw_term))),
                    CAST(0 AS DOUBLE), (a, x) -> a + x.ssw_term)""")
              .as("ssw"))
          .select(col("k"), col("n_tot").as("n"),
            round((col("n_tot").cast("double")
              - col("sn2").cast("double") / col("n_tot").cast("double"))
              / (col("k") - 1).cast("double"), 6).as("n0"),
            (col("ssb") / (col("k") - 1).cast("double")).as("msb"),
            (col("ssw") / (col("n_tot") - col("k")).cast("double"))
              .as("msw"))
          .select(col("k"), col("n"), col("n0"),
            round(col("msb"), 6).as("msb"),
            round(col("msw"), 6).as("msw"),
            when(col("msb") + (col("n0") - 1) * col("msw") <= 0,
              lit(null).cast("double"))
              .otherwise(round((col("msb") - col("msw"))
                / (col("msb") + (col("n0") - 1) * col("msw")), 6))
              .as("icc"))
      },
      Some("""WITH census AS (
                SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n,
                  SUM(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS HUGEINT)) AS s,
                  SUM(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS HUGEINT)
                    * CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                      AS BIGINT)) AS ss
                FROM orders JOIN customer ON o_custkey = c_custkey
                GROUP BY 1),
              tot AS (
                SELECT CAST(SUM(n) AS BIGINT) AS n_tot,
                  SUM(CAST(s AS HUGEINT)) AS s_tot,
                  SUM(CAST(n AS HUGEINT) * n) AS sn2
                FROM census),
              terms AS (
                SELECT c_nationkey, n_tot, sn2,
                  round(CAST(n AS DOUBLE)
                    * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                      - CAST(s_tot AS DOUBLE) / CAST(n_tot AS DOUBLE))
                    * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                      - CAST(s_tot AS DOUBLE) / CAST(n_tot AS DOUBLE))
                    / 1e12, 6) AS ssb_term,
                  round((CAST(ss AS DOUBLE)
                    - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                      / CAST(n AS DOUBLE)) / 1e12, 6) AS ssw_term
                FROM census, tot),
              agg AS (
                SELECT CAST(count(*) AS BIGINT) AS k,
                  CAST(MAX(n_tot) AS BIGINT) AS n_tot,
                  MAX(sn2) AS sn2,
                  list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(ssb_term ORDER BY c_nationkey)),
                    (a, x) -> a + x) AS ssb,
                  list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(ssw_term ORDER BY c_nationkey)),
                    (a, x) -> a + x) AS ssw
                FROM terms),
              ms AS (
                SELECT k, n_tot AS n,
                  round((CAST(n_tot AS DOUBLE)
                    - CAST(sn2 AS DOUBLE) / CAST(n_tot AS DOUBLE))
                    / CAST(k - 1 AS DOUBLE), 6) AS n0,
                  ssb / CAST(k - 1 AS DOUBLE) AS msb,
                  ssw / CAST(n_tot - k AS DOUBLE) AS msw
                FROM agg)
              SELECT k, n, n0,
                round(msb, 6) AS msb, round(msw, 6) AS msw,
                CASE WHEN msb + (n0 - 1) * msw <= 0 THEN NULL
                  ELSE round((msb - msw) / (msb + (n0 - 1) * msw), 6)
                  END AS icc
              FROM ms""")),

    // ── Croston intermittent-demand forecast (top-10 parts) ─────────────
    // The sparse-demand classic the EWMA/Holt family mishandles:
    // separate exponential smoothing of demand SIZE and demand
    // INTERVAL, forecast = z/p units·day⁻¹. Demand days come from one
    // lineitem pass; gaps ride a per-part lag window; the replay folds
    // the last ≤16 demand days per part (bounded state — the full
    // history per part grows with corpus scale, the tail does not).
    // Spark folds a sorted struct array; the oracle replays the
    // identical op sequence through a per-part recursive CTE, so the
    // doubles stay bit-equal. Output: the 10 highest-traffic parts.
    Q("q_croston",
      (s, dir) => {
        // persist: the demand-day census feeds the top-10 pick AND the
        // replay — un-persisted, each consumer re-scans lineitem
        val demands = t(s, dir, "lineitem")
          .select(col("l_partkey"),
            col("l_shipdate").cast("date").as("d"),
            expr("CAST(CAST(l_quantity AS DECIMAL(18,0)) AS BIGINT)")
              .as("q"))
          .groupBy("l_partkey", "d")
          .agg(sum(col("q")).cast("long").as("q"))
          .persist()
        val top = demands.groupBy("l_partkey")
          .agg(count(lit(1)).cast("long").as("n_demand_days"))
          .orderBy(col("n_demand_days").desc, col("l_partkey"))
          .limit(10)
        val wpart = Window.partitionBy("l_partkey").orderBy("d")
        val kept = demands.join(broadcast(top), Seq("l_partkey"))
          .withColumn("gap",
            datediff(col("d"), lag(col("d"), 1).over(wpart))
              .cast("double"))
          .withColumn("rn",
            row_number().over(Window.partitionBy("l_partkey")
              .orderBy(col("d").desc)))
          .filter(col("rn") <= 16)
        kept.groupBy("l_partkey", "n_demand_days")
          .agg(sort_array(collect_list(
            struct(col("d"), col("q"), col("gap")))).as("ser"))
          .select(col("l_partkey"), col("n_demand_days"),
            expr("""aggregate(
                      slice(ser, 2, size(ser) - 1),
                      named_struct(
                        'z', CAST(ser[0].q AS DOUBLE),
                        'p', CAST(1.0 AS DOUBLE)),
                      (a, x) -> named_struct(
                        'z', 0.2 * CAST(x.q AS DOUBLE) + 0.8 * a.z,
                        'p', 0.2 * x.gap + 0.8 * a.p))""").as("st"))
          .select(col("l_partkey"), col("n_demand_days"),
            round(col("st.z"), 6).as("size_forecast"),
            round(col("st.p"), 6).as("interval_forecast"),
            when(col("st.p") <= 0, lit(null).cast("double"))
              .otherwise(round(col("st.z") / col("st.p"), 6))
              .as("demand_rate"))
          .orderBy(col("n_demand_days").desc, col("l_partkey"))
      },
      Some("""WITH RECURSIVE demands AS (
                SELECT l_partkey, CAST(l_shipdate AS DATE) AS d,
                  CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,0))
                    AS BIGINT)) AS BIGINT) AS q
                FROM lineitem GROUP BY 1, 2),
              top AS (
                SELECT l_partkey, CAST(count(*) AS BIGINT)
                  AS n_demand_days
                FROM demands GROUP BY 1
                ORDER BY n_demand_days DESC, l_partkey LIMIT 10),
              kept AS (
                SELECT demands.l_partkey, n_demand_days, d, q,
                  CAST(d - lag(d) OVER (PARTITION BY demands.l_partkey
                    ORDER BY d) AS DOUBLE) AS gap,
                  row_number() OVER (PARTITION BY demands.l_partkey
                    ORDER BY d DESC) AS rn
                FROM demands JOIN top USING (l_partkey)),
              idx AS (
                SELECT l_partkey, n_demand_days, q, gap,
                  CAST(row_number() OVER (PARTITION BY l_partkey
                    ORDER BY d) AS BIGINT) AS i
                FROM kept WHERE rn <= 16),
              mx AS (
                SELECT l_partkey, MAX(i) AS imax FROM idx GROUP BY 1),
              rec(l_partkey, i, z, p) AS (
                SELECT l_partkey, CAST(1 AS BIGINT),
                  CAST(q AS DOUBLE), CAST(1.0 AS DOUBLE)
                FROM idx WHERE i = 1
                UNION ALL
                SELECT r.l_partkey, r.i + 1,
                  0.2 * CAST(x.q AS DOUBLE) + 0.8 * r.z,
                  0.2 * x.gap + 0.8 * r.p
                FROM rec r JOIN idx x
                  ON x.l_partkey = r.l_partkey AND x.i = r.i + 1)
              SELECT idx.l_partkey, MAX(n_demand_days) AS n_demand_days,
                round(MAX(z), 6) AS size_forecast,
                round(MAX(p), 6) AS interval_forecast,
                CASE WHEN MAX(p) <= 0 THEN NULL
                  ELSE round(MAX(z) / MAX(p), 6) END AS demand_rate
              FROM rec JOIN mx ON rec.l_partkey = mx.l_partkey
                AND rec.i = mx.imax
              JOIN idx ON idx.l_partkey = rec.l_partkey AND idx.i = 1
              GROUP BY idx.l_partkey
              ORDER BY n_demand_days DESC, idx.l_partkey""")),

    // ── Wilcoxon signed-rank: did nation revenue shift 1997 → 1998? ─────
    // The PAIRED nonparametric twin of q_mann_whitney: per-nation
    // revenue in the two years (conditional exact cent sums, ONE
    // orders⋈customer pass), signed differences, |diff| ranked by
    // row_number over the (|diff|, nation) total order (tie policy:
    // broken, not midrank — documented), W⁺/W⁻ exact integer rank
    // sums, normal-approximation z as the one final IEEE step. The
    // pair frame is nation-bounded.
    Q("q_wilcoxon_signed_rank",
      (s, dir) => {
        val diffs = t(s, dir, "orders")
          .join(broadcast(t(s, dir, "customer")
            .select(col("c_custkey"), col("c_nationkey"))),
            col("o_custkey") === col("c_custkey"))
          .filter(year(col("o_orderdate")).isin(1997, 1998))
          .select(col("c_nationkey"),
            (year(col("o_orderdate")) === 1998).as("cur"),
            expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
              .as("c"))
          .groupBy("c_nationkey")
          .agg(
            sum(when(col("cur"), col("c")).otherwise(lit(0L))
              .cast(DecimalType(38, 0))).as("c98"),
            sum(when(!col("cur"), col("c")).otherwise(lit(0L))
              .cast(DecimalType(38, 0))).as("c97"))
          .select(col("c_nationkey"),
            (col("c98") - col("c97")).cast("long").as("diff"))
          .filter(col("diff") =!= 0)
          .withColumn("r",
            row_number().over(Window.orderBy(abs(col("diff")),
              col("c_nationkey"))).cast("long"))
        diffs.agg(count(lit(1)).cast("long").as("n_pairs"),
            sum(when(col("diff") > 0, col("r")).otherwise(lit(0L)))
              .cast("long").as("w_plus"),
            sum(when(col("diff") < 0, col("r")).otherwise(lit(0L)))
              .cast("long").as("w_minus"))
          .select(col("n_pairs"), col("w_plus"), col("w_minus"),
            when(col("n_pairs") < 2, lit(null).cast("double"))
              .otherwise(round(
                (col("w_plus").cast("double")
                  - (col("n_pairs") * (col("n_pairs") + 1)).cast("double")
                    / 4.0)
                / sqrt((col("n_pairs") * (col("n_pairs") + 1)
                  * (col("n_pairs") * 2 + 1)).cast("double") / 24.0), 6))
              .as("z"))
      },
      Some("""WITH diffs AS (
                SELECT c_nationkey,
                  CAST(SUM(CAST(CASE WHEN yr = 1998 THEN c ELSE 0 END
                    AS HUGEINT))
                  - SUM(CAST(CASE WHEN yr = 1997 THEN c ELSE 0 END
                    AS HUGEINT)) AS BIGINT) AS diff
                FROM (
                  SELECT c_nationkey, year(o_orderdate) AS yr,
                    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                      AS BIGINT) AS c
                  FROM orders JOIN customer ON o_custkey = c_custkey
                  WHERE year(o_orderdate) IN (1997, 1998))
                GROUP BY 1),
              ranked AS (
                SELECT diff,
                  CAST(row_number() OVER (ORDER BY abs(diff),
                    c_nationkey) AS BIGINT) AS r
                FROM diffs WHERE diff <> 0),
              agg AS (
                SELECT CAST(count(*) AS BIGINT) AS n_pairs,
                  CAST(SUM(CASE WHEN diff > 0 THEN r ELSE 0 END)
                    AS BIGINT) AS w_plus,
                  CAST(SUM(CASE WHEN diff < 0 THEN r ELSE 0 END)
                    AS BIGINT) AS w_minus
                FROM ranked)
              SELECT n_pairs, w_plus, w_minus,
                CASE WHEN n_pairs < 2 THEN NULL
                  ELSE round((CAST(w_plus AS DOUBLE)
                    - CAST(n_pairs * (n_pairs + 1) AS DOUBLE) / 4.0)
                    / sqrt(CAST(n_pairs * (n_pairs + 1)
                      * (2 * n_pairs + 1) AS DOUBLE) / 24.0), 6) END
                  AS z
              FROM agg""")),

    // ── exact 2×2 PCA: (quantity, price) principal axes ─────────────────
    // PCA without an iterative solver: for two features the
    // eigendecomposition is CLOSED FORM — λ = tr/2 ± √((a−c)²/4 + b²)
    // on the covariance matrix, whose entries come from exact
    // DECIMAL(38,0) cent/unit sums in ONE lineitem pass (the
    // q_corr_matrix census). Price is carried in k$ so both variances
    // are O(10³) and 6-dec rounds sit far above the ULP. PC1's
    // direction is reported as a slope ((λ₁−a)/b — no transcendental
    // angle), var share is scale-free.
    Q("q_pca_2d",
      (s, dir) => {
        val m = t(s, dir, "lineitem")
          .select(
            expr("CAST(CAST(l_quantity AS DECIMAL(18,0)) AS BIGINT)")
              .as("x"),
            expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
              .as("y"))
          .agg(count(lit(1)).cast("long").as("n"),
            sum(col("x").cast(DecimalType(38, 0))).as("sx"),
            sum(col("y").cast(DecimalType(38, 0))).as("sy"),
            sum(col("x").cast(DecimalType(38, 0)) * col("x")).as("sxx"),
            sum(col("y").cast(DecimalType(38, 0)) * col("y")).as("syy"),
            sum(col("x").cast(DecimalType(38, 0)) * col("y")).as("sxy"))
        val cov = m.select(col("n"),
          ((col("sxx").cast("double") - col("sx").cast("double")
            * col("sx").cast("double") / col("n").cast("double"))
            / (col("n") - 1).cast("double")).as("a"),
          ((col("sxy").cast("double") - col("sx").cast("double")
            * col("sy").cast("double") / col("n").cast("double"))
            / (col("n") - 1).cast("double") / 1e5).as("b"),
          ((col("syy").cast("double") - col("sy").cast("double")
            * col("sy").cast("double") / col("n").cast("double"))
            / (col("n") - 1).cast("double") / 1e10).as("c"))
        cov.select(col("n"),
            (sqrt((col("a") - col("c")) * (col("a") - col("c")) / 4.0
              + col("b") * col("b"))).as("disc"),
            col("a"), col("b"), col("c"))
          .select(col("n"),
            round((col("a") + col("c")) / 2.0 + col("disc"), 6)
              .as("lambda1"),
            round((col("a") + col("c")) / 2.0 - col("disc"), 6)
              .as("lambda2"),
            when(col("a") + col("c") <= 0, lit(null).cast("double"))
              .otherwise(round(((col("a") + col("c")) / 2.0 + col("disc"))
                / (col("a") + col("c")), 12)).as("var_share_1"),
            when(col("b") === 0, lit(null).cast("double"))
              .otherwise(round(
                (((col("a") + col("c")) / 2.0 + col("disc")) - col("a"))
                  / col("b"), 6)).as("pc1_slope"))
      },
      Some("""WITH m AS (
                SELECT CAST(count(*) AS BIGINT) AS n,
                  SUM(CAST(CAST(CAST(l_quantity AS DECIMAL(18,0))
                    AS BIGINT) AS HUGEINT)) AS sx,
                  SUM(CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                    * 100 AS BIGINT) AS HUGEINT)) AS sy,
                  SUM(CAST(CAST(CAST(l_quantity AS DECIMAL(18,0))
                    AS BIGINT) AS HUGEINT)
                    * CAST(CAST(l_quantity AS DECIMAL(18,0)) AS BIGINT))
                    AS sxx,
                  SUM(CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                    * 100 AS BIGINT) AS HUGEINT)
                    * CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                      AS BIGINT)) AS syy,
                  SUM(CAST(CAST(CAST(l_quantity AS DECIMAL(18,0))
                    AS BIGINT) AS HUGEINT)
                    * CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                      AS BIGINT)) AS sxy
                FROM lineitem),
              cov AS (
                SELECT n,
                  (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
                    * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                    / CAST(n - 1 AS DOUBLE) AS a,
                  (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)
                    * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
                    / CAST(n - 1 AS DOUBLE) / 1e5 AS b,
                  (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)
                    * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
                    / CAST(n - 1 AS DOUBLE) / 1e10 AS c
                FROM m),
              ei AS (
                SELECT n, a, b, c,
                  sqrt((a - c) * (a - c) / 4.0 + b * b) AS disc
                FROM cov)
              SELECT n,
                round((a + c) / 2.0 + disc, 6) AS lambda1,
                round((a + c) / 2.0 - disc, 6) AS lambda2,
                CASE WHEN a + c <= 0 THEN NULL
                  ELSE round(((a + c) / 2.0 + disc) / (a + c), 12) END
                  AS var_share_1,
                CASE WHEN b = 0 THEN NULL
                  ELSE round((((a + c) / 2.0 + disc) - a) / b, 6) END
                  AS pc1_slope
              FROM ei""")),

    // ── Mahalanobis outlier days (quantity, revenue) ────────────────────
    // The multivariate twin of q_grubbs_test: daily (unit, k$) totals,
    // d² = Δᵀ Σ⁻¹ Δ with the 2×2 covariance inverted in CLOSED FORM
    // (det/adjugate — no solver). The day census persists once (one
    // lineitem pass) and feeds the moment agg + the scoring rejoin;
    // all algebra is row-local IEEE on identical doubles; the top-10
    // pick sorts the 12-dec-rounded d² with a day tiebreak.
    Q("q_mahalanobis_outliers",
      (s, dir) => {
        val days = t(s, dir, "lineitem")
          .select(col("l_shipdate").cast("date").as("d"),
            expr("CAST(CAST(l_quantity AS DECIMAL(18,0)) AS BIGINT)")
              .as("q"),
            expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
              .as("c"))
          .groupBy("d")
          .agg(sum(col("q")).cast("long").as("xq"),
            sum(col("c").cast(DecimalType(38, 0))).cast("long").as("yc"))
          .persist()
        // moments from EXACT integer sums — covar_samp would float-sum
        // in partial-agg order (nondeterministic and engine-divergent)
        val mom = days
          .agg(count(lit(1)).cast("long").as("n"),
            sum(col("xq").cast(DecimalType(38, 0))).as("sx"),
            sum(col("yc").cast(DecimalType(38, 0))).as("sy"),
            sum(col("xq").cast(DecimalType(38, 0)) * col("xq")).as("sxx"),
            sum(col("yc").cast(DecimalType(38, 0)) * col("yc")).as("syy"),
            sum(col("xq").cast(DecimalType(38, 0)) * col("yc")).as("sxy"))
          .select(col("n"),
            (col("sx").cast("double") / col("n").cast("double")).as("mx"),
            (col("sy").cast("double") / col("n").cast("double") / 1e5)
              .as("my"),
            ((col("sxx").cast("double") - col("sx").cast("double")
              * col("sx").cast("double") / col("n").cast("double"))
              / (col("n") - 1).cast("double")).as("a"),
            ((col("sxy").cast("double") - col("sx").cast("double")
              * col("sy").cast("double") / col("n").cast("double"))
              / (col("n") - 1).cast("double") / 1e5).as("b"),
            ((col("syy").cast("double") - col("sy").cast("double")
              * col("sy").cast("double") / col("n").cast("double"))
              / (col("n") - 1).cast("double") / 1e10).as("cc"))
        days
          .select(col("d"), col("xq").cast("double").as("x"),
            (col("yc").cast("double") / 1e5).as("y"))
          .crossJoin(broadcast(mom))
          .filter(col("a") * col("cc") - col("b") * col("b") > 0)
          .select(col("d"), col("n"),
            round((
              (col("cc") * (col("x") - col("mx")) * (col("x") - col("mx"))
                - lit(2.0) * col("b") * (col("x") - col("mx"))
                  * (col("y") - col("my"))
                + col("a") * (col("y") - col("my")) * (col("y") - col("my")))
              / (col("a") * col("cc") - col("b") * col("b"))), 12)
              .as("d2"))
          .orderBy(col("d2").desc, col("d"))
          .limit(10)
          .select(date_format(col("d"), "yyyy-MM-dd").as("day"),
            round(col("d2"), 6).as("d2"))
      },
      Some("""WITH dayc AS (
                SELECT CAST(l_shipdate AS DATE) AS d,
                  CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,0))
                    AS BIGINT)) AS BIGINT) AS xq,
                  CAST(SUM(CAST(CAST(CAST(l_extendedprice
                    AS DECIMAL(18,2)) * 100 AS BIGINT) AS HUGEINT))
                    AS BIGINT) AS yc
                FROM lineitem GROUP BY 1),
              momr AS (
                SELECT CAST(count(*) AS BIGINT) AS n,
                  SUM(CAST(xq AS HUGEINT)) AS sx,
                  SUM(CAST(yc AS HUGEINT)) AS sy,
                  SUM(CAST(xq AS HUGEINT) * xq) AS sxx,
                  SUM(CAST(yc AS HUGEINT) * yc) AS syy,
                  SUM(CAST(xq AS HUGEINT) * yc) AS sxy
                FROM dayc),
              mom AS (
                SELECT n,
                  CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mx,
                  CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) / 1e5 AS my,
                  (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
                    * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                    / CAST(n - 1 AS DOUBLE) AS a,
                  (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)
                    * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
                    / CAST(n - 1 AS DOUBLE) / 1e5 AS b,
                  (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)
                    * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
                    / CAST(n - 1 AS DOUBLE) / 1e10 AS cc
                FROM momr),
              days AS (
                SELECT d, CAST(xq AS DOUBLE) AS x,
                  CAST(yc AS DOUBLE) / 1e5 AS y
                FROM dayc)
              SELECT strftime(d, '%Y-%m-%d') AS day,
                round(round((cc * (x - mx) * (x - mx)
                  - 2.0 * b * (x - mx) * (y - my)
                  + a * (y - my) * (y - my))
                  / (a * cc - b * b), 12), 6) AS d2
              FROM days, mom
              WHERE a * cc - b * b > 0
              ORDER BY round((cc * (x - mx) * (x - mx)
                - 2.0 * b * (x - mx) * (y - my)
                + a * (y - my) * (y - my))
                / (a * cc - b * b), 12) DESC, d
              LIMIT 10""")),

    // ── Cochran–Armitage trend: is urgent share drifting by year? ───────
    // The ordered-categories χ² that q_chi2's nominal test can't see:
    // weights wᵢ = ship-year index, binary = 1-URGENT. T and Var(T)
    // are algebra over SIX exact integer sums (N, A, Σwn, Σwa, Σw²n and
    // year count) from ONE orders pass — no fold at all; z and χ² are
    // row-local IEEE at O(1–10³) magnitudes.
    Q("q_cochran_armitage",
      (s, dir) => {
        val m = t(s, dir, "orders")
          .select((year(col("o_orderdate")) - 1995).cast("long").as("w"),
            when(col("o_orderpriority") === "1-URGENT", 1L)
              .otherwise(0L).as("u"))
          .agg(count(lit(1)).cast("long").as("nn"),
            sum(col("u")).cast("long").as("aa"),
            sum(col("w")).cast("long").as("swn"),
            sum(col("w") * col("u")).cast("long").as("swa"),
            sum(col("w") * col("w")).cast("long").as("sw2n"),
            count_distinct(col("w")).cast("long").as("n_years"))
        m.select(col("n_years"), col("nn").as("n"), col("aa").as("n_urgent"),
            (col("swa").cast("double")
              - col("swn").cast("double") * col("aa").cast("double")
                / col("nn").cast("double")).as("t"),
            ((col("aa").cast("double") / col("nn").cast("double"))
              * (lit(1.0) - col("aa").cast("double")
                / col("nn").cast("double"))
              * (col("sw2n").cast("double")
                - col("swn").cast("double") * col("swn").cast("double")
                  / col("nn").cast("double"))).as("v"))
          .select(col("n_years"), col("n"), col("n_urgent"),
            when(col("v") <= 0, lit(null).cast("double"))
              .otherwise(round(col("t") / sqrt(col("v")), 6)).as("z"),
            when(col("v") <= 0, lit(null).cast("double"))
              .otherwise(round(col("t") * col("t") / col("v"), 6))
              .as("chi2_trend"))
      },
      Some("""WITH b AS (
                SELECT CAST(year(o_orderdate) - 1995 AS BIGINT) AS w,
                  CASE WHEN o_orderpriority = '1-URGENT'
                    THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END
                    AS u
                FROM orders),
              m AS (
                SELECT CAST(count(*) AS BIGINT) AS nn,
                  CAST(SUM(u) AS BIGINT) AS aa,
                  CAST(SUM(w) AS BIGINT) AS swn,
                  CAST(SUM(w * u) AS BIGINT) AS swa,
                  CAST(SUM(w * w) AS BIGINT) AS sw2n,
                  CAST(COUNT(DISTINCT w) AS BIGINT) AS n_years
                FROM b),
              tv AS (
                SELECT n_years, nn AS n, aa AS n_urgent,
                  CAST(swa AS DOUBLE)
                    - CAST(swn AS DOUBLE) * CAST(aa AS DOUBLE)
                      / CAST(nn AS DOUBLE) AS t,
                  (CAST(aa AS DOUBLE) / CAST(nn AS DOUBLE))
                    * (1.0 - CAST(aa AS DOUBLE) / CAST(nn AS DOUBLE))
                    * (CAST(sw2n AS DOUBLE)
                      - CAST(swn AS DOUBLE) * CAST(swn AS DOUBLE)
                        / CAST(nn AS DOUBLE)) AS v
                FROM m)
              SELECT n_years, n, n_urgent,
                CASE WHEN v <= 0 THEN NULL
                  ELSE round(t / sqrt(v), 6) END AS z,
                CASE WHEN v <= 0 THEN NULL
                  ELSE round(t * t / v, 6) END AS chi2_trend
              FROM tv""")),

    // ── DTW: which nations' seasonal shape diverges from global? ────────
    // Dynamic-time-warping distance between each nation's 12-month
    // revenue profile (exact per-mille integers) and the global
    // profile — the alignment-tolerant curve comparison Euclidean
    // month-by-month deltas get wrong when a nation's season SHIFTS.
    // The DP runs in the codegen'd `graft_dtw` expression (two rolling
    // rows, all-integer — see functions/DtwDistance.scala); profiles
    // come from ONE orders⋈customer pass (global = column sums of the
    // persisted nation census). The oracle replays the identical
    // recurrence as a 144-step recursive CTE over a 13-cell sliding
    // window — integer DP, so the match is exact by construction.
    Q("q_dtw_profile",
      (s, dir) => {
        graft.plans.GraftExtensions.ensureRegistered(s)
        val monthSums = (1 to 12).map(m =>
          sum(when(month(col("o_orderdate")) === m, col("c"))
            .otherwise(lit(0L)).cast(DecimalType(38, 0))).as(s"m$m"))
        val census = t(s, dir, "orders")
          .join(broadcast(t(s, dir, "customer")
            .select(col("c_custkey"), col("c_nationkey"))),
            col("o_custkey") === col("c_custkey"))
          .select(col("c_nationkey"), col("o_orderdate"),
            expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
              .as("c"))
          .groupBy("c_nationkey")
          .agg(monthSums.head, monthSums.tail: _*)
          .persist()
        val totExpr = (1 to 12).map(m => s"m$m").mkString(" + ")
        val nat = census
          .withColumn("tot", expr(totExpr))
          .filter(col("tot") > 0)
          .select(col("c_nationkey"),
            array((1 to 12).map(m =>
              expr(s"CAST((m$m * 1000) div tot AS BIGINT)")): _*).as("na"))
        val glob = census
          .agg((1 to 12).map(m => sum(col(s"m$m")).as(s"m$m")).head,
            (2 to 12).map(m => sum(col(s"m$m")).as(s"m$m")): _*)
          .withColumn("tot", expr(totExpr))
          .filter(col("tot") > 0)
          .select(array((1 to 12).map(m =>
            expr(s"CAST((m$m * 1000) div tot AS BIGINT)")): _*).as("ga"))
        nat.crossJoin(broadcast(glob))
          .select(col("c_nationkey"),
            expr("graft_dtw(na, ga)").as("dtw_permille"))
          .orderBy("c_nationkey")
      },
      Some {
        val mSums = (1 to 12).map(m =>
          s"""SUM(CAST(CASE WHEN month(o_orderdate) = $m
             |    THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
             |      AS BIGINT) ELSE 0 END AS HUGEINT)) AS m$m"""
            .stripMargin).mkString(",\n                  ")
        val tot = (1 to 12).map(m => s"m$m").mkString(" + ")
        val natArr = (1 to 12)
          .map(m => s"CAST((m$m * 1000) // ($tot) AS BIGINT)")
          .mkString(", ")
        val globSums = (1 to 12).map(m => s"SUM(m$m) AS m$m")
          .mkString(", ")
        val zeros = Seq.fill(12)("CAST(0 AS BIGINT)").mkString(", ")
        s"""WITH RECURSIVE cen AS (
              SELECT c_nationkey,
                  $mSums
              FROM orders JOIN customer ON o_custkey = c_custkey
              GROUP BY 1),
            nat AS (
              SELECT c_nationkey, [$natArr] AS na
              FROM cen WHERE $tot > 0),
            gcen AS (SELECT $globSums FROM cen),
            gl AS (
              SELECT [$natArr] AS ga FROM gcen WHERE $tot > 0),
            costs AS (
              SELECT c_nationkey, t,
                ((t - 1) % 12) + 1 AS i, ((t - 1) // 12) + 1 AS j,
                CAST(abs(na[((t - 1) % 12) + 1]
                  - ga[((t - 1) // 12) + 1]) AS BIGINT) AS c
              FROM nat, gl, range(1, 145) r(t)),
            rec(c_nationkey, t, w) AS (
              SELECT c_nationkey, CAST(1 AS BIGINT), [$zeros] || [c]
              FROM costs WHERE t = 1
              UNION ALL
              SELECT r.c_nationkey, r.t + 1,
                r.w[2:13] || [x.c + CASE
                  WHEN x.j = 1 THEN r.w[13]
                  WHEN x.i = 1 THEN r.w[2]
                  ELSE least(r.w[13], r.w[2], r.w[1]) END]
              FROM rec r JOIN costs x
                ON x.c_nationkey = r.c_nationkey AND x.t = r.t + 1)
            SELECT c_nationkey, w[13] AS dtw_permille
            FROM rec WHERE t = 144 ORDER BY c_nationkey"""
      }),

    // ── Moran's I: is revenue autocorrelated over the trade network? ────
    // Spatial statistics without geography: the weight matrix is the
    // OBSERVED supplier→customer nation trade volume (ppm integer
    // shares, diagonal zeroed), the attribute is nation revenue in M$.
    // I = (n/S0)·Σwᵢⱼ(xᵢ−x̄)(xⱼ−x̄) / Σ(xᵢ−x̄)² — do trading partners
    // have correlated demand? Revenue census = one orders⋈customer
    // pass; the weight census is the q_trade_matrix 3-join collapsed
    // to ≤nations²; both folds are (i,j)-pinned over that bounded
    // frame. E[I] = −1/(n−1) is the null reference.
    Q("q_morans_i",
      (s, dir) => {
        val rev = t(s, dir, "orders")
          .join(broadcast(t(s, dir, "customer")
            .select(col("c_custkey"), col("c_nationkey"))),
            col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_nationkey").as("nk"))
          .agg(sum(expr(
            "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
            .cast(DecimalType(38, 0))).as("cents"))
          .select(col("nk"), (col("cents").cast("double") / 1e8).as("x"))
          .persist()
        val xbar = rev.agg(count(lit(1)).cast("long").as("n"),
            expr("""aggregate(array_sort(collect_list(struct(nk, x))),
                    CAST(0 AS DOUBLE), (a, e) -> a + e.x)""").as("sx"))
          .select(col("n"), (col("sx") / col("n").cast("double")).as("xb"))
        val trade = t(s, dir, "lineitem")
          .join(broadcast(t(s, dir, "supplier")
            .select(col("s_suppkey"), col("s_nationkey"))),
            col("l_suppkey") === col("s_suppkey"))
          .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(t(s, dir, "customer")
            .select(col("c_custkey"), col("c_nationkey"))),
            col("o_custkey") === col("c_custkey"))
          .filter(col("s_nationkey") =!= col("c_nationkey"))
          .groupBy(col("s_nationkey").as("i"), col("c_nationkey").as("j"))
          .agg(sum(expr(
            "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
            .cast(DecimalType(38, 0))).as("w"))
          .persist()
        val wtot = trade.agg(sum(col("w")).as("wt"))
        val wn = trade.crossJoin(broadcast(wtot))
          .select(col("i"), col("j"),
            expr("CAST((w * 1000000) div wt AS BIGINT)").as("wn"))
          .filter(col("wn") > 0)
        val xi = rev.select(col("nk").as("i"), col("x").as("xi"))
        val xj = rev.select(col("nk").as("j"), col("x").as("xj"))
        val num = wn.join(broadcast(xi), "i").join(broadcast(xj), "j")
          .crossJoin(broadcast(xbar))
          .select(col("i"), col("j"), col("n"),
            round(col("wn").cast("double") * (col("xi") - col("xb"))
              * (col("xj") - col("xb")), 6).as("t"))
          .agg(max(col("n")).as("n"),
            sum(lit(1L)).cast("long").as("n_links"),
            expr("""aggregate(array_sort(collect_list(struct(i, j, t))),
                    CAST(0 AS DOUBLE), (a, e) -> a + e.t)""").as("num"))
        val den = rev.crossJoin(broadcast(xbar))
          .select(col("nk"),
            round((col("x") - col("xb")) * (col("x") - col("xb")), 6)
              .as("d"))
          .agg(expr(
            """aggregate(array_sort(collect_list(struct(nk, d))),
               CAST(0 AS DOUBLE), (a, e) -> a + e.d)""").as("den"))
        val s0 = wn.agg(sum(col("wn")).cast("long").as("s0"))
        num.crossJoin(broadcast(den)).crossJoin(broadcast(s0))
          .select(col("n").as("n_nations"), col("n_links"), col("s0"),
            when(col("den") <= 0 || col("s0") <= 0,
              lit(null).cast("double"))
              .otherwise(round((col("n").cast("double")
                / col("s0").cast("double"))
                * col("num") / col("den"), 6)).as("morans_i"),
            round(lit(-1.0) / (col("n") - 1).cast("double"), 12)
              .as("expected_i"))
      },
      Some("""WITH rev AS (
                SELECT c_nationkey AS nk,
                  CAST(SUM(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2))
                    * 100 AS BIGINT) AS HUGEINT)) AS DOUBLE) / 1e8 AS x
                FROM orders JOIN customer ON o_custkey = c_custkey
                GROUP BY 1),
              xbar AS (
                SELECT CAST(count(*) AS BIGINT) AS n,
                  list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(x ORDER BY nk)), (a, e) -> a + e)
                    / CAST(count(*) AS DOUBLE) AS xb
                FROM rev),
              trade AS (
                SELECT s_nationkey AS i, c_nationkey AS j,
                  SUM(CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                    * 100 AS BIGINT) AS HUGEINT)) AS w
                FROM lineitem
                JOIN supplier ON l_suppkey = s_suppkey
                JOIN orders ON l_orderkey = o_orderkey
                JOIN customer ON o_custkey = c_custkey
                WHERE s_nationkey <> c_nationkey
                GROUP BY 1, 2),
              wtot AS (SELECT SUM(w) AS wt FROM trade),
              wn AS (
                SELECT i, j, CAST((w * 1000000) // wt AS BIGINT) AS wn
                FROM trade, wtot),
              wnf AS (SELECT i, j, wn FROM wn WHERE wn > 0),
              numt AS (
                SELECT i, j, n,
                  round(CAST(wn AS DOUBLE) * (a.x - xb) * (b.x - xb), 6)
                    AS t
                FROM wnf JOIN rev a ON wnf.i = a.nk
                JOIN rev b ON wnf.j = b.nk, xbar),
              num AS (
                SELECT CAST(MAX(n) AS BIGINT) AS n,
                  CAST(count(*) AS BIGINT) AS n_links,
                  list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(t ORDER BY i, j)), (a, e) -> a + e) AS num
                FROM numt),
              dent AS (
                SELECT nk, round((x - xb) * (x - xb), 6) AS d
                FROM rev, xbar),
              den AS (
                SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
                  list(d ORDER BY nk)), (a, e) -> a + e) AS den
                FROM dent),
              s0 AS (SELECT CAST(SUM(wn) AS BIGINT) AS s0 FROM wnf)
              SELECT n AS n_nations, n_links, s0,
                CASE WHEN den <= 0 OR s0 <= 0 THEN NULL
                  ELSE round((CAST(n AS DOUBLE) / CAST(s0 AS DOUBLE))
                    * num / den, 6) END AS morans_i,
                round(-1.0 / CAST(n - 1 AS DOUBLE), 12) AS expected_i
              FROM num, den, s0""")),

    // ── Bland–Altman agreement: header total vs line-derived total ──────
    // The measurement-agreement lens as a data-quality audit: per
    // order, o_totalprice vs Σ extprice·(1−disc)·(1+tax) computed
    // EXACTLY in 1e-8-cent integers, differences carried in 1e-4-cent
    // units (exact div), bias and 1.96σ limits of agreement from exact
    // DECIMAL moment sums, and the outside-LoA count by exact integer
    // comparison against the identical broadcast doubles. One
    // lineitem pass + one orders pass, joined on orderkey.
    Q("q_bland_altman",
      (s, dir) => {
        val lines = t(s, dir, "lineitem")
          .select(col("l_orderkey"),
            (expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
              .cast(DecimalType(38, 0))
              * expr("CAST(10000 - CAST(l_discount AS DECIMAL(18,4)) * 10000 AS BIGINT)")
              * expr("CAST(10000 + CAST(l_tax AS DECIMAL(18,4)) * 10000 AS BIGINT)"))
              .as("net8"))
          .groupBy("l_orderkey")
          .agg(sum(col("net8")).as("line8"))
        val diffs = t(s, dir, "orders")
          .select(col("o_orderkey"),
            expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
              .as("hc"))
          .join(lines, col("o_orderkey") === col("l_orderkey"))
          .select(expr(
            "CAST((CAST(hc AS DECIMAL(38,0)) * 100000000 - line8) div 10000 AS BIGINT)")
            .as("d4"))
          .persist()
        val mom = diffs.agg(count(lit(1)).cast("long").as("n"),
            sum(col("d4").cast(DecimalType(38, 0))).as("s1"),
            sum(col("d4").cast(DecimalType(38, 0)) * col("d4")).as("s2"))
          .select(col("n"),
            (col("s1").cast("double") / col("n").cast("double"))
              .as("mu"),
            sqrt((col("s2").cast("double")
              - col("s1").cast("double") * col("s1").cast("double")
                / col("n").cast("double"))
              / (col("n") - 1).cast("double")).as("sd"))
        diffs.crossJoin(broadcast(mom))
          .agg(max(col("n")).as("n_orders"), max(col("mu")).as("mu"),
            max(col("sd")).as("sd"),
            sum(when(abs(col("d4").cast("double") - col("mu"))
              > lit(1.96) * col("sd"), 1L).otherwise(0L)).cast("long")
              .as("n_outside"))
          .select(col("n_orders"),
            round(col("mu") / 1e6, 6).as("bias_dollars"),
            round((col("mu") - lit(1.96) * col("sd")) / 1e6, 6)
              .as("loa_low"),
            round((col("mu") + lit(1.96) * col("sd")) / 1e6, 6)
              .as("loa_high"),
            col("n_outside"),
            round(col("n_outside").cast("double")
              / col("n_orders").cast("double"), 12).as("pct_outside"))
      },
      Some("""WITH lines AS (
                SELECT l_orderkey,
                  SUM(CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                      * 100 AS BIGINT) AS HUGEINT)
                    * CAST(10000 - CAST(l_discount AS DECIMAL(18,4))
                      * 10000 AS BIGINT)
                    * CAST(10000 + CAST(l_tax AS DECIMAL(18,4))
                      * 10000 AS BIGINT)) AS line8
                FROM lineitem GROUP BY 1),
              diffs AS (
                SELECT CAST((CAST(CAST(CAST(o_totalprice
                    AS DECIMAL(18,2)) * 100 AS BIGINT) AS HUGEINT)
                    * 100000000 - line8) // 10000 AS BIGINT) AS d4
                FROM orders JOIN lines ON o_orderkey = l_orderkey),
              mom AS (
                SELECT CAST(count(*) AS BIGINT) AS n,
                  CAST(SUM(CAST(d4 AS HUGEINT)) AS DOUBLE)
                    / CAST(count(*) AS DOUBLE) AS mu,
                  sqrt((CAST(SUM(CAST(d4 AS HUGEINT) * d4) AS DOUBLE)
                    - CAST(SUM(CAST(d4 AS HUGEINT)) AS DOUBLE)
                      * CAST(SUM(CAST(d4 AS HUGEINT)) AS DOUBLE)
                      / CAST(count(*) AS DOUBLE))
                    / CAST(count(*) - 1 AS DOUBLE)) AS sd
                FROM diffs),
              agg AS (
                SELECT MAX(n) AS n_orders, MAX(mu) AS mu, MAX(sd) AS sd,
                  CAST(SUM(CASE WHEN abs(CAST(d4 AS DOUBLE) - mu)
                    > 1.96 * sd THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_outside
                FROM diffs, mom)
              SELECT CAST(n_orders AS BIGINT) AS n_orders,
                round(mu / 1e6, 6) AS bias_dollars,
                round((mu - 1.96 * sd) / 1e6, 6) AS loa_low,
                round((mu + 1.96 * sd) / 1e6, 6) AS loa_high,
                n_outside,
                round(CAST(n_outside AS DOUBLE)
                  / CAST(n_orders AS DOUBLE), 12) AS pct_outside
              FROM agg""")),

    // ── Hill tail-index of order values (top-1000 order statistics) ─────
    // How heavy is the revenue tail, really? Hill's estimator
    // ĥ = (1/k)Σ ln(xᵢ/x₍ₖ₊₁₎) over the k largest values. The top-1001
    // cut is a DISTRIBUTED TakeOrdered on the (cents DESC, orderkey)
    // total order (per-partition heaps + driver merge — never a global
    // sort); the rank window that drops the boundary row runs on the
    // 1001-row frame (k-bounded, not data-bounded). Log ratios are
    // row-local IEEE vs the broadcast boundary value, μ-integerized to
    // 1e-9 → the mean is an exact-integer sum ÷ k. α = 1/ĥ.
    Q("q_hill_tail",
      (s, dir) => {
        val top = t(s, dir, "orders")
          .select(col("o_orderkey"),
            expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
              .as("c"))
          .orderBy(col("c").desc, col("o_orderkey"))
          .limit(1001)
          .persist()
        val boundary = top.agg(min(col("c")).cast("long").as("xk"))
        top.crossJoin(broadcast(boundary))
          .withColumn("rn", row_number().over(
            Window.orderBy(col("c").desc, col("o_orderkey"))))
          .filter(col("rn") <= 1000)
          .select(floor(log(col("c").cast("double")
            / col("xk").cast("double")) * 1e9 + 0.5).cast("long")
            .as("t"), col("xk"))
          .agg(count(lit(1)).cast("long").as("k"),
            max(col("xk")).as("xk"),
            sum(col("t").cast(DecimalType(38, 0))).as("st"))
          .select(col("k"),
            round(col("xk").cast("double") / 100.0, 2).as("x_boundary"),
            round(col("st").cast("double") / col("k").cast("double")
              / 1e9, 6).as("hill"),
            when(col("st") <= 0, lit(null).cast("double"))
              .otherwise(round(lit(1.0)
                / (col("st").cast("double") / col("k").cast("double")
                  / 1e9), 6)).as("alpha"))
      },
      Some("""WITH top AS (
                SELECT o_orderkey,
                  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS c
                FROM orders
                ORDER BY c DESC, o_orderkey LIMIT 1001),
              b AS (SELECT CAST(MIN(c) AS BIGINT) AS xk FROM top),
              kept AS (
                SELECT c, xk,
                  row_number() OVER (ORDER BY c DESC, o_orderkey) AS rn
                FROM top, b),
              terms AS (
                SELECT CAST(floor(ln(CAST(c AS DOUBLE)
                    / CAST(xk AS DOUBLE)) * 1e9 + 0.5) AS BIGINT) AS t,
                  xk
                FROM kept WHERE rn <= 1000),
              agg AS (
                SELECT CAST(count(*) AS BIGINT) AS k,
                  CAST(MAX(xk) AS BIGINT) AS xk,
                  SUM(CAST(t AS HUGEINT)) AS st
                FROM terms)
              SELECT k,
                round(CAST(xk AS DOUBLE) / 100.0, 2) AS x_boundary,
                round(CAST(st AS DOUBLE) / CAST(k AS DOUBLE) / 1e9, 6)
                  AS hill,
                CASE WHEN st <= 0 THEN NULL
                  ELSE round(1.0 / (CAST(st AS DOUBLE)
                    / CAST(k AS DOUBLE) / 1e9), 6) END AS alpha
              FROM agg""")),

    // ── quantile treatment effects: urgent vs rest, 9 deciles ───────────
    // Distributional version of a mean lift: QTE(d) = Q_d(urgent) −
    // Q_d(rest) for d = 10..90. Per-group decile values are EXACT
    // value-at-rank picks at (n·d + 9) div 10 via
    // RangeRank.groupValuesAtRanks — selection-by-value is tie-order
    // invariant, so the picks equal the oracle's row_number targets
    // (including degenerate n < 10 groups where two targets coincide:
    // both deciles read the same member value, exactly the row the
    // oracle's join emits twice — ADVICE r6). No FP anywhere but the
    // final dollar conversion.
    Q("q_quantile_treatment_effect",
      (s, dir) => {
        val base = t(s, dir, "orders")
          .select(
            when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"),
              lit("urgent")).otherwise(lit("rest")).as("g"),
            expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
              .as("cents"))
          .persist()
        // rank targets reference the count column by name (exact
        // integer div — no FP rank arithmetic)
        val wide = RangeRank.groupValuesAtRanks(base, Seq("g"), "cents",
          (1 to 9).map(d =>
            RangeRank.RankPick(s"q$d", n => expr(s"(n * $d + 9) div 10"))))
        val picks = wide
          .select(col("g"), expr("stack(9, " + (1 to 9)
            .map(d => s"CAST($d AS BIGINT), q$d").mkString(", ")
            + ") AS (decile, q)"))
          .groupBy("decile")
          .agg(
            min(when(col("g") === "urgent", col("q"))).as("qu"),
            min(when(col("g") === "rest", col("q"))).as("qr"))
        picks.select(col("decile"),
            round(col("qu").cast("double") / 100.0, 2).as("q_urgent"),
            round(col("qr").cast("double") / 100.0, 2).as("q_rest"),
            round((col("qu") - col("qr")).cast("double") / 100.0, 2)
              .as("qte"))
          .orderBy("decile")
      },
      Some("""WITH base AS (
                SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 'urgent' ELSE 'rest' END AS g,
                  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS cents,
                  o_orderkey
                FROM orders),
              r AS (
                SELECT g, cents,
                  CAST(row_number() OVER (PARTITION BY g
                    ORDER BY cents, o_orderkey) AS BIGINT) AS rn,
                  CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS n
                FROM base),
              marked AS (
                SELECT g, cents, d.d AS decile
                FROM r JOIN (SELECT unnest(generate_series(1, 9)) AS d)
                  d ON r.rn = (r.n * d.d + 9) // 10),
              picks AS (
                SELECT decile,
                  MIN(CASE WHEN g = 'urgent' THEN cents END) AS qu,
                  MIN(CASE WHEN g = 'rest' THEN cents END) AS qr
                FROM marked GROUP BY 1)
              SELECT CAST(decile AS BIGINT) AS decile,
                round(CAST(qu AS DOUBLE) / 100.0, 2) AS q_urgent,
                round(CAST(qr AS DOUBLE) / 100.0, 2) AS q_rest,
                round(CAST(qu - qr AS DOUBLE) / 100.0, 2) AS qte
              FROM picks ORDER BY decile""")),

    // ── Anderson–Darling uniformity audit of the Knuth hash ─────────────
    // Is pmod(orderkey·2654435761, 4096) actually uniform? The A²
    // statistic weights the CDF tails the KS screen underweights. On
    // the 4096-bin census the order statistics collapse to runs:
    // Σ(2i−1) over a run is c·(2p+c−2) EXACT, the two log terms
    // μ-integerize to 1e-9 (F = (h+0.5)/4096 never hits 0/1), so S is
    // an exact DECIMAL sum and A² = −n − S/n is one final division.
    // One orders pass, 4096-bounded census.
    Q("q_anderson_darling",
      (s, dir) => {
        val wAll = Window.partitionBy()
        val wPrev = Window.orderBy(col("h"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val wAfter = Window.orderBy(col("h"))
          .rowsBetween(1, Window.unboundedFollowing)
        val census = t(s, dir, "orders")
          .select(expr(
            "pmod((o_orderkey % 2147483648) * 2654435761, 4096)")
            .cast("long").as("h"))
          .groupBy("h").agg(count(lit(1)).cast("long").as("c"))
        val terms = census
          .select(col("h"), col("c"),
            coalesce(sum(col("c")).over(wPrev), lit(0L)).as("below"),
            coalesce(sum(col("c")).over(wAfter), lit(0L)).as("above"),
            sum(col("c")).over(wAll).cast("long").as("n"))
          .select(col("n"),
            (col("c") * (lit(2L) * (col("below") + 1) + col("c")
              - 2)).as("w1"),
            (col("c") * (lit(2L) * (col("above") + 1) + col("c")
              - 2)).as("w2"),
            floor(log((col("h").cast("double") + 0.5) / 4096.0) * 1e9
              + 0.5).cast("long").as("t1"),
            floor(log(lit(1.0) - (col("h").cast("double") + 0.5)
              / 4096.0) * 1e9 + 0.5).cast("long").as("t2"))
        terms.agg(max(col("n")).as("n"),
            sum(col("w1").cast(DecimalType(38, 0)) * col("t1")).as("s1"),
            sum(col("w2").cast(DecimalType(38, 0)) * col("t2")).as("s2"))
          .select(col("n").as("n_orders"),
            round(lit(-1.0) * col("n").cast("double")
              - (col("s1").cast("double") + col("s2").cast("double"))
                / 1e9 / col("n").cast("double"), 6).as("a_squared"))
      },
      Some("""WITH census AS (
                SELECT ((o_orderkey % 2147483648) * 2654435761 % 4096
                  + 4096) % 4096 AS h,
                  CAST(count(*) AS BIGINT) AS c
                FROM orders GROUP BY 1),
              terms AS (
                SELECT
                  CAST(SUM(c) OVER () AS BIGINT) AS n,
                  c * (2 * (COALESCE(SUM(c) OVER (ORDER BY h
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) + 1) + c - 2) AS w1,
                  c * (2 * (COALESCE(SUM(c) OVER (ORDER BY h
                    ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING),
                    0) + 1) + c - 2) AS w2,
                  CAST(floor(ln((CAST(h AS DOUBLE) + 0.5) / 4096.0)
                    * 1e9 + 0.5) AS BIGINT) AS t1,
                  CAST(floor(ln(1.0 - (CAST(h AS DOUBLE) + 0.5)
                    / 4096.0) * 1e9 + 0.5) AS BIGINT) AS t2
                FROM census),
              agg AS (
                SELECT CAST(MAX(n) AS BIGINT) AS n,
                  SUM(CAST(w1 AS HUGEINT) * t1) AS s1,
                  SUM(CAST(w2 AS HUGEINT) * t2) AS s2
                FROM terms)
              SELECT n AS n_orders,
                round(-1.0 * CAST(n AS DOUBLE)
                  - (CAST(s1 AS DOUBLE) + CAST(s2 AS DOUBLE)) / 1e9
                    / CAST(n AS DOUBLE), 6) AS a_squared
              FROM agg""")),

    // ── knee of the revenue-concentration curve (Kneedle-lite) ──────────
    // "How many customers until the curve flattens?" — the knee is the
    // percentile bin maximizing distance from the (0,0)→(100,total)
    // chord. The distance ordering is computed WITHOUT FP: argmax of
    // |100·cum_cents − bin·total| over exact DECIMAL integers, via the
    // (dev DESC, bin) total order on the ≤100-row bin census. Ranks
    // ride RangeRank (customer census grows with data); only the
    // reported shares are doubles.
    Q("q_knee_detection",
      (s, dir) => {
        val cust = t(s, dir, "orders")
          .select(col("o_custkey"),
            expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
              .as("c"))
          .groupBy("o_custkey")
          .agg(sum(col("c").cast(DecimalType(38, 0))).as("cents"))
        val ranked = RangeRank.ranked(cust, Seq.empty,
          Seq(col("cents").desc, col("o_custkey")))
        val bins = ranked
          .select(expr("(rn - 1) * 100 div n").cast("long").as("bin"),
            col("cents"))
          .groupBy("bin").agg(sum(col("cents")).as("binc"))
        val wcum = Window.orderBy("bin")
          .rowsBetween(Window.unboundedPreceding, 0)
        val wAll = Window.partitionBy()
        bins
          .select(col("bin"),
            sum(col("binc")).over(wcum).as("cum"),
            sum(col("binc")).over(wAll).as("tot"))
          .select(col("bin"), col("cum"), col("tot"),
            abs(col("cum") * 100 - (col("bin") + 1) * col("tot"))
              .as("dev"))
          .orderBy(col("dev").desc, col("bin"))
          .limit(1)
          .select((col("bin") + 1).as("knee_percentile"),
            round(col("cum").cast("double") / col("tot").cast("double"),
              12).as("cum_share_at_knee"),
            round((col("cum").cast("double") * 100.0
              - ((col("bin") + 1) * col("tot")).cast("double"))
              / col("tot").cast("double") / 100.0, 12)
              .as("max_gap_share"))
      },
      Some("""WITH cust AS (
                SELECT o_custkey,
                  SUM(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2))
                    * 100 AS BIGINT) AS HUGEINT)) AS cents
                FROM orders GROUP BY 1),
              r AS (
                SELECT cents,
                  CAST(row_number() OVER (ORDER BY cents DESC,
                    o_custkey) AS BIGINT) AS rn,
                  CAST(count(*) OVER () AS BIGINT) AS n
                FROM cust),
              bins AS (
                SELECT (rn - 1) * 100 // n AS bin, SUM(cents) AS binc
                FROM r GROUP BY 1),
              curve AS (
                SELECT bin,
                  SUM(binc) OVER (ORDER BY bin
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS cum,
                  SUM(binc) OVER () AS tot
                FROM bins)
              SELECT CAST(bin + 1 AS BIGINT) AS knee_percentile,
                round(CAST(cum AS DOUBLE) / CAST(tot AS DOUBLE), 12)
                  AS cum_share_at_knee,
                round((CAST(cum AS DOUBLE) * 100.0
                  - CAST((bin + 1) * tot AS DOUBLE))
                  / CAST(tot AS DOUBLE) / 100.0, 12) AS max_gap_share
              FROM curve
              ORDER BY abs(cum * 100 - (bin + 1) * tot) DESC, bin
              LIMIT 1""")),

    // ── Atkinson inequality index (ε = 2) per market segment ────────────
    // The welfare-weighted inequality readout the Gini/Lorenz family
    // doesn't give: at ε = 2 Atkinson is ALGEBRAIC — A₂ = 1 − H/μ
    // (harmonic over arithmetic mean) — so no log/exp leaves the
    // engines. Reciprocals are μ-integerized at 1e-15 (1e15 div cents
    // — deterministic identical integers in both engines; documented
    // quantization, error < 1e-7 relative at any spend), summed in
    // DECIMAL(38,0), and A₂ = 1 − n²·1e15/(S·T) is ONE IEEE expression
    // of exact integers. Per-customer spend census first (one orders
    // pass), size-gated segment join (customer scales — never hinted).
    Q("q_atkinson_index",
      (s, dir) => {
        val dec38 = DecimalType(38, 0)
        val spend = t(s, dir, "orders")
          .groupBy("o_custkey")
          .agg((sum(dec2(col("o_totalprice"))) * 100).cast("long")
            .as("cents"))
          .filter(col("cents") > 0)
          .join(t(s, dir, "customer")
            .select(col("c_custkey"), col("c_mktsegment")),
            col("o_custkey") === col("c_custkey"))
        spend.groupBy(col("c_mktsegment").as("segment"))
          .agg(count(lit(1)).cast("long").as("n"),
            sum(col("cents").cast(dec38)).as("t"),
            sum(expr("1000000000000000 div cents").cast(dec38)).as("s"))
          .select(col("segment"), col("n"),
            round(col("t").cast("double") / col("n").cast("double")
              / 100.0, 2).as("mean_spend"),
            when(col("s") === 0 || col("t") === 0,
              lit(null).cast("double"))
              .otherwise(round(lit(1.0)
                - (col("n").cast(dec38) * col("n")
                    * lit(1000000000000000L)).cast("double")
                  / (col("s") * col("t")).cast("double"), 12))
              .as("atkinson2"))
          .orderBy("segment")
      },
      Some("""WITH spend AS (
                SELECT o_custkey,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                    AS BIGINT) AS cents
                FROM orders GROUP BY 1
                HAVING CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                    AS BIGINT) > 0),
              j AS (
                SELECT c_mktsegment AS segment, cents,
                  1000000000000000 // cents AS recip
                FROM spend JOIN customer ON o_custkey = c_custkey)
              SELECT segment, CAST(count(*) AS BIGINT) AS n,
                round(CAST(SUM(CAST(cents AS HUGEINT)) AS DOUBLE)
                  / count(*) / 100.0, 2) AS mean_spend,
                CASE WHEN SUM(CAST(recip AS HUGEINT)) = 0
                    OR SUM(CAST(cents AS HUGEINT)) = 0 THEN NULL
                  ELSE round(1.0
                    - CAST(CAST(count(*) AS HUGEINT) * count(*)
                        * 1000000000000000 AS DOUBLE)
                      / CAST(SUM(CAST(recip AS HUGEINT))
                        * SUM(CAST(cents AS HUGEINT)) AS DOUBLE), 12)
                  END AS atkinson2
              FROM j GROUP BY 1 ORDER BY segment""")),

    // ── Hoover (Robin Hood) index per market segment ────────────────────
    // The third inequality lens after Gini/Lorenz and Atkinson: the
    // share of total spend that would have to move to equalize
    // everyone — the maximum vertical Lorenz gap. FULLY exact:
    // H = Σ|n·xᵢ − T| / (2·n·T) needs only the per-customer spend
    // census, per-segment (n, T) totals folded back (5-row broadcast),
    // an exact DECIMAL(38,0) absolute-deviation sum, and ONE IEEE
    // division — no FP accumulates anywhere.
    Q("q_hoover_index",
      (s, dir) => {
        val dec38 = DecimalType(38, 0)
        val spend = t(s, dir, "orders")
          .groupBy("o_custkey")
          .agg((sum(dec2(col("o_totalprice"))) * 100).cast("long")
            .as("cents"))
          .join(t(s, dir, "customer")
            .select(col("c_custkey"), col("c_mktsegment").as("segment")),
            col("o_custkey") === col("c_custkey"))
          .select("segment", "cents")
          .persist()
        val totals = spend.groupBy("segment")
          .agg(count(lit(1)).cast("long").as("n"),
            sum(col("cents").cast(dec38)).as("t"))
        spend.join(broadcast(totals), "segment")
          .groupBy(col("segment"), col("n"), col("t"))
          .agg(sum(abs(col("cents").cast(dec38) * col("n") - col("t")))
            .as("dev"))
          .select(col("segment"), col("n"),
            when(col("t") === 0 || col("n") === 0,
              lit(null).cast("double"))
              .otherwise(round(col("dev").cast("double")
                / (lit(2.0) * col("n").cast("double")
                  * col("t").cast("double")), 12)).as("hoover"))
          .orderBy("segment")
      },
      Some("""WITH spend AS (
                SELECT c_mktsegment AS segment,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                    AS BIGINT) AS cents
                FROM orders JOIN customer ON o_custkey = c_custkey
                GROUP BY segment, o_custkey),
              totals AS (
                SELECT segment, CAST(count(*) AS BIGINT) AS n,
                  CAST(SUM(CAST(cents AS HUGEINT)) AS HUGEINT) AS t
                FROM spend GROUP BY 1)
              SELECT s.segment, n,
                CASE WHEN t = 0 OR n = 0 THEN NULL
                  ELSE round(CAST(SUM(abs(CAST(s.cents AS HUGEINT) * n
                      - t)) AS DOUBLE)
                    / (2.0 * CAST(n AS DOUBLE) * CAST(t AS DOUBLE)), 12)
                  END AS hoover
              FROM spend s JOIN totals ON s.segment = totals.segment
              GROUP BY s.segment, n, t
              ORDER BY s.segment"""))
  )

  /** k-anonymity sufficient statistic: the quasi-id equivalence-class
    * census (nation × segment × exact-integer balance band). Mergeable
    * (a count census bounded by the combo space), so the streaming twin
    * keeps exactly this frame as Complete-mode state — the live privacy
    * monitor re-audits each trigger without rescanning the population.
    */
  def kAnonCensus(customer: DataFrame): DataFrame =
    customer
      .select(col("c_nationkey"), col("c_mktsegment"),
        expr("""(cast(cast(c_acctbal as decimal(18,2)) * 100 as bigint)
                 + 100000) div 100000""").as("bal_band"))
      .groupBy("c_nationkey", "c_mktsegment", "bal_band")
      .agg(count(lit(1)).as("class_size"))

  /** k-anonymity readout over the census (batch or drained stream
    * state): classes below k=5 are the violators to generalize or
    * suppress. Pure finishing arithmetic on the combo-bounded frame.
    */
  def kAnonFinish(census: DataFrame): DataFrame =
    census.filter(col("class_size") < 5)
      .orderBy("c_nationkey", "c_mktsegment", "bal_band")

  /** Row-level z-values for the orders layout job: every orders column
    * plus (xq, yq, z). q_zorder_layout censuses the coarse tiles off
    * this frame; the 100-TB write path (and Bench's `write` metric)
    * feeds it to `repartitionByRange(z).sortWithinPartitions(z)` so a
    * 2-D range predicate can prune contiguous file runs. One 1-row
    * stats broadcast + row-local integer interleave — no data-sized
    * shuffle before the range write itself.
    */
  def zorderRows(s: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftExtensions.ensureRegistered(s)
    val dims = t(s, dir, "orders")
      .withColumn("x",
        datediff(col("o_orderdate"), lit("1992-01-01")).cast("long"))
      .withColumn("y", col("o_custkey"))
    val stats = dims.agg(
      min("x").as("xmin"), max("x").as("xmax"),
      min("y").as("ymin"), max("y").as("ymax"))
    dims.crossJoin(broadcast(stats))
      .withColumn("xq",
        expr("((x - xmin) * 65535) div greatest(xmax - xmin, CAST(1 AS BIGINT))"))
      .withColumn("yq",
        expr("((y - ymin) * 65535) div greatest(ymax - ymin, CAST(1 AS BIGINT))"))
      .withColumn("z",
        call_function("graft_zorder", col("xq"), col("yq"), lit(16)))
      .drop("x", "y", "xmin", "xmax", "ymin", "ymax")
  }

  /** q_rosner_esd's DuckDB twin: the identical three remove-and-recompute
    * rounds as a generated CTE chain (r0 → m_i/p_i/r_i per round) — the
    * q_bpe_train oracle-generation discipline applied to iterative
    * moment recomputation. The argmax mirrors the engine's FP-free
    * |n·x − Σx| integer ordering.
    */
  private def rosnerOracle: String = {
    val sb = new StringBuilder
    sb ++= """WITH r0 AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
        SUM(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
          AS BIGINT) AS HUGEINT)) AS x
      FROM orders GROUP BY 1)"""
    for (i <- 1 to 3) {
      sb ++= s""",
      m$i AS (
        SELECT CAST(count(*) AS BIGINT) AS n, SUM(x) AS s1,
          CAST(SUM(x) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean,
          sqrt((CAST(SUM(x * x) AS DOUBLE)
            - CAST(SUM(x) AS DOUBLE) * CAST(SUM(x) AS DOUBLE)
              / CAST(count(*) AS DOUBLE))
            / CAST(count(*) - 1 AS DOUBLE)) AS sd
        FROM r${i - 1}),
      p$i AS (
        SELECT d, CAST($i AS BIGINT) AS iteration,
          m$i.n AS n_remaining,
          strftime(d, '%Y-%m-%d') AS outlier_day,
          CAST(x AS BIGINT) AS cents,
          CASE WHEN sd > 0
            THEN round(abs(CAST(x AS DOUBLE) - mean) / sd, 6)
            END AS r_stat
        FROM r${i - 1}, m$i
        ORDER BY abs(x * m$i.n - m$i.s1) DESC, d LIMIT 1),
      r$i AS (
        SELECT r.d, r.x FROM r${i - 1} r, p$i WHERE r.d <> p$i.d)"""
    }
    sb ++= """
      SELECT iteration, n_remaining, outlier_day, cents, r_stat
      FROM (SELECT * FROM p1 UNION ALL SELECT * FROM p2
            UNION ALL SELECT * FROM p3)
      ORDER BY iteration"""
    sb.result()
  }
}
