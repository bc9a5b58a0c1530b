package graft.ops

import graft.{Q, Tables}
import graft.Q._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Data-layout operators: the two physical-design levers q_zorder_layout
  * does not cover — hash BUCKETING (pre-shuffled storage that lets a
  * co-located join skip its exchanges entirely) and directory
  * PARTITIONING (coarse pruning that lets a filter skip whole files
  * before a single row is read).
  *
  * The reference engine has no storage layer at all (its input is a
  * client-supplied in-memory vector, reference `MapReduceClient.h:50`);
  * these operators exist because at 100 TB the dominant cost of the
  * workload is the one-or-two fact-table shuffles per query, and layout
  * is the only lever that removes a shuffle instead of merely tuning it:
  *   - a join between tables bucketed on the join key with the same
  *     bucket count reads co-located buckets — zero Exchange below the
  *     join, for every future query against the layout;
  *   - a partition filter prunes at the DIRECTORY level, so scan cost
  *     tracks the selected slice, not the table.
  *
  * Both ops build their layout ONCE per (session, table dir) as a stored
  * artifact (the q_dup_clusters / IVF-index memo discipline) — the write
  * is the amortized cost a lakehouse pays at ingest, and every query
  * after it gets the cheap plan. The DuckDB oracles run the SAME logical
  * query against the un-laid-out parquet: layout must never change an
  * answer, only the plan — which also makes these the regression tests
  * that the layout transformation is content-preserving.
  */
object Layout {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** Artifact paths and catalog names follow the [[Artifacts]] contract:
    * collision-proof hashed+pid tag, `Artifacts.invalidate(dir)` drops
    * the memos after a mid-session input mutation, written directories
    * are reaped at JVM exit.
    */
  private def tag(dir: String): String = Artifacts.tag(dir)

  /** Bucketed orders/customer tables ([[Artifacts.bucketed]]: as many
    * buckets as the session has shuffle partitions), bucketed on the
    * custkey join key and sorted within buckets, so the join reads
    * co-located buckets and needs no Exchange. Each is written once per
    * (session, dir) and joined many times.
    */
  private val bucketedOrders =
    Artifacts.bucketed("graft_bkt_orders", "o_custkey", sorted = true)(
      t(_, _, "orders").select("o_orderkey", "o_custkey", "o_totalprice"))

  private val bucketedCustomer =
    Artifacts.bucketed("graft_bkt_customer", "c_custkey", sorted = true)(
      t(_, _, "customer").select("c_custkey", "c_mktsegment"))

  /** Bucketed lineitem/orders layout on the ORDERKEY — the fact-fact
    * case. The custkey layout above co-locates a fact with a dimension;
    * this one co-locates the two largest tables in the schema on the
    * single most expensive join key in the TPC-H-shape family (every
    * Q3/Q18-style drill-down pays the lineitem⋈orders shuffle — at
    * 100 TB it IS the workload's dominant exchange, and the analog of
    * the reference's entire shuffle phase, reference
    * `JobContext.cpp:80-124`). Both sides bucketed on the orderkey the
    * same way as the custkey pair.
    */
  private val bucketedLineitem =
    Artifacts.bucketed("graft_bkt_lineitem", "l_orderkey", sorted = true)(
      t(_, _, "lineitem").select("l_orderkey", "l_quantity", "l_extendedprice"))

  private val bucketedFactOrders =
    Artifacts.bucketed("graft_bkt_ford", "o_orderkey", sorted = true)(
      t(_, _, "orders").select("o_orderkey", "o_orderdate", "o_totalprice"))

  /** Partition-pruned orders layout: directory-partitioned by order year.
    * Reading it with a year predicate turns the filter into a
    * PartitionFilter — file listing shrinks to the selected year before
    * any parquet footer is opened. Memoized like the bucketed layout.
    */
  private val partMemo =
    Artifacts.memo[String]()

  private def partitionedOrders(s: SparkSession, dir: String): String =
    partMemo.computeIfAbsent((s, dir), _ => {
      val path = Artifacts.path("partitioned", tag(dir)) + "/orders"
      t(s, dir, "orders")
        .withColumn("o_year", year(col("o_orderdate")))
        .write.mode("overwrite").partitionBy("o_year").parquet(path)
      path
    })

  val queries: Seq[Q] = Seq(

    // ── bucketed co-located join ─────────────────────────────────────────
    // THE shuffle-elimination lever: orders ⋈ customer on c_custkey with
    // both sides bucketed on the key. Plan contract (PlanGuard):
    // both scans show `Bucketed: true`, and the ONLY hash Exchange in the
    // plan is the census-sized post-join aggregation — the join itself
    // reads co-located buckets. The `merge` hint pins SortMergeJoin so
    // the demonstration cannot silently degrade to a broadcast that
    // would stop working when customer outgrows the threshold at real
    // SF. At 100 TB this layout turns every custkey-keyed join in the
    // workload from two fact shuffles into zero.
    Q("q_join_bucketed",
      (s, dir) => bucketedOrders(s, dir)
        .join(bucketedCustomer(s, dir).hint("merge"),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          sumDec2(col("o_totalprice")).as("revenue"))
        .orderBy("c_mktsegment"),
      Some("""SELECT c_mktsegment, count(*) AS n_orders,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                  AS revenue
              FROM orders JOIN customer ON o_custkey = c_custkey
              GROUP BY 1 ORDER BY c_mktsegment""")),

    // ── bucketed FACT-FACT join: the Q18 drill-down, exchange-free ──────
    // lineitem ⋈ orders on the orderkey with BOTH facts bucketed on it,
    // and the groupBy key IS the bucket key — so the join reads
    // co-located buckets AND the aggregation's distribution is already
    // satisfied by the scan: the whole large-order drill-down (orders
    // whose total quantity ≥ 250, TPC-H Q18 shape) runs with ZERO hash
    // exchanges; only the output ORDER BY range-partitions the ≤1%
    // survivor set. PlanGuard pins both properties. At 100 TB this is
    // the single largest shuffle in the workload family, deleted by
    // layout: two corpus-sized exchanges (join re-shuffle of each fact)
    // plus one agg exchange → zero.
    Q("q_join_bucketed_fact",
      (s, dir) => bucketedLineitem(s, dir)
        .join(bucketedFactOrders(s, dir).hint("merge"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
        .agg(sumDec2(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("n_lines"))
        .filter(col("sum_qty") >= 250.0)
        .select(col("o_orderkey"), col("o_orderdate"),
          col("o_totalprice"), col("sum_qty"), col("n_lines"))
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey, o_orderdate, o_totalprice,
                CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                  AS sum_qty,
                count(*) AS n_lines
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              GROUP BY 1, 2, 3
              HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                >= 250.0
              ORDER BY o_orderkey""")),

    // ── partition-pruned scan ────────────────────────────────────────────
    // Directory partitioning by year + a year predicate: the filter
    // lands in PartitionFilters (PlanGuard asserts it), so the 1995
    // monthly report reads one year's directories regardless of table
    // size — scan cost tracks the slice, not the table. The monthly
    // census itself is the usual partial+final agg over a ≤12-key space.
    Q("q_partition_prune",
      (s, dir) => {
        val path = partitionedOrders(s, dir)
        s.read.parquet(path)
          .filter(col("o_year") === 1995)
          .groupBy(month(col("o_orderdate")).cast("long").as("month"))
          .agg(count(lit(1)).as("n_orders"),
            sumDec2(col("o_totalprice")).as("revenue"))
          .orderBy("month")
      },
      Some("""SELECT CAST(month(o_orderdate) AS BIGINT) AS month,
                count(*) AS n_orders,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                  AS revenue
              FROM orders WHERE year(o_orderdate) = 1995
              GROUP BY 1 ORDER BY month""")),

    // ── shuffle-free aggregation on the bucketed layout ──────────────────
    // The SECOND bucketing dividend: a groupBy on the bucket key needs
    // NO exchange at all — the scan's hash partitioning already
    // satisfies the aggregation's distribution, so per-customer stats
    // run as a single mapper pass over co-located buckets (PlanGuard
    // asserts zero hash Exchanges; only the output ORDER BY range-
    // exchanges). At 100 TB this turns the most common fact rollup
    // from a full shuffle into a scan.
    Q("q_bucket_agg",
      (s, dir) => bucketedOrders(s, dir)
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          sumDec2(col("o_totalprice")).as("revenue"))
        .orderBy("o_custkey"),
      Some("""SELECT o_custkey, count(*) AS n_orders,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                  AS revenue
              FROM orders GROUP BY 1 ORDER BY o_custkey""")),

    // ── CSV ingest end-to-end (text source in the oracle gate) ──────────
    // The ingest edge of a pipeline: events exported once as CSV (the
    // memoized artifact), read back with an EXPLICIT schema — at 100 TB
    // schema inference is a full extra pass, so production reads always
    // declare. Timestamps travel as epoch micros (int64) because text
    // timestamp formats round to millis by default; doubles round-trip
    // exactly (Spark writes shortest-repr). CSV grants column pruning
    // but no predicate pushdown — the rollup therefore aggregates
    // immediately after the scan. Result hash-matches DuckDB reading
    // the ORIGINAL parquet: the text round-trip is lossless.
    Q("q_csv_source",
      (s, dir) => {
        val path = csvEvents(s, dir)
        s.read.schema(srcSchema).csv(path)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), sumDec2(col("value")).as("sum_val"),
            min(col("ts_us")).as("first_us"), max(col("ts_us")).as("last_us"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, count(*) AS n,
                CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_val,
                CAST(MIN(epoch_us(ts)) AS BIGINT) AS first_us,
                CAST(MAX(epoch_us(ts)) AS BIGINT) AS last_us
              FROM events GROUP BY 1 ORDER BY event_type""")),

    // ── JSON-lines ingest end-to-end ─────────────────────────────────────
    // Same contract as q_csv_source over newline-delimited JSON — the
    // interchange format event buses actually emit. Explicit schema (no
    // inference pass), epoch-micros timestamps, exact double round-trip;
    // the distinct-user census exercises string+int64 field decode.
    Q("q_json_source",
      (s, dir) => {
        val path = jsonEvents(s, dir)
        s.read.schema(srcSchema).json(path)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            countDistinct(col("user_id")).as("n_users"),
            sumDec2(col("value")).as("sum_val"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, count(*) AS n,
                CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
                CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_val
              FROM events GROUP BY 1 ORDER BY event_type""")),

    // ── ORC ingest end-to-end (columnar source #2, WITH pushdown) ───────
    // Completes the ingest triad: unlike CSV/JSON, ORC is columnar and
    // takes predicate pushdown — the purchase/value filter lands in the
    // scan's PushedFilters (PlanGuard pins it), so at 100 TB the scan
    // reads row groups whose min/max admit the slice, not the table.
    // Same lossless-round-trip contract: epoch-micros timestamps, the
    // daily purchase census hash-matches DuckDB on the ORIGINAL parquet.
    Q("q_orc_source",
      (s, dir) => {
        val path = orcEvents(s, dir)
        s.read.schema(srcSchema).orc(path)
          .filter(col("event_type") === "purchase" && col("value") >= 10.0)
          .groupBy(expr("ts_us div 86400000000").as("day"))
          .agg(count(lit(1)).as("n"), sumDec2(col("value")).as("sum_val"))
          .orderBy("day")
      },
      Some("""SELECT epoch_us(ts) // 86400000000 AS day, count(*) AS n,
                CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_val
              FROM events
              WHERE event_type = 'purchase' AND value >= 10.0
              GROUP BY 1 ORDER BY day""")),

    // ── schema-evolution union (ingest across feed generations) ─────────
    // Real feeds change schema mid-history: the legacy half of the
    // stream predates the value/props columns. unionByName with
    // allowMissingColumns aligns by NAME and null-fills the missing
    // columns (positional UNION would silently mis-bind) — the exact
    // mechanic a 100-TB backfill over mixed-generation partitions needs.
    // The census reports per-type volume and the null share the
    // downstream consumer must tolerate; null-aware COUNT(col) vs
    // COUNT(*) is the audit.
    Q("q_schema_evolution",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val cut = lit("2024-01-16").cast("timestamp")
        val legacy = ev.filter(col("ts") < cut)
          .select(col("event_id"), col("user_id"), col("event_type"))
        val modern = ev.filter(col("ts") >= cut)
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("value"), col("props"))
        legacy.unionByName(modern, allowMissingColumns = true)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            count(col("value")).as("n_with_value"),
            sumDec2(coalesce(col("value"), lit(0.0))).as("sum_val"),
            count(col("props")).as("n_with_props"))
          .select(col("event_type"), col("n"), col("n_with_value"),
            col("sum_val"), col("n_with_props"),
            (lit(1.0) - col("n_with_value").cast("double")
              / col("n").cast("double")).as("missing_share"))
          .orderBy("event_type")
      },
      Some("""WITH u AS (
                SELECT event_id, user_id, event_type,
                  CAST(NULL AS DOUBLE) AS value,
                  CAST(NULL AS VARCHAR) AS props
                FROM events WHERE ts < TIMESTAMP '2024-01-16'
                UNION ALL
                SELECT event_id, user_id, event_type, value, props
                FROM events WHERE ts >= TIMESTAMP '2024-01-16')
              SELECT event_type, count(*) AS n,
                CAST(COUNT(value) AS BIGINT) AS n_with_value,
                CAST(SUM(CAST(COALESCE(value, 0.0) AS DECIMAL(18,2)))
                  AS DOUBLE) AS sum_val,
                CAST(COUNT(props) AS BIGINT) AS n_with_props,
                1.0 - CAST(COUNT(value) AS DOUBLE) / count(*)
                  AS missing_share
              FROM u GROUP BY 1 ORDER BY event_type""")),

    // ── binary-file ingest (the multimodal blob path, oracled) ──────────
    // `binaryFile` is the format a multimodal pipeline reads opaque
    // image/audio blobs with; here the blobs are the corpus's
    // source-partitioned text exports, which makes the ingest
    // HASH-CHECKABLE: per source-directory, total bytes must equal
    // Σ(octet_length(text) + 1 newline) over the original table —
    // DuckDB computes the expected census from the parquet, Spark reads
    // the actual files back. Per-file content never moves (the length
    // column is file metadata), the census is a partial+final agg over
    // the partition-discovered source key, and at 100 TB this is
    // exactly the manifest-validation pass an ingest runs before
    // decode (q_multimodal_decode's stage −1).
    Q("q_binary_source",
      (s, dir) => {
        val path = binaryDocs(s, dir)
        s.read.format("binaryFile").load(path)
          .groupBy(col("source"))
          .agg(sum(col("length")).cast("long").as("n_bytes"))
          .orderBy("source")
      },
      Some("""SELECT source,
                CAST(SUM(strlen(text) + 1) AS BIGINT) AS n_bytes
              FROM documents GROUP BY 1 ORDER BY source""")),

    // ── raw text-line ingest end-to-end (.txt shard format) ─────────────
    // Completes the ingest family with the rawest source Spark has:
    // spark.read.text over tab-delimited lines — the .txt-shard form
    // LLM corpora ship in before any schema exists. The read side
    // parses with split(_, '\t', 3) (the 3-limit keeps any tab INSIDE
    // the payload intact — the parse contract, not an accident) and
    // the per-source char census hash-matches DuckDB on the ORIGINAL
    // parquet: the line round-trip is lossless.
    Q("q_text_source",
      (s, dir) => {
        val path = textDocs(s, dir)
        s.read.text(path)
          .select(split(col("value"), "\t", 3).as("f"))
          .select(col("f").getItem(0).cast("long").as("doc_id"),
            col("f").getItem(1).as("source"),
            col("f").getItem(2).as("text"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(length(col("text"))).cast("long").as("n_chars"),
            min(col("doc_id")).cast("long").as("min_id"),
            max(col("doc_id")).cast("long").as("max_id"))
          .orderBy("source")
      },
      Some("""SELECT source, count(*) AS n_docs,
                CAST(SUM(length(text)) AS BIGINT) AS n_chars,
                CAST(MIN(doc_id) AS BIGINT) AS min_id,
                CAST(MAX(doc_id) AS BIGINT) AS max_id
              FROM documents GROUP BY 1 ORDER BY source""")),

    // ── XML ingest end-to-end (Spark 4 built-in XML source) ─────────────
    // The enterprise-interchange member of the ingest family: events
    // exported as <event> elements, read back with the built-in XML
    // source (explicit schema + rowTag — no inference pass over 100 TB
    // of markup). Epoch-micros timestamps and shortest-repr double
    // serialization make the round-trip lossless; the per-type census
    // hash-matches DuckDB on the ORIGINAL parquet.
    Q("q_xml_source",
      (s, dir) => {
        val path = xmlEvents(s, dir)
        s.read.schema(srcSchema).option("rowTag", "event").xml(path)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            countDistinct(col("user_id")).as("n_users"),
            max(col("event_id")).cast("long").as("max_id"),
            sumDec2(col("value")).as("sum_val"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, count(*) AS n,
                CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
                CAST(MAX(event_id) AS BIGINT) AS max_id,
                CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                  AS sum_val
              FROM events GROUP BY 1 ORDER BY event_type""")),

    // ── RLE compressibility audit (which columns reward sorting) ────────
    // The layout-advisor readout behind encoding choices: within each
    // order's natural (l_orderkey, l_linenumber) clustering, how many
    // value RUNS does each column carry? runs/rows near 1 ⇒ RLE is
    // useless; low ⇒ the column dictionary/RLE-encodes well in this
    // layout. Runs count via lag within ≤7-row order groups (bounded
    // partitions — never a global window); exact integer run counts,
    // one IEEE ratio per column.
    Q("q_rle_compressibility",
      (s, dir) => {
        // (l_orderkey, l_linenumber) is NOT unique in the synthetic
        // lineitem — tie-break the window order by the compared values
        // themselves so the run sequence is a total order in both engines
        val w = Window.partitionBy("l_orderkey")
          .orderBy("l_linenumber", "c_flag", "c_disc", "c_qty")
        val li = t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_returnflag").as("c_flag"),
            (dec2(col("l_discount")) * 100).cast("long").as("c_disc"),
            col("l_quantity").cast("long").as("c_qty"))
        val agg = li.select(col("l_orderkey"), col("l_linenumber"),
            col("c_flag"), col("c_disc"), col("c_qty"),
            when(lag(col("c_flag"), 1).over(w).isNull
              || lag(col("c_flag"), 1).over(w) =!= col("c_flag"), 1L)
              .otherwise(0L).as("r_flag"),
            when(lag(col("c_disc"), 1).over(w).isNull
              || lag(col("c_disc"), 1).over(w) =!= col("c_disc"), 1L)
              .otherwise(0L).as("r_disc"),
            when(lag(col("c_qty"), 1).over(w).isNull
              || lag(col("c_qty"), 1).over(w) =!= col("c_qty"), 1L)
              .otherwise(0L).as("r_qty"))
          .agg(count(lit(1)).cast("long").as("rows"),
            sum(col("r_flag")).cast("long").as("runs_flag"),
            sum(col("r_disc")).cast("long").as("runs_disc"),
            sum(col("r_qty")).cast("long").as("runs_qty"))
        agg.select(expr(
          """stack(3,
            |  'l_returnflag', rows, runs_flag,
            |  'l_discount', rows, runs_disc,
            |  'l_quantity', rows, runs_qty)
            |AS (column_name, n_rows, n_runs)""".stripMargin))
          .select(col("column_name"), col("n_rows"), col("n_runs"),
            round(col("n_runs").cast("double")
              / col("n_rows").cast("double"), 12).as("rle_ratio"))
          .orderBy("column_name")
      },
      Some("""WITH li AS (
                SELECT l_orderkey, l_linenumber,
                  l_returnflag AS c_flag,
                  CAST(CAST(l_discount AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS c_disc,
                  CAST(l_quantity AS BIGINT) AS c_qty
                FROM lineitem),
              flagged AS (
                SELECT
                  CASE WHEN lag(c_flag, 1) OVER w IS NULL
                    OR lag(c_flag, 1) OVER w <> c_flag
                    THEN 1 ELSE 0 END AS r_flag,
                  CASE WHEN lag(c_disc, 1) OVER w IS NULL
                    OR lag(c_disc, 1) OVER w <> c_disc
                    THEN 1 ELSE 0 END AS r_disc,
                  CASE WHEN lag(c_qty, 1) OVER w IS NULL
                    OR lag(c_qty, 1) OVER w <> c_qty
                    THEN 1 ELSE 0 END AS r_qty
                FROM li
                WINDOW w AS (PARTITION BY l_orderkey
                  ORDER BY l_linenumber, c_flag, c_disc, c_qty)),
              agg AS (
                SELECT CAST(count(*) AS BIGINT) AS n_rows,
                  CAST(SUM(r_flag) AS BIGINT) AS runs_flag,
                  CAST(SUM(r_disc) AS BIGINT) AS runs_disc,
                  CAST(SUM(r_qty) AS BIGINT) AS runs_qty
                FROM flagged),
              outp AS (
                SELECT 'l_returnflag' AS column_name, n_rows,
                  runs_flag AS n_runs FROM agg
                UNION ALL
                SELECT 'l_discount', n_rows, runs_disc FROM agg
                UNION ALL
                SELECT 'l_quantity', n_rows, runs_qty FROM agg)
              SELECT column_name, n_rows, n_runs,
                round(CAST(n_runs AS DOUBLE) / CAST(n_rows AS DOUBLE),
                  12) AS rle_ratio
              FROM outp ORDER BY column_name"""))
  )

  /** Schema of the text-exported event rows (ts as exact epoch micros —
    * text timestamp formats are lossy, int64 is not).
    */
  private val srcSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("event_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("user_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("event_type",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("value",
      org.apache.spark.sql.types.DoubleType),
    org.apache.spark.sql.types.StructField("ts_us",
      org.apache.spark.sql.types.LongType)))

  private def srcProjection(s: SparkSession, dir: String) =
    t(s, dir, "events").select(col("event_id"), col("user_id"),
      col("event_type"), col("value"), unix_micros(col("ts")).as("ts_us"))

  private val csvMemo =
    Artifacts.memo[String]()

  private def csvEvents(s: SparkSession, dir: String): String =
    csvMemo.computeIfAbsent((s, dir), _ => {
      val path = Artifacts.path("sources", tag(dir)) + "/events_csv"
      srcProjection(s, dir).write.mode("overwrite").csv(path)
      path
    })

  private val jsonMemo =
    Artifacts.memo[String]()

  private def jsonEvents(s: SparkSession, dir: String): String =
    jsonMemo.computeIfAbsent((s, dir), _ => {
      val path = Artifacts.path("sources", tag(dir)) + "/events_json"
      srcProjection(s, dir).write.mode("overwrite").json(path)
      path
    })

  private val textMemo =
    Artifacts.memo[String]()

  /** Documents exported once as raw text lines (doc_id \t source \t
    * text — the .txt-shard format LLM corpora actually ship in;
    * sanity: the synthetic text contains no tabs/newlines, asserted
    * by the round-trip hash). Memoized per (session, sfDir).
    */
  private def textDocs(s: SparkSession, dir: String): String =
    textMemo.computeIfAbsent((s, dir), _ => {
      val path = Artifacts.path("sources", tag(dir)) + "/docs_text"
      Tables.load(s, dir, "documents")
        .select(concat_ws("\t", col("doc_id"), col("source"),
          col("text")).as("value"))
        .write.mode("overwrite").text(path)
      path
    })

  private val orcMemo =
    Artifacts.memo[String]()

  private def orcEvents(s: SparkSession, dir: String): String =
    orcMemo.computeIfAbsent((s, dir), _ => {
      val path = Artifacts.path("sources", tag(dir)) + "/events_orc"
      srcProjection(s, dir).write.mode("overwrite").orc(path)
      path
    })

  private val xmlMemo =
    Artifacts.memo[String]()

  private def xmlEvents(s: SparkSession, dir: String): String =
    xmlMemo.computeIfAbsent((s, dir), _ => {
      val path = Artifacts.path("sources", tag(dir)) + "/events_xml"
      srcProjection(s, dir).write.mode("overwrite")
        .option("rowTag", "event").option("rootTag", "events").xml(path)
      path
    })

  private val binMemo =
    Artifacts.memo[String]()

  /** Source-partitioned text export of the corpus (one directory per
    * source, the blob layout a multimodal ingest starts from). Memoized
    * like the other source artifacts.
    */
  private def binaryDocs(s: SparkSession, dir: String): String =
    binMemo.computeIfAbsent((s, dir), _ => {
      val path = Artifacts.path("sources", tag(dir)) + "/docs_bin"
      t(s, dir, "documents").select(col("source"), col("text"))
        .write.mode("overwrite").partitionBy("source").text(path)
      path
    })
}
