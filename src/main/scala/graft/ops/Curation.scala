package graft.ops

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

/** LLM-pipeline corpus curation over `documents` (north-star extensions).
  *
  * The passes a training-data pipeline runs AROUND dedup and quality
  * filtering: benchmark decontamination (drop training docs that leak
  * eval-set n-grams), data-mixing reports (the source×language token
  * census that sampling weights are computed from), cross-document
  * novelty (the inverse of boilerplate), and context-length packing
  * budgets. The reference has no analog — these generalize its
  * count-shaped clients (`SampleClient.cpp:32-66`) to corpus-curation
  * decisions.
  *
  * Determinism: every emitted fraction is ONE IEEE division of exact
  * integers (bit-stable across engines); the only transcendental is a
  * single correctly-rounded `sqrt` of such a ratio (q_mix_weights),
  * which IEEE 754 guarantees bit-identical in both engines.
  */
object Curation {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** Shard-manifest sufficient statistic: the 16-row per-shard
    * (count, token sum, XOR fingerprint) census. Counts and sums are
    * mergeable and XOR is order-free, so the streaming twin keeps
    * exactly this frame as Complete-mode state — the export manifest
    * stays live during ingest and [[shardFinish]] over the drained
    * state equals batch q_export_shards EXACTLY at any trigger.
    */
  def shardCensus(docs: DataFrame): DataFrame =
    docs
      .select(
        // mask to 31 bits BEFORE the Knuth multiply: doc_id ≳ 3.47e9
        // (well inside a 100-TB corpus) would overflow the int64
        // product — Spark wraps silently negative while DuckDB raises,
        // so the unmasked form breaks both the [0,16) shard invariant
        // and engine parity. (id % 2^31) · K < 2^62 never overflows,
        // and the mask is the identity for every test-SF id. pmod
        // keeps the shard non-negative even for negative ids.
        expr("pmod((doc_id % 2147483648) * 2654435761, 16)").as("shard"),
        size(filter(split(col("text"), " "), x => x =!= ""))
          .cast("long").as("n_toks"),
        expr("""(aggregate(split(text, ' '), 0L,
                  (acc, x) -> (acc * 31 + ascii(x)) % 1000000007)
                * 131 + doc_id % 1000000007) % 1000000007""").as("row_h"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("n_tokens"),
        expr("bit_xor(row_h)").as("checksum_xor"))

  /** Readout of [[shardCensus]] (batch or drained stream state). */
  def shardFinish(census: DataFrame): DataFrame =
    census.orderBy("shard")

  /** q_also_bought's capped per-customer basket frame, exposed so
    * ScaleCheck can assert the query's SF-invariant DIRECTLY (total
    * pairs ∝ customers; per-customer pairs ≤ C(128,2)) instead of
    * inferring linearity from wall-time, which shared-tenancy noise
    * makes unusable as scale evidence. The 128-item cap bounds the
    * row-local triangular fan-out at 8128 pairs per customer
    * independent of SF (whale accounts are dropped, not exploded).
    */
  private def alsoBoughtBasketsRaw(s: SparkSession, dir: String): DataFrame =
    Pairs.sets(t(s, dir, "orders")
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("cust"), col("l_suppkey").as("item"))
        .distinct(), "cust", "item")
      .filter(size(col("items")) <= 128)

  /** The materialized "basket project": the capped basket frame AND its
    * pair core — (packed pair, co-occurrence count, exact Adamic–Adar
    * micros) — written ONCE per (session, dir) and read by every
    * basket-pair consumer (q_also_bought, q_adamic_adar,
    * q_preferential_attachment each paid the ~12.5 M-pair fan-out +
    * shuffle privately; the round-7 graph edge artifact's discipline
    * applied to the OTHER shared derivation the battery exposes). The
    * w12 expression is verbatim q_adamic_adar's, so aa12 is
    * bit-identical to the private derivation (DECIMAL sums are
    * reduction-order-free). Explicit read schemas; path, staleness and
    * cleanup semantics follow the [[Artifacts]] contract.
    */
  private val basketMemo = Artifacts.memo[(String, String)]()

  private def basketPaths(s: SparkSession, dir: String): (String, String) =
    basketMemo.computeIfAbsent((s, dir), _ => {
      val root = Artifacts.path("baskets", Artifacts.tag(dir))
      val bp = s"$root/baskets"
      val pp = s"$root/paircore"
      alsoBoughtBasketsRaw(s, dir)
        .write.mode("overwrite").parquet(bp)
      Pairs.fanOut(s.read.schema("cust BIGINT, items ARRAY<BIGINT>").parquet(bp)
          .filter(size(col("items")) >= 2)
          .select(
            round(lit(1.0e12) / log(size(col("items")).cast("double")), 0)
              .cast("long").as("w12"),
            col("items")))
        .groupBy((col("a") * 4294967296L + col("b")).as("pk"))
        .agg(count(lit(1)).cast("long").as("common"),
          sum(col("w12").cast(org.apache.spark.sql.types
            .DecimalType(38, 0))).as("aa12"))
        .write.mode("overwrite").parquet(pp)
      (bp, pp)
    })

  def alsoBoughtBaskets(s: SparkSession, dir: String): DataFrame =
    s.read.schema("cust BIGINT, items ARRAY<BIGINT>")
      .parquet(basketPaths(s, dir)._1)

  private[ops] def basketPairCore(s: SparkSession, dir: String): DataFrame =
    s.read.schema("pk BIGINT, common BIGINT, aa12 DECIMAL(38,0)")
      .parquet(basketPaths(s, dir)._2)

  /** KS-drift sufficient statistic: per-(source, doc-length) counts.
    * Mergeable (a count census), so the streaming twin keeps exactly
    * this frame as Complete-mode state and [[ksFinish]] reads either.
    */
  def ksCounts(docs: DataFrame): DataFrame =
    docs.groupBy(col("source"), col("n_chars").as("v"))
      .agg(count(lit(1)).as("c"))

  /** TVD-drift sufficient statistic: per-(source, lang) counts — same
    * mergeable-census contract as [[ksCounts]], so the streaming twin
    * keeps exactly this frame as Complete-mode state.
    */
  def tvdCounts(docs: DataFrame): DataFrame =
    docs.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).cast("long").as("a"))

  /** Finishing arithmetic of q_tvd_drift over the bounded counts frame:
    * dense source×lang grid, exact-integer |a·(N−n_s) − (n_l−a)·n_s|
    * terms, ONE IEEE division per source. Everything here runs on the
    * catalog-bounded sources×langs grid — the corpus-sized work all
    * happened in [[tvdCounts]].
    */
  def tvdFinish(counts0: DataFrame): DataFrame = {
    // persist: the census feeds FOUR consumers (the scalar-n action,
    // per-source totals, per-lang totals, and the dense-grid left join).
    // Un-persisted, each re-runs the corpus-sized count subtree — the
    // same double-paid-subtree class q_tfidf fixed. The frame itself is
    // catalog-bounded (sources × langs), so caching it is free; the n
    // action below is what materializes it, so the corpus is scanned
    // exactly once per drift query.
    val counts = counts0.select(col("source"), col("lang"),
      col("a").cast("long").as("a")).persist()
    val n = counts.agg(sum(col("a"))).head.getLong(0)
    val perSrc = counts.groupBy("source").agg(sum(col("a")).as("n_src"))
    val perLang = counts.groupBy("lang").agg(sum(col("a")).as("n_lang"))
    perSrc.select("source").crossJoin(perLang.select("lang"))
      .join(counts, Seq("source", "lang"), "left")
      .select(col("source"), col("lang"),
        coalesce(col("a"), lit(0L)).as("a"))
      .join(perLang, "lang")
      .join(perSrc, "source")
      .select(col("source"), col("n_src"),
        abs(col("a") * (lit(n) - col("n_src"))
          - (col("n_lang") - col("a")) * col("n_src")).as("term"))
      .groupBy(col("source"), col("n_src").cast("long").as("n_src"))
      .agg(sum(col("term")).cast("long").as("tvd_num"))
      .select(col("source"), col("n_src"), col("tvd_num"),
        (col("tvd_num").cast("double")
          / (col("n_src") * 2L * (lit(n) - col("n_src"))).cast("double"))
          .as("tvd"))
      .orderBy("source")
  }

  /** Finishing arithmetic of q_ks_drift over the bounded counts frame:
    * dense source×value CDF grid, exact-integer D maximization, ONE
    * IEEE division per source at the very end. Total row count here is
    * sources × distinct lengths — iteration-constant, never corpus-
    * sized; the corpus-sized work all happened in [[ksCounts]].
    */
  def ksFinish(counts0: DataFrame): DataFrame = {
    val (gaps, n) = ecdfGaps(counts0)
    gaps
      .select(col("source"), col("n_src"), abs(col("g")).as("dnum"))
      .groupBy(col("source"), col("n_src").cast("long").as("n_src"))
      .agg(max(col("dnum")).cast("long").as("d_num"))
      .select(col("source"), col("n_src"), col("d_num"),
        (col("d_num").cast("double")
          / (col("n_src") * (lit(n) - col("n_src"))).cast("double"))
          .as("ks"))
      .orderBy("source")
  }

  /** Kuiper finishing arithmetic over the SAME mergeable [[ksCounts]]
    * census as [[ksFinish]] — the streaming twin keeps ONE drained
    * Complete-mode count state and finishes it to either drift lens
    * (r10 verdict item 7). V = D⁺ + D⁻ off the signed [[ecdfGaps]]
    * frame; D⁺/D⁻ clamp at 0 because the sup over the extended value
    * axis includes the zero endpoints. One IEEE division per source.
    */
  def kuiperFinish(counts0: DataFrame): DataFrame = {
    val (gaps, n) = ecdfGaps(counts0)
    gaps
      .groupBy(col("source"), col("n_src").cast("long").as("n_src"))
      .agg(greatest(max(col("g")), lit(0L)).as("dp"),
        greatest(max(-col("g")), lit(0L)).as("dm"))
      .select(col("source"), col("n_src"),
        (col("dp") + col("dm")).cast("long").as("v_num"),
        ((col("dp") + col("dm")).cast("double")
          / (col("n_src") * (lit(n) - col("n_src"))).cast("double"))
          .as("kuiper_v"))
      .orderBy("source")
  }

  /** Shared source-vs-rest ECDF machinery of the KS and Kuiper drift
    * lenses: the SIGNED common-denominator ECDF gap per (source, v),
    * g_v = cum_src·(N−n_s) − cum_rest·n_s, over the dense
    * source × value grid — exact integers end to end. Returns the gap
    * frame plus the corpus total N (the scalar action that also
    * materializes the persisted census, so the corpus is scanned
    * exactly once per drift query — the [[tvdFinish]] discipline).
    */
  private def ecdfGaps(counts0: DataFrame): (DataFrame, Long) = {
    val counts = counts0.select(col("source"), col("v"),
      col("c").cast("long").as("c")).persist()
    val n = counts.agg(sum(col("c")).cast("long")).head.getLong(0)
    val grid = counts.select("source").distinct()
      .crossJoin(counts.select("v").distinct())
    val perSrc = counts.groupBy("source").agg(sum(col("c")).as("n_src"))
    val w = Window.partitionBy("source").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val totW = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = counts.groupBy("v").agg(sum(col("c")).as("cv"))
      .select(col("v"), sum(col("cv")).over(totW).as("cum_all"))
    val gaps = grid.join(counts, Seq("source", "v"), "left")
      .select(col("source"), col("v"),
        sum(coalesce(col("c"), lit(0L))).over(w).as("cum_src"))
      .join(tot, "v")
      .join(perSrc, "source")
      .select(col("source"), col("n_src"),
        (col("cum_src") * (lit(n) - col("n_src"))
          - (col("cum_all") - col("cum_src")) * col("n_src")).as("g"))
    (gaps, n)
  }

  /** Finishing arithmetic of q_chi2 over the same mergeable
    * (source, lang) census as [[tvdFinish]] — the streaming twin keeps
    * ONE census frame as Complete-mode state and can finish it to
    * either readout. Dense grid incl. zero cells; exact-int64
    * (N·o − r·c) numerators; both FP reductions are position-pinned
    * sorted-array left folds (the q_lm_score discipline). Everything
    * here runs on the |sources|×|langs| grid.
    */
  def chi2Finish(counts0: DataFrame): DataFrame = {
    // persist: the census feeds n, per-source, per-lang, dims, AND the
    // cell join — five consumers; materialized once by the n action.
    val counts = counts0.select(col("source"), col("lang"),
      col("a").cast("long").as("o")).persist()
    val n = counts.agg(sum(col("o"))).head.getLong(0)
    val perSrc = counts.groupBy("source").agg(sum(col("o")).as("r"))
    val perLang = counts.groupBy("lang").agg(sum(col("o")).as("c"))
    val dims = counts.agg(
      countDistinct(col("source")).as("n_src"),
      countDistinct(col("lang")).as("n_lang"))
    val cells = perSrc.select("source", "r")
      .crossJoin(perLang.select("lang", "c"))
      .join(counts, Seq("source", "lang"), "left")
      .select(col("source"), col("lang"), col("r"), col("c"),
        coalesce(col("o"), lit(0L)).as("o"))
      .select(col("source"), col("lang"), col("r"),
        ((lit(n) * col("o") - col("r") * col("c")).cast("double")
          * (lit(n) * col("o") - col("r") * col("c")).cast("double")
          / (lit(n.toDouble) * col("r").cast("double")
             * col("c").cast("double"))).as("term"))
    val bySrc = cells.groupBy(col("source"), col("r").as("n_src_docs"))
      .agg(expr("""aggregate(array_sort(collect_list(struct(lang, term))),
                     CAST(0 AS DOUBLE), (a, x) -> a + x.term)""")
        .as("chi2_src"))
    val tot = bySrc
      .agg(expr("""aggregate(array_sort(collect_list(struct(source, chi2_src))),
                     CAST(0 AS DOUBLE), (a, x) -> a + x.chi2_src)""")
        .as("chi2"))
      .crossJoin(broadcast(dims))
      .select(col("chi2"),
        ((col("n_src") - 1) * (col("n_lang") - 1)).cast("long").as("dof"),
        sqrt(col("chi2") / (lit(n.toDouble)
          * least(col("n_src") - 1, col("n_lang") - 1).cast("double")))
          .as("cramers_v"))
    bySrc.crossJoin(broadcast(tot))
      .select(col("source"), col("n_src_docs"), col("chi2_src"),
        col("chi2"), col("dof"), col("cramers_v"))
      .orderBy("source")
  }

  /** Finishing arithmetic of q_g_test over the bounded counts frame —
    * the likelihood-ratio sibling of [[chi2Finish]], reading the SAME
    * mergeable [[tvdCounts]] census (one live state, three readouts
    * with tvd/chi2). Terms are normalized to O(1) before the ln,
    * 12-dec-pinned and lang-pinned-folded per source; the 2N rescale
    * happens after the fold on identical doubles.
    */
  def gTestFinish(counts0: DataFrame): DataFrame = {
    // persist: the census feeds n, per-source, per-lang and the cell
    // join — four consumers; materialized once by the n action
    val counts = counts0.select(col("source"), col("lang"),
      col("a").cast("long").as("o")).persist()
    val n = counts.agg(sum(col("o"))).head.getLong(0)
    val perSrc = counts.groupBy("source").agg(sum(col("o")).as("r"))
    val perLang = counts.groupBy("lang").agg(sum(col("o")).as("c"))
    val dims = counts.agg(
      countDistinct(col("source")).as("n_src"),
      countDistinct(col("lang")).as("n_lang"))
    // zero cells contribute exactly 0 to G — no dense grid fill needed
    // (unlike chi2, whose E-only cells carry mass)
    val cells = counts
      .join(perSrc, "source").join(perLang, "lang")
      .select(col("source"), col("lang"), col("r"),
        when(col("o") === 0, lit(0.0)).otherwise(
          round((col("o").cast("double") / lit(n.toDouble))
            * log((col("o").cast("double") / col("r").cast("double"))
              * (lit(n.toDouble) / col("c").cast("double"))), 12))
          .as("term"))
    val bySrc = cells.groupBy(col("source"), col("r").as("n_src_docs"))
      .agg(expr("""aggregate(array_sort(collect_list(struct(lang, term))),
                     CAST(0 AS DOUBLE), (a, x) -> a + x.term)""")
        .as("tsum"))
      .select(col("source"), col("n_src_docs"),
        (col("tsum") * 2.0 * lit(n.toDouble)).as("g_src"))
    val tot = bySrc
      .agg(expr("""aggregate(array_sort(collect_list(struct(source, g_src))),
                     CAST(0 AS DOUBLE), (a, x) -> a + x.g_src)""")
        .as("g_stat"))
      .crossJoin(broadcast(dims))
      .select(col("g_stat"),
        ((col("n_src") - 1) * (col("n_lang") - 1)).cast("long").as("dof"))
    bySrc.crossJoin(broadcast(tot))
      .select(col("source"), col("n_src_docs"), col("g_src"),
        col("g_stat"), col("dof"))
      .orderBy("source")
  }

  /** Distinct word 3-gram strings per doc — the DuckDB-mirrorable twin
    * of the hashed shingles the dedup path uses (decontamination wants
    * the readable n-gram for auditability anyway).
    */
  private def wordShingles(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(array_distinct(expr(
        """transform(sequence(0, size(toks) - 3),
             i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))"""))).as("shingle"))

  val queries: Seq[Q] = Seq(

    // ── benchmark decontamination (n-gram overlap vs a held-out set) ─────
    // The pass every serious pretraining pipeline runs before training:
    // find training documents sharing any word 3-gram with the held-out
    // benchmark split (stand-in: doc_id % 50 = 3, ~2% of the corpus).
    // Shape at 100 TB: the benchmark side is CONSTANT-size by design
    // (eval sets don't grow with the corpus), so its distinct shingle→doc
    // list stays broadcastable and the training corpus is touched by ONE
    // equi-join on the shingle — no self-join, no corpus shuffle beyond
    // the per-doc aggregation. Production raises the n-gram order to
    // 8-13; 3 here matches the synthetic doc lengths.
    Q("q_decontaminate",
      (s, dir) => {
        val sh = wordShingles(t(s, dir, "documents"))
        val bench = sh.filter(col("doc_id") % 50 === 3)
          .select(col("doc_id").as("bench_id"), col("shingle"))
        sh.filter(col("doc_id") % 50 =!= 3)
          .join(bench, "shingle")
          .groupBy("doc_id")
          .agg(countDistinct(col("shingle")).as("n_hit_shingles"),
            countDistinct(col("bench_id")).as("n_bench_docs"))
          .orderBy("doc_id")
      },
      Some("""WITH sh AS (
                SELECT doc_id, unnest(list_distinct(
                  [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                   for i in generate_series(1, len(toks) - 2)])) AS shingle
                FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
                WHERE len(toks) >= 3),
              bench AS (SELECT doc_id AS bench_id, shingle FROM sh
                        WHERE doc_id % 50 = 3)
              SELECT s.doc_id,
                count(DISTINCT s.shingle) AS n_hit_shingles,
                count(DISTINCT b.bench_id) AS n_bench_docs
              FROM sh s JOIN bench b USING (shingle)
              WHERE s.doc_id % 50 <> 3
              GROUP BY s.doc_id ORDER BY s.doc_id""")),

    // ── data-mixing census: the source×language sampling-weight table ────
    // Per (source, lang): docs, tokens, corpus share, and the
    // temperature-scaled sampling weight (T=2 ⇒ share^(1/2)) that
    // up-weights low-resource slices — the table a data-mixing stage
    // feeds its sampler. One partial-agg pass over the corpus; the
    // grand total joins back as a broadcast single row. share is an
    // exact-int division; weight is one sqrt of that double.
    Q("q_mix_weights",
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .select(col("source"), col("lang"),
            size(split(col("text"), " ")).cast("long").as("n_tok"))
        val slices = docs.groupBy("source", "lang")
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
        val tot = slices.agg(sum(col("n_tokens")).as("tot_tokens"))
        slices.join(broadcast(tot))
          .select(col("source"), col("lang"), col("n_docs"), col("n_tokens"),
            (col("n_tokens").cast("double") / col("tot_tokens")).as("share"),
            sqrt(col("n_tokens").cast("double") / col("tot_tokens")).as("weight"))
          .orderBy("source", "lang")
      },
      Some("""WITH slices AS (
                SELECT source, lang, count(*) AS n_docs,
                  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
                FROM documents GROUP BY 1, 2)
              SELECT source, lang, n_docs, n_tokens,
                CAST(n_tokens AS DOUBLE) / (SELECT sum(n_tokens) FROM slices) AS share,
                sqrt(CAST(n_tokens AS DOUBLE) / (SELECT sum(n_tokens) FROM slices)) AS weight
              FROM slices ORDER BY source, lang""")),

    // ── cross-document novelty (inverse boilerplate) ─────────────────────
    // Per doc: the fraction of its distinct bigrams appearing in NO other
    // document — high novelty = original content, low = template/mirror
    // text that dedup thresholds missed. Shape: distinct (doc, bigram)
    // stream → bigram document-frequency (partial-agg hash agg over the
    // bigram space) → co-partitioned shuffle join back on bigram → per-doc
    // counts. Two shuffles total, both on corpus-spread keys; no
    // broadcast of anything corpus-sized. Docs with < 2 tokens have no
    // bigrams and are excluded (same rows both engines).
    Q("q_novelty",
      (s, dir) => {
        // persist: the (doc, bigram) stream feeds the df census AND the
        // rejoin — un-persisted, the corpus explode ran twice (the
        // q_tfidf materialize-the-matrix discipline)
        val bg = t(s, dir, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("toks"))
          .filter(size(col("toks")) >= 2)
          .select(col("doc_id"), explode(array_distinct(expr(
            """transform(sequence(0, size(toks) - 2),
                 i -> concat_ws(' ', toks[i], toks[i+1]))"""))).as("bigram"))
          .persist()
        val df = bg.groupBy("bigram").agg(count(lit(1)).as("df"))
        bg.join(df, "bigram")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_bigrams"),
            sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"))
          .select(col("doc_id"), col("n_bigrams"), col("n_unique"),
            (col("n_unique").cast("double") / col("n_bigrams")).as("novelty"))
          .orderBy("doc_id")
      },
      Some("""WITH bg AS (
                SELECT doc_id, unnest(list_distinct(
                  [toks[i] || ' ' || toks[i+1]
                   for i in generate_series(1, len(toks) - 1)])) AS bigram
                FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
                WHERE len(toks) >= 2),
              bdf AS (SELECT bigram, count(*) AS df FROM bg GROUP BY 1)
              SELECT b.doc_id,
                count(*) AS n_bigrams,
                CAST(sum(CASE WHEN bdf.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
                CAST(sum(CASE WHEN bdf.df = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS novelty
              FROM bg b JOIN bdf USING (bigram)
              GROUP BY b.doc_id ORDER BY b.doc_id""")),

    // ── context-length packing budget ────────────────────────────────────
    // Per source: how many 512-token training sequences the slice fills
    // and how much padding it wastes — the capacity-planning table a
    // sequence-packing stage starts from (documents shorter than the
    // context window dominate waste; packing decisions follow from
    // exactly these numbers). Pure per-row arithmetic + one partial-agg
    // pass; waste_frac is one exact-int division.
    Q("q_token_budget",
      (s, dir) => {
        val ctx = 512L
        t(s, dir, "documents")
          .select(col("source"),
            size(split(col("text"), " ")).cast("long").as("n_tok"))
          .select(col("source"), col("n_tok"),
            expr(s"(n_tok + ${ctx - 1}) div $ctx").as("n_seq"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tok")).as("n_tokens"),
            sum(col("n_seq")).as("n_seqs"),
            sum(col("n_seq") * ctx - col("n_tok")).as("pad_tokens"))
          .select(col("source"), col("n_docs"), col("n_tokens"), col("n_seqs"),
            col("pad_tokens"),
            (col("pad_tokens").cast("double") / (col("n_seqs") * ctx))
              .as("waste_frac"))
          .orderBy("source")
      },
      Some("""WITH d AS (
                SELECT source,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
                  CAST(ceil(len(string_split(text, ' ')) / 512.0) AS BIGINT) AS n_seq
                FROM documents)
              SELECT source, count(*) AS n_docs,
                CAST(sum(n_tok) AS BIGINT) AS n_tokens,
                CAST(sum(n_seq) AS BIGINT) AS n_seqs,
                CAST(sum(n_seq * 512 - n_tok) AS BIGINT) AS pad_tokens,
                CAST(sum(n_seq * 512 - n_tok) AS DOUBLE) / (sum(n_seq) * 512) AS waste_frac
              FROM d GROUP BY source ORDER BY source""")),

    // ── deterministic shard export (the pipeline finisher) ───────────────
    // The last stage of a training-data job: assign every document to
    // one of 16 output shards by Knuth-hash (a pure function of doc_id —
    // reruns, both engines, and any executor layout agree), and emit the
    // per-shard manifest a downstream loader validates against: doc
    // count (balance), token count (step-time balance), and an
    // order-free XOR checksum of row fingerprints (transfer integrity,
    // the q_table_checksum fold). One partial+final agg to 16 rows; the
    // shard column is exactly the key a real export's
    // repartitionByRange/partitionBy write would use, so the manifest
    // audits the write without a second corpus pass.
    Q("q_export_shards",
      (s, dir) => shardFinish(shardCensus(t(s, dir, "documents"))),
      Some("""WITH d AS (
                SELECT ((doc_id % 2147483648) * 2654435761 % 16 + 16) % 16 AS shard,
                  CAST(len(list_filter(string_split(text, ' '),
                    x -> x <> '')) AS BIGINT) AS n_toks,
                  (list_reduce(list_prepend(CAST(0 AS BIGINT),
                     list_transform(string_split(text, ' '),
                       x -> CAST(ascii(x) AS BIGINT))),
                     (acc, x) -> (acc * 31 + x) % 1000000007)
                   * 131 + doc_id % 1000000007) % 1000000007 AS row_h
                FROM documents)
              SELECT shard, count(*) AS n_docs,
                CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
                bit_xor(row_h) AS checksum_xor
              FROM d GROUP BY 1 ORDER BY shard""")),

    // ── span-corruption budget (T5-style denoising objective planning) ──
    // Before a denoising pretraining run, the pipeline sizes the
    // objective: at mask ratio 15% and mean span length 3, each doc
    // contributes floor(0.15·n) masked tokens in ceil(masked/3) spans,
    // and the encoder/decoder sequence budgets follow arithmetically
    // (inputs = n − masked + spans sentinels; targets = masked + spans
    // + 1). All exact integer arithmetic on the token count (15% as
    // ·15 div 100 — no FP ratio), one partial+final agg to a per-source
    // census. The row-local shape is the point at 100 TB: the budget is
    // a projection of the token-count column, never a second
    // tokenization pass.
    Q("q_span_corruption",
      (s, dir) => {
        t(s, dir, "documents")
          .select(col("source"),
            size(filter(split(col("text"), " "), x => x =!= ""))
              .cast("long").as("n"))
          .select(col("source"), col("n"),
            expr("(n * 15) div 100").as("masked"))
          .select(col("source"), col("n"), col("masked"),
            expr("(masked + 2) div 3").as("spans"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n")).as("n_tokens"),
            sum(col("masked")).as("n_masked"),
            sum(col("spans")).as("n_spans"),
            sum(col("n") - col("masked") + col("spans"))
              .as("enc_tokens"),
            sum(col("masked") + col("spans") + 1).as("dec_tokens"))
          .orderBy("source")
      },
      Some("""WITH d AS (
                SELECT source,
                  CAST(len(list_filter(string_split(text, ' '),
                    x -> x <> '')) AS BIGINT) AS n
                FROM documents),
              m AS (
                SELECT source, n, (n * 15) // 100 AS masked,
                  ((n * 15) // 100 + 2) // 3 AS spans
                FROM d)
              SELECT source, count(*) AS n_docs,
                CAST(SUM(n) AS BIGINT) AS n_tokens,
                CAST(SUM(masked) AS BIGINT) AS n_masked,
                CAST(SUM(spans) AS BIGINT) AS n_spans,
                CAST(SUM(n - masked + spans) AS BIGINT) AS enc_tokens,
                CAST(SUM(masked + spans + 1) AS BIGINT) AS dec_tokens
              FROM m GROUP BY 1 ORDER BY source""")),

    // ── deterministic per-group sampling ─────────────────────────────────
    // k documents per (source, lang) slice, selected by an arithmetic
    // Knuth-hash ranking (id × 2654435761 mod 2³²) — uniform-ish,
    // seedable by changing the multiplier, and REPRODUCIBLE: the sample
    // is a function of the data, not an RNG stream, so reruns and both
    // engines agree (the property a training-data sampling stage needs
    // for auditability). graft_topk keeps ≤ k rows per (partition ×
    // slice) on the map side — the corpus never shuffles, exactly the
    // q_topk_per_group scale shape. Rank ties are impossible (hash is
    // injective on doc_id < 2³²; doc_id tiebreak anyway).
    Q("q_sample_per_group",
      (s, dir) => {
        graft.plans.GraftExtensions.ensureRegistered(s)
        t(s, dir, "documents")
          .select(col("source"), col("lang"), col("doc_id"),
            // 31-bit mask before the multiply — same int64-overflow
            // guard as q_export_shards; identity for test-SF ids
            expr("pmod((doc_id % 2147483648) * 2654435761, 4294967296)")
              .as("h"))
          .groupBy("source", "lang")
          .agg(call_function("graft_topk",
            col("doc_id"), -col("h").cast("double"), lit(5)).as("top"))
          .select(col("source"), col("lang"),
            explode(expr("transform(top, x -> x.id)")).as("doc_id"))
          .orderBy("source", "lang", "doc_id")
      },
      // graft_topk takes the k LARGEST scores (ties by id): score = -h
      // picks the k smallest hashes — mirror with ORDER BY h, doc_id
      Some("""SELECT source, lang, doc_id FROM (
                SELECT source, lang, doc_id, row_number() OVER (
                  PARTITION BY source, lang
                  ORDER BY ((doc_id % 2147483648) * 2654435761 % 4294967296
                            + 4294967296) % 4294967296, doc_id) AS rn
                FROM documents)
              WHERE rn <= 5 ORDER BY source, lang, doc_id""")),

    // ── dataset card: per-column profile of the corpus table ─────────────
    // The auto-generated "dataset card" a curation pipeline publishes
    // beside the data: per column, row count, null count, exact distinct
    // count, and value-length bounds. Each column profiles in one
    // scan-and-agg pass (distinct via partial-agg count(DISTINCT));
    // output is #columns rows at any SF. At 100 TB the exact distincts
    // swap for the HLL sketches of q_approx_distinct — same shape, no
    // rescan (the sketch unions are q_sketch_rollup's machinery).
    Q("q_profile_table",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        def prof(cname: String) =
          docs.agg(
            count(lit(1)).as("n_rows"),
            sum(when(col(cname).isNull, 1L).otherwise(0L)).as("n_null"),
            countDistinct(col(cname)).as("n_distinct"),
            min(length(col(cname).cast("string"))).cast("long").as("min_len"),
            max(length(col(cname).cast("string"))).cast("long").as("max_len"))
            .select(lit(cname).as("column_name"), col("n_rows"), col("n_null"),
              col("n_distinct"), col("min_len"), col("max_len"))
        Seq("doc_id", "lang", "source", "text", "n_chars")
          .map(prof).reduce(_ unionByName _)
          .orderBy("column_name")
      },
      Some("""SELECT * FROM (
                SELECT 'doc_id' AS column_name, count(*) AS n_rows,
                  CAST(SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
                  count(DISTINCT doc_id) AS n_distinct,
                  CAST(MIN(len(CAST(doc_id AS VARCHAR))) AS BIGINT) AS min_len,
                  CAST(MAX(len(CAST(doc_id AS VARCHAR))) AS BIGINT) AS max_len
                FROM documents
                UNION ALL
                SELECT 'lang', count(*),
                  CAST(SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                  count(DISTINCT lang),
                  CAST(MIN(len(CAST(lang AS VARCHAR))) AS BIGINT),
                  CAST(MAX(len(CAST(lang AS VARCHAR))) AS BIGINT)
                FROM documents
                UNION ALL
                SELECT 'source', count(*),
                  CAST(SUM(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                  count(DISTINCT source),
                  CAST(MIN(len(CAST(source AS VARCHAR))) AS BIGINT),
                  CAST(MAX(len(CAST(source AS VARCHAR))) AS BIGINT)
                FROM documents
                UNION ALL
                SELECT 'text', count(*),
                  CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                  count(DISTINCT text),
                  CAST(MIN(len(CAST(text AS VARCHAR))) AS BIGINT),
                  CAST(MAX(len(CAST(text AS VARCHAR))) AS BIGINT)
                FROM documents
                UNION ALL
                SELECT 'n_chars', count(*),
                  CAST(SUM(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                  count(DISTINCT n_chars),
                  CAST(MIN(len(CAST(n_chars AS VARCHAR))) AS BIGINT),
                  CAST(MAX(len(CAST(n_chars AS VARCHAR))) AS BIGINT)
                FROM documents)
              ORDER BY column_name""")),

    // ── deterministic train/val/test split census ────────────────────────
    // The 80/10/10 split every training pipeline needs, assigned by the
    // same Knuth-hash arithmetic as q_sample_per_group: split is a pure
    // function of the STABLE doc id (not an RNG stream, not row order),
    // so reruns, backfills, and different engines agree doc-by-doc, and
    // the hash decorrelates the split from any id-order structure in the
    // corpus. Entirely one partial-agg pass; output is sources × 3 rows
    // at any SF.
    Q("q_dataset_split",
      (s, dir) => {
        // 31-bit mask before the multiply — int64-overflow guard for
        // doc_id ≳ 3.47e9 (identity at test SFs, parity-safe at 100 TB)
        val bucket = expr(
          "pmod((doc_id % 2147483648) * 2654435761, 4294967296) % 100")
        t(s, dir, "documents")
          .select(col("source"),
            when(bucket < 80, "train").when(bucket < 90, "val")
              .otherwise("test").as("split"),
            col("n_chars"))
          .groupBy("source", "split")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).cast("long").as("n_chars"))
          .orderBy("source", "split")
      },
      Some("""SELECT source,
                CASE WHEN ((doc_id % 2147483648) * 2654435761 % 4294967296
                           + 4294967296) % 4294967296 % 100 < 80 THEN 'train'
                     WHEN ((doc_id % 2147483648) * 2654435761 % 4294967296
                           + 4294967296) % 4294967296 % 100 < 90 THEN 'val'
                     ELSE 'test' END AS split,
                count(*) AS n_docs,
                CAST(SUM(n_chars) AS BIGINT) AS n_chars
              FROM documents GROUP BY 1, 2 ORDER BY source, split""")),

    // ── context-window sequence packing ──────────────────────────────────
    // The training-prep step after curation: concatenate each source's
    // docs in stable doc_id order and cut context windows every `budget`
    // tokens; a doc's bin is its START offset ÷ budget (the standard
    // concat-then-chunk packing). The exclusive cumsum is RangeRank's
    // 2-pass exact prefix sum — range-partition by (source, doc_id),
    // per-range token totals, broadcast prefix offsets, local cumsum —
    // so parallelism is cluster-sized even with 5 sources. Output is a
    // per-bin fill census — the packing-efficiency readout.
    Q("q_sequence_pack",
      (s, dir) => {
        val budget = 512L
        val tok = t(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            size(expr("filter(split(text, ' '), x -> x <> '')"))
              .cast("long").as("n_tok"))
        RangeRank.ranked(tok,
            groupCols = Seq("source"),
            sortCols = Seq(col("doc_id")),
            nName = None,
            prefixSums = Seq(RangeRank.PrefixSum(col("n_tok"), "start_off")))
          .select(col("source"),
            expr(s"start_off div $budget").as("bin"), col("n_tok"))
          .groupBy("source", "bin")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tok")).cast("long").as("fill_tokens"))
          .orderBy("source", "bin")
      },
      Some("""WITH tok AS (
                SELECT doc_id, source,
                  CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                    AS BIGINT) AS n_tok
                FROM documents),
              off AS (
                SELECT source, n_tok,
                  COALESCE(CAST(SUM(n_tok) OVER (PARTITION BY source
                    ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    AS BIGINT), 0) AS start_off
                FROM tok)
              SELECT source, CAST(start_off // 512 AS BIGINT) AS bin,
                COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS fill_tokens
              FROM off GROUP BY 1, 2 ORDER BY source, bin""")),

    // ── key-skew diagnostic census ───────────────────────────────────────
    // The pre-flight check before any big join/agg: per-key row counts
    // folded into power-of-two buckets (bucket = bit length of the count
    // — integer arithmetic via bin(), no FP log at bucket boundaries).
    // Two partial+final aggs; the per-key intermediate is exactly the
    // shuffle the diagnosed join would pay, and the census that decides
    // whether q_join_skew_salted's salting is warranted.
    Q("q_key_skew",
      (s, dir) => t(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n"))
        .select(length(bin(col("n"))).cast("long").as("bucket"), col("n"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_keys"), sum(col("n")).cast("long").as("n_rows"))
        .orderBy("bucket"),
      Some("""WITH k AS (SELECT o_custkey, COUNT(*) AS n FROM orders GROUP BY 1)
              SELECT CAST(length(bin(n)) AS BIGINT) AS bucket,
                COUNT(*) AS n_keys, CAST(SUM(n) AS BIGINT) AS n_rows
              FROM k GROUP BY 1 ORDER BY 1""")),

    // ── winsorized robust statistics ─────────────────────────────────────
    // Outlier-clipping before feature extraction: clamp order totals to
    // the exact per-priority [p05, p95] (discrete percentiles — real
    // members of the multiset, selected by RangeRank.groupValuesAtRanks'
    // FP-free histogram-bracketed value-at-rank picks: no range
    // exchange, no per-group single-task sort, parallelism stays
    // cluster-sized with 5 priorities), then census the clamps. The
    // threshold table is |priorities| rows — constant at any SF, so the
    // clamp join is a size-gated broadcast.
    Q("q_winsorize",
      (s, dir) => {
        val base = t(s, dir, "orders")
          .select("o_orderpriority", "o_totalprice").persist()
        val th = RangeRank.groupValuesAtRanks(base,
          Seq("o_orderpriority"), "o_totalprice",
          Seq(RangeRank.RankPick("p05", n => ceil(n * 0.05)),
            RangeRank.RankPick("p95", n => ceil(n * 0.95))))
          .select(col("o_orderpriority").as("t_priority"),
            col("p05"), col("p95"))
        base
          .join(broadcast(th), col("o_orderpriority") === col("t_priority"))
          .select(col("o_orderpriority"),
            when(col("o_totalprice") < col("p05"), col("p05"))
              .when(col("o_totalprice") > col("p95"), col("p95"))
              .otherwise(col("o_totalprice")).as("clamped"),
            (col("o_totalprice") < col("p05")).cast("long").as("is_low"),
            (col("o_totalprice") > col("p95")).cast("long").as("is_high"))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            sum(col("is_low")).as("n_low"), sum(col("is_high")).as("n_high"),
            sum(col("clamped").cast("decimal(18,2)")).cast("double")
              .as("sum_winsorized"))
          .orderBy("o_orderpriority")
      },
      Some("""WITH r AS (
                SELECT o_orderpriority, o_orderkey, o_totalprice,
                  CAST(row_number() OVER (PARTITION BY o_orderpriority
                    ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS rn,
                  CAST(count(*) OVER (PARTITION BY o_orderpriority) AS BIGINT) AS n
                FROM orders),
              th AS (
                SELECT o_orderpriority AS t_priority,
                  MAX(CASE WHEN rn = CAST(ceil(n * 0.05) AS BIGINT)
                      THEN o_totalprice END) AS p05,
                  MAX(CASE WHEN rn = CAST(ceil(n * 0.95) AS BIGINT)
                      THEN o_totalprice END) AS p95
                FROM r GROUP BY 1)
              SELECT o_orderpriority, COUNT(*) AS n,
                CAST(SUM(CASE WHEN o_totalprice < p05 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_low,
                CAST(SUM(CASE WHEN o_totalprice > p95 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_high,
                CAST(SUM(CAST(CASE WHEN o_totalprice < p05 THEN p05
                     WHEN o_totalprice > p95 THEN p95
                     ELSE o_totalprice END AS DECIMAL(18,2))) AS DOUBLE)
                  AS sum_winsorized
              FROM orders JOIN th ON o_orderpriority = t_priority
              GROUP BY 1 ORDER BY 1""")),

    // ── character-diversity quality signal ───────────────────────────────
    // The corpus-filtering heuristic that catches mojibake, binary spew,
    // and keyboard-mash. Shannon entropy is the textbook form, but ln()
    // is not correctly-rounded and Java's and DuckDB's libm disagree by
    // 1 ulp on real inputs — no pinned fold fixes that, so a hash-tight
    // oracle is impossible for ANY transcendental except sqrt (module
    // header rule). The exact-rational twin carries the same signal:
    // Simpson diversity 1 − Σc²/n² and effective alphabet size n²/Σc²
    // (the Rényi-2 analog of perplexity). Both are ONE IEEE division of
    // exact BIGINT moments — bit-stable by construction. Bonus: the
    // moments are plain integer partial aggs, so the pinned-fold
    // machinery disappears — explode → (doc,char) agg → per-doc agg,
    // nothing but codegen'd hash aggregation at any SF.
    Q("q_char_diversity",
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"),
          explode(expr("filter(split(text, ''), x -> x <> '')")).as("ch"))
        .groupBy("doc_id", "ch")
        .agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum(col("c")).cast("long").as("n"),
          count(lit(1)).as("n_distinct_chars"),
          sum(col("c") * col("c")).cast("long").as("sum_c2"))
        .select(col("doc_id"), col("n"), col("n_distinct_chars"),
          (lit(1.0) - col("sum_c2").cast("double")
            / (col("n") * col("n")).cast("double")).as("simpson"),
          ((col("n") * col("n")).cast("double") / col("sum_c2").cast("double"))
            .as("effective_alphabet"))
        .orderBy("doc_id"),
      Some("""WITH ch AS (
                SELECT doc_id, unnest(string_split(text, '')) AS ch
                FROM documents),
              cc AS (SELECT doc_id, ch, CAST(COUNT(*) AS BIGINT) AS c
                     FROM ch WHERE ch <> '' GROUP BY 1, 2)
              SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n,
                COUNT(*) AS n_distinct_chars,
                1.0 - CAST(SUM(c * c) AS DOUBLE)
                  / CAST(SUM(c) * SUM(c) AS DOUBLE) AS simpson,
                CAST(SUM(c) * SUM(c) AS DOUBLE)
                  / CAST(SUM(c * c) AS DOUBLE) AS effective_alphabet
              FROM cc GROUP BY 1 ORDER BY doc_id""")),

    // ── class-balance census and inverse-frequency weights ───────────────
    // The sampler table for imbalanced training labels: per-class counts,
    // corpus share, and the sklearn-style balanced weight N/(k·n_i) that
    // makes every class contribute equally in expectation. One partial
    // agg over the label column; the (N, k) totals are a 1-row broadcast
    // (constant at any SF). Every fraction is ONE IEEE division of exact
    // integers.
    Q("q_class_weights",
      (s, dir) => {
        // persist: the ≤k-row class census feeds its own totals AND the
        // weight projection — cached, the embeddings scan runs once
        val lab = t(s, dir, "embeddings")
          .groupBy("label").agg(count(lit(1)).as("n_class"))
          .persist()
        val tot = lab.agg(sum(col("n_class")).cast("long").as("n_total"),
          count(lit(1)).as("k"))
        lab.crossJoin(broadcast(tot))
          .select(col("label"), col("n_class"),
            (col("n_class").cast("double") / col("n_total").cast("double"))
              .as("share"),
            (col("n_total").cast("double")
              / (col("k") * col("n_class")).cast("double")).as("weight"))
          .orderBy("label")
      },
      Some("""WITH lab AS (
                SELECT label, COUNT(*) AS n_class FROM embeddings GROUP BY 1),
              tot AS (
                SELECT CAST(SUM(n_class) AS BIGINT) AS n_total,
                  COUNT(*) AS k FROM lab)
              SELECT label, n_class,
                CAST(n_class AS DOUBLE) / CAST(n_total AS DOUBLE) AS share,
                CAST(n_total AS DOUBLE) / CAST(k * n_class AS DOUBLE) AS weight
              FROM lab, tot ORDER BY label""")),

    // ── item co-occurrence ("customers who bought X also bought Y") ──────
    // The recsys/retrieval census: supplier pairs ranked by exact Jaccard
    // over shared-customer sets, with lift against independence. Pair
    // generation is the dedup-module discipline — ONE groupBy to the
    // per-customer basket, then a ROW-LOCAL triangular fan-out (no
    // self-join), with baskets capped at 128 items (the ShingleDfCap
    // analog: worst per-row fan-out ≤ 128², independent of SF — whale
    // accounts are dropped, not exploded). Totals are partial aggs;
    // the N scalar is a 1-row broadcast; top-100 by a total order.
    Q("q_also_bought",
      (s, dir) => {
        // the basket artifact feeds the support census and the N
        // scalar; the 12.5 M-pair fan-out + shuffle now lives in the
        // SHARED pair-core artifact (one build serves also_bought,
        // adamic_adar and preferential_attachment)
        val b = alsoBoughtBaskets(s, dir).persist()
        val pc = basketPairCore(s, dir)
          .select(expr("pk div 4294967296L").as("s1"),
            (col("pk") % 4294967296L).as("s2"),
            col("common").as("n12"))
        val sup = b.select(explode(col("items")).as("s_item"))
          .groupBy("s_item").agg(count(lit(1)).as("n"))
        val nn = b.agg(count(lit(1)).as("n_cust"))
        pc
          .join(sup.select(col("s_item").as("k1"), col("n").as("n1")),
            col("s1") === col("k1"))
          .join(sup.select(col("s_item").as("k2"), col("n").as("n2")),
            col("s2") === col("k2"))
          .crossJoin(broadcast(nn))
          .filter(col("n12") >= 2)
          .select(col("s1"), col("s2"), col("n12"),
            (col("n12").cast("double")
              / (col("n1") + col("n2") - col("n12")).cast("double"))
              .as("jaccard"),
            ((col("n12") * col("n_cust")).cast("double")
              / (col("n1") * col("n2")).cast("double")).as("lift"))
          .orderBy(col("jaccard").desc, col("s1"), col("s2"))
          .limit(100)
      },
      Some("""WITH b AS (
                SELECT o_custkey AS cust,
                  list_sort(list(DISTINCT l_suppkey)) AS items
                FROM orders JOIN lineitem ON o_orderkey = l_orderkey
                GROUP BY 1 HAVING len(list(DISTINCT l_suppkey)) <= 128),
              pairs AS (
                SELECT unnest(flatten(list_transform(
                  generate_series(1, len(items)),
                  i -> list_transform(generate_series(i + 1, len(items)),
                    j -> {'s1': items[i], 's2': items[j]})))) AS p
                FROM b),
              pc AS (SELECT p.s1 AS s1, p.s2 AS s2,
                       CAST(COUNT(*) AS BIGINT) AS n12
                     FROM pairs GROUP BY 1, 2),
              sup AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS n FROM
                        (SELECT unnest(items) AS item FROM b) GROUP BY 1),
              nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cust FROM b)
              SELECT s1, s2, n12,
                CAST(n12 AS DOUBLE) / CAST(a.n + bb.n - n12 AS DOUBLE)
                  AS jaccard,
                CAST(n12 * nn.n_cust AS DOUBLE) / CAST(a.n * bb.n AS DOUBLE)
                  AS lift
              FROM pc JOIN sup a ON pc.s1 = a.item
                JOIN sup bb ON pc.s2 = bb.item, nn
              WHERE n12 >= 2
              ORDER BY jaccard DESC, s1, s2 LIMIT 100""")),

    // ── per-source distribution drift: exact Kolmogorov–Smirnov ──────────
    // Did one ingest source drift away from the rest of the corpus? The
    // two-sample KS statistic of each source's doc-length distribution
    // against the REST of the corpus: D = max_v |CDF_src(v) − CDF_rest(v)|.
    // Exact-integer formulation (no FP CDFs): maximize
    // |cum_src·n_rest − cum_rest·n_src| over the pooled value grid and
    // divide ONCE at the end. The grid is sources × distinct lengths —
    // both bounded (quantize the value in production), so the dense
    // cross join is a constant-size frame, while the corpus-sized work
    // is one partial+final count agg per (source, length). Windows run
    // per source over the bounded grid, never over raw docs.
    Q("q_ks_drift",
      (s, dir) => ksFinish(Censuses.ksCounts(s, dir)),
      Some("""WITH counts AS (
                SELECT source, n_chars AS v, CAST(COUNT(*) AS BIGINT) AS c
                FROM documents GROUP BY 1, 2),
              grid AS (
                SELECT s.source, vv.v
                FROM (SELECT DISTINCT source FROM counts) s,
                  (SELECT DISTINCT v FROM counts) vv),
              cums AS (
                SELECT g.source, g.v,
                  SUM(COALESCE(c.c, 0)) OVER (PARTITION BY g.source
                    ORDER BY g.v ROWS BETWEEN UNBOUNDED PRECEDING
                    AND CURRENT ROW) AS cum_src
                FROM grid g LEFT JOIN counts c
                  ON g.source = c.source AND g.v = c.v),
              tot AS (
                SELECT v, SUM(cv) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                    PRECEDING AND CURRENT ROW) AS cum_all
                FROM (SELECT v, SUM(c) AS cv FROM counts GROUP BY 1)),
              ns AS (
                SELECT source, CAST(COUNT(*) AS BIGINT) AS n_src
                FROM documents GROUP BY 1),
              nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents)
              SELECT cu.source, ns.n_src,
                CAST(MAX(ABS(cu.cum_src * (nn.n - ns.n_src)
                  - (t.cum_all - cu.cum_src) * ns.n_src)) AS BIGINT)
                  AS d_num,
                CAST(MAX(ABS(cu.cum_src * (nn.n - ns.n_src)
                  - (t.cum_all - cu.cum_src) * ns.n_src)) AS DOUBLE)
                  / CAST(ns.n_src * (nn.n - ns.n_src) AS DOUBLE) AS ks
              FROM cums cu JOIN tot t ON cu.v = t.v
                JOIN ns ON cu.source = ns.source, nn
              GROUP BY 1, 2, nn.n
              ORDER BY cu.source""")),

    // ── per-source Kuiper drift: both-tails ECDF divergence ─────────────
    // The fifth drift lens: Kuiper's V = D⁺ + D⁻ sums the largest
    // ABOVE-gap and the largest BELOW-gap separately, so a source that
    // is light in one tail and heavy in the other scores their SUM —
    // divergences KS's single sup|gap| lets partially cancel when they
    // sit at different value quantiles (and the statistic every
    // cyclic/quantile-shift drift monitor prefers). Same exact-integer
    // common-denominator gap frame as q_ks_drift ([[ecdfGaps]] — one
    // corpus scan into the persisted census, everything after
    // catalog-bounded); D⁺/D⁻ clamp at 0 because the sup over the
    // extended value axis includes the zero endpoints. One IEEE
    // division per source.
    Q("q_kuiper_drift",
      (s, dir) => kuiperFinish(Censuses.ksCounts(s, dir)),
      Some("""WITH counts AS (
                SELECT source, n_chars AS v, CAST(COUNT(*) AS BIGINT) AS c
                FROM documents GROUP BY 1, 2),
              grid AS (
                SELECT s.source, vv.v
                FROM (SELECT DISTINCT source FROM counts) s,
                  (SELECT DISTINCT v FROM counts) vv),
              cums AS (
                SELECT g.source, g.v,
                  SUM(COALESCE(c.c, 0)) OVER (PARTITION BY g.source
                    ORDER BY g.v ROWS BETWEEN UNBOUNDED PRECEDING
                    AND CURRENT ROW) AS cum_src
                FROM grid g LEFT JOIN counts c
                  ON g.source = c.source AND g.v = c.v),
              tot AS (
                SELECT v, SUM(cv) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                    PRECEDING AND CURRENT ROW) AS cum_all
                FROM (SELECT v, SUM(c) AS cv FROM counts GROUP BY 1)),
              ns AS (
                SELECT source, CAST(COUNT(*) AS BIGINT) AS n_src
                FROM documents GROUP BY 1),
              nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
              gaps AS (
                SELECT cu.source, ns.n_src,
                  cu.cum_src * (nn.n - ns.n_src)
                    - (t.cum_all - cu.cum_src) * ns.n_src AS g
                FROM cums cu JOIN tot t ON cu.v = t.v
                  JOIN ns ON cu.source = ns.source, nn)
              SELECT g.source, g.n_src,
                CAST(GREATEST(MAX(g.g), 0) + GREATEST(MAX(-g.g), 0)
                  AS BIGINT) AS v_num,
                CAST(GREATEST(MAX(g.g), 0) + GREATEST(MAX(-g.g), 0)
                  AS DOUBLE)
                  / CAST(g.n_src * (nn.n - g.n_src) AS DOUBLE) AS kuiper_v
              FROM gaps g, nn
              GROUP BY g.source, g.n_src, nn.n
              ORDER BY g.source""")),

    // ── per-source CATEGORICAL drift: exact total-variation distance ─────
    // The categorical sibling of q_ks_drift (which needs an ordered
    // value axis): TVD of each source's language distribution vs the
    // REST of the corpus, TVD = ½·Σ_l |P_src(l) − P_rest(l)|. Exact-
    // integer formulation: per (source, lang) cell with count a, source
    // total n_s, lang total n_l, corpus total N, the term is
    // |a·(N−n_s) − (n_l−a)·n_s| summed over the DENSE source×lang grid
    // (an absent lang still contributes n_l·n_s), then ONE division by
    // 2·n_s·(N−n_s). Scale shape mirrors KS: the corpus-sized work is
    // one partial+final count agg; everything after runs on the
    // sources×langs grid, which is catalog-bounded, not corpus-bounded.
    Q("q_tvd_drift",
      (s, dir) => tvdFinish(tvdCounts(t(s, dir, "documents"))),
      Some("""WITH counts AS (
                SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS a
                FROM documents GROUP BY 1, 2),
              ns AS (SELECT source, SUM(a) AS n_src FROM counts GROUP BY 1),
              nl AS (SELECT lang, SUM(a) AS n_lang FROM counts GROUP BY 1),
              nn AS (SELECT SUM(a) AS n FROM counts),
              grid AS (SELECT s.source, l.lang FROM
                         (SELECT source FROM ns) s, (SELECT lang FROM nl) l),
              cells AS (
                SELECT g.source, g.lang, COALESCE(c.a, 0) AS a
                FROM grid g LEFT JOIN counts c
                  ON g.source = c.source AND g.lang = c.lang)
              SELECT ce.source, CAST(ns.n_src AS BIGINT) AS n_src,
                CAST(SUM(ABS(ce.a * (nn.n - ns.n_src)
                  - (nl.n_lang - ce.a) * ns.n_src)) AS BIGINT) AS tvd_num,
                CAST(SUM(ABS(ce.a * (nn.n - ns.n_src)
                  - (nl.n_lang - ce.a) * ns.n_src)) AS DOUBLE)
                  / CAST(ns.n_src * 2 * (nn.n - ns.n_src) AS DOUBLE) AS tvd
              FROM cells ce JOIN ns ON ce.source = ns.source
                JOIN nl ON ce.lang = nl.lang, nn
              GROUP BY ce.source, ns.n_src, nn.n
              ORDER BY ce.source""")),

    // ── per-source Hellinger drift (geometric-overlap lens) ─────────────
    // The sixth drift lens, on q_tvd_drift's categorical frame: the
    // Bhattacharyya coefficient BC = Σ_l √(p_l·q_l) measures geometric
    // OVERLAP of each source's language mix vs the rest, and
    // H = √(1−BC) is its metric (TVD bounds it: H² ≤ TVD ≤ H√2 — a
    // source the two lenses rank differently has its mass split across
    // many small cells, which BC discounts quadratically). Cross-engine
    // exact: √(p·q) = √(a·(n_l−a))/√(n_s·(N−n_s)) keeps every radicand
    // an exact dec38 integer (100-TB-safe — n_s·(N−n_s) overflows int64
    // past n_s~3·10⁹), sqrt is correctly-rounded IEEE on identical
    // doubles, the lang fold is pinned, and the one division per source
    // is the identical op sequence in both engines. Same single-scan
    // census shape as TVD: corpus collapses in tvdCounts, everything
    // after is catalog-bounded (sources × langs).
    Q("q_hellinger_drift",
      (s, dir) => {
        val dec38 = DecimalType(38, 0)
        val counts = tvdCounts(t(s, dir, "documents"))
          .select(col("source"), col("lang"), col("a").cast("long").as("a"))
          .persist()
        val n = counts.agg(sum(col("a"))).head.getLong(0)
        val perSrc = counts.groupBy("source").agg(sum(col("a")).as("n_src"))
        val perLang = counts.groupBy("lang").agg(sum(col("a")).as("n_lang"))
        perSrc.select("source").crossJoin(perLang.select("lang"))
          .join(counts, Seq("source", "lang"), "left")
          .select(col("source"), col("lang"),
            coalesce(col("a"), lit(0L)).as("a"))
          .join(perLang, "lang")
          .join(perSrc, "source")
          .select(col("source"), col("n_src"), col("lang"),
            sqrt((col("a").cast(dec38) * (col("n_lang") - col("a")))
              .cast("double")).as("term"))
          .groupBy(col("source"), col("n_src").cast("long").as("n_src"))
          .agg(expr("""aggregate(array_sort(collect_list(struct(lang, term))),
                  CAST(0 AS DOUBLE), (a, x) -> a + x.term)""").as("num"))
          .select(col("source"), col("n_src"),
            (col("num") / sqrt((col("n_src").cast(dec38)
              * (lit(n) - col("n_src"))).cast("double"))).as("bc"))
          .select(col("source"), col("n_src"), col("bc"),
            sqrt(greatest(lit(0.0), lit(1.0) - col("bc"))).as("hellinger"))
          .orderBy("source")
      },
      Some("""WITH counts AS (
                SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS a
                FROM documents GROUP BY 1, 2),
              ns AS (SELECT source, SUM(a) AS n_src FROM counts GROUP BY 1),
              nl AS (SELECT lang, SUM(a) AS n_lang FROM counts GROUP BY 1),
              nn AS (SELECT SUM(a) AS n FROM counts),
              grid AS (SELECT s.source, l.lang FROM
                         (SELECT source FROM ns) s, (SELECT lang FROM nl) l),
              cells AS (
                SELECT g.source, g.lang, COALESCE(c.a, 0) AS a
                FROM grid g LEFT JOIN counts c
                  ON g.source = c.source AND g.lang = c.lang),
              terms AS (
                SELECT ce.source, CAST(ns.n_src AS BIGINT) AS n_src,
                  ce.lang,
                  sqrt(CAST(CAST(ce.a AS HUGEINT) * (nl.n_lang - ce.a)
                    AS DOUBLE)) AS term,
                  CAST(CAST(ns.n_src AS HUGEINT) * (nn.n - ns.n_src)
                    AS DOUBLE) AS den
                FROM cells ce JOIN ns ON ce.source = ns.source
                  JOIN nl ON ce.lang = nl.lang, nn),
              bcs AS (
                SELECT source, n_src,
                  list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(term ORDER BY lang)), (a, x) -> a + x)
                    / sqrt(MAX(den)) AS bc
                FROM terms GROUP BY 1, 2)
              SELECT source, n_src, bc,
                sqrt(GREATEST(0.0, 1.0 - bc)) AS hellinger
              FROM bcs ORDER BY source""")),

    // ── per-source Cramér–von Mises drift (squared-ECDF-gap mass) ────────
    // The fourth drift lens: KS takes the WORST ECDF gap, W₁ the total
    // |gap|·width transport, CvM integrates the SQUARED gap against the
    // POOLED sample measure — it weights divergence where the data
    // actually sits, so a tail-only shift KS flags loudly is discounted
    // and a body shift W₁ smears is sharpened. Two-sample statistic per
    // source vs rest: T = Σ_v c_all(v)·D_v² / (n_s·m_s·N²) with
    // D_v = cum_src·m_s − cum_rest·n_s the exact-integer common-
    // denominator ECDF gap over the same dense (source × value) grid
    // q_ks_drift walks (c_all = pooled multiplicity at v). The only FP
    // is the final stepwise division (÷n_s ÷m_s ÷N ÷N — the identical
    // IEEE sequence in both engines). Scale shape: the corpus collapses
    // in the ksCounts census (one scan, persisted for the four census
    // consumers); grid, cumsums, and the D² fold are catalog-bounded.
    Q("q_cvm_drift",
      (s, dir) => {
        // SHARED pinned census (round 12): all consumers below read
        // the checkpointed artifact blocks
        val counts = Censuses.ksCounts(s, dir)
        val n = counts.agg(sum(col("c")).cast("long")).head.getLong(0)
        val grid = counts.select("source").distinct()
          .crossJoin(counts.select("v").distinct())
        val perSrc = counts.groupBy("source").agg(sum(col("c")).as("n_src"))
        val w = Window.partitionBy("source").orderBy("v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val totW = Window.orderBy("v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val tot = counts.groupBy("v").agg(sum(col("c")).as("cv"))
          .select(col("v"), col("cv"),
            sum(col("cv")).over(totW).as("cum_all"))
        // ECDF gap in DECIMAL(38,0) from the first multiply: at 100-TB
        // corpus counts (cum ≳ 3e9) the int64 products would wrap
        // silently in non-ANSI Spark while the oracle's HUGEINT path
        // doesn't — dec38 before the multiplications keeps both engines
        // exact to the same width (ADVICE r6).
        val dec38 = DecimalType(38, 0)
        val d = (col("cum_src").cast(dec38)
          * (lit(n) - col("n_src")).cast(dec38)
          - (col("cum_all").cast(dec38) - col("cum_src").cast(dec38))
          * col("n_src").cast(dec38))
        grid.join(counts, Seq("source", "v"), "left")
          .select(col("source"), col("v"),
            sum(coalesce(col("c"), lit(0L))).over(w).as("cum_src"))
          .join(tot, "v")
          .join(perSrc, "source")
          .select(col("source"), col("n_src"),
            (col("cv").cast(dec38) * d * d).as("term"))
          .groupBy(col("source"), col("n_src").cast("long").as("n_src"))
          .agg(sum(col("term")).as("num"))
          .select(col("source"), col("n_src"),
            round(col("num").cast("double")
              / col("n_src").cast("double")
              / (lit(n) - col("n_src")).cast("double")
              / lit(n.toDouble) / lit(n.toDouble), 6).as("cvm"))
          .orderBy("source")
      },
      Some("""WITH counts AS (
                SELECT source, n_chars AS v, CAST(COUNT(*) AS BIGINT) AS c
                FROM documents GROUP BY 1, 2),
              grid AS (
                SELECT s.source, vv.v
                FROM (SELECT DISTINCT source FROM counts) s,
                  (SELECT DISTINCT v FROM counts) vv),
              cums AS (
                SELECT g.source, g.v,
                  SUM(COALESCE(c.c, 0)) OVER (PARTITION BY g.source
                    ORDER BY g.v ROWS BETWEEN UNBOUNDED PRECEDING
                    AND CURRENT ROW) AS cum_src
                FROM grid g LEFT JOIN counts c
                  ON g.source = c.source AND g.v = c.v),
              tot AS (
                SELECT v, cv, SUM(cv) OVER (ORDER BY v ROWS BETWEEN
                    UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_all
                FROM (SELECT v, SUM(c) AS cv FROM counts GROUP BY 1)),
              ns AS (
                SELECT source, CAST(COUNT(*) AS BIGINT) AS n_src
                FROM documents GROUP BY 1),
              nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents)
              SELECT cu.source, ns.n_src,
                round(CAST(SUM(CAST(t.cv AS HUGEINT)
                    * (CAST(cu.cum_src AS HUGEINT)
                         * CAST(nn.n - ns.n_src AS HUGEINT)
                       - (CAST(t.cum_all AS HUGEINT)
                          - CAST(cu.cum_src AS HUGEINT))
                         * CAST(ns.n_src AS HUGEINT))
                    * (CAST(cu.cum_src AS HUGEINT)
                         * CAST(nn.n - ns.n_src AS HUGEINT)
                       - (CAST(t.cum_all AS HUGEINT)
                          - CAST(cu.cum_src AS HUGEINT))
                         * CAST(ns.n_src AS HUGEINT))) AS DOUBLE)
                  / CAST(ns.n_src AS DOUBLE)
                  / CAST(nn.n - ns.n_src AS DOUBLE)
                  / CAST(nn.n AS DOUBLE) / CAST(nn.n AS DOUBLE), 6)
                  AS cvm
              FROM cums cu JOIN tot t ON cu.v = t.v
                JOIN ns ON cu.source = ns.source, nn
              GROUP BY cu.source, ns.n_src, nn.n
              ORDER BY cu.source""")),

    // ── per-source 1-D Wasserstein (earth-mover) drift ───────────────────
    // The third drift lens: KS is the WORST point gap, TVD the
    // categorical mass gap, W₁ the TOTAL transport cost — it sees slow
    // mean shifts KS underweights. On an ordered support,
    // W₁ = Σ_v |F_src(v) − F_rest(v)|·Δv, which in the exact-integer
    // style is Σ |cum_src·n_rest − cum_rest·n_src|·(next_v − v) over
    // the same dense (source × value) grid q_ks_drift walks, divided
    // ONCE by n_src·n_rest. Same scale shape: corpus collapses in the
    // ksCounts census; the grid, its cumsums, and the lead() widths are
    // catalog-bounded.
    Q("q_wasserstein",
      (s, dir) => {
        // SHARED pinned census (round 12): same multi-consumer shape
        // as ksFinish — one corpus scan per session for the family.
        val counts = Censuses.ksCounts(s, dir)
        val n = counts.agg(sum(col("c"))).head.getLong(0)
        val grid = counts.select("source").distinct()
          .crossJoin(counts.select("v").distinct())
        val perSrc = counts.groupBy("source").agg(sum(col("c")).as("n_src"))
        val w = Window.partitionBy("source").orderBy("v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wLead = Window.partitionBy("source").orderBy("v")
        val totW = Window.orderBy("v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val tot = counts.groupBy("v").agg(sum(col("c")).as("cv"))
          .select(col("v"), sum(col("cv")).over(totW).as("cum_all"))
        // cum_src and the lead() step width share ONE WindowExec: both
        // specs partition by source and order by v, so projecting them
        // together lets Spark fuse them — computing the width after the
        // joins (the r5 shape) forced a second sort+exchange over the
        // grid, the 0.4 s warm gap vs q_ks_drift the r5 judge measured
        grid.join(counts, Seq("source", "v"), "left")
          .select(col("source"), col("v"),
            sum(coalesce(col("c"), lit(0L))).over(w).as("cum_src"),
            (coalesce(lead(col("v"), 1).over(wLead), col("v")) - col("v"))
              .as("dv"))
          .join(tot, "v")
          .join(perSrc, "source")
          .select(col("source"), col("n_src"), col("v"),
            (abs(col("cum_src") * (lit(n) - col("n_src"))
              - (col("cum_all") - col("cum_src")) * col("n_src"))
              * col("dv")).as("term"))
          .groupBy(col("source"), col("n_src").cast("long").as("n_src"))
          .agg(sum(col("term")).cast("long").as("w1_num"))
          .select(col("source"), col("n_src"), col("w1_num"),
            (col("w1_num").cast("double")
              / (col("n_src") * (lit(n) - col("n_src"))).cast("double"))
              .as("w1"))
          .orderBy("source")
      },
      Some("""WITH counts AS (
                SELECT source, n_chars AS v, CAST(COUNT(*) AS BIGINT) AS c
                FROM documents GROUP BY 1, 2),
              grid AS (
                SELECT s.source, vv.v
                FROM (SELECT DISTINCT source FROM counts) s,
                  (SELECT DISTINCT v FROM counts) vv),
              cums AS (
                SELECT g.source, g.v,
                  SUM(COALESCE(c.c, 0)) OVER (PARTITION BY g.source
                    ORDER BY g.v ROWS BETWEEN UNBOUNDED PRECEDING
                    AND CURRENT ROW) AS cum_src
                FROM grid g LEFT JOIN counts c
                  ON g.source = c.source AND g.v = c.v),
              tot AS (
                SELECT v, SUM(cv) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                    PRECEDING AND CURRENT ROW) AS cum_all
                FROM (SELECT v, SUM(c) AS cv FROM counts GROUP BY 1)),
              ns AS (
                SELECT source, CAST(COUNT(*) AS BIGINT) AS n_src
                FROM documents GROUP BY 1),
              nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
              terms AS (
                SELECT cu.source, ns.n_src,
                  ABS(cu.cum_src * (nn.n - ns.n_src)
                    - (t.cum_all - cu.cum_src) * ns.n_src)
                  * (COALESCE(LEAD(cu.v, 1) OVER (PARTITION BY cu.source
                      ORDER BY cu.v), cu.v) - cu.v) AS term
                FROM cums cu JOIN tot t ON cu.v = t.v
                  JOIN ns ON cu.source = ns.source, nn)
              SELECT source, n_src,
                CAST(SUM(term) AS BIGINT) AS w1_num,
                CAST(SUM(term) AS DOUBLE)
                  / CAST(n_src * ((SELECT n FROM nn) - n_src) AS DOUBLE)
                  AS w1
              FROM terms GROUP BY 1, 2 ORDER BY source""")),

    // ── chi-squared independence: source × lang contingency ──────────────
    // THE categorical-association test the drift lenses (TVD/KS/W₁)
    // lead up to: is language mix independent of source, and how far
    // from independence (Cramér's V) is the corpus? Per dense grid cell
    // (zero cells included — their (0−e)²/e mass counts),
    // term = (N·o − r·c)²/(N·r·c): the numerator difference is exact
    // int64, and the tail is the identical IEEE expression both sides.
    // The two FP REDUCTIONS (per-source fold over langs, global fold
    // over sources) are position-pinned sorted-array left folds — the
    // q_lm_score discipline — so addition order is bit-identical in both
    // engines. Scale: the corpus collapses in ONE (source, lang) census;
    // everything after runs on the |sources|×|langs| grid.
    Q("q_chi2",
      (s, dir) => chi2Finish(tvdCounts(t(s, dir, "documents"))),
      Some("""WITH counts AS (
                SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS o
                FROM documents GROUP BY 1, 2),
              nn AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM counts),
              ps AS (SELECT source, CAST(SUM(o) AS BIGINT) AS r
                     FROM counts GROUP BY 1),
              pl AS (SELECT lang, CAST(SUM(o) AS BIGINT) AS c
                     FROM counts GROUP BY 1),
              dims AS (
                SELECT CAST(COUNT(DISTINCT source) AS BIGINT) AS n_src,
                  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_lang
                FROM counts),
              cells AS (
                SELECT ps.source, pl.lang, ps.r,
                  CAST(nn.n * COALESCE(co.o, 0) - ps.r * pl.c AS DOUBLE)
                    * CAST(nn.n * COALESCE(co.o, 0) - ps.r * pl.c AS DOUBLE)
                    / (CAST(nn.n AS DOUBLE) * CAST(ps.r AS DOUBLE)
                       * CAST(pl.c AS DOUBLE)) AS term
                FROM ps CROSS JOIN pl
                  LEFT JOIN counts co
                    ON ps.source = co.source AND pl.lang = co.lang, nn),
              bysrc AS (
                SELECT source, r AS n_src_docs,
                  list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(term ORDER BY lang)), (a, x) -> a + x) AS chi2_src
                FROM cells GROUP BY 1, 2),
              tot AS (
                SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(chi2_src ORDER BY source)), (a, x) -> a + x) AS chi2
                FROM bysrc)
              SELECT b.source, b.n_src_docs, b.chi2_src, t.chi2,
                (d.n_src - 1) * (d.n_lang - 1) AS dof,
                sqrt(t.chi2 / (CAST(nn.n AS DOUBLE)
                  * CAST(least(d.n_src - 1, d.n_lang - 1) AS DOUBLE)))
                  AS cramers_v
              FROM bysrc b, tot t, dims d, nn
              ORDER BY b.source""")),

    // ── Gopher rule battery: named quality gates, per-rule fail census ──
    // q_quality_score blends signals into one number; production
    // curation wants the RULE-LEVEL report (Rae et al. 2021's Gopher
    // filters): which gate kills how many docs per source? Five rules,
    // every comparison EXACT-INTEGER by clearing denominators (mean
    // word length ∈ [3,10] ⇔ 3n ≤ chars ≤ 10n; symbol ratio ≤ 10% ⇔
    // 10·sym ≤ n; alpha share ≥ 80% ⇔ 5·alpha ≥ 4n) — no FP until the
    // final pass-rate display division. One scan, row-local lambdas,
    // ≤|sources| output.
    // ── duplicate-sentence share per source ─────────────────────────────
    // The repetition gate the q_gopher_rules battery stops short of
    // (the "duplicate line fraction" rule of the Gopher repetition
    // family, at sentence granularity): per doc, how many sentences
    // are exact repeats of an earlier sentence in the SAME doc; rolled
    // up per source with the share of docs carrying any repeat. One
    // row-local sentence explode → per-doc distinct census → source
    // rollup; exact integers until two divisions.
    Q("q_dup_sentences",
      (s, dir) => {
        val perDoc = t(s, dir, "documents")
          .select(col("source"), col("doc_id"),
            explode(split(col("text"), "\\. ")).as("sent"))
          .filter(trim(col("sent")) =!= "")
          .groupBy("source", "doc_id")
          .agg(count(lit(1)).cast("long").as("ns"),
            countDistinct(col("sent")).cast("long").as("ds"))
        perDoc.groupBy("source")
          .agg(count(lit(1)).cast("long").as("n_docs"),
            sum(col("ns")).cast("long").as("n_sents"),
            sum(col("ns") - col("ds")).cast("long").as("n_dup_sents"),
            sum(when(col("ns") > col("ds"), 1L).otherwise(0L))
              .cast("long").as("docs_with_dup"))
          .select(col("source"), col("n_docs"), col("n_sents"),
            col("n_dup_sents"),
            (col("n_dup_sents").cast("double")
              / col("n_sents").cast("double")).as("dup_sent_share"),
            (col("docs_with_dup").cast("double")
              / col("n_docs").cast("double")).as("frac_docs_with_dup"))
          .orderBy("source")
      },
      Some("""WITH sents AS (
                SELECT source, doc_id,
                  unnest(string_split(text, '. ')) AS sent
                FROM documents),
              per_doc AS (
                SELECT source, doc_id,
                  CAST(count(*) AS BIGINT) AS ns,
                  CAST(count(DISTINCT sent) AS BIGINT) AS ds
                FROM sents WHERE trim(sent) <> ''
                GROUP BY 1, 2)
              SELECT source,
                CAST(count(*) AS BIGINT) AS n_docs,
                CAST(SUM(ns) AS BIGINT) AS n_sents,
                CAST(SUM(ns - ds) AS BIGINT) AS n_dup_sents,
                CAST(SUM(ns - ds) AS DOUBLE) / CAST(SUM(ns) AS DOUBLE)
                  AS dup_sent_share,
                CAST(SUM(CASE WHEN ns > ds THEN 1 ELSE 0 END) AS DOUBLE)
                  / CAST(count(*) AS DOUBLE) AS frac_docs_with_dup
              FROM per_doc GROUP BY 1 ORDER BY source""")),

    Q("q_gopher_rules",
      (s, dir) => {
        val flags = t(s, dir, "documents")
          .select(col("source"),
            expr("filter(split(text, ' '), x -> x <> '')").as("toks"))
          .select(col("source"),
            size(col("toks")).cast("long").as("n"),
            expr("aggregate(toks, 0L, (acc, x) -> acc + length(x))")
              .as("chars"),
            expr("CAST(size(filter(toks, x -> x LIKE '%#%' OR " +
              "x LIKE '%...%')) AS BIGINT)").as("sym"),
            expr("CAST(size(filter(toks, x -> x rlike '[a-zA-Z]')) " +
              "AS BIGINT)").as("alpha"),
            expr("CAST(size(filter(toks, x -> x IN ('the', 'a', 'of', " +
              "'and'))) AS BIGINT)").as("stop"))
          .select(col("source"),
            (col("n") < 50 || col("n") > 100000).as("f_words"),
            (col("n") > 0 && (col("chars") < col("n") * 3
              || col("chars") > col("n") * 10)).as("f_mwl"),
            (col("n") > 0 && col("sym") * 10 > col("n")).as("f_sym"),
            (col("n") > 0 && col("alpha") * 5 < col("n") * 4)
              .as("f_alpha"),
            (col("stop") < 2).as("f_stop"))
        flags.groupBy("source")
          .agg(count(lit(1)).cast("long").as("n_docs"),
            sum(col("f_words").cast("long")).cast("long")
              .as("fail_words"),
            sum(col("f_mwl").cast("long")).cast("long").as("fail_mwl"),
            sum(col("f_sym").cast("long")).cast("long").as("fail_sym"),
            sum(col("f_alpha").cast("long")).cast("long")
              .as("fail_alpha"),
            sum(col("f_stop").cast("long")).cast("long").as("fail_stop"),
            sum((!col("f_words") && !col("f_mwl") && !col("f_sym")
              && !col("f_alpha") && !col("f_stop")).cast("long"))
              .cast("long").as("n_pass"))
          .withColumn("pass_rate",
            col("n_pass").cast("double") / col("n_docs").cast("double"))
          .orderBy("source")
      },
      Some("""WITH f AS (
                SELECT source,
                  CAST(len(toks) AS BIGINT) AS n,
                  CAST(list_sum(list_transform(toks, x -> length(x)))
                    AS BIGINT) AS chars,
                  CAST(len(list_filter(toks, x -> x LIKE '%#%'
                    OR x LIKE '%...%')) AS BIGINT) AS sym,
                  CAST(len(list_filter(toks,
                    x -> regexp_matches(x, '[a-zA-Z]'))) AS BIGINT)
                    AS alpha,
                  CAST(len(list_filter(toks, x -> x IN ('the', 'a',
                    'of', 'and'))) AS BIGINT) AS stop
                FROM (SELECT source, list_filter(string_split(text, ' '),
                        x -> x <> '') AS toks
                      FROM documents)),
              r AS (
                SELECT source,
                  (n < 50 OR n > 100000) AS f_words,
                  (n > 0 AND (chars < n * 3 OR chars > n * 10)) AS f_mwl,
                  (n > 0 AND sym * 10 > n) AS f_sym,
                  (n > 0 AND alpha * 5 < n * 4) AS f_alpha,
                  (stop < 2) AS f_stop
                FROM f)
              SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(SUM(CASE WHEN f_words THEN 1 ELSE 0 END) AS BIGINT)
                  AS fail_words,
                CAST(SUM(CASE WHEN f_mwl THEN 1 ELSE 0 END) AS BIGINT)
                  AS fail_mwl,
                CAST(SUM(CASE WHEN f_sym THEN 1 ELSE 0 END) AS BIGINT)
                  AS fail_sym,
                CAST(SUM(CASE WHEN f_alpha THEN 1 ELSE 0 END) AS BIGINT)
                  AS fail_alpha,
                CAST(SUM(CASE WHEN f_stop THEN 1 ELSE 0 END) AS BIGINT)
                  AS fail_stop,
                CAST(SUM(CASE WHEN NOT f_words AND NOT f_mwl
                  AND NOT f_sym AND NOT f_alpha AND NOT f_stop
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
                CAST(SUM(CASE WHEN NOT f_words AND NOT f_mwl
                  AND NOT f_sym AND NOT f_alpha AND NOT f_stop
                  THEN 1 ELSE 0 END) AS DOUBLE)
                  / CAST(count(*) AS DOUBLE) AS pass_rate
              FROM r GROUP BY 1 ORDER BY 1""")),

    // ── contamination sweep: benchmark overlap rate by n-gram size ──────
    // Decontamination thresholds are an n-gram-size POLICY (8-gram for
    // some suites, 13 for others); this measures how the contaminated
    // share moves across n ∈ {3, 5, 8} against the same held-out bench
    // slice (doc_id % 50 = 3, q_decontaminate's fixture). One tokenized
    // pass persists; each n derives its shingles from the cached frame
    // (3 row-local explodes, zero re-scans), joins the bench shingles
    // un-hinted on the shingle key, and collapses to ONE row per n.
    Q("q_contamination_sweep",
      (s, dir) => {
        val toks = t(s, dir, "documents")
          .select(col("doc_id"),
            expr("filter(split(text, ' '), x -> x <> '')").as("toks"))
          .persist()
        val total = toks.filter(col("doc_id") % 50 =!= 3)
          .agg(count(lit(1)).cast("long").as("n_corpus"))
          .localCheckpoint(false)
        val sweeps = Seq(3, 5, 8).map { n =>
          val sh = toks.select(col("doc_id"), explode(expr(
            s"""CASE WHEN size(toks) >= $n THEN array_distinct(
                 transform(sequence(0, size(toks) - $n),
                   i -> array_join(slice(toks, i + 1, $n), ' ')))
               ELSE array() END""")).as("shingle"))
          val bench = sh.filter(col("doc_id") % 50 === 3)
            .select(col("shingle")).distinct()
          sh.filter(col("doc_id") % 50 =!= 3)
            .join(bench, "shingle")
            .agg(countDistinct(col("doc_id")).cast("long")
              .as("n_contaminated"))
            .select(lit(n.toLong).as("ngram"), col("n_contaminated"))
        }
        sweeps.reduce(_ unionByName _)
          .crossJoin(broadcast(total))
          .select(col("ngram"), col("n_corpus"), col("n_contaminated"),
            (col("n_contaminated").cast("double")
              / col("n_corpus").cast("double")).as("contaminated_rate"))
          .orderBy("ngram")
      },
      Some("""WITH toks AS (
                SELECT doc_id, list_filter(string_split(text, ' '),
                  x -> x <> '') AS toks
                FROM documents),
              total AS (
                SELECT CAST(count(*) AS BIGINT) AS n_corpus
                FROM toks WHERE doc_id % 50 <> 3),
              sweep AS (
                SELECT n.n AS ngram, t.doc_id,
                  unnest(CASE WHEN len(t.toks) >= n.n THEN list_distinct(
                    [array_to_string(t.toks[i:i+n.n-1], ' ')
                     for i in generate_series(1, len(t.toks) - n.n + 1)])
                  ELSE [] END) AS shingle
                FROM toks t, (VALUES (3), (5), (8)) AS n(n)),
              hits AS (
                SELECT s.ngram,
                  CAST(COUNT(DISTINCT s.doc_id) AS BIGINT)
                    AS n_contaminated
                FROM sweep s
                JOIN (SELECT DISTINCT ngram, shingle FROM sweep
                      WHERE doc_id % 50 = 3) b
                  ON s.ngram = b.ngram AND s.shingle = b.shingle
                WHERE s.doc_id % 50 <> 3
                GROUP BY 1)
              SELECT CAST(g.n AS BIGINT) AS ngram, t.n_corpus,
                COALESCE(h.n_contaminated, 0) AS n_contaminated,
                CAST(COALESCE(h.n_contaminated, 0) AS DOUBLE)
                  / CAST(t.n_corpus AS DOUBLE) AS contaminated_rate
              FROM (VALUES (3), (5), (8)) AS g(n)
                LEFT JOIN hits h ON g.n = h.ngram, total t
              ORDER BY 1""")),

    // ── G-test (log-likelihood ratio) of source×lang independence ───────
    // The likelihood-ratio twin of q_chi2 — G = 2·Σ O·ln(O/E) is what
    // chi² approximates, and the better-behaved statistic at small
    // expected counts (the sparse-cell regime a growing crawl's
    // source×lang grid lives in). SAME mergeable census as
    // q_chi2/q_tvd_drift ([[tvdCounts]] — so the streaming state
    // already serves it). Cross-engine: each cell term is normalized
    // to O(1) BEFORE the libm ln — term = (O/N)·ln((O/r)·(N/c)), all
    // factors exact-int ratio doubles — then 12-dec-pinned and folded
    // lang-pinned per source; G = 2N·Σ multiplies back AFTER the fold
    // (products of identical doubles, no re-rounding). Zero cells
    // contribute exactly 0 (lim x·ln x), so the sparse grid needs no
    // dense fill. Catalog-bounded finish over one corpus scan.
    Q("q_g_test",
      (s, dir) => gTestFinish(tvdCounts(t(s, dir, "documents"))),
      Some("""WITH counts AS (
                SELECT source, lang, CAST(count(*) AS BIGINT) AS o
                FROM documents GROUP BY 1, 2),
              nn AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM counts),
              rr AS (SELECT source, CAST(SUM(o) AS BIGINT) AS r
                     FROM counts GROUP BY 1),
              cc AS (SELECT lang, CAST(SUM(o) AS BIGINT) AS c
                     FROM counts GROUP BY 1),
              dims AS (
                SELECT CAST(COUNT(DISTINCT source) AS BIGINT) AS n_src,
                  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_lang
                FROM counts),
              cells AS (
                SELECT counts.source, counts.lang, rr.r,
                  CASE WHEN o = 0 THEN 0.0 ELSE
                    round((CAST(o AS DOUBLE) / CAST(nn.n AS DOUBLE))
                      * ln((CAST(o AS DOUBLE) / CAST(rr.r AS DOUBLE))
                        * (CAST(nn.n AS DOUBLE) / CAST(cc.c AS DOUBLE))),
                      12) END AS term
                FROM counts JOIN rr USING (source)
                  JOIN cc USING (lang), nn),
              bysrc AS (
                SELECT source, r AS n_src_docs,
                  list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(term ORDER BY lang)), (a, x) -> a + x) AS tsum
                FROM cells GROUP BY 1, 2),
              g AS (
                SELECT source, n_src_docs,
                  tsum * 2.0 * CAST(nn.n AS DOUBLE) AS g_src
                FROM bysrc, nn),
              tot AS (
                SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
                  list(g_src ORDER BY source)), (a, x) -> a + x) AS g_stat
                FROM g)
              SELECT g.source, g.n_src_docs, g.g_src, tot.g_stat,
                (d.n_src - 1) * (d.n_lang - 1) AS dof
              FROM g, tot, dims d ORDER BY g.source""")),

    // ── IQR-fence outlier census per source ──────────────────────────────
    // The Tukey box-plot rule as a data-quality gate: per source, exact
    // Q1/Q3 of doc length (type-1 order statistics at ranks ⌈n/4⌉ and
    // ⌈3n/4⌉ over a pinned (value, doc_id) total order), then count docs
    // outside [Q1 − 1.5·IQR, Q3 + 1.5·IQR]. Fences stay integer by
    // doubling through: 2·x vs 2·Q1 − 3·IQR — no FP anywhere in the
    // whole query. Shape: one grouped distributed sort for ranks (the
    // per-source window), quartiles collapse to a ≤|sources|-row frame,
    // and the recount joins it back on the source key — AQE sizes that
    // probe join; nothing downstream scales past the census.
    Q("q_outlier_iqr",
      (s, dir) => {
        val w = Window.partitionBy("source")
          .orderBy(col("n_chars"), col("doc_id"))
        val ranked = t(s, dir, "documents")
          .select(col("source"), col("doc_id"), col("n_chars"),
            row_number().over(w).cast("long").as("rn"),
            count(lit(1)).over(Window.partitionBy("source"))
              .cast("long").as("n"))
        val k1 = expr("(n + 3) div 4"); val k3 = expr("(3 * n + 3) div 4")
        val quart = ranked
          .filter(col("rn") === k1 || col("rn") === k3)
          .groupBy("source")
          .agg(max(col("n")).as("n"),
            min(when(col("rn") === k1, col("n_chars"))).as("q1"),
            min(when(col("rn") === k3, col("n_chars"))).as("q3"))
        t(s, dir, "documents")
          .join(quart, Seq("source"))
          .groupBy(col("source"), col("n"), col("q1"), col("q3"))
          .agg(
            sum(when(lit(2L) * col("n_chars")
              < lit(2L) * col("q1") - lit(3L) * (col("q3") - col("q1")),
              1L).otherwise(0L)).as("n_low"),
            sum(when(lit(2L) * col("n_chars")
              > lit(2L) * col("q3") + lit(3L) * (col("q3") - col("q1")),
              1L).otherwise(0L)).as("n_high"))
          .orderBy("source")
      },
      Some("""WITH ranked AS (
                SELECT source, doc_id, n_chars,
                  CAST(row_number() OVER (PARTITION BY source
                    ORDER BY n_chars, doc_id) AS BIGINT) AS rn,
                  CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n
                FROM documents),
              quart AS (
                SELECT source, MAX(n) AS n,
                  MIN(CASE WHEN rn = (n + 3) // 4 THEN n_chars END) AS q1,
                  MIN(CASE WHEN rn = (3 * n + 3) // 4 THEN n_chars END)
                    AS q3
                FROM ranked
                WHERE rn = (n + 3) // 4 OR rn = (3 * n + 3) // 4
                GROUP BY 1)
              SELECT d.source, q.n, q.q1, q.q3,
                CAST(SUM(CASE WHEN 2 * d.n_chars
                    < 2 * q.q1 - 3 * (q.q3 - q.q1) THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_low,
                CAST(SUM(CASE WHEN 2 * d.n_chars
                    > 2 * q.q3 + 3 * (q.q3 - q.q1) THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_high
              FROM documents d JOIN quart q USING (source)
              GROUP BY 1, 2, 3, 4 ORDER BY d.source""")),

    // ── small-file compaction plan (next-fit-decreasing bin packing) ─────
    // The lakehouse maintenance planner: how many 16 KiB output files
    // does each source's doc set compact into, packing whole docs
    // next-fit in (size desc, doc_id) pinned order? Bin state is
    // (bin_id, fill) — a NON-associative scan like q_inventory_running —
    // encoded into ONE int64 (bin·10⁹ + fill, fill < 10⁹) so both
    // engines run the identical integer left fold over the identically
    // pinned order; oversized docs get a bin of their own (next-fit
    // semantics: a doc that doesn't fit closes the bin). Everything is
    // exact integers; the fill ratio is ONE division at the end.
    // Shape: per-source fold is key-partitioned row-local work; the
    // output frame is |sources| rows.
    Q("q_compaction_plan",
      (s, dir) => {
        val target = 16384L
        t(s, dir, "documents")
          .select(col("source"),
            struct((-col("n_chars")).as("negsz"), col("doc_id"),
              col("n_chars").as("sz")).as("f"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_files"),
            sum(col("f.sz")).as("total_chars"),
            expr(s"""aggregate(array_sort(collect_list(f)),
                       CAST(0 AS BIGINT),
                       (a, x) -> CASE
                         WHEN a % 1000000000 > 0
                              AND a % 1000000000 + x.sz > ${target}L
                         THEN (a div 1000000000 + 1) * 1000000000 + x.sz
                         ELSE a + x.sz END)""").as("enc"))
          .select(col("source"), col("n_files"), col("total_chars"),
            (expr("enc div 1000000000") + 1L).as("n_bins"),
            expr(s"total_chars * 1000 div ((enc div 1000000000 + 1) * ${target}L)")
              .as("fill_permille"))
          .orderBy("source")
      },
      Some("""WITH f AS (
                SELECT source, -n_chars AS negsz, doc_id, n_chars AS sz
                FROM documents),
              folded AS (
                SELECT source, CAST(COUNT(*) AS BIGINT) AS n_files,
                  CAST(SUM(sz) AS BIGINT) AS total_chars,
                  list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list(CAST(sz AS BIGINT) ORDER BY negsz, doc_id)),
                    (a, x) -> CASE
                      WHEN a % 1000000000 > 0
                           AND a % 1000000000 + x > 16384
                      THEN (a // 1000000000 + 1) * 1000000000 + x
                      ELSE a + x END) AS enc
                FROM f GROUP BY 1)
              SELECT source, n_files, total_chars,
                enc // 1000000000 + 1 AS n_bins,
                total_chars * 1000 // ((enc // 1000000000 + 1) * 16384)
                  AS fill_permille
              FROM folded ORDER BY source""")),

    // ── Benford first-digit audit ────────────────────────────────────────
    // The classic faked-data / unit-mixup detector for any money or
    // count column: census of the FIRST significant digit of
    // o_totalprice vs Benford's expected log10(1+1/d). Digit extraction
    // is string-based (integer→text is exact in both engines; double
    // formatting and log10-of-double near powers of 10 are NOT), the
    // expected shares are fixed 10⁻⁵ literals summing to exactly 100000,
    // and the deviation |cnt·10⁵ − exp·N| stays exact-integer; the only
    // IEEE op is one division per digit row. One partial+final agg to 9
    // rows — nothing downstream scales with the fact table.
    Q("q_benford",
      (s, dir) => {
        // guard: first-digit extraction is only meaningful for values
        // >= 1 (sub-1 yields digit 0, negatives break the oracle's
        // CAST('-')); TPC-H prices are always >= 1 so the filter is
        // free here, but the op is pitched as a generic money audit
        val digits = t(s, dir, "orders")
          .filter(col("o_totalprice") >= 1)
          .select(substring(floor(col("o_totalprice")).cast("long")
            .cast("string"), 1, 1).cast("long").as("digit"))
          .groupBy("digit").agg(count(lit(1)).cast("long").as("cnt"))
        val expE5 = typedLit(Map(1L -> 30103L, 2L -> 17609L, 3L -> 12494L,
          4L -> 9691L, 5L -> 7918L, 6L -> 6695L, 7L -> 5799L, 8L -> 5115L,
          9L -> 4576L))
        digits
          .crossJoin(digits.agg(sum(col("cnt")).as("n")))
          .select(col("digit"), col("cnt"),
            expE5(col("digit")).as("exp_e5"),
            abs(col("cnt") * 100000L - expE5(col("digit")) * col("n"))
              .cast("long").as("dev_e5"),
            (col("cnt").cast("double") / col("n").cast("double")).as("share"))
          .orderBy("digit")
      },
      Some("""WITH d AS (
                SELECT CAST(SUBSTRING(CAST(CAST(FLOOR(o_totalprice) AS BIGINT)
                    AS VARCHAR), 1, 1) AS BIGINT) AS digit,
                  CAST(COUNT(*) AS BIGINT) AS cnt
                FROM orders WHERE o_totalprice >= 1 GROUP BY 1),
              e AS (SELECT * FROM (VALUES (1, 30103), (2, 17609), (3, 12494),
                  (4, 9691), (5, 7918), (6, 6695), (7, 5799), (8, 5115),
                  (9, 4576)) AS t(digit, exp_e5)),
              nn AS (SELECT SUM(cnt) AS n FROM d)
              SELECT d.digit, d.cnt, CAST(e.exp_e5 AS BIGINT) AS exp_e5,
                CAST(ABS(d.cnt * 100000 - e.exp_e5 * nn.n) AS BIGINT)
                  AS dev_e5,
                CAST(d.cnt AS DOUBLE) / CAST(nn.n AS DOUBLE) AS share
              FROM d JOIN e ON d.digit = e.digit, nn
              ORDER BY d.digit""")),

    // ── second-digit Benford audit (forensic round-number detector) ─────
    // The standard follow-up when q_benford's first digit passes:
    // fabricated or round-number-biased figures often survive the
    // first-digit test and fail the SECOND (prices ending .99, manual
    // entries snapping to 0/5). Expected P(d₂=d) = Σ_{k=1..9}
    // log10(1 + 1/(10k+d)) — transcendental, so the ten probabilities
    // are PINNED ×10⁵ literals computed once offline and interpolated
    // into BOTH engines (the q_spectral_power discipline); deviations
    // stay exact integers at the 10⁵ scale. Values < 10 have no second
    // digit and are excluded on both sides. One scan → 10-row census.
    Q("q_benford_second",
      (s, dir) => {
        val digits = t(s, dir, "orders")
          .filter(col("o_totalprice") >= 10)
          .select(substring(floor(col("o_totalprice")).cast("long")
            .cast("string"), 2, 1).cast("long").as("digit"))
          .groupBy("digit").agg(count(lit(1)).cast("long").as("cnt"))
        val expE5 = typedLit(Map(0L -> 11968L, 1L -> 11389L, 2L -> 10882L,
          3L -> 10433L, 4L -> 10031L, 5L -> 9668L, 6L -> 9337L,
          7L -> 9035L, 8L -> 8757L, 9L -> 8500L))
        digits
          .crossJoin(digits.agg(sum(col("cnt")).as("n")))
          .select(col("digit"), col("cnt"),
            expE5(col("digit")).as("exp_e5"),
            abs(col("cnt") * 100000L - expE5(col("digit")) * col("n"))
              .cast("long").as("dev_e5"),
            (col("cnt").cast("double") / col("n").cast("double"))
              .as("share"))
          .orderBy("digit")
      },
      Some("""WITH d AS (
                SELECT CAST(SUBSTRING(CAST(CAST(FLOOR(o_totalprice)
                    AS BIGINT) AS VARCHAR), 2, 1) AS BIGINT) AS digit,
                  CAST(COUNT(*) AS BIGINT) AS cnt
                FROM orders WHERE o_totalprice >= 10 GROUP BY 1),
              e AS (SELECT * FROM (VALUES (0, 11968), (1, 11389),
                  (2, 10882), (3, 10433), (4, 10031), (5, 9668),
                  (6, 9337), (7, 9035), (8, 8757), (9, 8500))
                  AS t(digit, exp_e5)),
              nn AS (SELECT SUM(cnt) AS n FROM d)
              SELECT d.digit, d.cnt, CAST(e.exp_e5 AS BIGINT) AS exp_e5,
                CAST(ABS(d.cnt * 100000 - e.exp_e5 * nn.n) AS BIGINT)
                  AS dev_e5,
                CAST(d.cnt AS DOUBLE) / CAST(nn.n AS DOUBLE) AS share
              FROM d JOIN e ON d.digit = e.digit, nn
              ORDER BY d.digit""")),

    // ── boilerplate template mining: top-5 leading 4-grams per source ────
    // The curation lens that catches TEMPLATED content (scraped footers,
    // form letters, generated boilerplate) before any dedup pass: the
    // most frequent leading-4-token "templates" per source, ranked by
    // document count. One corpus pass collapses docs to a (source,
    // template) census (row-local prefix slice — no explode); the top-5
    // cut rides RangeRank's 2-pass range-partitioned rank, because the
    // census is corpus-sized in the worst case (every doc a distinct
    // template) while the group key has ~5 values — exactly the
    // few-group/scaling-frame shape a plain window would funnel through
    // 5 tasks. Ties pinned (n_docs DESC, template ASC); counts exact.
    Q("q_template_mining",
      (s, dir) => {
        val census = t(s, dir, "documents")
          .select(col("source"),
            array_join(slice(split(col("text"), " "), 1, 4), " ")
              .as("template"))
          .groupBy("source", "template")
          .agg(count(lit(1)).as("n_docs"))
        RangeRank.ranked(census, groupCols = Seq("source"),
            sortCols = Seq(col("n_docs").desc, col("template")),
            rnName = "pos", nName = None)
          .filter(col("pos") <= 5)
          .select(col("source"), col("pos"), col("template"), col("n_docs"))
          .orderBy("source", "pos")
      },
      Some("""WITH census AS (
                SELECT source,
                  array_to_string(list_slice(string_split(text, ' '), 1, 4),
                    ' ') AS template,
                  count(*) AS n_docs
                FROM documents GROUP BY 1, 2),
              r AS (
                SELECT source, template, n_docs,
                  CAST(row_number() OVER (PARTITION BY source
                    ORDER BY n_docs DESC, template) AS BIGINT) AS pos
                FROM census)
              SELECT source, pos, template, CAST(n_docs AS BIGINT) AS n_docs
              FROM r WHERE pos <= 5 ORDER BY source, pos""")),

    // ── Jensen–Shannon drift (fourth drift lens) ─────────────────────────
    // Per source: the JS divergence between its language distribution P
    // and the corpus distribution Q — symmetric and bounded (≤ ln 2)
    // where KL is neither, the lens monitoring dashboards actually plot.
    // Same catalog-bounded (source, lang) census as tvd/chi2; the dense
    // grid includes zero-P cells (0·ln(0/m) ≡ 0 dropped explicitly, the
    // Q-side term survives); both per-source sums are position-pinned
    // sorted folds over the ≤|langs| cells. The census is persisted —
    // it feeds the grid, both marginals, AND the scalar n (the r4
    // drift-family discipline). The readout rounds to 12 decimals: with
    // ~2·|sources|·|langs| ln calls per query, JVM Math.log and DuckDB's
    // libm ln disagree by 1 ulp on a few inputs (measured: 3/20 rows at
    // sf0.01) — the pinned fold can't fix a transcendental's last bit,
    // and 1e-12 is far below the statistic's meaningful precision.
    Q("q_js_drift",
      (s, dir) => {
        val census = t(s, dir, "documents")
          .groupBy("source", "lang").agg(count(lit(1)).as("c"))
          .persist()
        val n = census.agg(sum(col("c"))).head.getLong(0)
        val perSrc = census.groupBy("source").agg(sum(col("c")).as("ns"))
        val perLang = census.groupBy("lang").agg(sum(col("c")).as("nl"))
        val cells = perSrc.crossJoin(perLang)
          .join(census, Seq("source", "lang"), "left")
          .select(col("source"), col("lang"), col("ns"),
            (coalesce(col("c"), lit(0L)).cast("double")
              / col("ns").cast("double")).as("pp"),
            (col("nl").cast("double") / lit(n.toDouble)).as("q"))
          .select(col("source"), col("lang"), col("ns"),
            (when(col("pp") > 0,
              col("pp") * log(col("pp")
                / ((col("pp") + col("q")) / 2))).otherwise(lit(0.0))
              + col("q") * log(col("q")
                / ((col("pp") + col("q")) / 2))).as("term"))
        cells
          .groupBy(col("source"), col("ns").cast("long").as("n_docs"))
          .agg(round(expr(
            """aggregate(array_sort(collect_list(struct(lang, term))),
                 CAST(0 AS DOUBLE), (a, x) -> a + x.term)""") / 2, 12)
            .as("js"))
          .orderBy("source")
      },
      Some("""WITH census AS (
                SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS c
                FROM documents GROUP BY 1, 2),
              nn AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM census),
              ps AS (SELECT source, CAST(SUM(c) AS BIGINT) AS ns
                     FROM census GROUP BY 1),
              pl AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS nl
                     FROM census GROUP BY 1),
              cells AS (
                SELECT ps.source, pl.lang, ps.ns,
                  CAST(COALESCE(ce.c, 0) AS DOUBLE) / CAST(ps.ns AS DOUBLE)
                    AS pp,
                  CAST(pl.nl AS DOUBLE) / CAST(nn.n AS DOUBLE) AS q
                FROM ps CROSS JOIN pl
                  LEFT JOIN census ce
                    ON ps.source = ce.source AND pl.lang = ce.lang, nn),
              terms AS (
                SELECT source, ns, lang,
                  (CASE WHEN pp > 0
                     THEN pp * ln(pp / ((pp + q) / 2)) ELSE 0.0 END
                   + q * ln(q / ((pp + q) / 2))) AS term
                FROM cells)
              SELECT source, ns AS n_docs,
                round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                  list(term ORDER BY lang)), (a, x) -> a + x) / 2, 12) AS js
              FROM terms GROUP BY 1, 2 ORDER BY source""")),

    // ── effective sample size of the length-weighted mix ─────────────────
    // Kish's ESS = (Σw)²/Σw² per source with doc length as the weight —
    // the diagnostic that says how many EQUAL-WEIGHT docs a weighted
    // mixing scheme is really worth (heavy-tailed lengths collapse it).
    // ONE census pass; both sums exact (Σw int64, Σw² in DECIMAL(38,0) —
    // past int64 at ~10B chars²-weighted docs); FP only in the two
    // final divisions.
    Q("q_effective_sample_size",
      (s, dir) =>
        t(s, dir, "documents")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sw"),
            sum(col("n_chars").cast(DecimalType(38, 0))
              * col("n_chars").cast(DecimalType(38, 0))).as("sw2"))
          .select(col("source"), col("n_docs").cast("long").as("n_docs"),
            ((col("sw").cast("double") * col("sw").cast("double"))
              / col("sw2").cast("double")).as("ess"))
          .select(col("source"), col("n_docs"), col("ess"),
            (col("ess") / col("n_docs").cast("double")).as("ess_ratio"))
          .orderBy("source"),
      Some("""WITH m AS (
                SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                  CAST(SUM(n_chars) AS BIGINT) AS sw,
                  SUM(CAST(n_chars AS HUGEINT) * CAST(n_chars AS HUGEINT))
                    AS sw2
                FROM documents GROUP BY 1),
              e AS (
                SELECT source, n_docs,
                  (CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE))
                    / CAST(sw2 AS DOUBLE) AS ess
                FROM m)
              SELECT source, n_docs, ess,
                ess / CAST(n_docs AS DOUBLE) AS ess_ratio
              FROM e ORDER BY source""")),

    // ── blocklist lexicon audit (safety-filtering census) ────────────────
    // Per (source, blocked term): occurrence count and distinct-doc
    // count — the audit a safety pipeline runs before deciding whether a
    // term warrants doc-level filtering. Word-level membership (explode
    // on the tokenizer's split), NOT regex — identical semantics in both
    // engines with no engine-specific word-boundary rules. The filtered
    // token stream is persisted: it feeds both the occurrence census and
    // the distinct-doc census, and it is hit-sized (≪ corpus) by the
    // IN-list pushdown, so the corpus explode runs once.
    Q("q_lexicon_hits",
      (s, dir) => {
        val lex = Seq("slow", "leak", "drop", "crash")
        val hits = t(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            explode(split(col("text"), " ")).as("tok"))
          .filter(col("tok").isin(lex: _*))
          .persist()
        hits.groupBy("source", "tok")
          .agg(count(lit(1)).as("n_occur"),
            countDistinct(col("doc_id")).as("n_docs"))
          .select(col("source"), col("tok"),
            col("n_occur").cast("long").as("n_occur"),
            col("n_docs").cast("long").as("n_docs"))
          .orderBy("source", "tok")
      },
      Some("""WITH toks AS (
                SELECT doc_id, source,
                  unnest(string_split(text, ' ')) AS tok
                FROM documents),
              hits AS (
                SELECT * FROM toks
                WHERE tok IN ('slow', 'leak', 'drop', 'crash'))
              SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS n_occur,
                CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
              FROM hits GROUP BY 1, 2 ORDER BY source, tok""")),

    // ── per-source corpus report card ────────────────────────────────────
    // The one-stop data card: volume, mean length, language entropy, and
    // exact-dup share per source — the summary a dataset release ships.
    // ONE corpus scan: the projected base (source, lang, n_chars,
    // md5(text)) is persisted and three bounded censuses derive from the
    // cache (volume/length, language mix, hash multiplicity); everything
    // after is catalog-sized joins. Language entropy is a pinned sorted
    // fold per source (the chi2Finish discipline); all other FP is
    // per-row division at the tail.
    Q("q_corpus_report",
      (s, dir) => {
        val base = t(s, dir, "documents")
          .select(col("source"), col("lang"), col("n_chars"),
            md5(col("text")).as("h"))
          .persist()
        val vol = base.groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"))
        val langs = base.groupBy("source", "lang")
          .agg(count(lit(1)).as("c"))
        val wSrc = Window.partitionBy("source")
        val ent = langs
          .select(col("source"), col("lang"), col("c"),
            sum(col("c")).over(wSrc).cast("long").as("n"))
          // 12-decimal per-lang terms: the q_js_drift libm-ln discipline
          .select(col("source"), col("lang"),
            round(-(col("c").cast("double") / col("n").cast("double"))
              * log(col("c").cast("double") / col("n").cast("double")), 12)
              .as("term"))
          .groupBy("source")
          .agg(round(expr(
            """aggregate(array_sort(collect_list(struct(lang, term))),
                 CAST(0 AS DOUBLE), (a, x) -> a + x.term)"""), 12)
            .as("lang_entropy"),
            count(lit(1)).cast("long").as("n_langs"))
        val dups = base.groupBy("source", "h").agg(count(lit(1)).as("c"))
          .groupBy("source")
          .agg(sum(col("c")).as("nd"), count(lit(1)).as("nu"))
          .select(col("source"),
            ((col("nd") - col("nu")).cast("double") / col("nd").cast("double"))
              .as("dup_share"))
        vol.join(ent, "source").join(dups, "source")
          .select(col("source"), col("n_docs").cast("long").as("n_docs"),
            (col("chars").cast("double") / col("n_docs").cast("double"))
              .as("avg_len"),
            col("n_langs"), col("lang_entropy"), col("dup_share"))
          .orderBy("source")
      },
      Some("""WITH base AS (
                SELECT source, lang, n_chars, md5(text) AS h
                FROM documents),
              vol AS (
                SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                  CAST(SUM(n_chars) AS BIGINT) AS chars
                FROM base GROUP BY 1),
              langs AS (
                SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS c
                FROM base GROUP BY 1, 2),
              ent AS (
                SELECT source,
                  round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(round(-(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
                         * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)), 12)
                         ORDER BY lang)), (a, x) -> a + x), 12)
                    AS lang_entropy,
                  CAST(COUNT(*) AS BIGINT) AS n_langs
                FROM (SELECT source, lang, c,
                        CAST(SUM(c) OVER (PARTITION BY source) AS BIGINT) AS n
                      FROM langs)
                GROUP BY 1),
              hc AS (
                SELECT source, h, CAST(COUNT(*) AS BIGINT) AS c
                FROM base GROUP BY 1, 2),
              dups AS (
                SELECT source,
                  CAST(SUM(c) - COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE)
                    AS dup_share
                FROM hc GROUP BY 1)
              SELECT vol.source, vol.n_docs,
                CAST(vol.chars AS DOUBLE) / CAST(vol.n_docs AS DOUBLE)
                  AS avg_len,
                ent.n_langs, ent.lang_entropy, dups.dup_share
              FROM vol JOIN ent ON vol.source = ent.source
                JOIN dups ON vol.source = dups.source
              ORDER BY vol.source""")),

    // ── per-source exact-dup collapse rate ───────────────────────────────
    // The dedup-stage scorecard per feed: how many docs each source
    // contributes vs how many distinct texts — the collapse rate a
    // curation run reports before and after ingest changes. ONE
    // hash-partitioned agg (distinct md5 partial-aggregates per
    // source); output is catalog-bounded. The rate is one IEEE
    // division of exact counts.
    Q("q_dedup_rate_by_source",
      (s, dir) => t(s, dir, "documents")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(md5(col("text"))).as("n_unique"))
        .select(col("source"), col("n_docs"), col("n_unique"),
          (lit(1.0) - col("n_unique").cast("double")
            / col("n_docs").cast("double")).as("dup_rate"))
        .orderBy("source"),
      Some("""SELECT source, count(*) AS n_docs,
                CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique,
                1.0 - CAST(count(DISTINCT md5(text)) AS DOUBLE) / count(*)
                  AS dup_rate
              FROM documents GROUP BY 1 ORDER BY source""")),

    // ── quality-gate pipeline accounting ─────────────────────────────────
    // The end-to-end filter chain a curation run EXECUTES, accounted by
    // first-failing reason: non-English → lang_fail, length outside the
    // [100, 400]-char band → len_fail, exact-dup loser (not its hash
    // group's min id) → dup_fail, else pass. One md5 census join (the
    // q_dedup_exact shape) + row-local CASE classification + one
    // partial+final agg to the sources × 4 census. Precedence is part
    // of the contract — a doc failing two gates counts once, so the
    // reason columns sum to n_docs exactly.
    Q("q_quality_gate",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val keep = docs.groupBy(md5(col("text")).as("h"))
          .agg(min(col("doc_id")).as("keep_id"))
        docs.select(col("doc_id"), col("source"), col("lang"),
            col("n_chars"), md5(col("text")).as("h"))
          .join(keep, "h")
          .select(col("source"),
            when(col("lang") =!= "en", "lang_fail")
              .when(col("n_chars") < 100 || col("n_chars") > 400, "len_fail")
              .when(col("doc_id") =!= col("keep_id"), "dup_fail")
              .otherwise("pass").as("gate"))
          .groupBy("source", "gate")
          .agg(count(lit(1)).as("n_docs"))
          .orderBy("source", "gate")
      },
      Some("""WITH keep AS (
                SELECT md5(text) AS h, min(doc_id) AS keep_id
                FROM documents GROUP BY 1),
              g AS (
                SELECT source,
                  CASE WHEN lang <> 'en' THEN 'lang_fail'
                       WHEN n_chars < 100 OR n_chars > 400 THEN 'len_fail'
                       WHEN doc_id <> keep_id THEN 'dup_fail'
                       ELSE 'pass' END AS gate
                FROM documents JOIN keep ON md5(text) = keep.h)
              SELECT source, gate, count(*) AS n_docs
              FROM g GROUP BY 1, 2 ORDER BY source, gate""")),

    // ── token-count histogram (log₂ buckets per source) ──────────────────
    // The length-distribution lens a packing/budget stage reads: docs
    // bucketed by the bit length of their token count (the
    // q_degree_stats fold), per source. Row-local token count → ONE
    // partial+final agg; output bounded by sources × ~64 buckets.
    Q("q_token_histogram",
      (s, dir) => t(s, dir, "documents")
        .select(col("source"),
          size(filter(split(col("text"), " "), x => x =!= ""))
            .cast("long").as("n_toks"))
        .select(col("source"),
          length(bin(greatest(col("n_toks"), lit(1L)))).cast("long")
            .as("bucket"), col("n_toks"))
        .groupBy("source", "bucket")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_toks")).as("n_tokens"),
          min(col("n_toks")).as("min_toks"),
          max(col("n_toks")).as("max_toks"))
        .orderBy("source", "bucket"),
      Some("""WITH d AS (
                SELECT source,
                  CAST(len(list_filter(string_split(text, ' '),
                    x -> x <> '')) AS BIGINT) AS n_toks
                FROM documents)
              SELECT source,
                CAST(length(bin(greatest(n_toks, 1))) AS BIGINT) AS bucket,
                count(*) AS n_docs,
                CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
                CAST(MIN(n_toks) AS BIGINT) AS min_toks,
                CAST(MAX(n_toks) AS BIGINT) AS max_toks
              FROM d GROUP BY 1, 2 ORDER BY source, bucket""")),

    // ── boilerplate prefix duplication ───────────────────────────────────
    // Header/template detection: docs whose first-8-token prefix is
    // shared with at least one other doc. The prefix is a row-local
    // slice (never an n-gram fan-out); the class census is one
    // hash-partitioned agg; the per-source readout rejoins the
    // persisted projection co-partitioned on the prefix key.
    Q("q_doc_prefix_dup",
      (s, dir) => {
        val pre = t(s, dir, "documents")
          .select(col("source"),
            array_join(slice(split(col("text"), " "), 1, 8), " ")
              .as("prefix"))
          .persist()
        val cls = pre.groupBy("prefix").agg(count(lit(1)).as("class_n"))
        pre.join(cls, "prefix")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("class_n") >= 2, 1L).otherwise(0L))
              .as("n_shared_prefix"),
            countDistinct(col("prefix")).cast("long").as("n_prefixes"))
          .select(col("source"), col("n_docs"), col("n_shared_prefix"),
            col("n_prefixes"),
            (col("n_shared_prefix").cast("double")
              / col("n_docs").cast("double")).as("boilerplate_share"))
          .orderBy("source")
      },
      Some("""WITH pre AS (
                SELECT source,
                  array_to_string(list_slice(string_split(text, ' '), 1, 8),
                    ' ') AS prefix
                FROM documents),
              cls AS (SELECT prefix, CAST(count(*) AS BIGINT) AS class_n
                      FROM pre GROUP BY 1)
              SELECT source, count(*) AS n_docs,
                CAST(SUM(CASE WHEN class_n >= 2 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_shared_prefix,
                CAST(count(DISTINCT pre.prefix) AS BIGINT) AS n_prefixes,
                CAST(SUM(CASE WHEN class_n >= 2 THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*) AS boilerplate_share
              FROM pre JOIN cls ON pre.prefix = cls.prefix
              GROUP BY 1 ORDER BY source""")),

    // ── train/val/test split balance audit ──────────────────────────────
    // Is q_dataset_split's residue-rule split lang-representative? Per
    // split, the max absolute deviation of any language's share from
    // its corpus share. ONE (split, lang) census, persisted — split
    // totals, lang totals and the corpus total all derive from it
    // (census-over-census, zero rescans); deviations are IEEE
    // subtractions of exact-count divisions.
    Q("q_split_balance",
      (s, dir) => {
        val bucket = expr(
          "pmod((doc_id % 2147483648) * 2654435761, 4294967296) % 100")
        val cells = t(s, dir, "documents")
          .select(when(bucket < 80, "train").when(bucket < 90, "val")
            .otherwise("test").as("split"), col("lang"))
          .groupBy("split", "lang").agg(count(lit(1)).as("n"))
          .persist()
        val spl = cells.groupBy("split").agg(sum(col("n")).as("n_split"))
        val lng = cells.groupBy("lang").agg(sum(col("n")).as("n_lang"))
        val tot = cells.agg(sum(col("n")).as("n_all"))
        cells.join(spl, "split").join(lng, "lang")
          .crossJoin(broadcast(tot))
          .select(col("split"), col("n_split"),
            abs(col("n").cast("double") / col("n_split").cast("double")
              - col("n_lang").cast("double") / col("n_all").cast("double"))
              .as("dev"))
          .groupBy("split")
          .agg(max(col("n_split")).cast("long").as("n_docs"),
            count(lit(1)).cast("long").as("n_langs"),
            max(col("dev")).as("max_abs_dev"))
          .orderBy("split")
      },
      Some("""WITH cells AS (
                SELECT CASE WHEN ((doc_id % 2147483648) * 2654435761
                             % 4294967296 + 4294967296) % 4294967296
                             % 100 < 80 THEN 'train'
                       WHEN ((doc_id % 2147483648) * 2654435761
                             % 4294967296 + 4294967296) % 4294967296
                             % 100 < 90 THEN 'val'
                       ELSE 'test' END AS split,
                  lang, CAST(count(*) AS BIGINT) AS n
                FROM documents GROUP BY 1, 2),
              spl AS (SELECT split, CAST(SUM(n) AS BIGINT) AS n_split
                      FROM cells GROUP BY 1),
              lng AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS n_lang
                      FROM cells GROUP BY 1),
              tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_all FROM cells),
              dev AS (
                SELECT cells.split, n_split,
                  abs(CAST(n AS DOUBLE) / CAST(n_split AS DOUBLE)
                    - CAST(n_lang AS DOUBLE) / CAST(n_all AS DOUBLE))
                    AS dev
                FROM cells JOIN spl ON cells.split = spl.split
                  JOIN lng ON cells.lang = lng.lang, tot)
              SELECT split, CAST(MAX(n_split) AS BIGINT) AS n_docs,
                CAST(count(*) AS BIGINT) AS n_langs,
                MAX(dev) AS max_abs_dev
              FROM dev GROUP BY 1 ORDER BY split""")),

    // ── length-filter impact curve ───────────────────────────────────────
    // Curation planning: if we purge docs shorter than N tokens, how
    // much of the corpus (docs AND token mass) survives, at N = 20/30/
    // 50? ONE corpus pass to the per-length census (bounded by the
    // length vocabulary); the three cut evaluations are census ×
    // 3-literal joins — exact integers to the one share division.
    Q("q_filter_impact_curve",
      (s, dir) => {
        val cen = t(s, dir, "documents")
          .select(size(filter(split(col("text"), " "), x => x =!= ""))
            .cast("long").as("len"))
          .groupBy("len").agg(count(lit(1)).as("n_docs"))
          .select(col("len"), col("n_docs"),
            (col("len") * col("n_docs")).as("toks"))
          .persist()
        val tot = cen.agg(sum(col("n_docs")).as("all_docs"),
          sum(col("toks")).as("all_toks"))
        val cuts = cen.sparkSession.range(1)
          .select(explode(array(lit(20L), lit(30L), lit(50L))).as("cut"))
        cen.crossJoin(broadcast(cuts))
          .filter(col("len") >= col("cut"))
          .groupBy("cut")
          .agg(sum(col("n_docs")).cast("long").as("docs_kept"),
            sum(col("toks")).cast("long").as("tokens_kept"))
          .crossJoin(broadcast(tot))
          .select(col("cut").as("min_tokens"), col("docs_kept"),
            col("tokens_kept"),
            (col("docs_kept").cast("double") / col("all_docs").cast("double"))
              .as("doc_share"),
            (col("tokens_kept").cast("double")
              / col("all_toks").cast("double")).as("token_share"))
          .orderBy("min_tokens")
      },
      Some("""WITH cen AS (
                SELECT CAST(len(list_filter(string_split(text, ' '),
                    x -> x <> '')) AS BIGINT) AS len,
                  CAST(count(*) AS BIGINT) AS n_docs
                FROM documents GROUP BY 1),
              c2 AS (SELECT len, n_docs, len * n_docs AS toks FROM cen),
              tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS all_docs,
                        CAST(SUM(toks) AS BIGINT) AS all_toks FROM c2),
              cuts AS (SELECT unnest([20, 30, 50]) AS cut),
              kept AS (
                SELECT cut, CAST(SUM(n_docs) AS BIGINT) AS docs_kept,
                  CAST(SUM(toks) AS BIGINT) AS tokens_kept
                FROM c2, cuts WHERE len >= cut GROUP BY 1)
              SELECT CAST(cut AS BIGINT) AS min_tokens, docs_kept,
                tokens_kept,
                CAST(docs_kept AS DOUBLE) / CAST(all_docs AS DOUBLE)
                  AS doc_share,
                CAST(tokens_kept AS DOUBLE) / CAST(all_toks AS DOUBLE)
                  AS token_share
              FROM kept, tot ORDER BY min_tokens""")),

    // ── two-way interaction effects (lang × source on doc length) ───────
    // The two-way ANOVA interaction readout q_anova's one-way test
    // can't see: per (lang, source) cell, the length deviation not
    // explained by the lang and source main effects (cell − lang −
    // source + grand). ONE persisted (lang, source) moment census; all
    // four means are exact-integer divisions, the interaction three
    // IEEE subtractions — bit-stable in both engines.
    Q("q_interaction_effects",
      (s, dir) => {
        val cells = t(s, dir, "documents")
          .groupBy("lang", "source")
          .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("s"))
          .persist()
        val perLang = cells.groupBy("lang")
          .agg((sum(col("s")).cast("double") / sum(col("n")).cast("double"))
            .as("m_lang"))
        val perSrc = cells.groupBy("source")
          .agg((sum(col("s")).cast("double") / sum(col("n")).cast("double"))
            .as("m_src"))
        val grand = cells.agg(
          (sum(col("s")).cast("double") / sum(col("n")).cast("double"))
            .as("m_all"))
        cells.join(perLang, "lang").join(perSrc, "source")
          .crossJoin(broadcast(grand))
          .select(col("lang"), col("source"), col("n").cast("long").as("n"),
            (col("s").cast("double") / col("n").cast("double"))
              .as("cell_mean"),
            (col("s").cast("double") / col("n").cast("double")
              - col("m_lang") - col("m_src") + col("m_all"))
              .as("interaction"))
          .orderBy("lang", "source")
      },
      Some("""WITH cells AS (
                SELECT lang, source, CAST(count(*) AS BIGINT) AS n,
                  CAST(SUM(n_chars) AS BIGINT) AS s
                FROM documents GROUP BY 1, 2),
              pl AS (SELECT lang,
                       CAST(SUM(s) AS DOUBLE) / CAST(SUM(n) AS DOUBLE)
                         AS m_lang
                     FROM cells GROUP BY 1),
              ps AS (SELECT source,
                       CAST(SUM(s) AS DOUBLE) / CAST(SUM(n) AS DOUBLE)
                         AS m_src
                     FROM cells GROUP BY 1),
              g AS (SELECT CAST(SUM(s) AS DOUBLE) / CAST(SUM(n) AS DOUBLE)
                      AS m_all FROM cells)
              SELECT cells.lang, cells.source, n,
                CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS cell_mean,
                CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                  - m_lang - m_src + m_all AS interaction
              FROM cells JOIN pl ON cells.lang = pl.lang
                JOIN ps ON cells.source = ps.source, g
              ORDER BY cells.lang, cells.source""")),

    // ── doc-length shape moments per source (skewness + kurtosis) ───────
    // The distribution-shape audit beyond mean/sd: per source, g1
    // skewness and excess kurtosis of doc length from ONE partial+final
    // agg carrying four exact power sums (Σx³/Σx⁴ ride DECIMAL(38,0)/
    // HUGEINT; the per-row x⁴ product stays in int64 for x ≤ ~5·10⁴ —
    // comfortably above any n_chars this column carries, and BOTH
    // engines error loudly rather than drift past it); every
    // downstream op is IEEE arithmetic on identical integers.
    Q("q_length_moments",
      (s, dir) => t(s, dir, "documents")
        .select(col("source"), col("n_chars").as("x"))
        .groupBy("source")
        .agg(count(lit(1)).as("n"),
          sum(col("x")).as("s1"),
          sum((col("x") * col("x")).cast(DecimalType(38, 0))).as("s2"),
          sum((col("x") * col("x") * col("x")).cast(DecimalType(38, 0)))
            .as("s3"),
          sum((col("x") * col("x") * col("x") * col("x"))
            .cast(DecimalType(38, 0))).as("s4"))
        .select(col("source"), col("n"),
          col("s1").cast("double").as("s1d"),
          col("s2").cast("double").as("s2d"),
          col("s3").cast("double").as("s3d"),
          col("s4").cast("double").as("s4d"))
        .select(col("source"), col("n"),
          (col("s1d") / col("n")).as("mean"),
          (col("s2d") / col("n") - (col("s1d") / col("n"))
            * (col("s1d") / col("n"))).as("variance"),
          col("s3d"), col("s4d"), col("s1d"), col("s2d"))
        .select(col("source"), col("n"), col("mean"),
          ((col("s3d") / col("n") - lit(3.0) * col("mean")
            * (col("s2d") / col("n")) + lit(2.0) * col("mean")
            * col("mean") * col("mean"))
            / (sqrt(col("variance")) * col("variance"))).as("skewness"),
          ((col("s4d") / col("n")
            - lit(4.0) * col("mean") * (col("s3d") / col("n"))
            + lit(6.0) * col("mean") * col("mean") * (col("s2d") / col("n"))
            - lit(3.0) * col("mean") * col("mean") * col("mean")
              * col("mean"))
            / (col("variance") * col("variance")) - lit(3.0))
            .as("excess_kurtosis"))
        .orderBy("source"),
      Some("""WITH m AS (
                SELECT source, count(*) AS n,
                  CAST(SUM(n_chars) AS DOUBLE) AS s1d,
                  CAST(SUM(CAST(n_chars * n_chars AS HUGEINT)) AS DOUBLE)
                    AS s2d,
                  CAST(SUM(CAST(n_chars * n_chars * n_chars AS HUGEINT))
                    AS DOUBLE) AS s3d,
                  CAST(SUM(CAST(n_chars * n_chars * n_chars * n_chars
                    AS HUGEINT)) AS DOUBLE) AS s4d
                FROM documents GROUP BY 1),
              mm AS (
                SELECT source, n, s1d / n AS mean,
                  s2d / n - (s1d / n) * (s1d / n) AS variance,
                  s1d, s2d, s3d, s4d
                FROM m)
              SELECT source, n, mean,
                (s3d / n - 3.0 * mean * (s2d / n)
                  + 2.0 * mean * mean * mean)
                  / (sqrt(variance) * variance) AS skewness,
                (s4d / n - 4.0 * mean * (s3d / n)
                  + 6.0 * mean * mean * (s2d / n)
                  - 3.0 * mean * mean * mean * mean)
                  / (variance * variance) - 3.0 AS excess_kurtosis
              FROM mm ORDER BY source""")),

    // ── per-document χ² anomaly vs the corpus letter profile ────────────
    // Which docs are statistically unlike the corpus (encoding junk,
    // wrong language, template noise)? χ² of each doc's a–z letter
    // counts against the corpus profile, folded to a band histogram.
    // The stream collapses ONCE to the (doc, letter) census (persisted:
    // the ≤26-row corpus profile and the per-doc terms both read it).
    // Absent letters enter via the identity χ² = n_d + Σ_present
    // ((c−e)²/e − e) — NO dense doc×alphabet grid is materialized.
    // Terms are 6-dec rounded, letter-pinned per doc (a ≤26-item
    // fold); the band is an integer floor both engines share.
    Q("q_doc_anomaly_chi2",
      (s, dir) => {
        val wd = Window.partitionBy("doc_id")
        val cen = t(s, dir, "documents")
          .select(col("doc_id"),
            explode(split(lower(col("text")), "")).as("ch"))
          .filter(col("ch").rlike("^[a-z]$"))
          .groupBy("doc_id", "ch")
          .agg(count(lit(1)).cast("long").as("c"))
          .persist()
        val prof = cen.groupBy("ch")
          .agg(sum(col("c")).cast("long").as("cc"))
          .crossJoin(broadcast(
            cen.agg(sum(col("c")).cast("long").as("nn"))))
          .select(col("ch"),
            (col("cc").cast("double") / col("nn").cast("double"))
              .as("p"))
        cen
          .withColumn("n_d", sum(col("c")).over(wd).cast("long"))
          .join(broadcast(prof), "ch")
          .select(col("doc_id"), col("n_d"),
            round((col("c").cast("double")
              - col("n_d").cast("double") * col("p"))
              * (col("c").cast("double")
                - col("n_d").cast("double") * col("p"))
              / (col("n_d").cast("double") * col("p"))
              - col("n_d").cast("double") * col("p"), 6).as("term"),
            col("ch"))
          .groupBy("doc_id")
          .agg(max(col("n_d")).as("n_d"),
            expr("""aggregate(array_sort(collect_list(struct(ch, term))),
                    CAST(0 AS DOUBLE), (a, x) -> a + x.term)""")
              .as("fold"))
          .select(col("doc_id"),
            floor(round(col("n_d").cast("double") + col("fold"), 6)
              / 10.0).cast("long").as("band"))
          .groupBy("band")
          .agg(count(lit(1)).cast("long").as("n_docs"))
          .orderBy("band")
      },
      Some("""WITH ch AS (
                SELECT doc_id, substring(lower(text), i, 1) AS ch
                FROM documents,
                  UNNEST(generate_series(1, length(text))) AS t(i)),
              cen AS (
                SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS c
                FROM ch
                WHERE regexp_matches(ch, '^[a-z]$')
                GROUP BY 1, 2),
              prof AS (
                SELECT ch,
                  CAST(SUM(c) AS DOUBLE)
                    / (SELECT CAST(SUM(c) AS DOUBLE) FROM cen) AS p
                FROM cen GROUP BY 1),
              nd AS (
                SELECT doc_id, ch, c,
                  CAST(SUM(c) OVER (PARTITION BY doc_id) AS BIGINT) AS n_d
                FROM cen),
              terms AS (
                SELECT doc_id, n_d, ch,
                  round((CAST(c AS DOUBLE) - CAST(n_d AS DOUBLE) * p)
                    * (CAST(c AS DOUBLE) - CAST(n_d AS DOUBLE) * p)
                    / (CAST(n_d AS DOUBLE) * p)
                    - CAST(n_d AS DOUBLE) * p, 6) AS term
                FROM nd JOIN prof USING (ch)),
              chi AS (
                SELECT doc_id,
                  CAST(floor(round(CAST(MAX(n_d) AS DOUBLE)
                    + list_reduce(list_prepend(CAST(0 AS DOUBLE),
                      list(term ORDER BY ch)), (a, x) -> a + x), 6)
                    / 10.0) AS BIGINT) AS band
                FROM terms GROUP BY 1)
              SELECT band, CAST(count(*) AS BIGINT) AS n_docs
              FROM chi GROUP BY 1 ORDER BY band""")),

    // ── DP contribution bounding: clip-threshold sweep ──────────────────
    // The differential-privacy data-prep readout: if per-user
    // contributions are clipped at k, how much signal survives and how
    // many users are touched? The stream collapses ONCE to the
    // per-user count census (persisted; every threshold reads it);
    // the 6-row threshold panel broadcasts; retained = Σ min(n_u, k)
    // stays an exact long, the share is one IEEE division.
    Q("q_contribution_clipping",
      (s, dir) => {
        val cen = t(s, dir, "events")
          .groupBy("user_id")
          .agg(count(lit(1)).cast("long").as("n_u"))
          .persist()
        val ks = cen.sparkSession.range(0, 6)
          .select(expr("shiftleft(CAST(1 AS BIGINT), CAST(id AS INT))")
            .cast("long").as("k"))
        cen.crossJoin(broadcast(ks))
          .groupBy("k")
          .agg(count(lit(1)).cast("long").as("n_users"),
            sum(col("n_u")).cast("long").as("total_events"),
            sum(least(col("n_u"), col("k"))).cast("long")
              .as("retained_events"),
            sum(when(col("n_u") > col("k"), 1L).otherwise(0L))
              .cast("long").as("clipped_users"))
          .select(col("k"), col("n_users"), col("total_events"),
            col("retained_events"), col("clipped_users"),
            when(col("total_events") === 0, lit(null).cast("double"))
              .otherwise(col("retained_events").cast("double")
                / col("total_events").cast("double"))
              .as("retained_share"))
          .orderBy("k")
      },
      Some("""WITH cen AS (
                SELECT user_id, CAST(count(*) AS BIGINT) AS n_u
                FROM events GROUP BY 1),
              ks AS (
                SELECT CAST(k AS BIGINT) AS k
                FROM UNNEST([1, 2, 4, 8, 16, 32]) AS t(k))
              SELECT k, CAST(count(*) AS BIGINT) AS n_users,
                CAST(SUM(n_u) AS BIGINT) AS total_events,
                CAST(SUM(LEAST(n_u, k)) AS BIGINT) AS retained_events,
                CAST(SUM(CASE WHEN n_u > k THEN 1 ELSE 0 END) AS BIGINT)
                  AS clipped_users,
                CASE WHEN SUM(n_u) = 0 THEN NULL
                  ELSE CAST(SUM(LEAST(n_u, k)) AS DOUBLE)
                    / CAST(SUM(n_u) AS DOUBLE) END AS retained_share
              FROM cen, ks GROUP BY 1 ORDER BY k""")),

    // ── sampling-temperature mix (α = 0.5) over sources ─────────────────
    // The multilingual-corpus rebalancing rule p_s ∝ c_s^α with
    // α = 0.5 — the one temperature that is CROSS-ENGINE EXACT
    // (√ of an exact integer is correctly rounded IEEE in both
    // engines; fractional powers via exp/ln are not — the q_bleu
    // lesson). ONE agg to the per-source char-count census (≤sources
    // rows); the normalizer is a source-pinned fold of 12-dec terms;
    // effective upsampling = p_s/share_s is row-local IEEE.
    Q("q_temperature_mix",
      (s, dir) => {
        val cen = t(s, dir, "documents")
          .groupBy("source")
          .agg(count(lit(1)).cast("long").as("n_docs"),
            sum(col("n_chars")).cast("long").as("chars"))
          .withColumn("sq", round(sqrt(col("chars").cast("double")), 12))
          .persist()
        val z = cen.agg(
          expr("""aggregate(array_sort(collect_list(struct(source, sq))),
                  CAST(0 AS DOUBLE), (a, x) -> a + x.sq)""").as("z"),
          sum(col("chars")).cast("long").as("tot"))
        cen.crossJoin(broadcast(z))
          .select(col("source"), col("n_docs"), col("chars"),
            round(col("sq") / col("z"), 12).as("p_sample"),
            round((col("sq") / col("z"))
              / (col("chars").cast("double") / col("tot").cast("double")),
              12).as("upsample_factor"))
          .orderBy("source")
      },
      Some("""WITH cen AS (
                SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                  CAST(SUM(n_chars) AS BIGINT) AS chars
                FROM documents GROUP BY 1),
              sq AS (
                SELECT source, n_docs, chars,
                  round(sqrt(CAST(chars AS DOUBLE)), 12) AS sq
                FROM cen),
              z AS (
                SELECT CAST(SUM(chars) AS BIGINT) AS tot,
                  list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(sq ORDER BY source)), (a, x) -> a + x) AS z
                FROM sq)
              SELECT source, n_docs, chars,
                round(sq / z, 12) AS p_sample,
                round((sq / z) / (CAST(chars AS DOUBLE)
                  / CAST(tot AS DOUBLE)), 12) AS upsample_factor
              FROM sq, z ORDER BY source""")),

    // ── length-bucketed batching vs fixed-context padding ───────────────
    // The batching-policy readout q_token_budget's fixed-512 plan can't
    // give: assign each doc to the smallest power-of-two bucket in
    // [128, 2048] that fits (docs past 2048 split into 2048-token
    // chunks) and compare total padded slots against the fixed-512
    // policy. Pure integer arithmetic per row (CASE ladder + ceil-div),
    // partial-agg census per source, one division for the savings
    // share. The decision this feeds: is dynamic batching worth the
    // bucketing complexity on THIS corpus?
    Q("q_length_buckets",
      (s, dir) => t(s, dir, "documents")
        .select(col("source"),
          size(split(col("text"), " ")).cast("long").as("n_tok"))
        .select(col("source"), col("n_tok"),
          expr("""CASE WHEN n_tok <= 128 THEN 128
                 WHEN n_tok <= 256 THEN 256
                 WHEN n_tok <= 512 THEN 512
                 WHEN n_tok <= 1024 THEN 1024
                 WHEN n_tok <= 2048 THEN 2048
                 ELSE ((n_tok + 2047) div 2048) * 2048 END""")
            .as("bucketed"),
          expr("((n_tok + 511) div 512) * 512").as("fixed512"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).cast("long").as("n_tokens"),
          sum(col("bucketed")).cast("long").as("bucketed_slots"),
          sum(col("fixed512")).cast("long").as("fixed512_slots"))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          col("bucketed_slots"), col("fixed512_slots"),
          round(lit(1.0) - col("bucketed_slots").cast("double")
            / col("fixed512_slots").cast("double"), 12)
            .as("savings_share"))
        .orderBy("source"),
      Some("""WITH d AS (
                SELECT source,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
                FROM documents),
              b AS (
                SELECT source, n_tok,
                  CASE WHEN n_tok <= 128 THEN 128
                    WHEN n_tok <= 256 THEN 256
                    WHEN n_tok <= 512 THEN 512
                    WHEN n_tok <= 1024 THEN 1024
                    WHEN n_tok <= 2048 THEN 2048
                    ELSE ((n_tok + 2047) // 2048) * 2048 END AS bucketed,
                  ((n_tok + 511) // 512) * 512 AS fixed512
                FROM d)
              SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
                CAST(SUM(bucketed) AS BIGINT) AS bucketed_slots,
                CAST(SUM(fixed512) AS BIGINT) AS fixed512_slots,
                round(1.0 - CAST(SUM(bucketed) AS DOUBLE)
                  / CAST(SUM(fixed512) AS DOUBLE), 12) AS savings_share
              FROM b GROUP BY 1 ORDER BY source"""))
  )
}
