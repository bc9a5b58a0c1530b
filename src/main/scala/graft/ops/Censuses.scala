package graft.ops

import graft.Tables
import graft.Q._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared VALUE-CENSUS artifacts — the sufficient statistics behind the
  * rank/dispersion/two-sample battery, built ONCE per (session, dir)
  * and localCheckpoint-pinned (the Artifacts train-once contract, same
  * as the graph edge table and the wedge/Sen/BLEU cores).
  *
  * Every census is an [[Artifacts.pinned]] frame: its builder returns
  * the lazy frame, and the pin builds it in an [[Artifacts.scoped]]
  * block and checkpoints it there. The plain caches a build makes on
  * the way — `RangeRank.ranked`'s range-partitioned persist is the big
  * one — belong to that block and are unpersisted when the checkpoint
  * is done, so only the checkpoint survives the build. A block owns only
  * the caches it created, so a build running next to another build or
  * a query does not release theirs.
  *
  * The shape every consumer shares: collapse a fact table to its exact
  * (group, value) count census — one scan, one shuffle — then finish
  * rank statistics on census rows only. Round 11 proved the pattern on
  * the two-sample family (ModelEval.ansariCounts); round 12 hoists the
  * census itself into an artifact so the N queries that start from the
  * SAME census (J-T, Cuzick, Gini mean difference, trimmed/winsorized
  * means, quartile dispersion, double-MAD, the seven ansariCounts
  * finishes) pay the corpus scan once per session instead of once per
  * query. At 100 TB the census is bounded by the value domain (cents
  * of a bounded price range — ~10⁷ rows), so the pinned artifact is
  * executor-memory-safe at any corpus size.
  */
object Censuses {

  /** The (o_orderpriority, total-price cents) count census — exact,
    * bounded by |priorities| × |distinct cents|. Consumers derive their
    * own view row-locally: urgent-vs-rest (c1, c2) pooled columns for
    * the two-sample family, g = leading priority digit for the ordered
    * trend tests, the ungrouped (v, c) census for the order-value
    * dispersion battery.
    */
  val priorityCents = Artifacts.pinned { (s, dir) =>
    Tables.load(s, dir, "orders")
      .select(col("o_orderpriority").as("p"),
        (dec2(col("o_totalprice")) * 100).cast("long").as("v"))
      .groupBy("p", "v")
      .agg(count(lit(1)).cast("long").as("c"))
  }

  /** Urgent-vs-rest pooled view of [[priorityCents]] — the EXACT frame
    * `ModelEval.ansariCounts(orders)` computes from the raw corpus (the
    * streaming twin keeps building it from the live stream; batch
    * queries read it off the shared artifact).
    */
  def ansariCountsOf(s: SparkSession, dir: String): DataFrame =
    priorityCents(s, dir)
      .groupBy("v")
      .agg(sum(when(col("p").isin("1-URGENT", "2-HIGH"), col("c"))
          .otherwise(0L)).cast("long").as("c1"),
        sum(when(col("p").isin("1-URGENT", "2-HIGH"), lit(0L))
          .otherwise(col("c"))).cast("long").as("c2"))

  /** Ungrouped (v, c) order-value census — [[priorityCents]] summed
    * over the priority alphabet, pinned separately because its
    * consumers (the order-value dispersion battery) read it several
    * times per query.
    */
  val orderCents = Artifacts.pinned { (s, dir) =>
    priorityCents(s, dir)
      .groupBy("v")
      .agg(sum(col("c")).cast("long").as("c"))
  }

  /** Pinned per-score census over events — the ranking-quality
    * battery's sufficient statistic ([[ModelEval.scoreCensus]]): the
    * AUC / PR-curve / KS / DeLong finishes all read this one artifact;
    * the streaming twin builds the identical frame as Complete-mode
    * state from the live stream.
    *
    * Scale caveat (r12 ADVICE): unlike the cents censuses above, this
    * one is DISTINCT-SCORE-sized — for a continuous score it
    * approaches data size, so the bounded-by-the-value-domain claim in
    * the file doc holds only under a bounded/discretized score domain
    * (true of the synthetic corpus's value column; at 100 TB a
    * continuous score must be quantized — e.g. to 1e-6 — before this
    * artifact is pinned, the standard fixed-grid AUC practice). Also
    * note localCheckpoint blocks are lost (query-fatal, recompute
    * impossible) on executor death — acceptable for a session-scoped
    * bench artifact, whereas a production deployment would
    * `checkpoint()` to reliable storage.
    */
  val scoreCensus = Artifacts.pinned { (s, dir) =>
    ModelEval.scoreCensus(Tables.load(s, dir, "events"))
  }

  /** Pinned (source, n_chars) document-length census — the drift
    * battery's sufficient statistic ([[Curation.ksCounts]]): the KS /
    * Kuiper / CvM / Wasserstein drift lenses all read this one
    * artifact (the streaming twin builds the identical frame live).
    */
  val ksCounts = Artifacts.pinned { (s, dir) =>
    Curation.ksCounts(Tables.load(s, dir, "documents"))
      .select(col("source"), col("v"), col("c").cast("long").as("c"))
  }

  /** The bounded (quantity, thousand-dollar price bucket) grid census
    * over lineitem (≤ 50 × ~110 cells at any corpus size), pinned —
    * the bivariate-association family's shared sufficient statistic:
    * Hoeffding's D, Kendall τ-b and Somers' D all finish off this ONE
    * build.
    */
  val quantityBucket = Artifacts.pinned { (s, dir) =>
    Tables.load(s, dir, "lineitem")
      .select(col("l_quantity").cast("long").as("x"),
        (dec2(col("l_extendedprice")) * 100).cast("long").as("cents"))
      .select(col("x"), expr("cents div 100000").as("y"))
      .groupBy("x", "y")
      .agg(count(lit(1)).cast("long").as("c"))
  }

  /** The word-5-gram shingle table over documents, pinned: (doc_id,
    * source, sh) — one row per shingle INSTANCE (multiset, not
    * distinct). The boilerplate/overlap lenses (q_substring_dup,
    * q_source_overlap) both start from exactly this fan-out; round 13
    * hoists it into the session artifact a production dedup pipeline
    * persists anyway (the shingle index is a materialized dataset per
    * corpus version — at 100 TB it lives as a bucketed table on
    * storage; the memory pin is the local[32] stand-in, ~5 rows per
    * corpus token).
    */
  val shingles5 = Artifacts.pinned { (s, dir) =>
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        expr("filter(split(text, ' '), x -> x <> '')").as("toks"))
      .select(col("doc_id"), col("source"), explode(expr(
        """transform(
             CASE WHEN size(toks) >= 5 THEN sequence(1, size(toks) - 4)
                  ELSE array() END,
             i -> concat_ws(' ', slice(toks, i, 5)))""")).as("sh"))
  }

  /** Global (sh, cnt) multiplicity census over [[shingles5]], pinned —
    * the duplicate-shingle lookup side of the boilerplate lens.
    */
  val shingleCensus5 = Artifacts.pinned { (s, dir) =>
    shingles5(s, dir)
      .groupBy("sh")
      .agg(count(lit(1)).as("cnt"))
  }

  /** Per-language character-trigram census (lang, tri, cnt), pinned —
    * the language-fingerprint sufficient statistic (vocabulary-sized
    * under Heaps' law, sublinear in the corpus).
    */
  val charTrigrams = Artifacts.pinned { (s, dir) =>
    Tables.load(s, dir, "documents")
      // CASE guard: sequence(1, n) with n < 1 DESCENDS in Spark
      // (DuckDB's generate_series returns empty)
      .select(col("lang"), explode(expr(
        """CASE WHEN length(text) >= 3
           THEN transform(sequence(1, length(text) - 2),
                  i -> substring(text, i, 3))
           ELSE array() END""")).as("tri"))
      .groupBy("lang", "tri")
      .agg(count(lit(1)).as("cnt"))
  }

  /** Per-source word-trigram census (source, g, c), pinned — the
    * vocabulary-growth/hapax sufficient statistic.
    */
  val wordTrigrams = Artifacts.pinned { (s, dir) =>
    Tables.load(s, dir, "documents")
      .select(col("source"), split(col("text"), " ").as("toks"))
      .select(col("source"), explode(expr(
        """CASE WHEN size(toks) >= 3
           THEN transform(sequence(0, size(toks) - 3),
                  i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))
           ELSE array() END""")).as("g"))
      .groupBy("source", "g")
      .agg(count(lit(1)).as("c"))
  }

  /** [[ansariCountsOf]] with its exclusive value-order prefix sums
    * attached and pinned: (v, c1, c2, off1, off2) where off_i =
    * Σ c_i over strictly smaller values. Round 13: every two-sample
    * finish (Ansari / Lepage / CvM / Watson / BWS / Cucconi / Fligner–
    * Policello / Brunner–Munzel / energy distance) derives its
    * midranks, placements and integrated-ECDF masses ROW-LOCALLY from
    * these two prefixes, so after the one pinned RangeRank pass per
    * session each test statistic is a single census-sized agg — no
    * per-query range shuffle. Same memory bound as the census itself
    * (two extra longs per row).
    */
  val rankedAnsari = Artifacts.pinned { (s, dir) =>
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    RangeRank.ranked(
      ansariCountsOf(s, dir).withColumn("g", lit(1L)),
      Seq("g"), Seq(col("v")),
      rnName = "__rn", nName = None,
      prefixSums = Seq(RangeRank.PrefixSum(col("c1"), "off1"),
        RangeRank.PrefixSum(col("c2"), "off2"),
        // exclusive VALUE-MASS prefixes (Σ v·c_i over smaller
        // values, DECIMAL(38,0)) — the pairwise-|Δ| decompositions
        // (energy distance, Gini-form cross masses) read them
        // row-locally
        RangeRank.PrefixSum(col("v").cast(dec38) * col("c1"), "vs1"),
        RangeRank.PrefixSum(col("v").cast(dec38) * col("c2"), "vs2")))
      .select(col("v"), col("c1").cast("long").as("c1"),
        col("c2").cast("long").as("c2"),
        col("off1").cast("long").as("off1"),
        col("off2").cast("long").as("off2"),
        col("vs1").cast(dec38).as("vs1"),
        col("vs2").cast(dec38).as("vs2"))
  }

  /** [[orderCents]] with its exclusive count prefix and total pinned:
    * (v, c, off, n) where off = Σ c over strictly smaller values and n
    * is the corpus row count (constant column — the value at rank k is
    * the row with off < k ≤ off + c, so a pick is ONE filter over this
    * artifact). The order-value dispersion battery (median CI, double
    * MAD, weighted selections) reads picks off this frame instead of
    * re-running per-query rank machinery.
    */
  val rankedOrderCents = Artifacts.pinned { (s, dir) =>
    val cen = orderCents(s, dir)
    // n = Σ multiplicity (the expanded multiset size) — NOT
    // ranked()'s census-row count
    val tot = cen.agg(sum(col("c")).cast("long").as("n"))
    RangeRank.ranked(
      cen.withColumn("g", lit(1L)),
      Seq("g"), Seq(col("v")),
      rnName = "__rn", nName = None,
      prefixSums = Seq(RangeRank.PrefixSum(col("c"), "off")))
      .crossJoin(broadcast(tot))
      .select(col("v"), col("c").cast("long").as("c"),
        col("off").cast("long").as("off"), col("n"))
  }

  /** [[priorityCents]] with per-priority exclusive prefixes pinned:
    * (p, v, c, off, vs, n) — off = Σ c and vs = Σ v·c (DECIMAL(38,0))
    * over strictly smaller values WITHIN the priority, n = the
    * priority's total multiplicity. Grouped value-at-rank picks and
    * exact prefix-sums-at-rank (trimmed / winsorized sums) read off
    * this one artifact row-locally.
    */
  val rankedPriorityCents = Artifacts.pinned { (s, dir) =>
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val cen = priorityCents(s, dir)
    // n = Σ multiplicity per priority — NOT ranked()'s census-row
    // count
    val tot = cen.groupBy(col("p").as("__tp"))
      .agg(sum(col("c")).cast("long").as("n"))
    RangeRank.ranked(
      cen,
      Seq("p"), Seq(col("v")),
      rnName = "__rn", nName = None,
      prefixSums = Seq(RangeRank.PrefixSum(col("c"), "off"),
        RangeRank.PrefixSum(col("v").cast(dec38) * col("c"), "vs")))
      .join(broadcast(tot), col("p") === col("__tp"))
      .select(col("p"), col("v"), col("c").cast("long").as("c"),
        col("off").cast("long").as("off"),
        col("vs").cast(dec38).as("vs"), col("n"))
  }

  /** [[flagPrice]] with per-flag exclusive count prefix and total
    * pinned: (f, v, c, off, n). The MAD family's median picks become
    * single filters over this artifact.
    */
  val rankedFlagPrice = Artifacts.pinned { (s, dir) =>
    val cen = flagPrice(s, dir)
    // n = Σ multiplicity per flag — NOT ranked()'s census-row count
    val tot = cen.groupBy(col("f").as("__tf"))
      .agg(sum(col("c")).cast("long").as("n"))
    RangeRank.ranked(
      cen,
      Seq("f"), Seq(col("v")),
      rnName = "__rn", nName = None,
      prefixSums = Seq(RangeRank.PrefixSum(col("c"), "off")))
      .join(broadcast(tot), col("f") === col("__tf"))
      .select(col("f"), col("v"), col("c").cast("long").as("c"),
        col("off").cast("long").as("off"), col("n"))
  }

  /** The second ordinal grid (r13 §21 seed): (priority digit,
    * thousand-dollar total-price bucket) over orders — ≤ 5 × ~600
    * cells at any corpus size. Where [[quantityBucket]]'s marginals
    * are comparably sized, this grid is deliberately ASYMMETRIC
    * (5 priority levels vs hundreds of price buckets), so the
    * Somers'-D direction pair and the tie-insensitive gamma separate
    * sharply — the shape that distinguishes the three concordance
    * statistics in teaching and in drift monitoring.
    */
  val priorityPriceBucket = Artifacts.pinned { (s, dir) =>
    Tables.load(s, dir, "orders")
      .select(substring(col("o_orderpriority"), 1, 1).cast("long")
          .as("x"),
        (dec2(col("o_totalprice")) * 100).cast("long").as("cents"))
      .select(col("x"), expr("cents div 100000").as("y"))
      .groupBy("x", "y")
      .agg(count(lit(1)).cast("long").as("c"))
  }

  /** The Conover squared-ranks DEVIATION census with prefixes and
    * group totals pinned (the §21 r13 seed): per [[rankedAnsari]]
    * census row, the pooled squared-ranks test ranks the cross-scaled
    * absolute deviations u = |v·n_g − s_g| · n_other (exact
    * DECIMAL(38,0) — both groups land in one comparable integer
    * domain), so the artifact collapses those to their (u, c1, c2)
    * count census, attaches the exclusive prefix sums (off1, off2)
    * and the group totals (n1, n2) as constant columns, and pins the
    * result. q_conover_squared_ranks' finish is then row-local
    * midrank arithmetic plus ONE agg — no per-query deviation build,
    * no per-query rank pass. Same memory bound as the value census.
    */
  val rankedConoverDev = Artifacts.pinned { (s, dir) =>
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val cen0 = rankedAnsari(s, dir)
    val wide = cen0.agg(
        sum(col("c1")).cast("long").as("n1"),
        sum(col("v").cast(dec38) * col("c1")).as("s1"),
        sum(col("c2")).cast("long").as("n2"),
        sum(col("v").cast(dec38) * col("c2")).as("s2"))
      .localCheckpoint(true)
    val census = cen0.crossJoin(broadcast(wide))
      .select(explode(array(
        struct((abs(col("v").cast(dec38) * col("n1") - col("s1"))
          * col("n2")).as("u"), col("c1").as("k1"), lit(0L).as("k2")),
        struct((abs(col("v").cast(dec38) * col("n2") - col("s2"))
          * col("n1")).as("u"), lit(0L).as("k1"), col("c2").as("k2"))))
        .as("x"))
      .groupBy(col("x.u").as("u"))
      .agg(sum(col("x.k1")).cast("long").as("c1"),
        sum(col("x.k2")).cast("long").as("c2"))
      .withColumn("g", lit(1L))
    RangeRank.ranked(census, Seq("g"), Seq(col("u")),
      rnName = "__rn", nName = None,
      prefixSums = Seq(RangeRank.PrefixSum(col("c1"), "off1"),
        RangeRank.PrefixSum(col("c2"), "off2")))
      .crossJoin(broadcast(wide.select("n1", "n2")))
      .select(col("u"), col("c1").cast("long").as("c1"),
        col("c2").cast("long").as("c2"),
        col("off1").cast("long").as("off1"),
        col("off2").cast("long").as("off2"),
        col("n1"), col("n2"))
  }

  /** The brand-basket census, pinned: [[Pairs.census]] over each order's
    * set of part brands (lineitem ⋈ part) with
    * [[Pairs.withMarginals]]' lookups attached — (a, b, n, n_a, n_b,
    * n_all), at most C(25,2) + 25 + 1 rows at any corpus size. The
    * association readouts (q_brand_affinity, q_basket_lift,
    * q_association_metrics) finish row by row on its pair cells.
    */
  val brandBaskets = Artifacts.pinned { (s, dir) =>
    Pairs.withMarginals(Pairs.census(
      Tables.load(s, dir, "lineitem").select("l_orderkey", "l_partkey")
        .join(Tables.load(s, dir, "part").select("p_partkey", "p_brand"),
          col("l_partkey") === col("p_partkey")),
      "l_orderkey", "p_brand"))
  }

  /** The (l_returnflag, l_extendedprice) count census over lineitem —
    * extended prices are exact cent-valued doubles, so grouping on the
    * double is exact. Bounded by |flags| × |distinct prices| (≤ parts ×
    * 50 quantities at any corpus size). Feeds the robust-dispersion
    * battery (MAD) whose selections are value-at-rank picks — census
    * multiplicity replaces raw-row rank counting exactly.
    */
  val flagPrice = Artifacts.pinned { (s, dir) =>
    Tables.load(s, dir, "lineitem")
      .select(col("l_returnflag").as("f"),
        col("l_extendedprice").as("v"))
      .groupBy("f", "v")
      .agg(count(lit(1)).cast("long").as("c"))
  }
}
