package graft.ops

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** LLM-pipeline deduplication over `documents` (SURVEY.md §2.C + north star).
  *
  * The reference's only dedup primitive is the unique-key set
  * (`JobContext.h:24-28`); a content-dedup pipeline at 100 TB needs the
  * full ladder: exact hash → MinHash/LSH banding → SimHash → exact n-gram
  * Jaccard verification. All candidate generation here is bucket-join
  * shaped (explode → shuffle on bucket key → within-bucket pair join):
  * never an all-pairs cross join, so the cost is Σ|bucket|² not N².
  *
  * Determinism: no RNG — MinHash "permutations" are xxhash64 salted with
  * a literal seed; SimHash uses xxhash64 token hashes. Both are fixed
  * functions of the input, so reruns and the driver's re-execution agree.
  */
object Dedup {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** Distinct word 3-gram shingles per document: (doc_id, shingle). */
  private def shingles(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), explode(expr(
        """CASE WHEN size(toks) >= 3
           THEN array_distinct(transform(sequence(0, size(toks) - 3),
                  i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))
           ELSE array() END""")).as("shingle"))

  /** Hashed distinct shingles as a row-local ARRAY per doc: the
    * codegen'd `graft_shingle_hashes` expression hashes the 3 tokens
    * directly (no string materialization; 64-bit collisions are
    * negligible for Jaccard estimation — the string form stays in
    * q_dedup_ngram where the DuckDB oracle needs reproducible shingles).
    * Docs with < 3 tokens produce an empty array and are filtered, same
    * as the round-1 explode form which emitted no rows for them.
    */
  private def shingleHashArrays(s: SparkSession, docs: DataFrame): DataFrame = {
    graft.plans.GraftExtensions.ensureRegistered(s)
    docs
      .select(col("doc_id"),
        call_function("graft_shingle_hashes", split(col("text"), " "), lit(3)).as("shs"))
      .filter(size(col("shs")) > 0)
  }

  private val NumHashes = 32
  private val BandSize = 4 // → 8 bands; P(candidate) = 1-(1-J^4)^8

  /** Document-frequency cap for the exact shared-shingle self-join
    * (q_dedup_ngram): shingles appearing in more than this many documents
    * are dropped from the pipeline (sizes AND join) before the self-join,
    * so no shingle bucket can exceed Cap² pairs. This is the standard
    * stop-shingle filter of n-gram dedup — a corpus-frequent shingle
    * ("in the the") carries no near-dup signal but makes its bucket
    * quadratic; capping it bounds the worst bucket at a constant
    * independent of corpus size. Jaccard is then computed over the
    * capped (rare-shingle) sets in engine and oracle alike.
    */
  val ShingleDfCap = 128

  /** Population cap for LSH band buckets (q_dedup_simhash,
    * q_embed_neardup). Band keys have FIXED cardinality (16-bit simhash
    * bands = 65,536 values; 8-bit hyperplane bands = 256), so without a
    * cap per-band bucket size grows as N/cardinality and the candidate
    * self-join emits Σ|bucket|² ≈ N²/cardinality pairs — quadratic in
    * the corpus. A bucket whose population exceeds the cap is the band
    * analog of a stop-shingle: the band carries no discriminative signal
    * for its members (at high similarity thresholds, true near-dups
    * still co-occur in the OTHER bands), so dropping it bounds the pair
    * join at N·Cap per band — linear — at the cost of recall only for
    * pairs whose every shared band is corpus-hot. Same machinery as
    * [[cappedShingles]]; 256 never triggers at test SFs (worst sf0.1
    * bucket ≈ 8 docs) and caps the blow-up at 100 TB.
    */
  val BandBucketCap = 256

  /** Band rows restricted to buckets with population ≤ cap — the only
    * shape allowed to reach an LSH candidate self-join. Anti-join
    * against the HOT bucket list (population > cap), which is bounded
    * by N/cap rows — broadcastable at any corpus size; the df
    * aggregation is partial-aggregated so a mega-hot bucket never
    * concentrates rows anywhere.
    */
  def cappedBandBuckets(bands: DataFrame, keyCols: Seq[String], cap: Int): DataFrame = {
    val hot = bands.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("pop"))
      .filter(col("pop") > cap)
      .select(keyCols.map(col): _*)
    bands.join(hot, keyCols, "left_anti")
  }

  /** Shingles restricted to those with document frequency ≤ cap — the
    * only shape allowed to reach the shared-shingle self-join.
    *
    * Filtered as an ANTI-join against the HOT list (df > cap), not a
    * join with the rare list: the hot list is bounded by
    * total-occurrences / cap (a few rows at any corpus size, trivially
    * broadcastable), while the rare list is nearly all distinct shingles
    * — corpus-sized. The df aggregation itself is partial-aggregated, so
    * a mega-hot shingle never concentrates rows anywhere.
    */
  def cappedShingles(docs: DataFrame, cap: Int): DataFrame = {
    val sh = shingles(docs)
    val hot = sh.groupBy("shingle")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > cap)
      .select("shingle")
    sh.join(hot, Seq("shingle"), "left_anti").select("doc_id", "shingle")
  }

  /** Shared-shingle pair counts (a < b, inter_sz = #common shingles)
    * over a capped shingle stream — the generation core of
    * q_dedup_ngram, q_containment, and q_dup_clusters.
    *
    * NOT a self-join: one groupBy(shingle) collects each (df-capped, so
    * ≤ cap elements) doc list, and the a<b pairs fan out ROW-LOCALLY
    * from the sorted list — the occurrence stream crosses ONE shuffle
    * instead of the three a self-join needs (two join sides + the pair
    * aggregation gets the pairs directly). Σ|group|² emitted rows are
    * identical either way; the df cap bounds both the group buffer and
    * the worst-case fan-out at cap².
    */
  private def sharedShinglePairs(sh: DataFrame): DataFrame =
    Pairs.fanOut(sh.groupBy("shingle")
        .agg(sort_array(collect_list(col("doc_id"))).as("items"))
        .filter(size(col("items")) >= 2).select("items"))
      .groupBy("a", "b").agg(count(lit(1)).as("inter_sz"))

  /** Shared-shingle pair core (a < b, inter_sz, sz_a, sz_b) over capped
    * shingles — the expensive self-join every exact-similarity consumer
    * (q_dedup_ngram, q_containment, q_dup_clusters via [[ngramPairs]])
    * starts from. Memoized per (session, corpus) as a STORED ARTIFACT,
    * the same contract as [[dupClusters]]' labels: a 100-TB dedup stage
    * computes candidate pairs once per corpus snapshot and every
    * downstream report reads the pair table. localCheckpoint pins the
    * blocks outside the SQL cache so `clearCache()` between queries
    * can't force a silent recompute.
    */
  private val shinglePairCore = Artifacts.pinned { (s, dir) =>
    // shingles are referenced twice (pair gen + sizes) with DIFFERENT
    // downstream partitionings, so exchange reuse alone can't dedupe
    // the shingle pipeline — persist for the build's duration
    val sh = Artifacts.persist(
      cappedShingles(t(s, dir, "documents"), ShingleDfCap))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    sharedShinglePairs(sh)
      .join(sizes.withColumnRenamed("doc_id", "a").withColumnRenamed("n_sh", "sz_a"), Seq("a"))
      .join(sizes.withColumnRenamed("doc_id", "b").withColumnRenamed("n_sh", "sz_b"), Seq("b"))
  }

  /** Filtered exact-Jaccard near-dup pairs (a < b, J ≥ 0.3) over the
    * shared pair core — consumed by q_dedup_ngram and q_dup_clusters.
    */
  private def ngramPairs(s: SparkSession, dir: String): DataFrame =
    shinglePairCore(s, dir)
      .select(col("a"), col("b"), col("inter_sz"),
        (col("sz_a") + col("sz_b") - col("inter_sz")).as("union_sz"),
        (col("inter_sz") / (col("sz_a") + col("sz_b") - col("inter_sz"))).as("jaccard"))
      .filter(col("jaccard") >= 0.3)

  /** DuckDB CTE chain for capped shingles through the shared-shingle
    * pair counts (`pairs(a, b, inter_sz)` + `sizes(doc_id, n_sh)`) —
    * mirrors [[cappedShingles]] + the self-join of [[ngramPairs]].
    */
  private val ShingleBaseCtes: String =
    s"""sh0 AS (
          SELECT doc_id, unnest(list_distinct(
            [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
             for i in generate_series(1, len(toks) - 2)])) AS shingle
          FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
          WHERE len(toks) >= 3),
        rare AS (SELECT shingle FROM sh0 GROUP BY shingle
                 HAVING count(*) <= $ShingleDfCap),
        sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN rare USING (shingle)),
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
        pairs AS (
          SELECT sa.doc_id AS a, sb.doc_id AS b, count(*) AS inter_sz
          FROM sh sa JOIN sh sb
            ON sa.shingle = sb.shingle AND sa.doc_id < sb.doc_id
          GROUP BY 1, 2)"""

  /** DuckDB CTE chain producing the identical filtered pair set as
    * [[ngramPairs]] (ends with `jp(a, b, inter_sz, union_sz, jaccard)`).
    */
  private val NgramCtes: String =
    s"""$ShingleBaseCtes,
        jp AS (
          SELECT p.a, p.b, p.inter_sz,
            (za.n_sh + zb.n_sh - p.inter_sz) AS union_sz,
            p.inter_sz / (za.n_sh + zb.n_sh - p.inter_sz) AS jaccard
          FROM pairs p
            JOIN sizes za ON za.doc_id = p.a
            JOIN sizes zb ON zb.doc_id = p.b
          WHERE p.inter_sz / (za.n_sh + zb.n_sh - p.inter_sz) >= 0.3)"""

  /** Connected components by alternating large-star/small-star rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC '14) — the 100-TB algorithm: O(log² n) rounds on ANY topology
    * (plain min-label propagation needs diameter rounds, unbounded on
    * chain-shaped near-dup graphs). Each round is two partial-agg mins +
    * joins over the canonical (hi > lo) edge set; the driver loop is
    * convergence CONTROL only — data never leaves the cluster.
    *
    * large-star(x): attach every strictly-larger neighbor of x to
    * m = min(Γ(x) ∪ {x}). small-star(x): attach x and its smaller
    * neighbors (bar m itself) to m = min over the smaller neighbors.
    * Fixed point = one star per component, centered at the component
    * minimum; labels read straight off the final edges.
    *
    * Input: edge DataFrame with columns (u, v), any orientation or
    * duplication. Output: (doc_id, rep = component min) for every node
    * incident to an edge.
    */
  def ccStar(edgesIn: DataFrame): DataFrame = {
    // localCheckpoint (not persist): the input pipeline (often an
    // expensive candidate-pair join) must run ONCE — nodes and the
    // canonical edge set both read the materialized blocks — and each
    // round's plan must start from blocks, or 10+ iterations of
    // self-referential lineage overflow the analyzer (and would re-run
    // the whole prefix on any block eviction — unacceptable at 100 TB;
    // on a real cluster swap for reliable checkpoint() to HDFS)
    val base = edgesIn.select(col("u"), col("v")).localCheckpoint(true)
    val nodes = base.select(col("u").as("doc_id"))
      .unionByName(base.select(col("v").as("doc_id")))
      .distinct()
    var edges = base
      .select(greatest(col("u"), col("v")).as("hi"),
        least(col("u"), col("v")).as("lo"))
      .filter(col("hi") =!= col("lo")).distinct().localCheckpoint(false)
    var converged = edges.isEmpty
    var iter = 0
    while (!converged && iter < 25) {
      // large-star: undirected adjacency, per-node min incl. self
      val adj = edges.select(col("hi").as("x"), col("lo").as("n"))
        .unionByName(edges.select(col("lo").as("x"), col("hi").as("n")))
      val mins = adj.groupBy("x").agg(least(min(col("n")), col("x")).as("m"))
      val large = adj.join(mins, "x").filter(col("n") > col("x"))
        .select(col("n").as("hi"), col("m").as("lo"))
        .distinct()
      // small-star over the large-star output (already canonical:
      // lo = m(x) ≤ x < n = hi on every emitted edge)
      val lmins = large.groupBy("hi").agg(min(col("lo")).as("m"))
      val small = large.join(lmins, "hi")
        .filter(col("lo") =!= col("m"))
        .select(col("lo").as("hi"), col("m").as("lo"))
        .unionByName(lmins.select(col("hi"), col("m").as("lo")))
        .distinct().localCheckpoint(false)
      // fixed point when the round leaves the edge set unchanged. Both
      // sides are distinct sets, so "some (hi, lo) carries only one
      // tag" ⟺ sets differ — ONE early-exit control action per round
      // instead of a count + an except
      converged = small.withColumn("t", lit(1L))
        .unionByName(edges.withColumn("t", lit(2L)))
        .groupBy("hi", "lo").agg(countDistinct(col("t")).as("nt"))
        .filter(col("nt") < 2).isEmpty
      edges = small
      iter += 1
    }
    // stars: every hi is labeled by its center lo; centers (and any
    // isolated canonical node) label themselves
    nodes
      .join(edges.select(col("hi").as("doc_id"), col("lo").as("rep")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("rep"), col("doc_id")).as("rep"))
  }

  /** Connected-component labels (doc_id, rep = component min) of the
    * near-dup pair graph via [[ccStar]]. Dup clusters are near-cliques,
    * so the alternating rounds converge in 2-3 iterations here — and
    * unlike plain label propagation, the SAME code survives adversarial
    * chain-of-near-dups topologies at 100 TB.
    *
    * The labels are a STORED ARTIFACT of the pipeline, not a per-query
    * computation: at 100 TB a dedup stage runs candidate-pairs + CC once
    * per corpus snapshot and every downstream consumer (cluster report,
    * survivor emission, lineage audits) reads the label table. The
    * per-(session, corpus) memo below is that contract in miniature —
    * q_dup_clusters pays the pipeline once and q_dedup_survivors reads
    * the same checkpointed labels instead of recomputing ~9 s of shingle
    * joins. The final localCheckpoint pins the labels to materialized
    * blocks (outside the SQL cache, so a `clearCache()` between queries
    * can't force a silent full recompute).
    */
  /** 64-bit LSH band keys from one-pass MinHash signatures: input is
    * [[shingleHashArrays]]'s (doc_id, shs); output one row per (doc_id,
    * band_id, band_hash). Row-local — the signature never crosses a
    * shuffle. Shared by q_dedup_near (corpus self-join) and
    * q_dedup_near_incremental (batch-vs-standing-index probe).
    */
  private def minhashBands(docsArr: DataFrame): DataFrame = {
    val sigs = docsArr.select(col("doc_id"),
      call_function("graft_minhash", col("shs"), lit(NumHashes)).as("sig"))
    val bandCols: Seq[Column] = (0 until NumHashes / BandSize).map { b =>
      val cols = (0 until BandSize).map(i => element_at(col("sig"), b * BandSize + i + 1))
      struct(lit(b).as("band_id"), xxhash64(cols: _*).as("band_hash")).as(s"b$b")
    }
    sigs
      .select(col("doc_id"), explode(array(bandCols: _*)).as("b"))
      .select(col("doc_id"), col("b.band_id"), col("b.band_hash"))
  }

  /** Banded candidate pairs (a < b, n_bands) of the MinHash/LSH pass —
    * the candidate GENERATOR of the composed production dedup path.
    * Public so the recall spec can assert the 100-TB claim directly:
    * these candidates must cover (almost) every pair the exact
    * shared-shingle path emits at J ≥ 0.3.
    */
  def bandCandidates(s: SparkSession, dir: String): DataFrame = {
    val bands = minhashBands(shingleHashArrays(s, t(s, dir, "documents")))
    bands.as("x")
      .join(bands.as("y"),
        col("x.band_id") === col("y.band_id")
          && col("x.band_hash") === col("y.band_hash")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_bands"))
  }

  /** Band candidates + exact-Jaccard verification (the q_dedup_near
    * core): candidates only ever meet their own sorted shingle-hash
    * arrays — the corpus is semi-join-pruned to candidate docs and
    * |A ∩ B| is the codegen'd merge walk, zero explode.
    */
  private def bandVerifiedPairs(s: SparkSession, dir: String): DataFrame = {
    val docsArr = shingleHashArrays(s, t(s, dir, "documents"))
    val cands = bandCandidates(s, dir)
    val candIds = cands.select(col("a").as("doc_id"))
      .unionByName(cands.select(col("b").as("doc_id"))).distinct()
    val arrs = docsArr.join(candIds, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), sort_array(col("shs")).as("sshs"),
        size(col("shs")).cast("long").as("n_sh"))
    cands
      .join(arrs.select(col("doc_id").as("a"), col("sshs").as("sh_a"),
        col("n_sh").as("sz_a")), Seq("a"))
      .join(arrs.select(col("doc_id").as("b"), col("sshs").as("sh_b"),
        col("n_sh").as("sz_b")), Seq("b"))
      .select(col("a"), col("b"), col("n_bands"),
        call_function("graft_sorted_inter", col("sh_a"), col("sh_b"))
          .as("n_common"),
        col("sz_a"), col("sz_b"))
      .select(col("a"), col("b"), col("n_bands"),
        (col("n_common") / (col("sz_a") + col("sz_b") - col("n_common")))
          .as("jaccard"))
  }

  private val dupClusters = Artifacts.pinned { (s, dir) =>
    ccStar(ngramPairs(s, dir).select(col("a").as("u"), col("b").as("v")))
  }

  // ─── standing corpus indexes for incremental dedup ──────────────────
  // The artifact contract the incremental queries describe in prose,
  // made real: the corpus's exact-hash set and MinHash band index live
  // as APPENDABLE parquet directories (the Layout.scala layout-artifact
  // discipline — built once per corpus snapshot, appended per ingest,
  // NEVER rebuilt by a query). appendHashIndex/appendBandIndex are the
  // per-ingest write path; DedupIndexSpec proves append ≡ rebuild.
  // Paths, staleness and cleanup semantics follow the [[Artifacts]]
  // contract: collision-proof hashed+pid tags, Artifacts.invalidate(dir)
  // drops the memos after a mid-session input mutation, index dirs are
  // reaped at JVM exit.

  private def idxTag(dir: String): String = Artifacts.tag(dir)

  /** Distinct md5 content hashes of a document frame — the exact-dedup
    * index rows (the corpus contributes its hash set, never text).
    */
  def contentHashes(docs: DataFrame): DataFrame =
    docs.select(md5(col("text")).as("h")).distinct()

  /** MinHash band rows (doc_id, band_id, band_hash) of a document frame
    * — the near-dedup index rows. Public for the index spec.
    */
  def bandRows(s: SparkSession, docs: DataFrame): DataFrame =
    minhashBands(shingleHashArrays(s, docs))

  /** Per-ingest append path: new index rows land next to the standing
    * ones. Duplicate hash rows across ingests are harmless (every
    * consumer probes with semi/anti-join semantics); band rows are
    * per-doc and ingest batches carry disjoint doc_ids, so band append
    * is an exact rowset union.
    */
  def appendIndex(rows: DataFrame, path: String): Unit =
    rows.write.mode("append").parquet(path)

  /** The standing exact-hash index of `dir`'s corpus slice
    * (doc_id % 10 ≠ 7 — everything that is not today's batch), built
    * once per (JVM, dir) and then only READ. Returns the path.
    */
  private val hashIdxMemo =
    Artifacts.memo[String]()

  def hashIndexPath(s: SparkSession, dir: String): String =
    hashIdxMemo.computeIfAbsent((s, dir), _ => {
      val path = Artifacts.path("dedup-index", idxTag(dir)) + "/hash"
      contentHashes(t(s, dir, "documents").filter(col("doc_id") % 10 =!= 7))
        .write.mode("overwrite").parquet(path)
      path
    })

  /** The standing band index of the same corpus slice — the near-dup
    * analog of [[hashIndexPath]], built once per (JVM, dir).
    */
  private val bandIdxMemo =
    Artifacts.memo[String]()

  def bandIndexPath(s: SparkSession, dir: String): String =
    bandIdxMemo.computeIfAbsent((s, dir), _ => {
      val path = Artifacts.path("dedup-index", idxTag(dir)) + "/bands"
      bandRows(s, t(s, dir, "documents").filter(col("doc_id") % 10 =!= 7))
        .write.mode("overwrite").parquet(path)
      path
    })

  /** DuckDB CTEs shared by the cluster-consuming oracles: undirected
    * edges + transitive closure (`walk`) over the `jp` pair set.
    */
  private val ClusterCtes: String =
    s"""$NgramCtes,
        edges AS (SELECT a AS u, b AS v FROM jp
                  UNION ALL SELECT b, a FROM jp),
        walk(u, r) AS (
          SELECT u, u FROM (SELECT DISTINCT u FROM edges)
          UNION
          SELECT e.u, w.r FROM edges e JOIN walk w ON e.v = w.u)"""

  val queries: Seq[Q] = Seq(

    // ── exact dedup by content hash ──────────────────────────────────────
    // Keep min doc_id per md5(text); dup_cnt counts collapsed copies.
    // At 100 TB this is one hash-partitioned aggregation on a 128-bit key —
    // no sort, no full-text shuffle (only the hash + id move).
    Q("q_dedup_exact",
      (s, dir) => t(s, dir, "documents")
        .groupBy(md5(col("text")).as("h"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("dup_cnt"))
        .select("doc_id", "dup_cnt")
        .orderBy("doc_id"),
      Some("""SELECT min(doc_id) AS doc_id, count(*) AS dup_cnt
              FROM documents GROUP BY md5(text) ORDER BY doc_id""")),

    // ── MinHash + LSH banding near-dup (oracle-exempt: not SQL-shaped) ───
    // shingle-hash array → 32 salted min-signatures via the one-pass
    // `graft_minhash` expression (ROW-LOCAL — the signature never crosses
    // a shuffle; round 1 aggregated 32 mins per doc through an exchange)
    // → 8 banded bucket keys → within-bucket pair join → exact-Jaccard
    // verification of candidates only. The verify join is semi-join-
    // pruned to candidate docs, so shingle re-expansion touches only
    // candidate content.
    Q("q_dedup_near",
      (s, dir) => bandVerifiedPairs(s, dir).orderBy("a", "b"),
      None),

    // ── composed production dedup path: band → exact-verify → J ≥ 0.3 ────
    // (oracle-exempt: MinHash banding is not SQL-shaped; covered by
    // DedupRecallSpec, which measures its recall against the exact
    // q_dedup_ngram pair set, and the determinism gate.) THE pipeline a
    // 100-TB run actually executes: the exact shared-shingle self-join
    // (q_dedup_ngram, measured slope +1.11 — the deliberate stress case)
    // is replaced by banded candidate generation (linear: Σ|band
    // bucket|², buckets bounded by hashing) followed by exact Jaccard on
    // CANDIDATES ONLY. Emits the same (a, b, jaccard ≥ 0.3) shape as the
    // exact path, so it is drop-in; recall is governed by the banding
    // curve P(candidate) = 1 − (1 − J⁴)⁸ and asserted by the spec.
    Q("q_dedup_band_verify",
      (s, dir) => bandVerifiedPairs(s, dir)
        .filter(col("jaccard") >= 0.3)
        .select("a", "b", "jaccard")
        .orderBy("a", "b"),
      None),

    // ── exact n-gram Jaccard near-dup (the verification path, oracled) ───
    // Candidate generation by shared shingle (bucket join on the shingle
    // itself), exact Jaccard from intersection/union counts. Emits pairs
    // with J ≥ 0.3. Shingles with document frequency > ShingleDfCap are
    // dropped BEFORE the self-join (see cappedShingles) so the worst
    // bucket is bounded at Cap² pairs regardless of corpus size; the
    // DuckDB oracle applies the identical cap. At 100 TB the join is
    // additionally preceded by the MinHash pass above (q_dedup_near) so
    // only banded candidates reach it.
    Q("q_dedup_ngram",
      (s, dir) => ngramPairs(s, dir).orderBy("a", "b"),
      Some(s"""WITH $NgramCtes
              SELECT a, b, inter_sz, union_sz, jaccard FROM jp
              ORDER BY a, b""")),

    // ── asymmetric n-gram containment ────────────────────────────────────
    // Catches SUB-document duplication that symmetric Jaccard misses: a
    // short doc wholly quoted inside a long one has J ≈ |A|/|B| (small)
    // but containment(A→B) = |A∩B|/|A| ≈ 1. Same capped-shingle self-join
    // core as q_dedup_ngram (worst bucket ≤ cap²); each undirected pair
    // fans out to its two directions ROW-LOCALLY (explode after the
    // joins), so the asymmetry costs no extra shuffle.
    Q("q_containment",
      (s, dir) => {
        val pairs = shinglePairCore(s, dir)
        pairs.select(explode(array(
            struct(col("a").as("src"), col("b").as("dst"),
              (col("inter_sz") / col("sz_a")).as("containment")),
            struct(col("b").as("src"), col("a").as("dst"),
              (col("inter_sz") / col("sz_b")).as("containment")))).as("e"))
          .select(col("e.src").as("src"), col("e.dst").as("dst"),
            col("e.containment").as("containment"))
          .filter(col("containment") >= 0.5)
          .orderBy("src", "dst")
      },
      Some(s"""WITH $ShingleBaseCtes,
              cp AS (
                SELECT p.a, p.b, p.inter_sz, za.n_sh AS sz_a, zb.n_sh AS sz_b
                FROM pairs p
                  JOIN sizes za ON za.doc_id = p.a
                  JOIN sizes zb ON zb.doc_id = p.b),
              dirs AS (
                SELECT a AS src, b AS dst, inter_sz / sz_a AS containment FROM cp
                UNION ALL
                SELECT b AS src, a AS dst, inter_sz / sz_b AS containment FROM cp)
              SELECT src, dst, containment FROM dirs
              WHERE containment >= 0.5 ORDER BY src, dst""")),

    // ── near-dup clusters: connected components of the pair graph ───────
    // The step every real dedup pipeline needs after pairs: transitive
    // closure into clusters, one canonical representative (min doc_id)
    // per cluster. Iterative min-label propagation as DataFrame rounds —
    // each round is one join + partial-agg min, labels persisted between
    // rounds, converging in ≤ diameter iterations (dup clusters are
    // near-cliques, so 2-3 in practice). The driver-side loop is CONTROL
    // FLOW only (a convergence count per round — the Pregel pattern);
    // data never leaves the cluster. At 100 TB swap plain propagation
    // for the large-star/small-star rounds of Kiveris et al. (same
    // DataFrame shape, O(log n) rounds guaranteed). Oracle: DuckDB
    // recursive CTE computing min reachable id per node.
    Q("q_dup_clusters",
      (s, dir) => dupClusters(s, dir)
        .select(col("doc_id"), col("rep").as("cluster_rep"),
          (col("doc_id") === col("rep")).as("is_rep"))
        .orderBy("doc_id"),
      Some(s"""WITH RECURSIVE $ClusterCtes
              SELECT u AS doc_id, min(r) AS cluster_rep,
                (u = min(r)) AS is_rep
              FROM walk GROUP BY u ORDER BY doc_id""")),

    // ── dup-cluster size histogram (dedup observability) ─────────────────
    // The readout a dedup stage is judged by: how big are the duplicate
    // clusters (many pairs vs a few giant boilerplate blobs drive very
    // different dedup-rate expectations). Reuses the MEMOIZED cluster
    // labels artifact — this query adds two census-sized aggs on top of
    // work q_dup_clusters already paid, nothing corpus-sized runs
    // again. Output bounded by the largest cluster size.
    Q("q_dup_size_hist",
      (s, dir) => dupClusters(s, dir)
        .groupBy(col("rep"))
        .agg(count(lit(1)).as("cluster_size"))
        .groupBy("cluster_size")
        .agg(count(lit(1)).as("n_clusters"))
        .orderBy("cluster_size"),
      Some(s"""WITH RECURSIVE $ClusterCtes,
              clab AS (SELECT u, min(r) AS rep FROM walk GROUP BY u),
              csz AS (SELECT rep, CAST(count(*) AS BIGINT)
                  AS cluster_size
                FROM clab GROUP BY rep)
              SELECT cluster_size, count(*) AS n_clusters
              FROM csz GROUP BY 1 ORDER BY cluster_size""")),

    // ── end-to-end dedup output: the surviving corpus ────────────────────
    // What a dedup stage actually EMITS: one canonical doc per exact-
    // hash group (min doc_id, with its collapse count), minus every
    // near-dup document that lost its cluster election. Composes
    // q_dedup_exact (hash-partitioned agg) with the cluster labels — the
    // anti-join side is only the cluster losers (tiny relative to the
    // corpus), so the corpus never shuffles twice.
    Q("q_dedup_survivors",
      (s, dir) => {
        val exact = t(s, dir, "documents")
          .groupBy(md5(col("text")).as("h"))
          .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("dup_cnt"))
          .select("doc_id", "dup_cnt")
        val losers = dupClusters(s, dir)
          .filter(col("doc_id") =!= col("rep")).select("doc_id")
        exact.join(losers, Seq("doc_id"), "left_anti").orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE $ClusterCtes,
              losers AS (SELECT u FROM walk GROUP BY u HAVING min(r) <> u),
              exact AS (SELECT min(doc_id) AS doc_id, count(*) AS dup_cnt
                        FROM documents GROUP BY md5(text))
              SELECT doc_id, dup_cnt FROM exact
              WHERE doc_id NOT IN (SELECT u FROM losers)
              ORDER BY doc_id""")),

    // ── incremental ingest dedup (batch vs standing corpus) ──────────────
    // The daily-ingest shape global dedup can't serve: a NEW batch
    // (stand-in: doc_id % 10 = 7) dedups within itself (min-id per md5)
    // and against the STANDING corpus via an anti-join on the 128-bit
    // hash — the corpus contributes only its hash set, never text, and
    // only batch-sized data moves through the final join. The corpus
    // hash set is a STORED APPENDABLE ARTIFACT ([[hashIndexPath]],
    // built once per corpus snapshot, appended per ingest via
    // [[appendIndex]] — DedupIndexSpec proves append ≡ rebuild), so
    // each day's cost is |batch| + one hash-partitioned probe; the
    // corpus is never rescanned.
    Q("q_dedup_incremental",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val corpusH = s.read.parquet(hashIndexPath(s, dir))
        docs.filter(col("doc_id") % 10 === 7)
          .groupBy(md5(col("text")).as("h"))
          .agg(min(col("doc_id")).as("doc_id"),
            count(lit(1)).as("n_batch_copies"))
          .join(corpusH, Seq("h"), "left_anti")
          .select("doc_id", "n_batch_copies")
          .orderBy("doc_id")
      },
      Some("""WITH corpus_h AS (
                SELECT DISTINCT md5(text) AS h FROM documents
                WHERE doc_id % 10 <> 7),
              canon AS (
                SELECT md5(text) AS h, min(doc_id) AS doc_id,
                  count(*) AS n_batch_copies
                FROM documents WHERE doc_id % 10 = 7 GROUP BY 1)
              SELECT doc_id, n_batch_copies FROM canon
              WHERE h NOT IN (SELECT h FROM corpus_h)
              ORDER BY doc_id""")),

    // ── incremental NEAR-dup: new batch vs the standing band index ───────
    // (oracle-exempt: MinHash banding is not SQL-shaped.) The daily-
    // ingest twin of q_dedup_near: the batch (doc_id % 10 = 7) computes
    // its own signatures row-locally and PROBES the standing corpus's
    // band index — candidates are batch×corpus band collisions only
    // (never corpus×corpus; the batch never self-joins here — within-
    // batch dups are q_dedup_incremental's exact pass or a batch-local
    // near pass). Exact-Jaccard verify is semi-join-pruned to candidate
    // docs, identical to q_dedup_near. The corpus bands are a STORED
    // APPENDABLE ARTIFACT ([[bandIndexPath]] — built once per corpus
    // snapshot, appended per ingest via [[appendIndex]]; DedupIndexSpec
    // proves append ≡ rebuild). Per-ingest cost: |batch|·bands probe
    // rows against the standing index — the corpus is never rescanned
    // for candidates.
    Q("q_dedup_near_incremental",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val docsArr = shingleHashArrays(s, docs)
        val isBatch = col("doc_id") % 10 === 7
        val corpusBands = s.read.parquet(bandIndexPath(s, dir))
          .withColumnRenamed("doc_id", "corpus_doc")
        val batchBands = minhashBands(docsArr.filter(isBatch))
          .withColumnRenamed("doc_id", "batch_doc")
        val cands = batchBands
          .join(corpusBands, Seq("band_id", "band_hash"))
          .groupBy("batch_doc", "corpus_doc")
          .agg(count(lit(1)).as("n_bands"))
        // exact verify on candidates only, zero explode (the
        // q_dedup_near discipline): pair rows carry both sorted shingle
        // sets, graft_sorted_inter counts |A ∩ B| row-locally
        val candIds = cands.select(col("batch_doc").as("doc_id"))
          .unionByName(cands.select(col("corpus_doc").as("doc_id"))).distinct()
        val arrs = docsArr.join(candIds, Seq("doc_id"), "left_semi")
          .select(col("doc_id"), sort_array(col("shs")).as("sshs"),
            size(col("shs")).cast("long").as("n_sh"))
        cands
          .join(arrs.select(col("doc_id").as("batch_doc"),
            col("sshs").as("sh_b"), col("n_sh").as("sz_b")), Seq("batch_doc"))
          .join(arrs.select(col("doc_id").as("corpus_doc"),
            col("sshs").as("sh_c"), col("n_sh").as("sz_c")), Seq("corpus_doc"))
          .select(col("batch_doc"), col("corpus_doc"), col("n_bands"),
            call_function("graft_sorted_inter", col("sh_b"), col("sh_c"))
              .as("n_common"),
            col("sz_b"), col("sz_c"))
          .select(col("batch_doc"), col("corpus_doc"), col("n_bands"),
            (col("n_common") / (col("sz_b") + col("sz_c") - col("n_common")))
              .as("jaccard"))
          .filter(col("jaccard") >= 0.3)
          .orderBy("batch_doc", "corpus_doc")
      },
      None),

    // ── SimHash near-dup (oracle-exempt: xxhash64 is Spark-specific) ─────
    // 64-bit SimHash per doc via the one-pass `graft_simhash` expression
    // (ROW-LOCAL, zero shuffle — round 1 aggregated 64 signed bit-weight
    // sums through an exchange; bit-identical output, asserted in
    // HashSketchesSpec), banded into 4×16-bit keys; same-band pairs
    // verified by exact Hamming distance ≤ 12 via bit_count(xor).
    Q("q_dedup_simhash",
      (s, dir) => {
        graft.plans.GraftExtensions.ensureRegistered(s)
        val sigs = t(s, dir, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("toks"))
          .filter(size(array_remove(col("toks"), "")) > 0)
          .select(col("doc_id"), call_function("graft_simhash", col("toks")).as("sim"))
        val rawBands = sigs.select(col("doc_id"), col("sim"),
            explode(expr(
              """transform(sequence(0, 3),
                 b -> struct(b AS band_id, shiftright(sim, b * 16) & 65535 AS band_key))""")).as("b"))
          .select(col("doc_id"), col("sim"), col("b.band_id"), col("b.band_key"))
        // 16-bit keys are fixed-cardinality (65,536/band): without the
        // cap the self-join is Σ|bucket|² ≈ N²/2¹⁶ per band — quadratic
        val bands = cappedBandBuckets(rawBands, Seq("band_id", "band_key"), BandBucketCap)
        bands.as("x")
          .join(bands.as("y"),
            col("x.band_id") === col("y.band_id")
              && col("x.band_key") === col("y.band_key")
              && col("x.doc_id") < col("y.doc_id"))
          .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
            bit_count(col("x.sim").bitwiseXOR(col("y.sim"))).cast("long").as("hamming"))
          .distinct()
          .filter(col("hamming") <= 12)
          .orderBy("a", "b")
      },
      None),

    // ── edit-distance verification of near-dup candidates ────────────────
    // The last rung of the dedup ladder: exact character-level Levenshtein
    // over CANDIDATE PAIRS ONLY (the shared shingle pair core, J ≥ 0.3 —
    // never the corpus²). Levenshtein is O(|a|·|b|) per pair, so the whole
    // point is that the quadratic-cost metric runs on the linear-size
    // candidate set; the doc texts are fetched by inner-joining the pair
    // list (candidate ids only — the same semi-join prune as q_dedup_near's
    // verify). edit_sim = (maxlen − dist) / maxlen is one IEEE division of
    // exact integers — bit-stable in both engines. At 100 TB the per-pair
    // cost is additionally capped with Spark's thresholded
    // `levenshtein(l, r, t)` (early-exits the DP at distance > t) — not
    // used here only because the oracle needs the untruncated distance.
    Q("q_dedup_edit",
      (s, dir) => {
        val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
        ngramPairs(s, dir).select("a", "b")
          .join(docs.select(col("doc_id").as("a"), col("text").as("ta")), Seq("a"))
          .join(docs.select(col("doc_id").as("b"), col("text").as("tb")), Seq("b"))
          .select(col("a"), col("b"),
            levenshtein(col("ta"), col("tb")).cast("long").as("edit_dist"),
            greatest(length(col("ta")), length(col("tb"))).cast("long").as("max_len"))
          .select(col("a"), col("b"), col("edit_dist"),
            ((col("max_len") - col("edit_dist")).cast("double") / col("max_len"))
              .as("edit_sim"))
          .filter(col("edit_sim") >= 0.5)
          .orderBy("a", "b")
      },
      Some(s"""WITH $NgramCtes,
              v AS (
                SELECT jp.a, jp.b,
                  CAST(levenshtein(da.text, db.text) AS BIGINT) AS edit_dist,
                  CAST(greatest(len(da.text), len(db.text)) AS BIGINT) AS max_len
                FROM jp
                  JOIN documents da ON da.doc_id = jp.a
                  JOIN documents db ON db.doc_id = jp.b)
              SELECT a, b, edit_dist,
                CAST(max_len - edit_dist AS DOUBLE) / max_len AS edit_sim
              FROM v
              WHERE CAST(max_len - edit_dist AS DOUBLE) / max_len >= 0.5
              ORDER BY a, b""")),

    // ── duplicated-substring coverage (exact substring dedup readout) ────
    // The Lee et al. (2022) "Deduplicating Training Data Makes Language
    // Models Better" signal, in its n-gram form: for every doc, what
    // fraction of its word 5-gram positions is a span that occurs MORE
    // THAN ONCE in the corpus (counting all positions, same-doc repeats
    // included)? Where whole-doc dedup (q_dedup_exact/_near) misses
    // partially-copied boilerplate, this census finds it span by span.
    // Scale shape: shingles explode row-locally, collapse in ONE
    // corpus-sized census keyed by the shingle, and rejoin the exploded
    // frame with an un-hinted hash join on the same key (co-partitioned
    // with the census — no second shuffle of the census side); per-doc
    // rollup is a partial+final agg on doc_id. The suffix-array original
    // finds arbitrary-length spans; fixed-k positions are the standard
    // distributed approximation (any dup span ≥ k words covers a dup
    // k-gram position). All counts exact int64; dup_frac is ONE division.
    Q("q_substring_dup",
      (s, dir) => {
        // round 13: both the shingle instance table and its global
        // multiplicity census are pinned session artifacts
        // ([[Censuses.shingles5]] / [[Censuses.shingleCensus5]]) — the
        // per-query work is one join + one per-doc collapse
        val sh = Censuses.shingles5(s, dir).select("doc_id", "sh")
        val census = Censuses.shingleCensus5(s, dir)
        sh.join(census, Seq("sh"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_shingles"),
            sum(when(col("cnt") > 1L, 1L).otherwise(0L)).as("n_dup"))
          .select(col("doc_id"), col("n_shingles"), col("n_dup"),
            (col("n_dup").cast("double")
              / col("n_shingles").cast("double")).as("dup_frac"))
          .orderBy("doc_id")
      },
      Some("""WITH toks AS (
                SELECT doc_id,
                  list_filter(string_split(text, ' '), x -> x <> '') AS tk
                FROM documents),
              sh AS (
                SELECT doc_id,
                  array_to_string(list_slice(tk, i, i + 4), ' ') AS sh
                FROM (SELECT doc_id, tk,
                        unnest(generate_series(1, len(tk) - 4)) AS i
                      FROM toks WHERE len(tk) >= 5)),
              census AS (
                SELECT sh, CAST(COUNT(*) AS BIGINT) AS cnt
                FROM sh GROUP BY 1)
              SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
                CAST(SUM(CASE WHEN c.cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_dup,
                CAST(SUM(CASE WHEN c.cnt > 1 THEN 1 ELSE 0 END) AS DOUBLE)
                  / CAST(COUNT(*) AS DOUBLE) AS dup_frac
              FROM sh s JOIN census c USING (sh)
              GROUP BY 1 ORDER BY s.doc_id""")),

    // ── cross-source boilerplate overlap (which feeds mirror each other) ─
    // The provenance lens over q_substring_dup's shingle space: for each
    // SOURCE PAIR, how much word-5-gram vocabulary they share (distinct
    // shingle Jaccard). Catches mirrored/scraped feeds that per-doc
    // dedup only discovers pair by pair. Scale shape: ONE distinct
    // (source, shingle) census; per shingle the source set is bounded
    // by the CATALOG (≤ |sources|), so pairs fan out row-locally from
    // collect_set — never a shingle-census self-join (the oracle runs
    // that quadratic-in-df formulation; agreement proves the fan-out).
    // The ≤|sources|-row totals frame is the one legitimate broadcast;
    // Jaccard is ONE division of exact counts.
    Q("q_source_overlap",
      (s, dir) => {
        // round 13: the shingle fan-out reads the pinned
        // [[Censuses.shingles5]] artifact; only the distinct + pair
        // fan-out run per query
        val sh = Censuses.shingles5(s, dir)
          .select(col("source"), col("sh"))
          .distinct()
        val per = sh.groupBy("source").agg(count(lit(1)).as("n"))
        Pairs.fanOut(Pairs.sets(sh, "sh", "source")
            .filter(size(col("items")) >= 2).select("items"))
          .groupBy(col("a").as("src_a"), col("b").as("src_b"))
          .agg(count(lit(1)).as("n_shared"))
          .join(broadcast(per.select(col("source").as("src_a"),
            col("n").as("n_a"))), Seq("src_a"))
          .join(broadcast(per.select(col("source").as("src_b"),
            col("n").as("n_b"))), Seq("src_b"))
          .select(col("src_a"), col("src_b"), col("n_shared"),
            col("n_a"), col("n_b"),
            (col("n_shared").cast("double")
              / (col("n_a") + col("n_b") - col("n_shared")).cast("double"))
              .as("jaccard"))
          .orderBy("src_a", "src_b")
      },
      Some("""WITH toks AS (
                SELECT source,
                  list_filter(string_split(text, ' '), x -> x <> '') AS tk
                FROM documents),
              sh AS (
                SELECT DISTINCT source,
                  array_to_string(list_slice(tk, i, i + 4), ' ') AS sh
                FROM (SELECT source, tk,
                        unnest(generate_series(1, len(tk) - 4)) AS i
                      FROM toks WHERE len(tk) >= 5)),
              per AS (SELECT source, count(*) AS n FROM sh GROUP BY 1),
              pairs AS (
                SELECT a.source AS src_a, b.source AS src_b,
                  count(*) AS n_shared
                FROM sh a JOIN sh b
                  ON a.sh = b.sh AND a.source < b.source
                GROUP BY 1, 2)
              SELECT src_a, src_b, CAST(n_shared AS BIGINT) AS n_shared,
                CAST(pa.n AS BIGINT) AS n_a, CAST(pb.n AS BIGINT) AS n_b,
                CAST(n_shared AS DOUBLE)
                  / CAST(pa.n + pb.n - n_shared AS DOUBLE) AS jaccard
              FROM pairs
                JOIN per pa ON src_a = pa.source
                JOIN per pb ON src_b = pb.source
              ORDER BY src_a, src_b""")),

    // ── cross-shard duplicate audit ──────────────────────────────────────
    // Does the export sharding split duplicate classes across shards?
    // (It should — q_export_shards hashes by doc_id, not content — and
    // this measures exactly how much, the readout a dedupe-before-shard
    // pipeline gate needs.) Class key = md5 of the leading 100 chars
    // (the head fingerprint: catches exact dups AND shared-boilerplate
    // heads, and stays non-degenerate at every test SF where full-text
    // exact dups are rare). One scan → class census with a distinct-
    // shard count, collapsed to the ≤16-row span histogram. Shard id =
    // q_export_shards' masked Knuth hash (overflow-guarded).
    Q("q_cross_shard_dup",
      (s, dir) => t(s, dir, "documents")
        .select(md5(substring(col("text"), 1, 100)).as("h"),
          expr("pmod((doc_id % 2147483648) * 2654435761, 16)").as("shard"))
        .groupBy("h")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("shard")).cast("long").as("n_shards"))
        .filter(col("n_docs") >= 2)
        .groupBy("n_shards")
        .agg(count(lit(1)).as("n_classes"),
          sum(col("n_docs")).cast("long").as("n_dup_docs"))
        .orderBy("n_shards"),
      Some("""WITH cls AS (
                SELECT md5(substring(text, 1, 100)) AS h, count(*) AS n_docs,
                  CAST(count(DISTINCT
                    (((doc_id % 2147483648) * 2654435761 % 16) + 16) % 16)
                    AS BIGINT) AS n_shards
                FROM documents GROUP BY 1 HAVING count(*) >= 2)
              SELECT n_shards, count(*) AS n_classes,
                CAST(SUM(n_docs) AS BIGINT) AS n_dup_docs
              FROM cls GROUP BY 1 ORDER BY n_shards""")),

    // ── candidate-pair Jaccard distribution ─────────────────────────────
    // How selective is the J ≥ 0.3 dedup threshold? The exact-Jaccard
    // histogram over ALL shared-shingle candidate pairs (no filter) —
    // the readout that justifies a threshold choice. Rides the memoized
    // shared pair core (one build per session, q_dedup_ngram's
    // artifact); J is one IEEE division of exact intersect/union
    // counts, so the 0.1-band floor cannot flip between engines.
    Q("q_dup_jaccard_bands",
      (s, dir) => shinglePairCore(s, dir)
        .select((col("inter_sz").cast("double")
          / (col("sz_a") + col("sz_b") - col("inter_sz")).cast("double"))
          .as("j"))
        .groupBy(floor(col("j") * 10).cast("long").as("band"))
        .agg(count(lit(1)).as("n_pairs"),
          min(col("j")).as("min_j"), max(col("j")).as("max_j"))
        .orderBy("band"),
      Some(s"""WITH $ShingleBaseCtes,
              j AS (
                SELECT CAST(inter_sz AS DOUBLE)
                  / CAST(za.n_sh + zb.n_sh - inter_sz AS DOUBLE) AS j
                FROM pairs JOIN sizes za ON pairs.a = za.doc_id
                  JOIN sizes zb ON pairs.b = zb.doc_id)
              SELECT CAST(floor(j * 10) AS BIGINT) AS band,
                count(*) AS n_pairs,
                MIN(j) AS min_j, MAX(j) AS max_j
              FROM j GROUP BY 1 ORDER BY band""")),

    // ── candidate-load histogram (dedup workload shape) ─────────────────
    // How many candidate pairs does each document drag into the exact
    // verify stage? The per-doc candidate-degree log₂ histogram over
    // the memoized shared pair core — the readout that sizes the verify
    // stage's worst task (and shows the ShingleDfCap guard working:
    // the tail is bounded). Both pair endpoints count (row-local
    // explode of the two ids), then two bounded censuses.
    Q("q_dedup_candidate_stats",
      (s, dir) => shinglePairCore(s, dir)
        .select(explode(array(col("a"), col("b"))).as("doc_id"))
        .groupBy("doc_id").agg(count(lit(1)).as("deg"))
        .groupBy(length(bin(col("deg"))).cast("long").as("deg_bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("deg")).cast("long").as("n_pair_slots"),
          max(col("deg")).cast("long").as("max_deg"))
        .orderBy("deg_bucket"),
      Some(s"""WITH $ShingleBaseCtes,
              ends AS (
                SELECT a AS doc_id FROM pairs
                UNION ALL SELECT b AS doc_id FROM pairs),
              deg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS deg
                      FROM ends GROUP BY 1)
              SELECT CAST(length(bin(deg)) AS BIGINT) AS deg_bucket,
                count(*) AS n_docs,
                CAST(SUM(deg) AS BIGINT) AS n_pair_slots,
                CAST(MAX(deg) AS BIGINT) AS max_deg
              FROM deg GROUP BY 1 ORDER BY deg_bucket""")),

    // ── dedup savings readout (what near-dup removal buys) ──────────────
    // The pipeline-planning number: per source, how many docs and what
    // token mass would near-dup dedup remove? Losers come from the
    // memoized connected-components artifact (non-representative
    // cluster members — one pipeline pays for q_dup_clusters,
    // q_dedup_survivors AND this); token counts are a row-local
    // projection; the join is doc_id-keyed.
    Q("q_dedup_savings",
      (s, dir) => {
        val losers = dupClusters(s, dir)
          .filter(col("doc_id") =!= col("rep"))
          .select(col("doc_id"), lit(1L).as("is_loser"))
        t(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            size(filter(split(col("text"), " "), x => x =!= ""))
              .cast("long").as("n_toks"))
          .join(losers, Seq("doc_id"), "left")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(coalesce(col("is_loser"), lit(0L))).cast("long")
              .as("n_removed"),
            sum(col("n_toks")).cast("long").as("tokens_total"),
            sum(col("n_toks") * coalesce(col("is_loser"), lit(0L)))
              .cast("long").as("tokens_saved"))
          .select(col("source"), col("n_docs"), col("n_removed"),
            col("tokens_total"), col("tokens_saved"),
            (col("tokens_saved").cast("double")
              / col("tokens_total").cast("double")).as("savings_share"))
          .orderBy("source")
      },
      Some(s"""WITH RECURSIVE $ClusterCtes,
              losers AS (SELECT u FROM walk GROUP BY u HAVING min(r) <> u),
              d AS (
                SELECT doc_id, source,
                  CAST(len(list_filter(string_split(text, ' '),
                    x -> x <> '')) AS BIGINT) AS n_toks,
                  CASE WHEN doc_id IN (SELECT u FROM losers)
                    THEN 1 ELSE 0 END AS is_loser
                FROM documents)
              SELECT source, count(*) AS n_docs,
                CAST(SUM(is_loser) AS BIGINT) AS n_removed,
                CAST(SUM(n_toks) AS BIGINT) AS tokens_total,
                CAST(SUM(n_toks * is_loser) AS BIGINT) AS tokens_saved,
                CAST(SUM(n_toks * is_loser) AS DOUBLE)
                  / CAST(SUM(n_toks) AS DOUBLE) AS savings_share
              FROM d GROUP BY 1 ORDER BY source""")),

    // ── capture–recapture estimate of the shared template population ────
    // Treat the two lexicographically-first sources as independent
    // "captures" of an underlying 5-gram template population and
    // estimate its size: Lincoln–Petersen n1·n2/m plus the
    // bias-corrected Chapman (n1+1)(n2+1)/(m+1) − 1. ONE distinct
    // (source, shingle) census for just those sources; flags collapse
    // per shingle, so n1/n2/m are exact longs in a single
    // partial+final agg and the estimates are IEEE ratios at the end.
    // NULL-guarded for zero recapture.
    Q("q_capture_recapture",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val wq = Window.orderBy("source")
        val two = docs.select("source").distinct()
          .orderBy("source").limit(2)
          .withColumn("idx", row_number().over(wq).cast("long"))
        val flags = docs
          .join(broadcast(two), "source")
          .select(col("idx"),
            expr("filter(split(text, ' '), x -> x <> '')").as("toks"))
          .select(col("idx"), explode(expr(
            """transform(
                 CASE WHEN size(toks) >= 5 THEN sequence(1, size(toks) - 4)
                      ELSE array() END,
                 i -> concat_ws(' ', slice(toks, i, 5)))""")).as("sh"))
          .distinct()
          .groupBy("sh")
          .agg(max((col("idx") === 1L).cast("long")).as("f1"),
            max((col("idx") === 2L).cast("long")).as("f2"))
        flags.agg(sum(col("f1")).cast("long").as("n1"),
            sum(col("f2")).cast("long").as("n2"),
            sum(col("f1") * col("f2")).cast("long").as("m"))
          .select(col("n1"), col("n2"), col("m"),
            when(col("m") === 0, lit(null).cast("double"))
              .otherwise(round(col("n1").cast("double")
                * col("n2").cast("double") / col("m").cast("double"), 6))
              .as("n_lp"),
            round((col("n1") + 1).cast("double")
              * (col("n2") + 1).cast("double")
              / (col("m") + 1).cast("double") - 1.0, 6).as("n_chapman"))
      },
      Some("""WITH two AS (
                SELECT source,
                  CAST(row_number() OVER (ORDER BY source) AS BIGINT)
                    AS idx
                FROM (SELECT DISTINCT source FROM documents
                      ORDER BY source LIMIT 2)),
              sh AS (
                SELECT DISTINCT idx,
                  array_to_string(list_slice(
                    list_filter(string_split(text, ' '), x -> x <> ''),
                    i, i + 4), ' ') AS sh
                FROM documents JOIN two USING (source),
                  UNNEST(generate_series(1, len(list_filter(
                    string_split(text, ' '), x -> x <> '')) - 4))
                    AS t(i)),
              flags AS (
                SELECT sh,
                  MAX(CASE WHEN idx = 1 THEN 1 ELSE 0 END) AS f1,
                  MAX(CASE WHEN idx = 2 THEN 1 ELSE 0 END) AS f2
                FROM sh GROUP BY 1),
              agg AS (
                SELECT CAST(SUM(f1) AS BIGINT) AS n1,
                  CAST(SUM(f2) AS BIGINT) AS n2,
                  CAST(SUM(f1 * f2) AS BIGINT) AS m
                FROM flags)
              SELECT n1, n2, m,
                CASE WHEN m = 0 THEN NULL
                  ELSE round(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                    / CAST(m AS DOUBLE), 6) END AS n_lp,
                round(CAST(n1 + 1 AS DOUBLE) * CAST(n2 + 1 AS DOUBLE)
                  / CAST(m + 1 AS DOUBLE) - 1.0, 6) AS n_chapman
              FROM agg""")),

    // ── LSH parameter sweep: expected load + recall per (r, b) ──────────
    // The design tool that sizes a MinHash deployment BEFORE running
    // it: for each 64-hash budget split (r rows × b bands), the
    // S-curve P(candidate|J) = 1 − (1 − J^r)^b evaluated over the
    // corpus' OWN measured candidate-pair Jaccard distribution
    // (the memoized shared-shingle pair core). J^r and (·)^b are
    // REPEATED-SQUARING products — exact IEEE chains, no libm pow —
    // and per-pair probabilities are integerized ×10¹² so the
    // expected-candidate and expected-recall sums are EXACT DECIMAL
    // (no FP fold over the unbounded pair set). One readout row per
    // combo.
    Q("q_lsh_tuning",
      (s, dir) => {
        val base = shinglePairCore(s, dir)
          .select((col("inter_sz").cast("double")
            / (col("sz_a") + col("sz_b") - col("inter_sz"))
              .cast("double")).as("j"))
          .select(col("j"), (col("j") >= 0.3).cast("long").as("hi"))
          .withColumn("j2", col("j") * col("j"))
          .withColumn("j4", col("j2") * col("j2"))
          .withColumn("j8", col("j4") * col("j4"))
        def pcand(jr: Column, b: Int): Column = {
          val t = lit(1.0) - jr
          val t2 = t * t
          val t4 = t2 * t2
          val t8 = t4 * t4
          val tb = b match {
            case 8  => t8
            case 16 => t8 * t8
            case 32 => (t8 * t8) * (t8 * t8)
          }
          round((lit(1.0) - tb) * 1e12, 0).cast("decimal(38,0)")
        }
        val wide = base.select(col("hi"),
          pcand(col("j2"), 32).as("p2"),
          pcand(col("j4"), 16).as("p4"),
          pcand(col("j8"), 8).as("p8"))
          .agg(count(lit(1)).cast("long").as("n_pairs"),
            sum(col("hi")).cast("long").as("n_hi"),
            sum(col("p2")).as("e2"), sum(col("p2") * col("hi")).as("h2"),
            sum(col("p4")).as("e4"), sum(col("p4") * col("hi")).as("h4"),
            sum(col("p8")).as("e8"), sum(col("p8") * col("hi")).as("h8"))
          .persist()
        def row(r: Int, b: Int, e: String, h: String) = wide.select(
          lit(r.toLong).as("r"), lit(b.toLong).as("b"),
          col("n_pairs"), col("n_hi"),
          round(col(e).cast("double") / 1e12, 6)
            .as("expected_candidates"),
          when(col("n_hi") === 0, lit(null).cast("double"))
            .otherwise(round(col(h).cast("double") / 1e12
              / col("n_hi").cast("double"), 12)).as("expected_recall"))
        row(2, 32, "e2", "h2")
          .unionByName(row(4, 16, "e4", "h4"))
          .unionByName(row(8, 8, "e8", "h8"))
          .orderBy("r")
      },
      Some(s"""WITH $ShingleBaseCtes,
              jj AS (
                SELECT CAST(inter_sz AS DOUBLE)
                  / CAST(za.n_sh + zb.n_sh - inter_sz AS DOUBLE) AS j
                FROM pairs JOIN sizes za ON pairs.a = za.doc_id
                  JOIN sizes zb ON pairs.b = zb.doc_id),
              pw AS (
                SELECT CASE WHEN j >= 0.3 THEN 1 ELSE 0 END AS hi,
                  j * j AS j2
                FROM jj),
              pw2 AS (SELECT hi, j2, j2 * j2 AS j4 FROM pw),
              pw3 AS (SELECT hi, j2, j4, j4 * j4 AS j8 FROM pw2),
              t0 AS (
                SELECT hi, 1.0 - j2 AS ta, 1.0 - j4 AS tb,
                  1.0 - j8 AS tc
                FROM pw3),
              t1 AS (SELECT hi, ta * ta AS ta2, tb * tb AS tb2,
                       tc * tc AS tc2 FROM t0),
              t2 AS (SELECT hi, ta2 * ta2 AS ta4, tb2 * tb2 AS tb4,
                       tc2 * tc2 AS tc4 FROM t1),
              t3 AS (SELECT hi, ta4 * ta4 AS ta8, tb4 * tb4 AS tb8,
                       tc4 * tc4 AS tc8 FROM t2),
              t4 AS (SELECT hi, ta8 * ta8 AS ta16, tb8 * tb8 AS tb16,
                       tc8 FROM t3),
              t5 AS (SELECT hi, ta16 * ta16 AS ta32, tb16, tc8 FROM t4),
              probs AS (
                SELECT hi,
                  CAST(round((1.0 - ta32) * 1e12, 0) AS HUGEINT) AS p2,
                  CAST(round((1.0 - tb16) * 1e12, 0) AS HUGEINT) AS p4,
                  CAST(round((1.0 - tc8) * 1e12, 0) AS HUGEINT) AS p8
                FROM t5),
              wide AS (
                SELECT CAST(count(*) AS BIGINT) AS n_pairs,
                  CAST(SUM(hi) AS BIGINT) AS n_hi,
                  SUM(p2) AS e2, SUM(p2 * hi) AS h2,
                  SUM(p4) AS e4, SUM(p4 * hi) AS h4,
                  SUM(p8) AS e8, SUM(p8 * hi) AS h8
                FROM probs)
              SELECT CAST(r AS BIGINT) AS r, CAST(b AS BIGINT) AS b,
                n_pairs, n_hi,
                round(CAST(e AS DOUBLE) / 1e12, 6)
                  AS expected_candidates,
                CASE WHEN n_hi = 0 THEN NULL
                  ELSE round(CAST(h AS DOUBLE) / 1e12
                    / CAST(n_hi AS DOUBLE), 12) END AS expected_recall
              FROM wide, (
                SELECT 2 AS r, 32 AS b, e2 AS e, h2 AS h FROM wide
                UNION ALL
                SELECT 4, 16, e4, h4 FROM wide
                UNION ALL
                SELECT 8, 8, e8, h8 FROM wide)
              ORDER BY r"""))
  )
}
