package graft.ops

import graft.{Q, Tables}
import graft.plans.GraftExtensions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** LLM-pipeline vector similarity over `embeddings` (north-star extensions).
  *
  * All dot products go through the custom codegen'd
  * [[graft.functions.DotProduct]] expression (`graft_dot`, registered by
  * [[graft.plans.GraftExtensions]]): the composable
  * `aggregate(zip_with(...))` form evaluates interpreted per element and
  * allocates an intermediate array per pair — the native loop is ~5-10×
  * faster on the signature computations. Both forms sum products
  * left-to-right in index order as exact doubles, so the DuckDB oracle —
  * which sums the same doubles in the same order — stays bit-identical
  * with no rounding tolerance.
  *
  * Scale design: the probe set and the IVF codebook are broadcast (they
  * are tiny by construction); the 100-TB side (the embedding corpus)
  * never shuffles for scoring. Top-k per probe is a rank-filter after a
  * per-partition score, not a global sort of the corpus.
  */
object VectorOps {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** Codegen'd exact double dot product (ascending index order). */
  private def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  /** Embeddings exploded into 8 LSH band rows each: 64 deterministic
    * hyperplane sign bits (codegen'd, no RNG) cut into 8-bit band keys,
    * hot buckets capped (see below). Candidate generator of
    * q_embed_neardup (q_knn_graph uses trained IVF cells instead).
    * Columns: (vec_id, embedding, n2, band_id, band_key).
    */
  private def bandedVectors(s: SparkSession, dir: String): DataFrame = {
    GraftExtensions.ensureRegistered(s)
    val sig = call_function("graft_hyperplane_sig", col("embedding"), lit(64), lit(42))
    val bandCols = (0 until 8).map(b =>
      struct(lit(b).as("band_id"),
        shiftright(col("sig"), b * 8).bitwiseAND(255).as("band_key")).as(s"b$b"))
    val raw = t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"), norm2(col("embedding")).as("n2"),
        sig.as("sig"))
      .select(col("vec_id"), col("embedding"), col("n2"),
        explode(array(bandCols: _*)).as("bb"))
      .select(col("vec_id"), col("embedding"), col("n2"),
        col("bb.band_id"), col("bb.band_key"))
    // 8-bit keys are fixed-cardinality (256/band): without a population
    // cap the candidate self-join emits Σ|bucket|² ≈ N²/256 pairs —
    // quadratic in the corpus. Hot buckets carry no near-dup signal (at
    // this band width a true near-dup pair collides in several bands),
    // so the cap bounds the join at N·Cap per band. Widening the keys
    // instead would kill recall: at this corpus's cos ≈ 0.5 ceiling the
    // per-bit agreement is ~0.67, so 16-bit bands match with p ≈ 0.67¹⁶
    // ≈ 0.2% — the cap preserves recall AND bounds the shape.
    Dedup.cappedBandBuckets(raw, Seq("band_id", "band_key"), Dedup.BandBucketCap)
  }

  private def norm2(c: Column): Column = dot(c, c)

  /** Shared DuckDB fragment: exact double dot product via an ascending
    * correlated sum — same fold order as graft_dot.
    */
  private def duckDot(a: String, b: String, dims: Int = 64): String =
    s"(SELECT sum(CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)) FROM generate_series(1, $dims) g(i))"

  // ── DuckDB XXH64(long, seed=42) — the k-means init hash ──────────────
  // Spark's `pmod(xxhash64(vec_id), k)` seeds the codebook; replaying it
  // in the oracle needs the 8-byte XXH64 path (hash = avalanche(
  // rotl(seed+P5+8 ^ rotl(l·P2,31)·P1, 27)·P1 + P4)) in SQL. All ops are
  // mod-2⁶⁴: HUGEINT carries the values, multiplication splits into
  // 32-bit halves (a 64×64 product can overflow even INT128), rotation
  // is divmod by powers of two. Verified bit-exact against Spark's
  // xxhash64 for the whole vec_id domain.
  private val xxP1 = BigInt("9E3779B185EBCA87", 16)
  private val xxP2 = BigInt("C2B2AE3D27D4EB4F", 16)
  private val xxP3 = BigInt("165667B19E3779F9", 16)
  private val xxP4 = BigInt("85EBCA77C2B2AE63", 16)
  private val xxP5 = BigInt("27D4EB2F165667C5", 16)
  private val xxM = BigInt(1) << 64

  private def xxMul(a: String, c: BigInt): String = {
    val lo = c & 0xFFFFFFFFL; val hi = c >> 32
    s"(((($a) % 4294967296) * $lo + (((($a) % 4294967296) * $hi" +
      s" + (($a) // 4294967296) * $lo) % 4294967296) * 4294967296)" +
      " % 18446744073709551616)"
  }
  private def xxRotl(a: String, r: Int): String =
    s"(((($a) % ${BigInt(1) << (64 - r)}) * ${BigInt(1) << r})" +
      s" + (($a) // ${BigInt(1) << (64 - r)}))"
  private def xxXor(a: String, b: String): String =
    s"xor(CAST($a AS HUGEINT), CAST($b AS HUGEINT))"

  /** CTE chain `<p>1s..<p>5s, <p>` computing column `h` =
    * Spark `xxhash64(idCol)` (signed) for each row of `from0`.
    */
  private def duckXxHash64(p: String, from0: String, idCol: String): String = {
    val h0 = (BigInt(42) + xxP5 + 8) % xxM
    s"""${p}1s AS (SELECT $idCol, ${xxMul(s"CAST($idCol AS HUGEINT)", xxP2)} AS m1
                 FROM $from0),
       ${p}2s AS (SELECT $idCol, ${xxMul(xxRotl("m1", 31), xxP1)} AS k1 FROM ${p}1s),
       ${p}3s AS (SELECT $idCol, ((${xxMul(xxRotl(xxXor(h0.toString, "k1"), 27), xxP1)}
                   + $xxP4) % 18446744073709551616) AS h2 FROM ${p}2s),
       ${p}4s AS (SELECT $idCol, ${xxMul(xxXor("h2", "h2 // 8589934592"), xxP2)} AS a2
                 FROM ${p}3s),
       ${p}5s AS (SELECT $idCol, ${xxMul(xxXor("a2", "a2 // 536870912"), xxP3)} AS a4
                 FROM ${p}4s),
       $p AS (SELECT $idCol,
                CASE WHEN ${xxXor("a4", "a4 // 4294967296")} >= 9223372036854775808
                  THEN ${xxXor("a4", "a4 // 4294967296")} - 18446744073709551616
                  ELSE ${xxXor("a4", "a4 // 4294967296")} END AS h
              FROM ${p}5s)"""
  }

  /** One Lloyd round as CTEs: assign every vector of `emb` to its
    * argmax-cosine centroid of `c${r-1}n` (ties → smallest cent_id, the
    * struct-min spelling), then recompute exact integer-unit means —
    * the same round(x·10¹²) carrier as [[trainCentroids]].
    */
  private def duckLloydRound(r: Int, dims: Int = 64, pfx: String = "",
      src: String = "kx_emb"): String =
    s"""${pfx}a$r AS (
         SELECT e.vec_id, e.embedding, c.cent_id,
           ${duckDot("c.c_emb", "e.embedding", dims)} / sqrt(c.c_n2 * e.n2) AS csim
         FROM $src e CROSS JOIN ${pfx}c${r - 1}n c
         QUALIFY row_number() OVER (PARTITION BY e.vec_id
           ORDER BY (CASE WHEN isnan(csim) THEN NULL ELSE csim END)
             DESC NULLS LAST, c.cent_id) = 1),
       ${pfx}x$r AS (SELECT cent_id, unnest(embedding) AS v,
                 unnest(generate_series(1, len(embedding))) AS pos FROM ${pfx}a$r),
       ${pfx}m$r AS (SELECT cent_id, pos,
                 CAST(SUM(CAST(round(CAST(v AS DOUBLE) * 1e12) AS HUGEINT))
                   AS DOUBLE) / 1e12 / COUNT(*) AS m
               FROM ${pfx}x$r GROUP BY 1, 2),
       ${pfx}c$r AS (SELECT cent_id, list(m ORDER BY pos) AS c_emb FROM ${pfx}m$r GROUP BY 1),
       ${pfx}c${r}n AS (SELECT cent_id, c_emb, ${duckDot("c_emb", "c_emb", dims)} AS c_n2
                  FROM ${pfx}c$r)"""

  /** The full 4-subspace PQ training replay as a WITH body: the shared
    * xxhash64 init chain, k=16 bucketing, and per-subspace
    * init + 2-Lloyd-round + final-assignment CTEs (`p0_…p3_fin`,
    * codebooks `p{s}_c2n`). Shared by the q_pq_codes and q_pq_adc
    * oracles.
    */
  private lazy val duckPqReplay: String = {
    def subBlock(sub: Int): String = {
      val lo = sub * 16 + 1; val hi = sub * 16 + 16
      s"""p${sub}_emb AS (
            SELECT vec_id, embedding,
              ${duckDot("embedding", "embedding", 16)} AS n2
            FROM (SELECT vec_id, embedding[$lo:$hi] AS embedding
                  FROM embeddings)),
          p${sub}_c0 AS (
            SELECT b.b AS cent_id,
              list_transform(arg_min(e.embedding, e.vec_id),
                x -> CAST(x AS DOUBLE)) AS c_emb
            FROM bkt b JOIN p${sub}_emb e USING (vec_id)
            GROUP BY 1),
          p${sub}_c0n AS (
            SELECT cent_id, c_emb,
              ${duckDot("c_emb", "c_emb", 16)} AS c_n2
            FROM p${sub}_c0),
          ${duckLloydRound(1, 16, s"p${sub}_", s"p${sub}_emb")},
          ${duckLloydRound(2, 16, s"p${sub}_", s"p${sub}_emb")},
          p${sub}_fin AS (
            SELECT e.vec_id, c.cent_id,
              ${duckDot("c.c_emb", "e.embedding", 16)}
                / sqrt(c.c_n2 * e.n2) AS csim
            FROM p${sub}_emb e CROSS JOIN p${sub}_c2n c
            QUALIFY row_number() OVER (PARTITION BY e.vec_id
              ORDER BY (CASE WHEN isnan(csim) THEN NULL ELSE csim END)
                DESC NULLS LAST, c.cent_id) = 1)"""
    }
    s"""${duckXxHash64("hs", "embeddings", "vec_id")},
          bkt AS (SELECT vec_id, ((h % 16) + 16) % 16 AS b FROM hs),
          ${(0 until 4).map(subBlock).mkString(",\n")}"""
  }

  /** The full ⌈√n⌉-cell IVF training replay as a WITH body: the
    * dynamic-k xxhash64 init chain, exact-integer-unit Lloyd rounds
    * (codebook `c2n`) and the final per-vector assignment (`fin`, with
    * each vector's raw (embedding, n2) in `kx_emb`). Shared by the
    * q_cluster_assign oracle since round 11; round 12 extends it to
    * q_ann_ivf / q_knn_graph / q_semdedup — the three remaining ANN
    * exemptions ride the SAME proven replay.
    */
  private def duckIvfReplayPfx(P: String): String =
    s"""${P}kk AS (
                SELECT GREATEST(16, CAST(ceil(sqrt(count(*))) AS BIGINT))
                  AS k
                FROM embeddings),
              ${duckXxHash64(s"${P}hs", "embeddings", "vec_id")},
              ${P}bkt AS (SELECT h.vec_id, ((h.h % kk.k) + kk.k) % kk.k AS b
                      FROM ${P}hs h, ${P}kk kk),
              ${P}kx_emb AS (SELECT vec_id, embedding,
                           ${duckDot("embedding", "embedding")} AS n2
                         FROM embeddings),
              ${P}c0 AS (SELECT b.b AS cent_id,
                       list_transform(arg_min(e.embedding, e.vec_id),
                         x -> CAST(x AS DOUBLE)) AS c_emb
                     FROM ${P}bkt b JOIN ${P}kx_emb e ON e.vec_id = b.vec_id
                     GROUP BY 1),
              ${P}c0n AS (SELECT cent_id, c_emb,
                        ${duckDot("c_emb", "c_emb")} AS c_n2
                      FROM ${P}c0),
              ${duckLloydRound(1, 64, P, s"${P}kx_emb")},
              ${duckLloydRound(2, 64, P, s"${P}kx_emb")},
              ${P}fin AS (
                SELECT e.vec_id, c.cent_id,
                  ${duckDot("c.c_emb", "e.embedding")} / sqrt(c.c_n2 * e.n2)
                    AS csim
                FROM ${P}kx_emb e CROSS JOIN ${P}c2n c
                QUALIFY row_number() OVER (PARTITION BY e.vec_id
                  ORDER BY (CASE WHEN isnan(csim) THEN NULL ELSE csim END)
                    DESC NULLS LAST, c.cent_id) = 1)"""

  private lazy val duckIvfReplay: String = duckIvfReplayPfx("")

  /** IVF probe→top-k search replay over [[duckIvfReplay]]'s artifacts —
    * the [[ivfTopK]] kernel in SQL: top-`nprobe` cells per probe by
    * codebook cosine (graft_topk tie order: score DESC, id ASC — the
    * NaN demotion mirrors Spark's NaN-last), candidates = assigned
    * members of those cells minus the probe itself, bounded top-`k` by
    * recomputed exact cosine. `probeWhere` selects the probe rows from
    * `kx_emb`; `outId` names the probe column in the output.
    */
  private def duckIvfSearch(probeWhere: String, outId: String,
      k: Int = 3, nprobe: Int = 4): String =
    s"""WITH $duckIvfReplay,
              probes AS (
                SELECT vec_id AS probe_id, embedding AS p_emb, n2 AS p_n2
                FROM kx_emb $probeWhere),
              pcell AS (
                SELECT probe_id, p_emb, p_n2, cent_id
                FROM (SELECT p.probe_id, p.p_emb, p.p_n2, c.cent_id,
                        ${duckDot("c.c_emb", "p.p_emb")}
                          / sqrt(c.c_n2 * p.p_n2) AS csim
                      FROM probes p CROSS JOIN c2n c)
                QUALIFY row_number() OVER (PARTITION BY probe_id
                  ORDER BY (CASE WHEN isnan(csim) THEN NULL ELSE csim END)
                    DESC NULLS LAST, cent_id) <= $nprobe),
              cand AS (
                SELECT pc.probe_id, f.vec_id AS neighbor_id,
                  ${duckDot("pc.p_emb", "e.embedding")}
                    / sqrt(pc.p_n2 * e.n2) AS sim
                FROM pcell pc
                JOIN fin f ON f.cent_id = pc.cent_id
                JOIN kx_emb e ON e.vec_id = f.vec_id
                WHERE f.vec_id <> pc.probe_id),
              ranked_cand AS (
                SELECT probe_id, neighbor_id, sim,
                  CAST(row_number() OVER (PARTITION BY probe_id
                    ORDER BY (CASE WHEN isnan(sim) THEN NULL ELSE sim END)
                      DESC NULLS LAST, neighbor_id) AS BIGINT) AS rk
                FROM cand)
              SELECT probe_id AS $outId, neighbor_id, sim, rk
              FROM ranked_cand WHERE rk <= $k ORDER BY 1, rk"""

  val queries: Seq[Q] = Seq(

    // ── exact cosine top-3 neighbors for 10 probe vectors ────────────────
    // Brute-force baseline: corpus × broadcast(probes) — a single scan of
    // the corpus per batch of probes. Top-3 selection goes through the
    // bounded-heap `graft_topk` Aggregator, NOT a window rank: the
    // partial aggregation keeps ≤3 rows per (task × probe), so the
    // shuffle carries k rows per probe instead of the whole scored
    // corpus (SURVEY §7.3(a)). The scale path for large probe counts is
    // q_ann_ivf below.
    Q("q_similarity_topk",
      (s, dir) => {
        GraftExtensions.ensureRegistered(s)
        val emb = t(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"), norm2(col("embedding")).as("n2"))
        val probes = emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"),
            col("n2").as("p_n2"))
        emb.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
          .select(col("probe_id"), col("vec_id").as("neighbor_id"),
            (dot(col("p_emb"), col("embedding")) / sqrt(col("p_n2") * col("n2"))).as("sim"))
          .groupBy("probe_id")
          .agg(expr("graft_topk(neighbor_id, sim)").as("topk"))
          .select(col("probe_id"), posexplode(col("topk")).as(Seq("pos", "s")))
          .select(col("probe_id"), col("s.id").as("neighbor_id"),
            col("s.score").as("sim"), (col("pos") + 1).cast("long").as("rk"))
          .orderBy("probe_id", "rk")
      },
      Some(s"""WITH e AS (
                SELECT vec_id, embedding,
                  ${duckDot("embedding", "embedding")} AS n2
                FROM embeddings),
              p AS (SELECT vec_id AS probe_id, embedding AS p_emb, n2 AS p_n2
                    FROM e WHERE vec_id < 10),
              j AS (
                SELECT p.probe_id, e.vec_id AS neighbor_id,
                  ${duckDot("p.p_emb", "e.embedding")} / sqrt(p.p_n2 * e.n2) AS sim
                FROM p, e WHERE e.vec_id <> p.probe_id),
              r AS (SELECT *, CAST(row_number() OVER (PARTITION BY probe_id
                      ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rk FROM j)
              SELECT probe_id, neighbor_id, sim, rk FROM r
              WHERE rk <= 3 ORDER BY probe_id, rk""")),

    // ── LSH-banded embedding near-dup (oracle-exempt: approximate) ───────
    // 64 deterministic hyperplane sign bits (planes = xxhash64-parity ±1
    // literals, no RNG) banded into 8 keys of 8 bits; pairs sharing ANY
    // band are candidates (P(candidate) = 1-(1-p^8)^8 for per-bit
    // agreement p), then verified by exact cosine ≥ 0.35. Bucket-join
    // shaped: cost is Σ|bucket|² per band, never corpus². The threshold
    // is corpus-calibrated (this synthetic corpus tops out at cos ≈ 0.51);
    // a production near-dup pass sets it at 0.9+.
    Q("q_embed_neardup",
      (s, dir) => {
        val bands = bandedVectors(s, dir)
        bands.as("x")
          .join(bands.as("y"), col("x.band_id") === col("y.band_id")
            && col("x.band_key") === col("y.band_key")
            && col("x.vec_id") < col("y.vec_id"))
          .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"),
            (dot(col("x.embedding"), col("y.embedding"))
              / sqrt(col("x.n2") * col("y.n2"))).as("cos"))
          .distinct()
          .filter(col("cos") >= 0.35)
          .orderBy("a", "b")
      },
      None),

    // ── approximate kNN graph (oracled via the IVF replay, round 12) ─────
    // The all-vectors neighbor graph behind semantic dedup and graph
    // clustering: top-3 cosine neighbors PER VECTOR. Candidates come from
    // the trained IVF codebook (every vector probes its nprobe=4 nearest
    // cells), NOT hyperplane bands — sign-bit LSH needs high-cosine
    // structure, and on this weak-similarity corpus its recall collapses
    // (measured 0.14 vs 0.59 for IVF; KnnGraphSpec pins a 0.5 floor).
    // Probe-cell pairs are a shuffle join keyed on cent_id (the probe
    // side is the corpus — never broadcast); per-vector top-3 goes
    // through the bounded-heap graft_topk, so ≤3 rows per (task ×
    // vector) cross the final shuffle. A brute-force kNN graph is the
    // one vector op that can NEVER run exact at 100 TB; here cost is
    // Σ_cell |cell|·|probers(cell)| with k (=#cells) the knob — grow k
    // ~√N so cells stay bounded.
    Q("q_knn_graph",
      (s, dir) => {
        GraftExtensions.ensureRegistered(s)
        // probes = the corpus, read from the index artifact's assigned
        // table (vec_id, embedding, n2 already materialized)
        val probes = ivfIndex(s, dir)._2.select(col("vec_id").as("probe_id"),
          col("embedding").as("p_emb"), col("n2").as("p_n2"))
        ivfTopK(s, dir, probes, k = 3, nprobe = 4, broadcastProbes = false)
          .withColumnRenamed("probe_id", "vec_id")
          .orderBy("vec_id", "rk")
      },
      // probes = the whole corpus: the same search replay, unfiltered
      Some(duckIvfSearch("", "vec_id"))),

    // ── semantic clustering: k-means cell per vector ─────────────────────
    // The mix-balancing / topic-bucketing op: every vector labeled with
    // its trained k-means cell and the cosine to that centroid. Training
    // is the deterministic seed-free spherical k-means of trainCentroids;
    // assignment is the same arg-max aggregation as IVF — one partial
    // row per vector crosses the shuffle. Deterministic across reruns by
    // construction (spec-pinned), so cluster labels are stable pipeline
    // artifacts. Oracled since round 11 by a full generated-CTE replay
    // of the training (the q_bpe_train / q_power_iteration discipline):
    // the xxhash64 init seed reproduced bit-exact in mod-2⁶⁴ HUGEINT
    // arithmetic ([[duckXxHash64]]), both Lloyd rounds replayed with the
    // identical integer-unit means ([[duckLloydRound]]), and the final
    // arg-max assignment as a QUALIFY row_number — every double derived
    // through the same IEEE op sequence as the engine's.
    Q("q_cluster_assign",
      (s, dir) => {
        GraftExtensions.ensureRegistered(s)
        // labels ARE the index artifact's assignment table — reading it
        // (rather than retraining) is the stable-pipeline-artifact
        // contract the query documents
        ivfIndex(s, dir)._2
          .select(col("vec_id"), col("cent_id").as("cluster_id"), col("sim"))
          .orderBy("vec_id")
      },
      Some(s"""WITH $duckIvfReplay
              SELECT vec_id, CAST(cent_id AS BIGINT) AS cluster_id,
                csim AS sim
              FROM fin ORDER BY vec_id""")),

    // ── product-quantization codes: 4×16-dim sub-codebooks ──────────────
    // The IVF-PQ compression layer ([[pqCodes]]): 64 floats → 4 sub-
    // codes (one byte each) + per-subspace cosine; avg_sim is the
    // reconstruction-quality readout. Oracled end-to-end by the same
    // generated-CTE training replay as q_cluster_assign — one shared
    // xxhash64 init chain (k = 16 buckets), then four independent
    // init + 2-Lloyd-round + assign replays over the sliced columns.
    Q("q_pq_codes",
      (s, dir) => {
        GraftExtensions.ensureRegistered(s)
        val c = pqIndex(s, dir)._1
        c.select(col("vec_id"),
            col("c0"), col("c1"), col("c2"), col("c3"),
            ((col("s0") + col("s1") + col("s2") + col("s3")) / 4.0)
              .as("avg_sim"))
          .orderBy("vec_id")
      },
      Some {
        s"""WITH $duckPqReplay
              SELECT f0.vec_id,
                CAST(f0.cent_id AS BIGINT) AS c0,
                CAST(f1.cent_id AS BIGINT) AS c1,
                CAST(f2.cent_id AS BIGINT) AS c2,
                CAST(f3.cent_id AS BIGINT) AS c3,
                (f0.csim + f1.csim + f2.csim + f3.csim) / 4.0 AS avg_sim
              FROM p0_fin f0 JOIN p1_fin f1 USING (vec_id)
                JOIN p2_fin f2 USING (vec_id)
                JOIN p3_fin f3 USING (vec_id)
              ORDER BY vec_id"""
      }),

    // ── OPQ codes: energy-balanced space decomposition + PQ ─────────────
    // The PQ family's optimization layer (Ge et al.'s OPQ in its
    // parametric-allocation form — see [[opqIndex]]): dimensions are
    // snake-dealt by ranked energy into the 4 subspaces (a permutation
    // = the one exactly-replayable orthogonal transform), then each
    // subspace trains its own 16-cell codebook on the permuted
    // subvectors. Same output contract as q_pq_codes, so the two code
    // tables diff directly — the avg_sim lift over the contiguous
    // slicing IS the OPQ measurement. Fully oracled: the allocation
    // census replays in exact integer arithmetic and the training
    // reuses the proven per-subspace Lloyd chains.
    Q("q_opq_codes",
      (s, dir) => {
        GraftExtensions.ensureRegistered(s)
        val c = opqIndex(s, dir)._1
        c.select(col("vec_id"),
            col("c0"), col("c1"), col("c2"), col("c3"),
            ((col("s0") + col("s1") + col("s2") + col("s3")) / 4.0)
              .as("avg_sim"))
          .orderBy("vec_id")
      },
      Some {
        s"""WITH $duckOpqReplay
              SELECT f0.vec_id,
                CAST(f0.cent_id AS BIGINT) AS c0,
                CAST(f1.cent_id AS BIGINT) AS c1,
                CAST(f2.cent_id AS BIGINT) AS c2,
                CAST(f3.cent_id AS BIGINT) AS c3,
                (f0.csim + f1.csim + f2.csim + f3.csim) / 4.0 AS avg_sim
              FROM o0_fin f0 JOIN o1_fin f1 USING (vec_id)
                JOIN o2_fin f2 USING (vec_id)
                JOIN o3_fin f3 USING (vec_id)
              ORDER BY vec_id"""
      }),

    // ── PQ asymmetric-distance search (ADC top-3) ───────────────────────
    // The SEARCH path the PQ codes exist for: each probe scores the
    // whole corpus WITHOUT touching raw vectors — 4 tiny per-subspace
    // lookup tables (probe × 16 centroids: exact partial dot + centroid
    // norm, broadcast) joined to the 1-byte codes, approximate cosine
    // = Σd_sub / √(‖p‖²·Σ‖c_sub‖²). At 100 TB this is the memory
    // contract that makes billion-vector search feasible: the scan
    // reads 4 bytes per vector instead of 256. Bounded-heap graft_topk
    // (never a window), self excluded. Fully oracled — the replay CTEs
    // plus the same LUT joins in SQL.
    Q("q_pq_adc",
      (s, dir) => {
        GraftExtensions.ensureRegistered(s)
        val (codes, books) = pqIndex(s, dir)
        val probes = t(s, dir, "embeddings").filter(col("vec_id") < 10)
          .select(col("vec_id").as("probe_id"),
            col("embedding").as("p_emb"),
            norm2(col("embedding")).as("p_n2"))
        val luts = books.zipWithIndex.map { case (book, sub) =>
          // both sides constant-size (10 probes × ≤16 centroids); the
          // hint keeps the family convention — every crossJoin builds
          // against an explicit broadcast
          probes.crossJoin(broadcast(book))
            .select(col("probe_id"), col("cent_id").as(s"c$sub"),
              dot(slice(col("p_emb"), sub * PqDims + 1, PqDims),
                col("c_emb")).as(s"d$sub"),
              col("c_n2").as(s"n$sub"))
        }
        val adc = luts.foldLeft(
          codes.crossJoin(
            broadcast(probes.select(col("probe_id"), col("p_n2"))))) {
          case (acc, lut) =>
            val sub = lut.columns.find(_.startsWith("c")).get
            acc.join(broadcast(lut), Seq("probe_id", sub))
        }
        adc.filter(col("vec_id") =!= col("probe_id"))
          .select(col("probe_id"), col("vec_id").as("neighbor_id"),
            ((col("d0") + col("d1") + col("d2") + col("d3"))
              / sqrt(col("p_n2")
                * (col("n0") + col("n1") + col("n2") + col("n3"))))
              .as("adc_sim"))
          .groupBy("probe_id")
          .agg(expr("graft_topk(neighbor_id, adc_sim, 3)").as("topk"))
          .select(col("probe_id"), posexplode(col("topk")).as(Seq("pos", "t")))
          .select(col("probe_id"), col("t.id").as("neighbor_id"),
            col("t.score").as("adc_sim"),
            (col("pos") + 1).cast("long").as("rk"))
          .orderBy("probe_id", "rk")
      },
      Some {
        def lutBlock(sub: Int): String = {
          val off = sub * 16
          s"""lut$sub AS (
                SELECT p.probe_id, c.cent_id,
                  (SELECT sum(CAST(p.p_emb[i + $off] AS DOUBLE)
                     * CAST(c.c_emb[i] AS DOUBLE))
                   FROM generate_series(1, 16) g(i)) AS d,
                  c.c_n2
                FROM probes p CROSS JOIN p${sub}_c2n c)"""
        }
        s"""WITH $duckPqReplay,
              probes AS (
                SELECT vec_id AS probe_id, embedding AS p_emb,
                  ${duckDot("embedding", "embedding")} AS p_n2
                FROM embeddings WHERE vec_id < 10),
              ${(0 until 4).map(lutBlock).mkString(",\n")},
              j AS (
                SELECT f0.vec_id, pr.probe_id, pr.p_n2,
                  l0.d AS d0, l0.c_n2 AS n0,
                  l1.d AS d1, l1.c_n2 AS n1,
                  l2.d AS d2, l2.c_n2 AS n2,
                  l3.d AS d3, l3.c_n2 AS n3
                FROM p0_fin f0 JOIN p1_fin f1 USING (vec_id)
                  JOIN p2_fin f2 USING (vec_id)
                  JOIN p3_fin f3 USING (vec_id)
                  CROSS JOIN probes pr
                  JOIN lut0 l0 ON l0.probe_id = pr.probe_id
                    AND l0.cent_id = f0.cent_id
                  JOIN lut1 l1 ON l1.probe_id = pr.probe_id
                    AND l1.cent_id = f1.cent_id
                  JOIN lut2 l2 ON l2.probe_id = pr.probe_id
                    AND l2.cent_id = f2.cent_id
                  JOIN lut3 l3 ON l3.probe_id = pr.probe_id
                    AND l3.cent_id = f3.cent_id),
              scored AS (
                SELECT probe_id, vec_id AS neighbor_id,
                  (d0 + d1 + d2 + d3)
                    / sqrt(p_n2 * (n0 + n1 + n2 + n3)) AS adc_sim
                FROM j WHERE vec_id <> probe_id),
              r AS (
                SELECT *, CAST(row_number() OVER (PARTITION BY probe_id
                  ORDER BY adc_sim DESC, neighbor_id) AS BIGINT) AS rk
                FROM scored)
              SELECT probe_id, neighbor_id, adc_sim, rk
              FROM r WHERE rk <= 3 ORDER BY probe_id, rk"""
      }),

    // ── IVF-PQ composed search: the full billion-vector serving path ────
    // Round-12 composition of the two trained artifacts (SURVEY §19
    // seed): (1) nprobe-cell pruning on the ⌈√n⌉-cell IVF codebook —
    // the corpus never fully scanned; (2) ADC scoring of ONLY the
    // pruned cells' members through the composed posting-list artifact
    // ([[ivfPqIndex]]: cell + 4 one-byte PQ codes per vector, the
    // 4-bytes-per-candidate memory contract) against broadcast
    // probe×centroid LUTs; (3) exact-cosine rerank of the ≤20-per-probe
    // ADC pool — raw vectors touched ONLY here, via one scan filtered
    // by the broadcast pool. Every stage a bounded graft_topk heap; no
    // WindowExec, no corpus-sized shuffle. Fully ORACLED: the IVF and
    // PQ training replays compose in one WITH (prefix-isolated CTEs),
    // then cell pruning, LUT joins and both heaps replay with the
    // engine's exact tie order (score DESC, id ASC, NaN last).
    Q("q_ivf_pq_search",
      (s, dir) => {
        GraftExtensions.ensureRegistered(s)
        val centroids = ivfIndex(s, dir)._1
        val (_, books) = pqIndex(s, dir)
        val index = ivfPqIndex(s, dir)
        val probes = t(s, dir, "embeddings").filter(col("vec_id") < 10)
          .select(col("vec_id").as("probe_id"),
            col("embedding").as("p_emb"),
            norm2(col("embedding")).as("p_n2"))
        // (1) nprobe-cell pruning (the ivfTopK probe-cell step)
        val pcsim = dot(col("c_emb"), col("p_emb")) /
          sqrt(col("c_n2") * col("p_n2"))
        val probeCells = probes.join(broadcast(centroids))
          .select(col("probe_id"), col("p_emb"), col("p_n2"),
            col("cent_id"), pcsim.as("csim"))
          .groupBy("probe_id")
          .agg(expr("graft_topk(cent_id, csim, 4)").as("cells"),
            first(col("p_emb")).as("p_emb"), first(col("p_n2")).as("p_n2"))
          .select(col("probe_id"), col("p_emb"), col("p_n2"),
            explode(col("cells.id")).as("cent_id"))
        // (2) ADC over the posting list: candidates = pruned cells'
        // members, scored through the 4 broadcast LUTs — the scan reads
        // 4 bytes/vector, raw embeddings never touched here
        val cand = index
          .join(broadcast(probeCells.select("probe_id", "cent_id")),
            Seq("cent_id"))
          .filter(col("vec_id") =!= col("probe_id"))
        val luts = books.zipWithIndex.map { case (book, sub) =>
          probes.crossJoin(broadcast(book))
            .select(col("probe_id"), col("cent_id").as(s"c$sub"),
              dot(slice(col("p_emb"), sub * PqDims + 1, PqDims),
                col("c_emb")).as(s"d$sub"),
              col("c_n2").as(s"n$sub"))
        }
        val adc = luts.foldLeft(
          cand.join(broadcast(probes.select(col("probe_id"),
            col("p_n2"))), Seq("probe_id"))) {
          case (acc, lut) =>
            val sub = lut.columns.find(_.startsWith("c")).get
            acc.join(broadcast(lut), Seq("probe_id", sub))
        }
          .select(col("probe_id"), col("vec_id").as("neighbor_id"),
            ((col("d0") + col("d1") + col("d2") + col("d3"))
              / sqrt(col("p_n2")
                * (col("n0") + col("n1") + col("n2") + col("n3"))))
              .as("adc_sim"))
        val pool = adc.groupBy("probe_id")
          .agg(expr("graft_topk(neighbor_id, adc_sim, 20)").as("topk"))
          .select(col("probe_id"), explode(col("topk.id")).as("neighbor_id"))
        // (3) exact rerank: ONE raw-vector scan filtered by the
        // broadcast ≤ 10×20-row pool, then the final bounded heap
        val emb = ivfIndex(s, dir)._2
          .select(col("vec_id").as("neighbor_id"), col("embedding"),
            col("n2"))
        emb.join(broadcast(pool), Seq("neighbor_id"))
          .join(broadcast(probes), Seq("probe_id"))
          .select(col("probe_id"), col("neighbor_id"),
            (dot(col("p_emb"), col("embedding"))
              / sqrt(col("p_n2") * col("n2"))).as("sim"))
          .groupBy("probe_id")
          .agg(expr("graft_topk(neighbor_id, sim, 3)").as("topk"))
          .select(col("probe_id"),
            posexplode(col("topk")).as(Seq("pos", "t")))
          .select(col("probe_id"), col("t.id").as("neighbor_id"),
            col("t.score").as("sim"),
            (col("pos") + 1).cast("long").as("rk"))
          .orderBy("probe_id", "rk")
      },
      Some {
        def lutBlock(sub: Int): String = {
          val off = sub * 16
          s"""lut$sub AS (
                SELECT p.probe_id, c.cent_id,
                  (SELECT sum(CAST(p.p_emb[i + $off] AS DOUBLE)
                     * CAST(c.c_emb[i] AS DOUBLE))
                   FROM generate_series(1, 16) g(i)) AS d,
                  c.c_n2
                FROM probes p CROSS JOIN p${sub}_c2n c)"""
        }
        s"""WITH ${duckIvfReplayPfx("iv_")},
              $duckPqReplay,
              probes AS (
                SELECT vec_id AS probe_id, embedding AS p_emb, n2 AS p_n2
                FROM iv_kx_emb WHERE vec_id < 10),
              pcell AS (
                SELECT probe_id, cent_id
                FROM (SELECT p.probe_id, c.cent_id,
                        ${duckDot("c.c_emb", "p.p_emb")}
                          / sqrt(c.c_n2 * p.p_n2) AS csim
                      FROM probes p CROSS JOIN iv_c2n c)
                QUALIFY row_number() OVER (PARTITION BY probe_id
                  ORDER BY (CASE WHEN isnan(csim) THEN NULL ELSE csim END)
                    DESC NULLS LAST, cent_id) <= 4),
              ${(0 until 4).map(lutBlock).mkString(",\n")},
              cand AS (
                SELECT pc.probe_id, f.vec_id AS neighbor_id
                FROM pcell pc JOIN iv_fin f ON f.cent_id = pc.cent_id
                WHERE f.vec_id <> pc.probe_id),
              adc AS (
                SELECT c.probe_id, c.neighbor_id,
                  (l0.d + l1.d + l2.d + l3.d)
                    / sqrt(pr.p_n2
                      * (l0.c_n2 + l1.c_n2 + l2.c_n2 + l3.c_n2))
                    AS adc_sim
                FROM cand c
                JOIN probes pr ON pr.probe_id = c.probe_id
                JOIN p0_fin f0 ON f0.vec_id = c.neighbor_id
                JOIN p1_fin f1 ON f1.vec_id = c.neighbor_id
                JOIN p2_fin f2 ON f2.vec_id = c.neighbor_id
                JOIN p3_fin f3 ON f3.vec_id = c.neighbor_id
                JOIN lut0 l0 ON l0.probe_id = c.probe_id
                  AND l0.cent_id = f0.cent_id
                JOIN lut1 l1 ON l1.probe_id = c.probe_id
                  AND l1.cent_id = f1.cent_id
                JOIN lut2 l2 ON l2.probe_id = c.probe_id
                  AND l2.cent_id = f2.cent_id
                JOIN lut3 l3 ON l3.probe_id = c.probe_id
                  AND l3.cent_id = f3.cent_id),
              pool AS (
                SELECT probe_id, neighbor_id
                FROM adc
                QUALIFY row_number() OVER (PARTITION BY probe_id
                  ORDER BY (CASE WHEN isnan(adc_sim) THEN NULL
                    ELSE adc_sim END) DESC NULLS LAST, neighbor_id) <= 20),
              rerank AS (
                SELECT po.probe_id, po.neighbor_id,
                  ${duckDot("pr.p_emb", "e.embedding")}
                    / sqrt(pr.p_n2 * e.n2) AS sim
                FROM pool po
                JOIN probes pr ON pr.probe_id = po.probe_id
                JOIN iv_kx_emb e ON e.vec_id = po.neighbor_id),
              rr AS (
                SELECT probe_id, neighbor_id, sim,
                  CAST(row_number() OVER (PARTITION BY probe_id
                    ORDER BY (CASE WHEN isnan(sim) THEN NULL ELSE sim END)
                      DESC NULLS LAST, neighbor_id) AS BIGINT) AS rk
                FROM rerank)
              SELECT probe_id, neighbor_id, sim, rk
              FROM rr WHERE rk <= 3 ORDER BY probe_id, rk"""
      }),

    // ── element-wise centroid aggregation per label ──────────────────────
    // The "training" step an IVF index needs: mean embedding per class.
    // posexplode → (label, pos) partial+final agg — the shuffle carries
    // one partial sum per (task × label × dim), never raw vectors.
    // Decimal-cast sums make the result independent of row order, so the
    // oracle matches bit-for-bit despite float inputs.
    Q("q_vector_agg",
      (s, dir) => t(s, dir, "embeddings")
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos0", "v")))
        .groupBy(col("label"), (col("pos0") + 1).cast("long").as("pos"))
        .agg((sum(col("v").cast("double").cast(org.apache.spark.sql.types.DecimalType(18, 9)))
          .cast("double") / count(lit(1))).as("avg_v"))
        .orderBy("label", "pos"),
      Some("""SELECT label, pos,
                CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*) AS avg_v
              FROM (SELECT label, unnest(embedding) AS v,
                           unnest(generate_series(1, len(embedding))) AS pos
                    FROM embeddings)
              GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ── per-dimension distribution profile of the embedding corpus ──────
    // The whitening/quantization design readout: which dimensions carry
    // variance, which are near-constant? Moments ride q_vector_agg's
    // order-free carrier (float → double → DECIMAL(18,9), summed as
    // decimals so reduction order cannot drift them); mean and variance
    // are then identical IEEE formulas on identical decimal-derived
    // doubles. One embeddings scan, 64-row output.
    Q("q_dim_variance_profile",
      (s, dir) => {
        val d18 = org.apache.spark.sql.types.DecimalType(18, 9)
        t(s, dir, "embeddings")
          .select(posexplode(col("embedding")).as(Seq("pos0", "v")))
          .groupBy((col("pos0") + 1).cast("long").as("pos"))
          .agg(count(lit(1)).cast("long").as("n"),
            sum(col("v").cast("double").cast(d18)).as("s1"),
            sum((col("v").cast("double") * col("v").cast("double"))
              .cast(d18)).as("s2"),
            min(col("v").cast("double")).as("vmin"),
            max(col("v").cast("double")).as("vmax"))
          .select(col("pos"), col("n"),
            round(col("s1").cast("double") / col("n").cast("double"), 9)
              .as("mean_v"),
            round(col("s2").cast("double") / col("n").cast("double")
              - (col("s1").cast("double") / col("n").cast("double"))
                * (col("s1").cast("double") / col("n").cast("double")),
              9).as("var_v"),
            round(col("vmin"), 9).as("min_v"),
            round(col("vmax"), 9).as("max_v"))
          .orderBy("pos")
      },
      Some("""WITH x AS (
                SELECT unnest(embedding) AS v,
                  unnest(generate_series(1, len(embedding))) AS pos
                FROM embeddings),
              agg AS (
                SELECT CAST(pos AS BIGINT) AS pos,
                  CAST(count(*) AS BIGINT) AS n,
                  SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(18,9))) AS s1,
                  SUM(CAST(CAST(v AS DOUBLE) * CAST(v AS DOUBLE)
                    AS DECIMAL(18,9))) AS s2,
                  MIN(CAST(v AS DOUBLE)) AS vmin,
                  MAX(CAST(v AS DOUBLE)) AS vmax
                FROM x GROUP BY 1)
              SELECT pos, n,
                round(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE), 9)
                  AS mean_v,
                round(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
                  - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)), 9)
                  AS var_v,
                round(vmin, 9) AS min_v,
                round(vmax, 9) AS max_v
              FROM agg ORDER BY pos""")),

    // ── int8 scalar quantization of the embedding corpus ─────────────────
    // Per-dimension global min/max (one tiny agg, broadcast back), then
    // affine code = round(((v-min)/(max-min))*255)-128. 4× storage cut
    // for ANN candidate scoring; codes are integers so the oracle is
    // exact. Both engines compute the affine map over identical doubles
    // in the same op order, and round() is half-away-from-zero in both.
    Q("q_vector_quantize",
      (s, dir) => {
        val x = t(s, dir, "embeddings")
          .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
        val stats = x.groupBy("pos").agg(min("v").as("vmin"), max("v").as("vmax"))
        x.join(broadcast(stats), "pos")
          .select(col("vec_id"),
            (round(((col("v").cast("double") - col("vmin").cast("double"))
              / (col("vmax").cast("double") - col("vmin").cast("double"))) * 255)
              .cast("long") - 128).as("code"))
          .groupBy("vec_id")
          .agg(sum("code").as("code_sum"), min("code").as("code_min"),
            max("code").as("code_max"), count(lit(1)).as("dims"))
          .orderBy("vec_id")
      },
      Some("""WITH x AS (
                SELECT vec_id, unnest(embedding) AS v,
                       unnest(generate_series(1, len(embedding))) AS pos
                FROM embeddings),
              stats AS (SELECT pos, min(v) AS vmin, max(v) AS vmax FROM x GROUP BY 1),
              codes AS (
                SELECT vec_id,
                  CAST(round(((CAST(v AS DOUBLE) - CAST(vmin AS DOUBLE))
                    / (CAST(vmax AS DOUBLE) - CAST(vmin AS DOUBLE))) * 255) AS BIGINT) - 128 AS code
                FROM x JOIN stats USING (pos))
              SELECT vec_id, CAST(SUM(code) AS BIGINT) AS code_sum, MIN(code) AS code_min,
                MAX(code) AS code_max, COUNT(*) AS dims
              FROM codes GROUP BY 1 ORDER BY 1""")),

    // ── IVF-style approximate nearest neighbor (oracled, round 12) ───────
    // Codebook = ⌈√n⌉ spherical-k-means centroids (kCells) trained by
    // [[trainCentroids]] (deterministic seed-free init, Lloyd rounds as
    // DataFrame aggregations). Every corpus vector is assigned to its
    // nearest centroid cell by ARG-MAX AGGREGATION — min(struct(-csim,
    // cent_id)) with partial aggregation, so the shuffle carries one
    // partial row per vector, never the corpus×16 scored rows a
    // row_number window would sort. Probe cell selection (nprobe=4) and
    // the final top-3 both go through the bounded-heap graft_topk — no
    // WindowExec anywhere in the plan. Recall vs the exact baseline is
    // asserted in OpsSpec; since round 12 the whole search is ALSO
    // hash-oracled by the generated-CTE replay ([[duckIvfSearch]]) —
    // training, cell pruning and both top-k tie orders replayed in SQL.
    Q("q_ann_ivf",
      (s, dir) => {
        GraftExtensions.ensureRegistered(s)
        val probes = ivfIndex(s, dir)._2.filter(col("vec_id") < 10)
          .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"),
            col("n2").as("p_n2"))
        // constant probe batch → the probe-cell side broadcasts
        ivfTopK(s, dir, probes, k = 3, nprobe = 4, broadcastProbes = true)
          .orderBy("probe_id", "rk")
      },
      Some(duckIvfSearch("WHERE vec_id < 10", "probe_id"))),

    // ── hybrid retrieval: reciprocal-rank fusion (BM25 ⊕ dense cosine) ───
    // The retrieval-stack composition op: one request scored by BOTH
    // arms — sparse BM25 over the fixed query terms and dense cosine from
    // probe vector 0 (vec_id ≡ doc_id in the corpus) — each arm reduced
    // to a top-20 ranked list by the bounded-heap graft_topk (partial
    // aggregation keeps ≤20 rows per task; no WindowExec over the scored
    // corpus), then fused with RRF: Σ 1/(60+rank). Both lists are
    // constant-size from here — the full-outer fuse join touches ≤40
    // rows at ANY corpus size. Determinism: per-doc BM25 totals fold the
    // ≤3 term scores in token order (a left fold over a sorted array —
    // FP addition order pinned on both sides); ranks tiebreak on doc id;
    // the RRF sum adds two identically-derived doubles in fixed order.
    Q("q_rank_fusion",
      (s, dir) => {
        GraftExtensions.ensureRegistered(s)
        val qterms = Seq("join", "hash", "scan")
        val toks = t(s, dir, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
          .filter(col("tok") =!= "")
        // persist: dl feeds the corpus stats AND the score join (the
        // q_bm25 fix applied to the sparse leg)
        val dl = Artifacts.persist(toks.groupBy("doc_id").agg(count(lit(1)).as("dl")))
        val stats = dl.agg(sum(col("dl")).as("sum_dl"), count(lit(1)).as("n_docs"))
        val tf = toks.filter(col("tok").isin(qterms: _*))
          .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
        val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
        val avgdl = col("sum_dl").cast("double") / col("n_docs").cast("double")
        val idf = (col("n_docs").cast("double") - col("df").cast("double") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5))
        val termScore = idf * (col("tf").cast("double") * lit(2.2)) /
          (col("tf").cast("double") +
            lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl").cast("double") / avgdl)))
        val sparse = tf.join(broadcast(dfreq), "tok")
          .join(dl, "doc_id")
          .crossJoin(broadcast(stats))
          .select(col("doc_id"), struct(col("tok"), termScore.as("ts")).as("term"))
          .groupBy("doc_id")
          .agg(expr("aggregate(array_sort(collect_list(term)), CAST(0 AS DOUBLE), (a, x) -> a + x.ts)")
            .as("score"))
          .groupBy()
          .agg(expr("graft_topk(doc_id, score, 20)").as("tk"))
          .select(posexplode(col("tk")).as(Seq("pos", "x")))
          .select(col("x.id").as("doc_id"),
            (col("pos") + 1).cast("long").as("r_sparse"))
        val emb = t(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"), norm2(col("embedding")).as("n2"))
        val probe = emb.filter(col("vec_id") === 0)
          .select(col("embedding").as("p_emb"), col("n2").as("p_n2"))
        val dense = emb.filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(probe))
          .select(col("vec_id"),
            (dot(col("p_emb"), col("embedding")) / sqrt(col("p_n2") * col("n2"))).as("sim"))
          .groupBy()
          .agg(expr("graft_topk(vec_id, sim, 20)").as("tk"))
          .select(posexplode(col("tk")).as(Seq("pos", "x")))
          .select(col("x.id").as("doc_id"),
            (col("pos") + 1).cast("long").as("r_dense"))
        sparse.join(dense, Seq("doc_id"), "full_outer")
          .select(col("doc_id"), col("r_sparse"), col("r_dense"),
            (coalesce(lit(1.0) / (lit(60) + col("r_sparse")), lit(0.0))
              + coalesce(lit(1.0) / (lit(60) + col("r_dense")), lit(0.0))).as("rrf"))
          .orderBy(col("rrf").desc, col("doc_id"))
          .limit(10)
      },
      Some(s"""WITH toks AS (
                SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
              tkk AS (SELECT * FROM toks WHERE tok <> ''),
              dl AS (SELECT doc_id, count(*) AS dl FROM tkk GROUP BY 1),
              st AS (SELECT CAST(SUM(dl) AS BIGINT) AS sum_dl, count(*) AS n_docs FROM dl),
              tf AS (SELECT doc_id, tok, count(*) AS tf FROM tkk
                     WHERE tok IN ('join', 'hash', 'scan') GROUP BY 1, 2),
              df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
              term AS (
                SELECT t.doc_id, t.tok,
                  ((CAST(st.n_docs AS DOUBLE) - CAST(df.df AS DOUBLE) + 0.5)
                    / (CAST(df.df AS DOUBLE) + 0.5))
                  * (CAST(t.tf AS DOUBLE) * 2.2)
                  / (CAST(t.tf AS DOUBLE)
                    + 1.2 * (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE)
                      / (CAST(st.sum_dl AS DOUBLE) / CAST(st.n_docs AS DOUBLE))))) AS ts
                FROM tf t JOIN df USING (tok) JOIN dl USING (doc_id) CROSS JOIN st),
              bm AS (
                SELECT doc_id,
                  list_reduce(list_prepend(CAST(0 AS DOUBLE), list(ts ORDER BY tok)),
                    (a, x) -> a + x) AS score
                FROM term GROUP BY 1),
              sp AS (
                SELECT doc_id, r_sparse FROM (
                  SELECT doc_id, CAST(row_number() OVER (
                    ORDER BY score DESC, doc_id) AS BIGINT) AS r_sparse FROM bm)
                WHERE r_sparse <= 20),
              e AS (
                SELECT vec_id, embedding,
                  ${duckDot("embedding", "embedding")} AS n2
                FROM embeddings),
              p AS (SELECT embedding AS p_emb, n2 AS p_n2 FROM e WHERE vec_id = 0),
              dn AS (
                SELECT e.vec_id AS doc_id,
                  ${duckDot("p.p_emb", "e.embedding")} / sqrt(p.p_n2 * e.n2) AS sim
                FROM e, p WHERE e.vec_id <> 0),
              de AS (
                SELECT doc_id, r_dense FROM (
                  SELECT doc_id, CAST(row_number() OVER (
                    ORDER BY sim DESC, doc_id) AS BIGINT) AS r_dense FROM dn)
                WHERE r_dense <= 20),
              f AS (
                SELECT COALESCE(sp.doc_id, de.doc_id) AS doc_id, r_sparse, r_dense,
                  COALESCE(CAST(1 AS DOUBLE) / (60 + r_sparse), CAST(0 AS DOUBLE))
                    + COALESCE(CAST(1 AS DOUBLE) / (60 + r_dense), CAST(0 AS DOUBLE)) AS rrf
                FROM sp FULL OUTER JOIN de ON sp.doc_id = de.doc_id)
              SELECT doc_id, r_sparse, r_dense, rrf
              FROM f ORDER BY rrf DESC, doc_id LIMIT 10""")),

    // ── hard-negative mining (contrastive training pairs) ────────────────
    // The contrastive-learning data op: for each probe, the top-3 most
    // similar vectors with a DIFFERENT label — the "hard negatives" that
    // make embedding training effective. Same brute-force probe-batch
    // shape as q_similarity_topk (corpus × broadcast(probes), bounded-
    // heap graft_topk, ≤3 rows per task per probe over the shuffle); the
    // label-mismatch predicate rides the broadcast join. At corpus scale
    // the candidate generator swaps to the IVF artifact (ivfTopK) with a
    // post-filter on label — mining is typically a batched offline pass.
    Q("q_hard_negatives",
      (s, dir) => {
        GraftExtensions.ensureRegistered(s)
        val emb = t(s, dir, "embeddings")
          .select(col("vec_id"), col("label").cast("long").as("label"),
            col("embedding"), norm2(col("embedding")).as("n2"))
        val probes = emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("probe_id"), col("label").as("p_label"),
            col("embedding").as("p_emb"), col("n2").as("p_n2"))
        // graft_topk ids are longs: ride (vec_id, label) through the heap
        // as ONE packed key (labels are a small class vocabulary)
        emb.join(broadcast(probes), col("label") =!= col("p_label"))
          .select(col("probe_id"), col("p_label"),
            (col("vec_id") * 4096 + col("label")).as("nb"),
            (dot(col("p_emb"), col("embedding"))
              / sqrt(col("p_n2") * col("n2"))).as("sim"))
          .groupBy("probe_id")
          .agg(first(col("p_label")).as("p_label"),
            expr("graft_topk(nb, sim)").as("topk"))
          .select(col("probe_id"), col("p_label"),
            posexplode(col("topk")).as(Seq("pos", "s")))
          .select(col("probe_id"), col("p_label"),
            expr("s.id div 4096").as("neighbor_id"),
            (col("s.id") % 4096).as("n_label"), col("s.score").as("sim"),
            (col("pos") + 1).cast("long").as("rk"))
          .orderBy("probe_id", "rk")
      },
      Some(s"""WITH e AS (
                SELECT vec_id, label, embedding,
                  ${duckDot("embedding", "embedding")} AS n2
                FROM embeddings),
              p AS (SELECT vec_id AS probe_id, label AS p_label,
                      embedding AS p_emb, n2 AS p_n2
                    FROM e WHERE vec_id < 10),
              j AS (
                SELECT p.probe_id, p.p_label, e.vec_id AS neighbor_id,
                  e.label AS n_label,
                  ${duckDot("p.p_emb", "e.embedding")} / sqrt(p.p_n2 * e.n2)
                    AS sim
                FROM p, e WHERE e.label <> p.p_label),
              r AS (SELECT *, CAST(row_number() OVER (PARTITION BY probe_id
                      ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rk FROM j)
              SELECT probe_id, CAST(p_label AS BIGINT) AS p_label,
                neighbor_id, CAST(n_label AS BIGINT) AS n_label, sim, rk
              FROM r WHERE rk <= 3 ORDER BY probe_id, rk""")),

    // ── semantic dedup via the IVF index (oracled, round 12) ─────────────
    // SemDeDup (Abbas et al., 2023): embedding-level near-duplicate
    // pruning — cluster the corpus, compare only WITHIN cells, drop every
    // vector that has a lower-id cell-mate above the cosine threshold
    // (greedy min-id survivor, deterministic). Reads the shared trained
    // [[ivfIndex]] artifact (train once, probe many); the pair join is
    // keyed on cent_id so cost is Σ|cell|² ≈ n·√n with the √n-cell knob
    // — never corpus². Cross-cell near-dups are the documented recall
    // trade (SemDeDup accepts it; raise nprobe/overlap clusters to buy
    // recall). Threshold 0.4 is corpus-calibrated (this synthetic corpus
    // tops out at cos ≈ 0.51; production uses 0.9+).
    Q("q_semdedup",
      (s, dir) => {
        val (_, assigned) = ivfIndex(s, dir)
        val x = assigned.select(col("cent_id"), col("vec_id"),
          col("embedding"), col("n2"))
        val losers = x.as("x")
          .join(x.select(col("cent_id"), col("vec_id").as("b_id"),
            col("embedding").as("b_emb"), col("n2").as("b_n2")),
            Seq("cent_id"))
          .filter(col("vec_id") < col("b_id"))
          .filter(dot(col("embedding"), col("b_emb"))
            / sqrt(col("n2") * col("b_n2")) >= 0.4)
          .select(col("b_id").as("vec_id")).distinct()
        assigned.join(losers, Seq("vec_id"), "left_anti")
          .select(col("vec_id"), col("cent_id"))
          .orderBy("vec_id")
      },
      // round 12: within-cell pruning replayed off the shared IVF
      // training replay — the ≥ 0.4 gate is safe cross-engine because
      // both sides compute the identical double (same fold order)
      Some(s"""WITH $duckIvfReplay,
              x AS (SELECT f.cent_id, f.vec_id, e.embedding, e.n2
                    FROM fin f JOIN kx_emb e USING (vec_id)),
              losers AS (
                SELECT DISTINCT b.vec_id
                FROM x a JOIN x b
                  ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
                WHERE ${duckDot("a.embedding", "b.embedding")}
                  / sqrt(a.n2 * b.n2) >= 0.4)
              SELECT f.vec_id, CAST(f.cent_id AS BIGINT) AS cent_id
              FROM fin f
              WHERE NOT EXISTS (SELECT 1 FROM losers l
                                WHERE l.vec_id = f.vec_id)
              ORDER BY f.vec_id""")),

    // ── per-label embedding-norm percentile profile ──────────────────────
    // The embedding-QA readout (collapsed vectors, un-normalized feeds,
    // label-conditional scale drift show up here first): exact p50/p90
    // of ‖v‖² per label. Norm² via the codegen'd index-order graft_dot
    // fold — the established cross-engine bit-stable FP pattern
    // (q_similarity_topk's oracle discipline), and rank selection picks
    // VALUES so sqrt is unnecessary (monotone). The rank over the
    // corpus-sized frame under a small label key rides RangeRank's
    // 2-pass; quantile picks are the q_mad ceil-rank formula.
    Q("q_norm_profile",
      (s, dir) => {
        GraftExtensions.ensureRegistered(s)
        val emb = t(s, dir, "embeddings")
          .select(col("label"), col("vec_id"), norm2(col("embedding")).as("n2"))
        graft.ops.RangeRank.ranked(emb, groupCols = Seq("label"),
            sortCols = Seq(col("n2"), col("vec_id")))
          .groupBy(col("label").cast("long").as("label"))
          .agg(max(col("n")).as("n_vecs"),
            max(when(col("rn") === ceil(col("n") * 0.5), col("n2")))
              .as("p50_n2"),
            max(when(col("rn") === ceil(col("n") * 0.9), col("n2")))
              .as("p90_n2"))
          .orderBy("label")
      },
      Some(s"""WITH e AS (
                SELECT label, vec_id,
                  ${duckDot("embedding", "embedding")} AS n2
                FROM embeddings),
              r AS (
                SELECT label, n2,
                  CAST(row_number() OVER (PARTITION BY label
                    ORDER BY n2, vec_id) AS BIGINT) AS rn,
                  CAST(COUNT(*) OVER (PARTITION BY label)
                    AS BIGINT) AS n
                FROM e)
              SELECT CAST(label AS BIGINT) AS label,
                CAST(MAX(n) AS BIGINT) AS n_vecs,
                MAX(CASE WHEN rn = CEIL(n * 0.5) THEN n2 END) AS p50_n2,
                MAX(CASE WHEN rn = CEIL(n * 0.9) THEN n2 END) AS p90_n2
              FROM r GROUP BY 1 ORDER BY label""")),

    // ── embedding-level decontamination (benchmark-leak audit) ───────────
    // n-gram decontamination (q_decontaminate) misses paraphrased eval
    // leakage; the embedding pass catches it: every corpus vector's max
    // cosine against the EVAL SET (here the deterministic vec_id%500
    // slice), dropped at ≥0.3. Eval sets are small and fixed-size by
    // nature, so the scale shape is corpus × broadcast(evals) with a
    // row-local arg-max — one corpus scan, zero corpus shuffles before
    // the per-label census (the same broadcast-probe contract as
    // q_similarity_topk; an IVF-bucketed variant is the q_ann_ivf path
    // when the eval set outgrows a broadcast). Threshold comparisons are
    // safe: both engines compute the identical double (same fold order),
    // so ≥ 0.3 cannot straddle.
    Q("q_decontaminate_embed",
      (s, dir) => {
        GraftExtensions.ensureRegistered(s)
        val emb = t(s, dir, "embeddings")
          .select(col("vec_id"), col("label"), col("embedding"),
            norm2(col("embedding")).as("n2"))
        // the id cap makes "fixed-size evals" true by CONSTRUCTION: the
        // %500 slice alone would grow with the corpus (at 10^10 vectors
        // it is a multi-GB broadcast); capped, the eval set is bounded
        // at 2000 vectors at ANY SF — the external-benchmark contract a
        // real decontamination pass has, and a no-op at test SFs
        val evals = emb.filter(col("vec_id") % 500 === 0
            && col("vec_id") < 1000000L)
          .select(col("embedding").as("e_emb"), col("n2").as("e_n2"))
        val corpus = emb.filter(col("vec_id") % 500 =!= 0
            || col("vec_id") >= 1000000L)
        corpus.join(broadcast(evals))
          .select(col("vec_id"), col("label"),
            (dot(col("e_emb"), col("embedding"))
              / sqrt(col("e_n2") * col("n2"))).as("sim"))
          .groupBy("vec_id", "label")
          .agg(max(col("sim")).as("max_sim"))
          .groupBy(col("label").cast("long").as("label"))
          .agg(count(lit(1)).as("n_docs"),
            count(when(col("max_sim") >= 0.3, lit(1))).as("n_dropped"))
          .select(col("label"), col("n_docs"), col("n_dropped"),
            (col("n_dropped").cast("double") / col("n_docs").cast("double"))
              .as("drop_share"))
          .orderBy("label")
      },
      Some(s"""WITH e AS (
                SELECT vec_id, label, embedding,
                  ${duckDot("embedding", "embedding")} AS n2
                FROM embeddings),
              ev AS (SELECT embedding AS e_emb, n2 AS e_n2 FROM e
                     WHERE vec_id % 500 = 0 AND vec_id < 1000000),
              c AS (SELECT * FROM e
                    WHERE vec_id % 500 <> 0 OR vec_id >= 1000000),
              sim AS (
                SELECT c.vec_id, c.label,
                  MAX(${duckDot("c.embedding", "ev.e_emb")}
                    / sqrt(c.n2 * ev.e_n2)) AS max_sim
                FROM c, ev GROUP BY 1, 2)
              SELECT CAST(label AS BIGINT) AS label,
                CAST(count(*) AS BIGINT) AS n_docs,
                CAST(COUNT(CASE WHEN max_sim >= 0.3 THEN 1 END) AS BIGINT)
                  AS n_dropped,
                CAST(COUNT(CASE WHEN max_sim >= 0.3 THEN 1 END) AS DOUBLE)
                  / CAST(count(*) AS DOUBLE) AS drop_share
              FROM sim GROUP BY 1 ORDER BY label""")),

    // ── top principal direction by exact-integer power iteration ─────────
    // The PCA primitive an embedding-health check runs: the dominant
    // direction of the (uncentered) second-moment matrix. Matrix-FREE:
    // each round is ONE corpus aggregation of x·(x·v) with v broadcast
    // as a literal — X never shuffles and the 64×64 Gram matrix never
    // materializes. Bit-determinism comes from the INTEGER domain:
    // embeddings quantize to a 10⁶ grid once, every dot/outer product
    // is exact in int64/DECIMAL(38,0), and the per-round
    // renormalization is integer division on the driver (5 × 64-value
    // collects — iteration control, the BPE-loop class). Hash-oracled
    // via the BPE technique: the loop is 5 EXACT-integer rounds, so
    // DuckDB replays them as generated d/y/m/v CTE chains in HUGEINT —
    // `//` truncates toward zero exactly like BigInt division, and the
    // Rayleigh readout is the same quotient+remainder double assembly
    // as the engine. PowerIterationSpec retains the convergence
    // semantics (cos(v₅, v₆) ≈ 1, non-decreasing Rayleigh).
    Q("q_power_iteration",
      (s, dir) => powerIterate(s, dir, rounds = 5),
      Some {
        def rnd(r: Int): String = s"""
              d$r AS (SELECT qv, (SELECT sum(q.qv[t.i] * v.v)
                        FROM generate_series(1, 64) t(i)
                        JOIN v${r - 1} v ON v.j = t.i - 1) AS d
                      FROM q),
              y$r AS (SELECT t.i - 1 AS j,
                        sum(CAST(d.qv[t.i] AS HUGEINT)
                          * CAST(d.d AS HUGEINT)) AS y
                      FROM d$r d, generate_series(1, 64) t(i) GROUP BY 1),
              m$r AS (SELECT greatest(max(abs(y)), 1) AS m FROM y$r),
              v$r AS (SELECT j, (y * 1000000) // m AS v FROM y$r, m$r)"""
        s"""WITH q AS (
              SELECT list_transform(embedding,
                x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))
                AS qv
              FROM embeddings),
            v0 AS (SELECT g.i - 1 AS j, CAST(1000000 AS HUGEINT) AS v
                   FROM generate_series(1, 64) g(i)),
            ${(1 to 5).map(rnd).mkString(",")},
            ray AS (SELECT sum(v.v * y.y) AS num, sum(v.v * v.v) AS den
                    FROM v4 v JOIN y5 y ON v.j = y.j)
            SELECT CAST(v5.j AS BIGINT) AS component,
              CAST(v5.v AS BIGINT) AS v,
              CAST(num // den AS DOUBLE)
                + CAST(num % den AS DOUBLE) / CAST(den AS DOUBLE) AS rayleigh
            FROM v5, ray ORDER BY component"""
      }),

    // ── per-label centroid drift vs the global centroid ──────────────────
    // The embedding-health readout before any clustering decision: how
    // far does each label's mean vector point from the corpus mean?
    // Components quantize to integer 1e-12 units on the IEEE product
    // (round(x·10¹²) — identical half-away-from-zero on both engines,
    // where a double→decimal cast tie-breaks differently: Spark HALF_UP
    // vs DuckDB HALF_EVEN, the divergence that kept this oracle-exempt
    // through round 10) and sum EXACTLY in dec38 through ONE
    // partial+final agg keyed (label, component); the global centroid
    // derives from the SAME per-label sums (no second corpus pass);
    // cosine is the codegen graft_dot on two 64-element arrays per
    // label, replayed in DuckDB as the same ascending correlated sum.
    // CentroidShiftSpec still pins the invariants, DeterminismSpec the
    // bytes.
    Q("q_centroid_shift",
      (s, dir) => {
        GraftExtensions.ensureRegistered(s)
        val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
        val comp = t(s, dir, "embeddings")
          .select(col("label"), posexplode(col("embedding")).as(Seq("j", "x")))
          .groupBy("label", "j")
          .agg(sum(round(col("x").cast("double") * lit(1e12)).cast(dec38))
            .as("sxu"),
            count(lit(1)).as("n"))
        val perLabel = comp.groupBy("label")
          .agg(sort_array(collect_list(struct(col("j"),
            (col("sxu").cast("double") / lit(1e12)
              / col("n").cast("double")).as("m"))))
            .as("jm"),
            max(col("n")).as("n_vecs"))
          .select(col("label"), col("n_vecs"),
            transform(col("jm"), x => x.getField("m")).as("c"))
        val global = comp.groupBy("j")
          .agg((sum(col("sxu")).cast("double") / lit(1e12)
            / sum(col("n")).cast("double")).as("m"))
          .agg(sort_array(collect_list(struct(col("j"), col("m")))).as("jm"))
          .select(transform(col("jm"), x => x.getField("m")).as("g"))
        perLabel.crossJoin(broadcast(global))
          .select(col("label").cast("long").as("label"), col("n_vecs"),
            (dot(col("c"), col("g"))
              / sqrt(dot(col("c"), col("c")) * dot(col("g"), col("g"))))
              .as("cos_to_global"))
          .orderBy("label")
      },
      Some(s"""WITH comp AS (
                SELECT label, pos AS j,
                  SUM(CAST(round(CAST(x AS DOUBLE) * 1e12) AS HUGEINT))
                    AS sxu,
                  CAST(COUNT(*) AS BIGINT) AS n
                FROM (SELECT label, unnest(embedding) AS x,
                        unnest(generate_series(1, len(embedding))) AS pos
                      FROM embeddings)
                GROUP BY 1, 2),
              per_label AS (
                SELECT label, max(n) AS n_vecs,
                  list(CAST(sxu AS DOUBLE) / 1e12 / CAST(n AS DOUBLE)
                    ORDER BY j) AS cl
                FROM comp GROUP BY 1),
              gctr AS (
                SELECT list(m ORDER BY j) AS gl
                FROM (SELECT j, CAST(SUM(sxu) AS DOUBLE) / 1e12
                        / CAST(SUM(n) AS DOUBLE) AS m
                      FROM comp GROUP BY 1))
              SELECT CAST(label AS BIGINT) AS label, n_vecs,
                ${duckDot("cl", "gl")}
                  / sqrt(${duckDot("cl", "cl")} * ${duckDot("gl", "gl")})
                  AS cos_to_global
              FROM per_label, gctr ORDER BY label""")),

    // ── pairwise cosine-similarity histogram ─────────────────────────────
    // The embedding-space geometry audit: cosine of each vector against
    // the vector 250 ids later (a deterministic fixed-offset pairing —
    // an equi-join on the id key, NEVER corpus²), folded into 0.1-wide
    // bands. graft_dot runs codegen'd row-locally; both engines derive
    // the band from identical IEEE doubles, so the floor boundary
    // cannot flip. Output ≤21 rows at any SF.
    Q("q_cosine_histogram",
      (s, dir) => {
        GraftExtensions.ensureRegistered(s)
        val emb = t(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"), norm2(col("embedding")).as("n2"))
        val right = emb.select((col("vec_id") - 250).as("vec_id"),
          col("embedding").as("r_emb"), col("n2").as("r_n2"))
        emb.join(right, "vec_id")
          .select((dot(col("embedding"), col("r_emb"))
            / sqrt(col("n2") * col("r_n2"))).as("cos"))
          .groupBy(floor(col("cos") * 10).cast("long").as("band"))
          .agg(count(lit(1)).as("n_pairs"),
            min(col("cos")).as("min_cos"), max(col("cos")).as("max_cos"))
          .orderBy("band")
      },
      Some(s"""WITH e AS (
                SELECT vec_id, embedding,
                  ${duckDot("embedding", "embedding")} AS n2
                FROM embeddings),
              p AS (
                SELECT ${duckDot("a.embedding", "b.embedding")}
                    / sqrt(a.n2 * b.n2) AS cos
                FROM e a JOIN e b ON b.vec_id = a.vec_id + 250)
              SELECT CAST(floor(cos * 10) AS BIGINT) AS band,
                count(*) AS n_pairs,
                MIN(cos) AS min_cos, MAX(cos) AS max_cos
              FROM p GROUP BY 1 ORDER BY band""")),

    // ── embedding-label ↔ language purity ───────────────────────────────
    // Cross-modal alignment audit: do the embedding labels line up with
    // document languages? Docs join embeddings on the shared id (both
    // sides corpus-sized — un-hinted co-partitioned join, the
    // q_multimodal_cols shape), collapse to the ≤labels×langs census;
    // purity = the majority language's share per label (exact max over
    // exact counts — no logs, no FP accumulation).
    Q("q_label_purity",
      (s, dir) => {
        val cells = t(s, dir, "documents")
          .select(col("doc_id"), col("lang"))
          .join(t(s, dir, "embeddings")
            .select(col("vec_id"), col("label")),
            col("doc_id") === col("vec_id"))
          .groupBy(col("label").cast("long").as("label"), col("lang"))
          .agg(count(lit(1)).as("c"))
        cells.groupBy("label")
          .agg(sum(col("c")).cast("long").as("n_docs"),
            count(lit(1)).cast("long").as("n_langs"),
            max(struct(col("c"), col("lang"))).getField("lang")
              .as("majority_lang"),
            max(col("c")).cast("long").as("majority_n"))
          .select(col("label"), col("n_docs"), col("n_langs"),
            col("majority_lang"),
            (col("majority_n").cast("double") / col("n_docs").cast("double"))
              .as("purity"))
          .orderBy("label")
      },
      Some("""WITH cells AS (
                SELECT CAST(label AS BIGINT) AS label, lang,
                  CAST(count(*) AS BIGINT) AS c
                FROM documents JOIN embeddings ON doc_id = vec_id
                GROUP BY 1, 2),
              r AS (
                SELECT label, lang, c,
                  row_number() OVER (PARTITION BY label
                    ORDER BY c DESC, lang DESC) AS rn
                FROM cells),
              agg AS (
                SELECT cells.label,
                  CAST(SUM(c) AS BIGINT) AS n_docs,
                  CAST(count(*) AS BIGINT) AS n_langs,
                  MIN(r.lang) AS majority_lang,
                  CAST(MAX(cells.c) AS BIGINT) AS majority_n
                FROM cells JOIN (SELECT label, lang FROM r WHERE rn = 1) r
                  ON cells.label = r.label
                GROUP BY 1)
              SELECT label, n_docs, n_langs, majority_lang,
                CAST(majority_n AS DOUBLE) / CAST(n_docs AS DOUBLE)
                  AS purity
              FROM agg ORDER BY label""")),

    // ── Matryoshka truncation eval: overlap@10, 64-dim vs 16-dim ────────
    // The MRL deployment question — how much retrieval quality survives
    // a 4× embedding truncation? For 10 probes, top-10 by full-dim
    // cosine vs top-10 by first-16-dims cosine, overlap counted
    // exactly. Both rankings ride the bounded-heap graft_topk (≤10
    // rows per task×probe cross the shuffle); sims are identical
    // doubles in both engines (ascending-index dot products) and ties
    // break by id, so the SETS — and the integer overlaps — hash-match.
    // One corpus scan; probes broadcast.
    Q("q_mrl_overlap",
      (s, dir) => {
        GraftExtensions.ensureRegistered(s)
        val emb = t(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"),
            norm2(col("embedding")).as("n2"),
            expr("slice(embedding, 1, 16)").as("e16"))
          .withColumn("n216", dot(col("e16"), col("e16")))
          .filter(col("n2") > 0 && col("n216") > 0)
        val probes = emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("probe_id"), col("embedding").as("pf"),
            col("n2").as("pn2"), col("e16").as("p16"),
            col("n216").as("pn216"))
        emb.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
          .select(col("probe_id"), col("vec_id"),
            (dot(col("pf"), col("embedding"))
              / sqrt(col("pn2") * col("n2"))).as("simf"),
            (dot(col("p16"), col("e16"))
              / sqrt(col("pn216") * col("n216"))).as("simt"))
          .groupBy("probe_id")
          .agg(expr("graft_topk(vec_id, simf, 10)").as("tf"),
            expr("graft_topk(vec_id, simt, 10)").as("tt"))
          .select(col("probe_id"),
            size(array_intersect(expr("transform(tf, x -> x.id)"),
              expr("transform(tt, x -> x.id)"))).cast("long")
              .as("overlap_at_10"))
          .orderBy("probe_id")
      },
      Some(s"""WITH e AS (
                SELECT vec_id, embedding, embedding[1:16] AS e16,
                  ${duckDot("embedding", "embedding")} AS n2,
                  (SELECT sum(CAST(embedding[i] AS DOUBLE)
                    * CAST(embedding[i] AS DOUBLE))
                   FROM generate_series(1, 16) g(i)) AS n216
                FROM embeddings),
              ef AS (SELECT * FROM e WHERE n2 > 0 AND n216 > 0),
              p AS (
                SELECT vec_id AS probe_id, embedding AS pf, n2 AS pn2,
                  e16 AS p16, n216 AS pn216
                FROM ef WHERE vec_id < 10),
              j AS (
                SELECT p.probe_id, ef.vec_id,
                  ${duckDot("p.pf", "ef.embedding")}
                    / sqrt(p.pn2 * ef.n2) AS simf,
                  (SELECT sum(CAST(p.p16[i] AS DOUBLE)
                    * CAST(ef.e16[i] AS DOUBLE))
                   FROM generate_series(1, 16) g(i))
                    / sqrt(p.pn216 * ef.n216) AS simt
                FROM p, ef WHERE ef.vec_id <> p.probe_id),
              rf AS (
                SELECT probe_id, vec_id,
                  row_number() OVER (PARTITION BY probe_id
                    ORDER BY simf DESC, vec_id) AS rk
                FROM j),
              rt AS (
                SELECT probe_id, vec_id,
                  row_number() OVER (PARTITION BY probe_id
                    ORDER BY simt DESC, vec_id) AS rk
                FROM j),
              sf AS (
                SELECT probe_id, list(vec_id) AS ids
                FROM rf WHERE rk <= 10 GROUP BY 1),
              st AS (
                SELECT probe_id, list(vec_id) AS ids
                FROM rt WHERE rk <= 10 GROUP BY 1)
              SELECT sf.probe_id,
                CAST(len(list_intersect(sf.ids, st.ids)) AS BIGINT)
                  AS overlap_at_10
              FROM sf JOIN st ON sf.probe_id = st.probe_id
              ORDER BY sf.probe_id""")),

    // ── MMR diversity re-ranking ────────────────────────────────────────
    // The retrieval-stage re-ranker RAG stacks need: from the top-20
    // cosine candidates of one probe, greedily select 5 maximizing
    // λ·relevance − (1−λ)·max-sim-to-selected (λ = 0.7). The candidate
    // pool and its 20×20 cosine matrix are tiny persisted frames (the
    // pool is k-bounded no matter the corpus); each of the 5 rounds is
    // an anti-join + max-sim join + (score DESC, id) argmax — driver
    // code is loop control only, never data. MmrRerankSpec replays the
    // greedy reference on the collected pool and pins the sequence.
    // Hash-oracled via the BPE technique (r9): the greedy loop has a
    // FIXED round count, so DuckDB replays it as 4 generated pick/sel
    // CTE pairs — every score is the same IEEE double on both sides
    // (ascending-index dot folds, one sqrt, one division, the identical
    // 0.7·rel − 0.3·maxsim expression), so selection comparisons can
    // never diverge; ties break on vec_id in both engines.
    Q("q_mmr_rerank",
      (s, dir) => {
        GraftExtensions.ensureRegistered(s)
        val emb = t(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"),
            norm2(col("embedding")).as("n2"))
          .filter(col("n2") > 0)
        val probe = emb.filter(col("vec_id") === 0)
          .select(col("embedding").as("pf"), col("n2").as("pn2"))
        val cands = Artifacts.persist(emb.crossJoin(broadcast(probe))
          .filter(col("vec_id") =!= 0)
          .select(col("vec_id"), col("embedding"), col("n2"),
            (dot(col("pf"), col("embedding"))
              / sqrt(col("pn2") * col("n2"))).as("rel"))
          .orderBy(col("rel").desc, col("vec_id"))
          .limit(20))
        val sims = Artifacts.persist(cands.as("x").join(cands.as("y"),
            col("x.vec_id") =!= col("y.vec_id"))
          .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"),
            (dot(col("x.embedding"), col("y.embedding"))
              / sqrt(col("x.n2") * col("y.n2"))).as("sim")))
        val pool = cands.select(col("vec_id"), col("rel"))
        var selected = pool
          .orderBy(col("rel").desc, col("vec_id")).limit(1)
          .select(col("vec_id"), col("rel"), lit(1L).as("rank"))
          .localCheckpoint(true)
        for (r <- 2 to 5) {
          val pick = pool
            .join(selected.select(col("vec_id").as("sv")),
              col("vec_id") === col("sv"), "left_anti")
            .join(sims, col("vec_id") === col("a"))
            .join(selected.select(col("vec_id").as("sel")),
              col("b") === col("sel"))
            .groupBy("vec_id", "rel")
            .agg(max(col("sim")).as("maxsim"))
            .select(col("vec_id"), col("rel"),
              (lit(0.7) * col("rel") - lit(0.3) * col("maxsim"))
                .as("score"))
            .orderBy(col("score").desc, col("vec_id")).limit(1)
            .select(col("vec_id"), col("rel"), lit(r.toLong).as("rank"))
          selected = selected.union(pick).localCheckpoint(true)
        }
        selected.select(col("rank"), col("vec_id"),
            round(col("rel"), 6).as("relevance"))
          .orderBy("rank")
      },
      Some {
        def pick(r: Int): String = s"""
              pick$r AS (
                SELECT c.vec_id, c.rel, CAST($r AS BIGINT) AS rank
                FROM c WHERE c.vec_id NOT IN (SELECT vec_id FROM sel${r - 1})
                ORDER BY CAST(0.7 AS DOUBLE) * c.rel
                    - CAST(0.3 AS DOUBLE) * (
                      SELECT max(s.sim) FROM sims s
                      WHERE s.a = c.vec_id
                        AND s.b IN (SELECT vec_id FROM sel${r - 1})) DESC,
                  c.vec_id
                LIMIT 1),
              sel$r AS (SELECT * FROM sel${r - 1}
                        UNION ALL SELECT * FROM pick$r)"""
        s"""WITH e AS (
              SELECT vec_id, embedding,
                ${duckDot("embedding", "embedding")} AS n2
              FROM embeddings),
            e2 AS (SELECT * FROM e WHERE n2 > 0),
            p AS (SELECT embedding AS pf, n2 AS pn2 FROM e2 WHERE vec_id = 0),
            c AS (
              SELECT e2.vec_id, e2.embedding, e2.n2,
                ${duckDot("p.pf", "e2.embedding")} / sqrt(p.pn2 * e2.n2) AS rel
              FROM e2, p WHERE e2.vec_id <> 0
              ORDER BY rel DESC, e2.vec_id LIMIT 20),
            sims AS (
              SELECT x.vec_id AS a, y.vec_id AS b,
                ${duckDot("x.embedding", "y.embedding")}
                  / sqrt(x.n2 * y.n2) AS sim
              FROM c x, c y WHERE x.vec_id <> y.vec_id),
            sel1 AS (
              SELECT vec_id, rel, CAST(1 AS BIGINT) AS rank FROM c
              ORDER BY rel DESC, vec_id LIMIT 1),
            ${(2 to 5).map(pick).mkString(",")}
            SELECT rank, vec_id, round(rel, 6) AS relevance
            FROM sel5 ORDER BY rank"""
      }),

    // ── ColBERT-style MaxSim late interaction (4×16-dim sub-vectors) ────
    // Late-interaction retrieval: treat each 64-dim embedding as FOUR
    // 16-dim "token" vectors; score(q, d) = Σᵢ maxⱼ cos(qᵢ, dⱼ). The
    // 16 sub-cosines are row-local ascending-index dot products
    // (identical doubles both engines), the max/sum is a greatest()
    // tree, and the per-probe top-5 rides the bounded-heap graft_topk.
    // One corpus scan with the 4 slices+norms computed once per row;
    // probes broadcast. The oracle mirrors every op in the same order.
    Q("q_maxsim_late_interaction",
      (s, dir) => {
        GraftExtensions.ensureRegistered(s)
        def slices(prefix: String): Seq[Column] =
          (0 until 4).flatMap { i =>
            val sl = expr(s"slice(embedding, ${i * 16 + 1}, 16)")
            Seq(sl.as(s"$prefix$i"),
              dot(sl, sl).as(s"${prefix}n$i"))
          }
        val emb = t(s, dir, "embeddings")
          .select((col("vec_id") +: slices("d")): _*)
          .filter((0 until 4).map(i => col(s"dn$i") > 0)
            .reduce(_ && _))
        val probes = emb.filter(col("vec_id") < 5)
          .select((col("vec_id").as("probe_id") +:
            (0 until 4).flatMap(i => Seq(col(s"d$i").as(s"q$i"),
              col(s"dn$i").as(s"qn$i")))): _*)
        val score = (0 until 4).map { i =>
          greatest((0 until 4).map(j =>
            dot(col(s"q$i"), col(s"d$j"))
              / sqrt(col(s"qn$i") * col(s"dn$j"))): _*)
        }.reduce(_ + _)
        emb.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
          .select(col("probe_id"), col("vec_id"), score.as("maxsim"))
          .groupBy("probe_id")
          .agg(expr("graft_topk(vec_id, maxsim, 5)").as("topk"))
          .select(col("probe_id"),
            posexplode(col("topk")).as(Seq("pos", "s")))
          .select(col("probe_id"), col("s.id").as("doc_id"),
            round(col("s.score"), 6).as("maxsim"),
            (col("pos") + 1).cast("long").as("rk"))
          .orderBy("probe_id", "rk")
      },
      Some {
        def sub(arr: String, i: Int): String =
          s"(SELECT sum(CAST($arr[${i * 16} + g.i] AS DOUBLE)" +
            s" * CAST($arr[${i * 16} + g.i] AS DOUBLE))" +
            " FROM generate_series(1, 16) g(i))"
        def cross(i: Int, j: Int): String =
          s"(SELECT sum(CAST(p.embedding[${i * 16} + g.i] AS DOUBLE)" +
            s" * CAST(e.embedding[${j * 16} + g.i] AS DOUBLE))" +
            s" FROM generate_series(1, 16) g(i))" +
            s" / sqrt(p.qn$i * e.dn$j)"
        val norms = (0 until 4)
          .map(i => s"${sub("embedding", i)} AS n$i").mkString(", ")
        val scoreSql = (0 until 4).map { i =>
          s"greatest(${(0 until 4).map(j => cross(i, j)).mkString(", ")})"
        }.mkString(" + ")
        s"""WITH e0 AS (
              SELECT vec_id, embedding, $norms FROM embeddings),
            ef AS (
              SELECT vec_id, embedding,
                n0 AS dn0, n1 AS dn1, n2 AS dn2, n3 AS dn3
              FROM e0 WHERE n0 > 0 AND n1 > 0 AND n2 > 0 AND n3 > 0),
            p AS (
              SELECT vec_id AS probe_id, embedding,
                dn0 AS qn0, dn1 AS qn1, dn2 AS qn2, dn3 AS qn3
              FROM ef WHERE vec_id < 5),
            j AS (
              SELECT p.probe_id, e.vec_id, $scoreSql AS maxsim
              FROM p, ef e WHERE e.vec_id <> p.probe_id),
            r AS (
              SELECT probe_id, vec_id, maxsim,
                CAST(row_number() OVER (PARTITION BY probe_id
                  ORDER BY maxsim DESC, vec_id) AS BIGINT) AS rk
              FROM j)
            SELECT probe_id, vec_id AS doc_id,
              round(maxsim, 6) AS maxsim, rk
            FROM r WHERE rk <= 5 ORDER BY probe_id, rk"""
      })
  )

  /** The q_power_iteration engine, exposed so the spec can compare
    * round counts. Returns the 64-row (component, v, rayleigh) frame of
    * the direction after `rounds` iterations (v in the ±10⁶ integer
    * grid, rayleigh the exact-ratio quotient of the LAST round).
    */
  def powerIterate(s: SparkSession, dir: String, rounds: Int): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val q = Artifacts.persist(t(s, dir, "embeddings")
      // the float→double widening is EXPLICIT: a float-domain multiply
      // moves ~0.4% of elements across the rounding boundary (DuckDB
      // multiplies FLOAT[] elements in float; Spark widens) — pin both
      // engines to round(double(x) · 10⁶)
      .select(expr(
        """transform(embedding,
           x -> cast(round(cast(x as double) * 1000000.0d) as long))""")
        .as("q")))
    var v: IndexedSeq[BigInt] = IndexedSeq.fill(64)(BigInt(1000000))
    var rayleigh = 0.0
    for (_ <- 1 to rounds) {
      val vArr = array(v.map(x => lit(x.toLong)): _*)
      // per row: d = q·v (≤ 64·10⁶·10⁶ — int64-safe), then component
      // fan-out q_j·d in DECIMAL(38,0); ONE partial+final agg to 64 rows
      val y = q
        .select(col("q"),
          aggregate(zip_with(col("q"), vArr, (a, b) => a * b),
            lit(0L), (acc, x) => acc + x).as("d"))
        .select(posexplode(col("q")).as(Seq("j", "qj")), col("d"))
        .groupBy("j")
        .agg(sum((col("qj") * col("d")).cast(dec)).as("y"))
      val rowsY = y.collect().map(r =>
        r.getAs[Int]("j") -> BigInt(r.getAs[java.math.BigDecimal]("y")
          .toBigInteger)).sortBy(_._1).map(_._2).toIndexedSeq
      // exact integer Rayleigh quotient (v·y)/(v·v), assembled as
      // quotient + remainder/denominator: qint < 2⁵³ and rem < den ≤
      // 64·10¹² are both EXACT in double, so the assembly is one
      // correctly-rounded division on both engines — a direct
      // big-integer→double cast of the 10²⁴-scale num is not
      // guaranteed correctly rounded in DuckDB (hugeint composes from
      // two 64-bit halves), which would put the oracle a ULP off.
      // num ≥ 0 always: v·y = vᵀXᵀXv = |Xv|² in exact arithmetic.
      val num = v.zip(rowsY).map { case (a, b) => a * b }.sum
      val den = v.map(a => a * a).sum
      val qint = num / den
      rayleigh = qint.toDouble + (num - qint * den).toDouble / den.toDouble
      // renormalize to the ±10⁶ grid by exact integer division
      val m = rowsY.map(_.abs).max max BigInt(1)
      v = rowsY.map(x => x * 1000000 / m)
    }
    val out = v.zipWithIndex.map { case (x, j) => (j.toLong, x.toLong) }
    s.createDataFrame(out).toDF("component", "v")
      .select(col("component"), col("v"), lit(rayleigh).as("rayleigh"))
      .orderBy("component")
  }

  /** IVF cell count for a corpus of n vectors: ⌈√n⌉ with a floor of 16.
    *
    * THE scale knob: with √n cells and a FIXED nprobe, each probe scores
    * nprobe·√n candidates, so total kNN-graph work is O(n^1.5) — vs the
    * O(n²/c) of any fixed cell count c (probing a constant FRACTION of
    * the corpus forever). Cell size and the broadcast codebook both stay
    * O(√n), and cell count = join parallelism grows with the data.
    */
  private[ops] def kCells(n: Long): Int =
    math.max(16, math.ceil(math.sqrt(n.toDouble)).toInt)

  /** Nearest-centroid assignment as an arg-max aggregation (ties →
    * smallest cent_id): the corpus shuffles ONE partial row per vector,
    * never the k scored copies — no window sort. Returns (vec_id,
    * cent_id, sim, embedding, n2).
    */
  private def assignCells(emb: DataFrame, centroids: DataFrame): DataFrame = {
    val csim = dot(col("c_emb"), col("embedding")) / sqrt(col("c_n2") * col("n2"))
    emb.join(broadcast(centroids))
      .select(col("vec_id"), col("embedding"), col("n2"),
        struct(negate(csim).as("neg"), col("cent_id")).as("sc"))
      .groupBy("vec_id")
      .agg(min(col("sc")).as("best"),
        first(col("embedding")).as("embedding"), first(col("n2")).as("n2"))
      .select(col("vec_id"), col("best.cent_id").as("cent_id"),
        negate(col("best.neg")).as("sim"), col("embedding"), col("n2"))
  }

  /** Trained IVF index — (codebook, cell-assigned corpus) — memoized per
    * (session, corpus) as a STORED ARTIFACT, the same contract as the
    * shingle pair core and the dup-cluster labels: a production IVF
    * index IS train-once-probe-many (train on a corpus snapshot, store
    * centroids + assignments, serve every search against the artifact).
    * q_ann_ivf / q_knn_graph / q_cluster_assign all read this one index
    * instead of each paying the 2-round Lloyd training (one corpus scan
    * per round). localCheckpoint pins both tables to materialized blocks
    * outside the SQL cache, so `clearCache()` between queries can't
    * force a silent retrain; deterministic training (seed-free init,
    * decimal sums) means the artifact is also identical across sessions.
    */
  private val ivfMemo =
    Artifacts.memo[(DataFrame, DataFrame)] { case (_, (a, b)) =>
      Artifacts.release(a); Artifacts.release(b)
    }

  private def ivfIndex(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    ivfMemo.computeIfAbsent((s, dir), _ => Artifacts.scoped {
      GraftExtensions.ensureRegistered(s)
      // k-means is inherently multi-pass (one corpus scan per Lloyd
      // round + assignment): pin the projected (vec_id, embedding, n2)
      // columns in memory for the build's duration
      val emb = Artifacts.persist(t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"), norm2(col("embedding")).as("n2")))
      // the codebook feeds TWO consumers (corpus assignment + probe-cell
      // selection); materialize it once or the whole lazy k-means
      // lineage trains twice (√n×dim rows — trivially small at any
      // corpus scale). The count() is served by the blocks it just
      // pinned.
      val centroids = trainCentroids(s, emb, k = kCells(emb.count()), iters = 2)
        .localCheckpoint(true)
      val assigned = assignCells(emb, centroids).localCheckpoint(true)
      (centroids, assigned)
    })

  /** Product-quantization codes: the 64-dim corpus split into 4
    * contiguous 16-dim subspaces, each with its OWN deterministic
    * 16-cell codebook ([[trainCentroids]] on the subvectors — same
    * seed-free xxhash64 init, same integer-unit means), every vector
    * labeled with its 4 sub-codes + per-subspace cosine. This is the
    * IVF-PQ compression layer: 64 floats → 4 bytes of code (64×
    * smaller), distances approximated per-subspace against 4×16
    * centroid tables. Train-once artifact (the [[ivfIndex]] contract);
    * fully ORACLED by the same generated-CTE replay as
    * q_cluster_assign — one shared xxhash64 chain (k=16 buckets), then
    * 4 independent init+2-Lloyd-round+assign replays over the sliced
    * columns.
    */
  private val PqSubs = 4
  private val PqDims = 16
  private val PqK = 16

  private val pqMemo = Artifacts.memo[(DataFrame, Seq[DataFrame])] {
    case (_, (d, books)) => (d +: books).foreach(Artifacts.release)
  }

  private def pqIndex(s: SparkSession, dir: String): (DataFrame, Seq[DataFrame]) =
    pqMemo.computeIfAbsent((s, dir), _ => Artifacts.scoped {
      GraftExtensions.ensureRegistered(s)
      val subes = (0 until PqSubs).map { sub =>
        Artifacts.persist(t(s, dir, "embeddings")
          .select(col("vec_id"),
            slice(col("embedding"), sub * PqDims + 1, PqDims)
              .as("embedding"))
          .select(col("vec_id"), col("embedding"),
            norm2(col("embedding")).as("n2")))
      }
      val books = subes.map(sube =>
        trainCentroids(s, sube, k = PqK, iters = 2).localCheckpoint(true))
      val joined = subes.zip(books).zipWithIndex.map {
        case ((sube, cents), sub) =>
          assignCells(sube, cents)
            .select(col("vec_id"), col("cent_id").as(s"c$sub"),
              col("sim").as(s"s$sub"))
      }.reduce(_.join(_, "vec_id"))
      (joined.localCheckpoint(true), books)
    })

  /** OPQ-style space decomposition (the §20/§21 carried seed) — the
    * parametric-allocation OPQ variant that optimizes the PQ
    * decomposition by PERMUTATION: per-dimension second-moment
    * energies over the corpus (exact round(v·10¹²)² integer units
    * summed in DECIMAL(38,0) — order-free), dimensions ranked by
    * energy and snake-dealt (0,1,2,3,3,2,1,0,…) into the 4 subspaces
    * so each holds a near-equal share of total corpus energy — the
    * eigenvalue-allocation heuristic of OPQ restricted to the one
    * orthogonal transform whose training replays EXACTLY in integer
    * arithmetic (a permutation matrix). Plain PQ on contiguous slices
    * concentrates high-variance leading dims in one codebook; the
    * balanced deal spreads quantization budget evenly, the
    * documented OPQ win. Each subspace then trains its own 16-cell
    * codebook on the permuted subvectors — the [[pqIndex]] pipeline
    * unchanged, so the DuckDB replay composes the allocation CTEs
    * with the proven per-subspace Lloyd chains.
    */
  private val opqMemo = Artifacts.memo[(DataFrame, Seq[DataFrame])] {
    case (_, (d, books)) => (d +: books).foreach(Artifacts.release)
  }

  private def opqIndex(s: SparkSession, dir: String): (DataFrame, Seq[DataFrame]) =
    opqMemo.computeIfAbsent((s, dir), _ => Artifacts.scoped {
      GraftExtensions.ensureRegistered(s)
      val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
      val emb = Artifacts.persist(t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding")))
      // 64-row allocation census; the unpartitioned window rides it
      val q = round(col("v").cast("double") * lit(1e12)).cast(dec38)
      val alloc = emb
        .select(posexplode(col("embedding")).as(Seq("pos0", "v")))
        .groupBy((col("pos0") + 1).as("pos"))
        .agg(sum(q * q).as("e"))
        .select(col("pos"),
          (expr("row_number() OVER (ORDER BY e DESC, pos)") - 1)
            .as("rk"))
        .select(col("pos"), col("rk"),
          when(expr("(rk div 4) % 2") === 0, expr("rk % 4"))
            .otherwise(lit(3) - expr("rk % 4")).as("sub"))
        .localCheckpoint(true)
      val subes = (0 until PqSubs).map { sub =>
        val dims = alloc.filter(col("sub") === sub)
          .agg(expr(
            "transform(array_sort(collect_list(struct(rk, pos)))," +
              " x -> x.pos)").as("dims"))
        Artifacts.persist(emb.crossJoin(broadcast(dims))
          .select(col("vec_id"),
            expr("transform(dims, d -> element_at(embedding, d))")
              .as("embedding"))
          .select(col("vec_id"), col("embedding"),
            norm2(col("embedding")).as("n2")))
      }
      val books = subes.map(sube =>
        trainCentroids(s, sube, k = PqK, iters = 2).localCheckpoint(true))
      val joined = subes.zip(books).zipWithIndex.map {
        case ((sube, cents), sub) =>
          assignCells(sube, cents)
            .select(col("vec_id"), col("cent_id").as(s"c$sub"),
              col("sim").as(s"s$sub"))
      }.reduce(_.join(_, "vec_id"))
      (joined.localCheckpoint(true), books)
    })

  /** The OPQ training replay as a WITH body: the allocation census
    * (energy ranking + snake deal), per-subspace permuted projections,
    * then the SAME init + 2-Lloyd-round + assignment chains as
    * [[duckPqReplay]] over the permuted columns.
    */
  private lazy val duckOpqReplay: String = {
    def subBlock(sub: Int): String =
      s"""o${sub}_dims AS (
            SELECT list(pos ORDER BY rk) AS dims
            FROM opq_alloc WHERE sub = $sub),
          o${sub}_emb0 AS (
            SELECT e.vec_id,
              list_transform(d.dims, i -> e.embedding[i]) AS embedding
            FROM embeddings e CROSS JOIN o${sub}_dims d),
          o${sub}_emb AS (
            SELECT vec_id, embedding,
              ${duckDot("embedding", "embedding", 16)} AS n2
            FROM o${sub}_emb0),
          o${sub}_c0 AS (
            SELECT b.b AS cent_id,
              list_transform(arg_min(e.embedding, e.vec_id),
                x -> CAST(x AS DOUBLE)) AS c_emb
            FROM obkt b JOIN o${sub}_emb e USING (vec_id)
            GROUP BY 1),
          o${sub}_c0n AS (
            SELECT cent_id, c_emb,
              ${duckDot("c_emb", "c_emb", 16)} AS c_n2
            FROM o${sub}_c0),
          ${duckLloydRound(1, 16, s"o${sub}_", s"o${sub}_emb")},
          ${duckLloydRound(2, 16, s"o${sub}_", s"o${sub}_emb")},
          o${sub}_fin AS (
            SELECT e.vec_id, c.cent_id,
              ${duckDot("c.c_emb", "e.embedding", 16)}
                / sqrt(c.c_n2 * e.n2) AS csim
            FROM o${sub}_emb e CROSS JOIN o${sub}_c2n c
            QUALIFY row_number() OVER (PARTITION BY e.vec_id
              ORDER BY (CASE WHEN isnan(csim) THEN NULL ELSE csim END)
                DESC NULLS LAST, c.cent_id) = 1)"""
    s"""${duckXxHash64("ohs", "embeddings", "vec_id")},
          obkt AS (SELECT vec_id, ((h % 16) + 16) % 16 AS b FROM ohs),
          opq_dx AS (
            SELECT unnest(embedding) AS v,
              unnest(generate_series(1, len(embedding))) AS pos
            FROM embeddings),
          opq_de AS (
            SELECT pos,
              SUM(CAST(round(CAST(v AS DOUBLE) * 1e12) AS HUGEINT)
                * CAST(round(CAST(v AS DOUBLE) * 1e12) AS HUGEINT)) AS e
            FROM opq_dx GROUP BY 1),
          opq_alloc AS (
            SELECT pos, rk,
              CASE WHEN (rk // 4) % 2 = 0 THEN rk % 4
                ELSE 3 - (rk % 4) END AS sub
            FROM (SELECT pos,
                    row_number() OVER (ORDER BY e DESC, pos) - 1 AS rk
                  FROM opq_de)),
          ${(0 until 4).map(subBlock).mkString(",\n")}"""
  }

  /** The composed IVF-PQ posting-list artifact — (cent_id, vec_id,
    * c0..c3): each vector's IVF cell plus its 4 one-byte PQ codes, the
    * index a production billion-vector server actually stores (cells
    * for pruning, codes for ADC; raw vectors live elsewhere and are
    * touched only at rerank). Built once per (session, dir) by joining
    * the two trained artifacts; the join is a one-time index-build
    * cost, after which q_ivf_pq_search scans 4 bytes + 2 ids per
    * corpus vector.
    */
  private val ivfPqIndex = Artifacts.pinned { (s, dir) =>
    ivfIndex(s, dir)._2.select(col("vec_id"), col("cent_id"))
      .join(pqIndex(s, dir)._1
        .select(col("vec_id"), col("c0"), col("c1"), col("c2"),
          col("c3")),
        Seq("vec_id"))
  }

  /** IVF search kernel shared by q_ann_ivf (constant probe batch) and
    * q_knn_graph (probes = the corpus): for each probe row (probe_id,
    * p_emb, p_n2), the top-k cosine neighbors among vectors assigned to
    * the probe's nprobe nearest cells of the trained ⌈√n⌉-cell codebook
    * ([[kCells]]), read from the shared [[ivfIndex]] artifact.
    *
    * Cell assignment is an arg-max aggregation (ties → smallest cent_id)
    * — no window sort; per-probe top-k is the bounded-heap graft_topk.
    * `broadcastProbes` gates the candidate-join strategy: broadcast only
    * when the probe batch is constant-size; a corpus-sized probe side
    * shuffle-joins on cent_id instead.
    */
  private[ops] def ivfTopK(s: SparkSession, dir: String, probes: DataFrame,
      k: Int, nprobe: Int, broadcastProbes: Boolean): DataFrame = {
    val (centroids, assigned) = ivfIndex(s, dir)
    val pcsim = dot(col("c_emb"), col("p_emb")) / sqrt(col("c_n2") * col("p_n2"))
    val probeCells = probes.join(broadcast(centroids))
      .select(col("probe_id"), col("p_emb"), col("p_n2"), col("cent_id"),
        pcsim.as("csim"))
      .groupBy("probe_id")
      .agg(expr(s"graft_topk(cent_id, csim, $nprobe)").as("cells"),
        first(col("p_emb")).as("p_emb"), first(col("p_n2")).as("p_n2"))
      .select(col("probe_id"), col("p_emb"), col("p_n2"),
        explode(col("cells.id")).as("cent_id"))
    val probeSide = if (broadcastProbes) broadcast(probeCells) else probeCells
    assigned.join(probeSide, Seq("cent_id"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        (dot(col("p_emb"), col("embedding")) / sqrt(col("p_n2") * col("n2"))).as("sim"))
      .groupBy("probe_id")
      .agg(expr(s"graft_topk(neighbor_id, sim, $k)").as("topk"))
      .select(col("probe_id"), posexplode(col("topk")).as(Seq("pos", "s")))
      .select(col("probe_id"), col("s.id").as("neighbor_id"),
        col("s.score").as("sim"), (col("pos") + 1).cast("long").as("rk"))
  }

  /** Deterministic spherical-k-means codebook, trained entirely as
    * DataFrame aggregations (no MLlib, no RNG, NO driver collect).
    *
    * Init is seed-free: the min-vec_id vector of each xxhash64(vec_id)%k
    * bucket. Each Lloyd round assigns every vector to its nearest current
    * centroid by cosine (broadcast codebook + arg-max aggregation — no
    * window sort) and recomputes per-cell means with order-independent
    * decimal sums, so retraining is bit-reproducible. The whole training
    * is ONE lazy lineage: each round's codebook is rebuilt as
    * sort_array(collect_list(struct(pos, mean))) — a k×dim aggregate,
    * bounded by construction, never corpus-sized — and re-broadcast into
    * the next round, so the consumer's single action executes all rounds
    * with no intermediate driver round-trip. The corpus is scanned once
    * per round (k-means is inherently multi-pass; at 100 TB persist the
    * projected (vec_id, embedding, n2) columns before calling). Cells
    * that lose all members drop out (k shrinks; harmless for IVF).
    *
    * Returns (cent_id: long, c_emb: array<double>, c_n2: double).
    */
  private[ops] def trainCentroids(
      s: SparkSession, emb: DataFrame, k: Int, iters: Int): DataFrame = {
    def withNorm(df: DataFrame): DataFrame =
      df.withColumn("c_n2", dot(col("c_emb"), col("c_emb")))
    var cents = withNorm(emb
      .groupBy(pmod(xxhash64(col("vec_id")), lit(k.toLong)).as("cent_id"))
      .agg(min_by(col("embedding"), col("vec_id")).as("c_emb0"))
      .select(col("cent_id"),
        transform(col("c_emb0"), v => v.cast("double")).as("c_emb")))
    for (_ <- 1 to iters) {
      val csim = dot(col("c_emb"), col("embedding")) / sqrt(col("c_n2") * col("n2"))
      val assigned = emb.join(broadcast(cents))
        .select(col("vec_id"), col("embedding"),
          struct(negate(csim).as("neg"), col("cent_id")).as("sc"))
        .groupBy("vec_id")
        .agg(min(col("sc")).getField("cent_id").as("cent_id"),
          first(col("embedding")).as("embedding"))
      // order-independent EXACT mean: quantize each element to integer
      // 1e-12 units on the IEEE product (round(v·10¹²) — both engines
      // round the identical double half-away-from-zero, unlike a
      // double→DECIMAL cast whose tie-break differs: Spark HALF_UP vs
      // DuckDB HALF_EVEN — the one-ulp divergence that kept this
      // oracle-exempt), sum exactly in dec38, then ONE pinned
      // double-division chain
      cents = withNorm(assigned
        .select(col("cent_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy("cent_id", "pos")
        .agg((sum(round(col("v").cast("double") * lit(1e12))
          .cast(org.apache.spark.sql.types.DecimalType(38, 0)))
          .cast("double") / lit(1e12) / count(lit(1))).as("m"))
        .groupBy("cent_id")
        .agg(sort_array(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cent_id"),
          transform(col("pm"), x => x.getField("m")).as("c_emb")))
    }
    cents
  }
}
