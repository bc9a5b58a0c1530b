package graft.ops

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative graph analytics (north-star extensions).
  *
  * Second iterative-algorithm family after [[Dedup.ccStar]]: rank
  * propagation over a corpus-derived graph. Same execution discipline —
  * the driver loop is iteration CONTROL only, every round is a
  * shuffle-keyed join + partial agg that runs entirely on the cluster,
  * `localCheckpoint` cuts lineage per round.
  *
  * Determinism: PageRank is computed in exact INTEGER rank units
  * (SCALE = 1e12), with truncating division at every step — both
  * engines share int64 semantics, so 5 iterations are bit-identical
  * (float PageRank would drift: per-node contribution sums reduce in
  * arbitrary order). At 100 TB the float version would be the norm;
  * the integer formulation exists so the oracle can hash-check the
  * whole fixed-point pipeline, not just one step.
  */
object Graph {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  private val Scale = 1000000000000L

  /** Undirected customer↔supplier edges from order lines: node ids are
    * disjoint via even/odd encoding (customer c → 2c, supplier s →
    * 2s+1). Both directions emitted — every node then has outdeg ≥ 1,
    * so no dangling-mass redistribution is needed.
    */
  private def bipartiteEdgesRaw(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
    val ord = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    val cs = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("s"))
      .distinct()
    cs.select(col("c").as("src"), col("s").as("dst"))
      .unionByName(cs.select(col("s").as("src"), col("c").as("dst")))
  }

  /** The materialized "graph project": [[bipartiteEdgesRaw]] written ONCE
    * per (session, dir) and read by every graph query. Before this memo
    * each of q_pagerank / q_kcore / q_hits / q_closeness / q_bfs_reach /
    * q_label_prop / q_sssp / q_assortativity privately re-derived the
    * same distinct-edge frame from lineitem⋈orders — ~1-2 s of EVERY
    * graph query's battery time at sf0.1 — and at 100 TB a user
    * materializes exactly this projection once before running a graph
    * family (the Layout.scala / dedup-index artifact discipline).
    *
    * The artifact is a src-BUCKETED table ([[Artifacts.bucketed]]) with
    * as many buckets as the session has shuffle partitions: the scan
    * itself reports hashpartitioning(src, n), so consumers persist the
    * scan DIRECTLY — the per-query edge-scale repartition(src) exchange
    * every graph query used to pay at read time is gone, and at 100 TB
    * that exchange IS the family's setup cost — and a round join
    * against an exchanged side reuses the same n without a re-shuffle.
    */
  private[graft] val bipartiteEdges =
    Artifacts.bucketed("graft_graph_edges", "src")(bipartiteEdgesRaw)

  /** Shared part co-occurrence pair core for the wedge family
    * (q_triangle_count + q_local_clustering): the 1998-ship-year
    * (order, part) baskets fanned out row-locally into distinct
    * part pairs (whale baskets > 128 excluded — never a fact
    * self-join). Package-private so the plan guard can assert the
    * time-window pushdown on the BUILD plan (the queries themselves
    * read the checkpointed artifact).
    */
  private[graft] def wedgePairsRaw(s: SparkSession, dir: String): DataFrame = {
    val pk = 4294967296L
    val b = t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1998-01-01").cast("timestamp")
        && col("l_shipdate") < lit("1999-01-01").cast("timestamp"))
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    Pairs.fanOut(Pairs.sets(b, "l_orderkey", "l_partkey")
        .filter(size(col("items")) <= 128).select("items"))
      .select((col("a") * pk + col("b")).as("e"))
      .distinct()
      .select(expr(s"e div ${pk}L").as("u"), (col("e") % pk).as("v"))
  }

  /** The wedge-closure artifact both triangle-family queries consume:
    * pair core, degree frame, CLOSED wedges (= triangles, one row each:
    * degree-ordered orientation makes the triangle's lowest-ordered
    * vertex the unique center), and the exact edge/wedge counts.
    *
    * Before round 11 q_triangle_count and q_local_clustering each
    * privately rebuilt the identical pairs→deg→orientation frames AND
    * each paid the Σ outdeg² wedge self-join — the single most
    * expensive plan in the battery, twice. The closure now runs ONCE
    * per (session, dir); n_wedges is computed analytically as
    * Σ_src C(outdeg, 2) (the wedge join's row count by construction)
    * so counting it never materializes the wedge stream a second time.
    * localCheckpoint pins the small outputs (pairs, deg, triangles)
    * outside the SQL cache — the Artifacts train-once contract, same
    * as the IVF index and the graph edge table.
    */
  private[graft] case class WedgeCore(pairs: DataFrame, deg: DataFrame,
    closed: DataFrame, nEdges: Long, nWedges: Long)

  private val wedgeMemo = Artifacts.memo[WedgeCore] { case (_, w) =>
    Seq(w.pairs, w.deg, w.closed).foreach(Artifacts.release)
  }

  private[graft] def wedgeCore(s: SparkSession, dir: String): WedgeCore =
    wedgeMemo.computeIfAbsent((s, dir), _ => Artifacts.scoped {
      val pk = 4294967296L
      val pairs = wedgePairsRaw(s, dir).localCheckpoint(true)
      val deg = pairs.select(col("u").as("node"))
        .unionByName(pairs.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("dg"))
        .localCheckpoint(true)
      val ori = Artifacts.persist(pairs
        .join(deg.select(col("node").as("un"), col("dg").as("ud")),
          col("u") === col("un"))
        .join(deg.select(col("node").as("vn"), col("dg").as("vd")),
          col("v") === col("vn"))
        .select(
          when(struct(col("ud"), col("u")) < struct(col("vd"), col("v")),
            col("u")).otherwise(col("v")).as("src"),
          when(struct(col("ud"), col("u")) < struct(col("vd"), col("v")),
            col("v")).otherwise(col("u")).as("dst")))
      val nWedges = {
        // sum() over an empty frame is NULL (e.g. a ship-year slice
        // with zero qualifying pairs) — read 0 wedges, not an NPE.
        val r = ori.groupBy("src")
          .agg(count(lit(1)).as("od"))
          .agg(sum(expr("od * (od - 1) div 2").cast("decimal(38,0)"))
            .cast("long"))
          .head()
        if (r.isNullAt(0)) 0L else r.getLong(0)
      }
      val closed = ori.as("a")
        .join(ori.as("b"), col("a.src") === col("b.src")
          && col("a.dst") < col("b.dst"))
        .select(col("a.src").as("c"),
          (least(col("a.dst"), col("b.dst")) * pk
            + greatest(col("a.dst"), col("b.dst"))).as("w"))
        .join(pairs.select((col("u") * pk + col("v")).as("w")), Seq("w"))
        .select(col("c"), expr(s"w div ${pk}L").as("wu"),
          (col("w") % pk).as("wv"))
        .localCheckpoint(true)
      val nEdges = pairs.count()
      WedgeCore(pairs, deg, closed, nEdges, nWedges)
    })

  /** q_kcore's input edge list with the round invariant established:
    * hash-partitioned by src, lineage cut. Package-private so the plan
    * guards can drive [[kcoreRound]] with the real input shape.
    */
  private[graft] def kcoreEdges(s: SparkSession, dir: String): DataFrame = {
    // persist + materialize, NOT localCheckpoint: the checkpointed RDD
    // loses its partitioning under AQE (Scan ExistingRDD reports
    // Unknown, so every census re-exchanges), and an UN-materialized
    // cache does too (the cached AdaptiveSparkPlan is not final yet).
    // Once counted, the cache reports hashpartitioning(src) and
    // downstream rounds plan their census/src-semi exchange-free.
    // Three fixed rounds stay far below the lineage depth that forces
    // checkpointing in ccStar/pagerank.
    val e = Artifacts.persist(bipartiteEdges(s, dir)) // bucketed scan: already src-partitioned
    e.count()
    e
  }

  /** One k-core peel round over a SYMMETRIC, src-hash-partitioned edge
    * list — exposed (package-private) so the plan guards can assert on
    * an UN-checkpointed round (the q_kcore body checkpoints every round,
    * truncating lineage, which made analyzed-plan asserts vacuous).
    *
    * Exchange budget: the degree census and the src-side semi-join both
    * ride the input's src partitioning (zero edge-scale exchanges); the
    * dst-side semi-join is the round's ONE edge-scale shuffle. The
    * closing endpoint swap restores the invariant for free: the peel
    * filter (src∈K ∧ dst∈K) is symmetric, so on a symmetric edge list
    * the swapped frame is the SAME edge set — but it leaves the round
    * already hash-partitioned by its new src (the dst-semi's shuffle
    * output), so the next round's census re-exchanges nothing.
    */
  /** One min-label-propagation round — exposed (package-private) so the
    * plan guards can assert on an UN-checkpointed round (the
    * q_label_prop body checkpoints every round, truncating lineage).
    * Shape: edges⋈labels on src (the round's edge-scale shuffle),
    * partial-agg min by dst, node-scale rejoin; labels are never
    * broadcast (they scale with the population).
    */
  private[graft] def labelPropRound(edges: DataFrame,
      labels: DataFrame): DataFrame = {
    // shuffle_hash hint on the NODE-scale side (r15; was hint("merge")
    // r14): the anti-broadcast contract stays explicit in code — a
    // size-based broadcast threshold must never pick up a population-
    // scaling side just because the local test volume fits — but the
    // r14 merge pin paid a sort of BOTH sides every round (driver-
    // measured 32-core collapse, q_hits 0.295×). SHUFFLE_HASH keeps
    // the join off broadcast at any threshold while building only a
    // per-partition hash map over the hinted node-scale side; the
    // data-scaling edge list streams (guide §3.1).
    val nbrMin = edges
      .join(labels.hint("shuffle_hash"), edges("src") === labels("node"))
      .select(col("dst").as("n2"), col("lbl"))
      .groupBy("n2").agg(min(col("lbl")).as("m"))
    labels.join(nbrMin, labels("node") === nbrMin("n2"), "left")
      .select(col("node"),
        least(col("lbl"), coalesce(col("m"), col("lbl"))).as("lbl"))
  }

  /** k-core peel to the FIXPOINT — the production variant of q_kcore's
    * engine-checkable fixed-3-round twin (the oracled entry stays
    * fixed-round; GraphFixpointSpec proves this gated loop lands on the
    * same core). Convergence flag: the peel only ever DELETES edges, so
    * an unchanged edge count after a round IS the fixpoint — and the
    * count doubles as the per-round cache materialization barrier the
    * round invariant needs, so convergence costs no extra action.
    * maxRounds bounds the driver loop (peel depth is ≤ the longest
    * degree-k chain; 100 guards a pathological path graph).
    */
  def kcoreFixpoint(edgesIn: DataFrame, k: Int, maxRounds: Int = 100): DataFrame = {
    var edges = Artifacts.persist(edgesIn)
    var prev = edges.count()
    var done = prev == 0
    var iter = 0
    while (!done && iter < maxRounds) {
      val next = Artifacts.persist(kcoreRound(edges, k))
      val cnt = next.count()
      edges.unpersist()
      done = cnt == prev || cnt == 0
      prev = cnt
      edges = next
      iter += 1
    }
    edges
  }

  /** Min-label propagation to the FIXPOINT — the production variant of
    * q_label_prop's fixed-3-round gated twin. Convergence flag: a round
    * that changes NO label is the fixpoint (labels decrease
    * monotonically, so stability is global convergence). The per-round
    * changed-label probe is a node-scale join — iteration control, not
    * data movement; the edge side stays on the caller's cached
    * src-partitioning every round.
    */
  def labelPropFixpoint(edges: DataFrame, maxRounds: Int = 100): DataFrame = {
    // lazy checkpoints (r14): the per-round convergence probe is the
    // materializing action, so each round costs one job, not two
    var labels = edges.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("lbl"))
      .localCheckpoint(false)
    var done = false
    var iter = 0
    while (!done && iter < maxRounds) {
      val next = labelPropRound(edges, labels).localCheckpoint(false)
      done = next.as("n")
        .join(labels.select(col("node"), col("lbl").as("old")), "node")
        .filter(col("lbl") =!= col("old")).isEmpty
      labels = next
      iter += 1
    }
    labels
  }

  /** BFS to the FIXPOINT (empty frontier) — the production variant of
    * q_bfs_reach's fixed-4-hop gated twin. Convergence flag: the next
    * frontier's emptiness, read off the localCheckpoint's
    * materialization (no extra action). Returns (node, depth = min-hop
    * distance from seed) for every reachable node.
    */
  def bfsFixpoint(edges: DataFrame, seed: Long, maxRounds: Int = 100): DataFrame = {
    // lazy checkpoints (r14): the emptiness probe is the
    // materializing action, one job per hop instead of two
    var visited = edges.sparkSession.range(1)
      .select(lit(seed).as("node"), lit(0L).as("depth"))
      .localCheckpoint(false)
    var frontier = visited.select(col("node"))
    var done = false
    var d = 0
    while (!done && d < maxRounds) {
      d += 1
      val next = edges
        .join(frontier.hint("shuffle_hash"),
          edges("src") === frontier("node"))
        .select(col("dst").cast("long").as("node")).distinct()
        .join(visited.select("node"), Seq("node"), "left_anti")
        .select(col("node"), lit(d.toLong).as("depth"))
        .localCheckpoint(false)
      done = next.isEmpty
      visited = visited.unionByName(next)
      frontier = next.select(col("node"))
    }
    visited
  }

  private[graft] def kcoreRound(edges: DataFrame, k: Int): DataFrame = {
    // checkpoint the NODE-sized keep set: it feeds BOTH endpoint
    // semi-joins, and without the cut the degree census would be
    // planned twice per round. Lazy (r14): the leaf cut is what
    // dedups the planning; the cache materializes inside the
    // caller's per-round action instead of costing its own job.
    val keep = edges.groupBy("src")
      .agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= k)
      .select(col("src").as("node"))
      .localCheckpoint(false)
    edges
      .join(keep.withColumnRenamed("node", "src"), Seq("src"), "left_semi")
      .join(keep.withColumnRenamed("node", "dst"), Seq("dst"), "left_semi")
      .select(col("dst").as("src"), col("src").as("dst"))
  }

  val queries: Seq[Q] = Seq(

    // ── PageRank, 5 exact-integer iterations ─────────────────────────────
    // r'(n) = (15·r0) div 100 + (85·Σ_{m→n} (r(m) div deg(m))) div 100,
    // r0 = SCALE div N. Shape per iteration: ranks (one row per node)
    // shuffle-join onto edges by src, partial-agg sum by dst — the exact
    // pattern a 1000-executor PageRank runs; ranks are never broadcast
    // (they scale with the node population). N is a driver-side scalar
    // (iteration constant, like ccStar's convergence flag) — one count,
    // not a data collect.
    Q("q_pagerank",
      (s, dir) => {
        // the k-core round-invariant discipline applied to PageRank:
        // localCheckpoint DROPS partitioning info (Scan ExistingRDD
        // reports Unknown), so the r4 body re-exchanged edges AND ranks
        // AND the deg join every round. persist+count instead: the
        // cached edges report hashpartitioning(src), the deg census and
        // the contribution join ride it exchange-free, ranks come out
        // of each round's dst-agg already node-partitioned, and the deg
        // rejoin is cache-co-partitioned — ONE exchange per round (the
        // honest contribution agg), down from 3-4. Five rounds keep
        // plan nesting shallow enough that no lineage cut is needed;
        // finished rank generations unpersist as they retire.
        // Two complementary mechanisms, each where it pays:
        // - EDGES persist src-partitioned (materialized by the N
        //   count): every round's contribution join and the deg rejoin
        //   plan exchange-free on the edge-scale side — the 100-TB win.
        // - RANKS nest as ONE five-round plan (round 14): every rank
        //   generation is referenced exactly ONCE downstream (the next
        //   round's contribution join), so nesting is linear — 5
        //   join/agg blocks over InMemoryRelation leaves — and no
        //   subtree is ever computed twice. Dropping the per-round
        //   localCheckpoint removes, per round: the separate
        //   QueryExecution whose AQE stages materialized eagerly at
        //   DataFrame-BUILD time (strictly sequential jobs), the
        //   node-scale cache write+read, and the re-exchange of ranks
        //   the checkpoint's Unknown partitioning forced. Measured
        //   (interleaved min-of-2, sf0.1): 18 jobs → 13, −27% wall.
        //   This nesting is SAFE ONLY for single-reference chains:
        //   applying it to the multi-reference loops (hits, bfs,
        //   closeness, sssp — each generation read 2+ times) duplicated
        //   the un-checkpointed subtrees combinatorially because AQE
        //   stage reuse does not dedupe them (q_hits measured 31 → 107
        //   jobs, 417 → 1608 tasks) — those keep their per-round lazy
        //   checkpoints.
        val edges = Artifacts.persist(bipartiteEdges(s, dir)) // bucketed scan: already src-partitioned
        val deg = Artifacts.persist(edges.groupBy(col("src").as("node"))
          .agg(count(lit(1)).as("deg")))
        val n = deg.count()
        val r0 = Scale / n
        val base = (15L * r0) / 100L
        var ranks = deg.select(col("node"), col("deg"), lit(r0).as("pr"))
        for (_ <- 1 to 5) {
          val contrib = edges
            .join(ranks.hint("shuffle_hash"),
              edges("src") === ranks("node"))
            .select(col("dst"), expr("pr div deg").as("c"))
          ranks = contrib.groupBy(col("dst").as("node"))
            .agg(sum(col("c")).as("sc"))
            .join(deg, "node")
            .select(col("node"), col("deg"),
              (lit(base) + expr("(85 * sc) div 100")).as("pr"))
        }
        ranks.select(col("node"), col("pr")).orderBy("node")
      },
      Some("""WITH cs AS (
                SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
              edges AS (
                SELECT c AS src, s AS dst FROM cs
                UNION ALL SELECT s AS src, c AS dst FROM cs),
              deg AS (SELECT src AS node, count(*) AS deg FROM edges GROUP BY 1),
              nn AS (SELECT count(*) AS n FROM deg),
              r0 AS (SELECT node, deg,
                       1000000000000 // (SELECT n FROM nn) AS pr FROM deg),
              r1 AS (SELECT e.dst AS node, d.deg,
                       (15 * (1000000000000 // (SELECT n FROM nn))) // 100
                         + (85 * CAST(sum(r.pr // r.deg) AS BIGINT)) // 100 AS pr
                     FROM edges e JOIN r0 r ON r.node = e.src
                       JOIN deg d ON d.node = e.dst GROUP BY 1, 2),
              r2 AS (SELECT e.dst AS node, d.deg,
                       (15 * (1000000000000 // (SELECT n FROM nn))) // 100
                         + (85 * CAST(sum(r.pr // r.deg) AS BIGINT)) // 100 AS pr
                     FROM edges e JOIN r1 r ON r.node = e.src
                       JOIN deg d ON d.node = e.dst GROUP BY 1, 2),
              r3 AS (SELECT e.dst AS node, d.deg,
                       (15 * (1000000000000 // (SELECT n FROM nn))) // 100
                         + (85 * CAST(sum(r.pr // r.deg) AS BIGINT)) // 100 AS pr
                     FROM edges e JOIN r2 r ON r.node = e.src
                       JOIN deg d ON d.node = e.dst GROUP BY 1, 2),
              r4 AS (SELECT e.dst AS node, d.deg,
                       (15 * (1000000000000 // (SELECT n FROM nn))) // 100
                         + (85 * CAST(sum(r.pr // r.deg) AS BIGINT)) // 100 AS pr
                     FROM edges e JOIN r3 r ON r.node = e.src
                       JOIN deg d ON d.node = e.dst GROUP BY 1, 2),
              r5 AS (SELECT e.dst AS node, d.deg,
                       (15 * (1000000000000 // (SELECT n FROM nn))) // 100
                         + (85 * CAST(sum(r.pr // r.deg) AS BIGINT)) // 100 AS pr
                     FROM edges e JOIN r4 r ON r.node = e.src
                       JOIN deg d ON d.node = e.dst GROUP BY 1, 2)
              SELECT node, pr FROM r5 ORDER BY node""")),

    // ── degree-distribution census ───────────────────────────────────────
    // The first thing to look at before ANY graph workload (and the
    // q_key_skew analog for edges): per-node distinct-neighbor degrees
    // folded into bit-length buckets, split by bipartite side. Two
    // partial+final aggs over the edge list; the per-node intermediate is
    // exactly the shuffle PageRank's contribution join pays, so this
    // census also predicts that job's skew. All-integer output.
    Q("q_degree_stats",
      (s, dir) => bipartiteEdges(s, dir)
        .groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("deg"))
        .select(
          when(col("node") % 2 === 0, "customer").otherwise("supplier")
            .as("side"),
          length(bin(col("deg"))).cast("long").as("bucket"), col("deg"))
        .groupBy("side", "bucket")
        .agg(count(lit(1)).as("n_nodes"),
          sum(col("deg")).cast("long").as("n_edges"),
          min(col("deg")).cast("long").as("min_deg"),
          max(col("deg")).cast("long").as("max_deg"))
        .orderBy("side", "bucket"),
      Some("""WITH cs AS (
                SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
              edges AS (
                SELECT c AS src, s AS dst FROM cs
                UNION ALL SELECT s AS src, c AS dst FROM cs),
              deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
                      FROM edges GROUP BY 1)
              SELECT CASE WHEN node % 2 = 0 THEN 'customer'
                          ELSE 'supplier' END AS side,
                CAST(length(bin(deg)) AS BIGINT) AS bucket,
                COUNT(*) AS n_nodes, CAST(SUM(deg) AS BIGINT) AS n_edges,
                CAST(MIN(deg) AS BIGINT) AS min_deg,
                CAST(MAX(deg) AS BIGINT) AS max_deg
              FROM deg GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ── triangle census (degree-ordered wedge closure) ───────────────────
    // Triangle counting on the part co-occurrence graph (parts sharing an
    // order), the clustering-coefficient primitive. The 100-TB discipline
    // is Suri & Vassilvitskii's (WWW'11) degree ordering: orient every
    // edge low→high (degree, id), generate wedges only from each node's
    // OUT-neighbors, close them against the canonical edge set — wedge
    // count is Σ outdeg² ≤ O(m^1.5) on ANY degree distribution, where
    // the unoriented wedge count Σ deg² is quadratic in the max degree.
    // Pair generation is the basket fan-out (ONE groupBy, row-local
    // triangular expansion, 128-item cap), not a fact self-join; the
    // closure is a hash join on the packed pair key. Everything is
    // exact integer arithmetic.
    Q("q_triangle_count",
      (s, dir) => {
        // one ship-year slice: the census is a snapshot readout (a
        // rolling co-occurrence graph over all history grows superlinearly
        // in edges and ~quadratically in wedges — the time window is the
        // production knob); the year predicate pushes to the parquet scan
        // of the SHARED wedge-closure artifact ([[wedgeCore]], round 11:
        // the Σ outdeg² wedge join runs once per session, consumed here
        // AND by q_local_clustering). n_edges / n_wedges are the
        // artifact's exact build-time counts.
        val wc = wedgeCore(s, dir)
        wc.closed.agg(count(lit(1)).as("n_triangles"))
          .select(lit(wc.nEdges).as("n_edges"),
            lit(wc.nWedges).as("n_wedges"), col("n_triangles"))
      },
      Some("""WITH li AS (
                SELECT l_orderkey, l_partkey FROM lineitem
                WHERE l_shipdate >= TIMESTAMP '1998-01-01'
                  AND l_shipdate < TIMESTAMP '1999-01-01'),
              pairs AS (
                SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
                FROM li a JOIN li b
                  ON a.l_orderkey = b.l_orderkey
                  AND a.l_partkey < b.l_partkey
                WHERE a.l_orderkey IN (
                  SELECT l_orderkey FROM li
                  GROUP BY 1 HAVING COUNT(DISTINCT l_partkey) <= 128)),
              deg AS (
                SELECT node, CAST(COUNT(*) AS BIGINT) AS dg FROM (
                  SELECT u AS node FROM pairs
                  UNION ALL SELECT v FROM pairs)
                GROUP BY 1),
              ori AS (
                SELECT CASE WHEN (du.dg, u) < (dv.dg, v) THEN u ELSE v END
                    AS src,
                  CASE WHEN (du.dg, u) < (dv.dg, v) THEN v ELSE u END AS dst
                FROM pairs JOIN deg du ON u = du.node
                  JOIN deg dv ON v = dv.node),
              wedge AS (
                SELECT least(a.dst, b.dst) AS wu, greatest(a.dst, b.dst) AS wv
                FROM ori a JOIN ori b ON a.src = b.src AND a.dst < b.dst)
              SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs) AS n_edges,
                CAST(COUNT(*) AS BIGINT) AS n_wedges,
                CAST(COUNT(CASE WHEN u IS NOT NULL THEN 1 END) AS BIGINT)
                  AS n_triangles
              FROM wedge LEFT JOIN pairs ON wu = u AND wv = v""")),

    // ── BFS reachability: hop-distance census from a seed node ───────────
    // "Supply-chain blast radius": min-hop distance from one seed
    // customer over the bipartite customer↔supplier graph, bounded at 4
    // hops. Third iterative-graph shape after ccStar and PageRank, and
    // the one with a different per-round primitive: frontier-expand
    // (frontier ⋈ edges on src) + LEFT ANTI join against the visited
    // set — exactly the distributed BFS a 1000-executor run does. The
    // frontier and visited sets are node-keyed shuffles, never broadcast
    // (both scale with the graph); the driver loop is hop control only
    // (fixed 4 rounds, like PageRank's fixed 5). All-integer output, so
    // the DuckDB recursive-CTE twin is bit-exact.
    Q("q_bfs_reach",
      (s, dir) => {
        // persist src-partitioned (NOT localCheckpoint — the kcore/
        // pagerank lesson: a checkpointed scan reports Unknown
        // partitioning, so all 4 frontier joins would re-exchange the
        // edge list; cached, the edges side of every round is free).
        // The seed action below doubles as the materialization barrier.
        val edges = Artifacts.persist(bipartiteEdges(s, dir)) // bucketed scan: already src-partitioned
        // deterministic seed: the smallest node id (an even ⇒ customer).
        // A driver-side scalar like PageRank's N — iteration constant,
        // not a data collect.
        val seed = edges.agg(min(col("src")).cast("long")).head.getLong(0)
        var visited = edges.sparkSession.range(1)
          .select(lit(seed).as("node"), lit(0L).as("depth"))
          .localCheckpoint(true)
        var frontier = visited.select(col("node"))
        for (d <- 1 to 4) {
          // only the FRONTIER needs the lineage cut (it feeds the
          // next round's join); visited is a flat union of already-
          // checkpointed frontiers, so its lineage stays 4 blocks deep
          // and never re-materializes. EAGER checkpoints (r15, back
          // from r14's lazy): each generation is read 2+ times (the
          // visited union AND the next frontier join), and lazy cache
          // leaves let separate AQE stages materialize the SAME
          // generation concurrently — duplicated upstream compute that
          // grows with the core count (driver r14: q_hits 6.5× slower
          // at 32 cores than at 8). One eager job per hop is the
          // cheaper trade.
          val next = edges
            .join(frontier.hint("shuffle_hash"),
              edges("src") === frontier("node"))
            .select(col("dst").cast("long").as("node")).distinct()
            .join(visited.select("node"), Seq("node"), "left_anti")
            .select(col("node"), lit(d.toLong).as("depth"))
            .localCheckpoint(true)
          visited = visited.unionByName(next)
          frontier = next.select(col("node"))
        }
        visited.groupBy("depth")
          .agg(count(lit(1)).as("n_nodes"),
            min(col("node")).cast("long").as("min_node"),
            max(col("node")).cast("long").as("max_node"))
          .orderBy("depth")
      },
      Some("""WITH RECURSIVE cs AS (
                SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
              edges AS (
                SELECT c AS src, s AS dst FROM cs
                UNION ALL SELECT s AS src, c AS dst FROM cs),
              bfs(node, depth) AS (
                SELECT (SELECT MIN(src) FROM edges), 0
                UNION
                SELECT e.dst, b.depth + 1
                FROM bfs b JOIN edges e ON e.src = b.node
                WHERE b.depth < 4),
              d AS (SELECT node, MIN(depth) AS depth FROM bfs GROUP BY 1)
              SELECT CAST(depth AS BIGINT) AS depth,
                COUNT(*) AS n_nodes,
                CAST(MIN(node) AS BIGINT) AS min_node,
                CAST(MAX(node) AS BIGINT) AS max_node
              FROM d GROUP BY 1 ORDER BY 1""")),

    // ── weighted single-source shortest path (Bellman-Ford) ──────────────
    // BFS's weighted sibling: min-cost distance from the same seed under
    // a deterministic per-edge weight w = 1 + (src+dst) mod 5 (a stand-in
    // for a data-derived cost; integer so the oracle hash-checks).
    // Four Bellman-Ford rounds — each is edges⋈dist shuffle-join + a
    // min() partial agg by node, the exact relax step a 1000-executor
    // SSSP runs; after round r, dist(n) is the min cost over ≤r-edge
    // paths, which the oracle mirrors with a depth-bounded recursive CTE
    // (UNION-dedup keeps its state ≤ nodes × costs × hops, not paths).
    // Distances are never broadcast (they scale with the node
    // population); census output keeps the result frame bounded.
    Q("q_sssp",
      (s, dir) => {
        // the projection keeps the bucketed scan's src partitioning, so
        // all 4 relax joins plan exchange-free on the edges side
        val edges = bipartiteEdges(s, dir)
          .select(col("src"), col("dst"),
            (lit(1L) + (col("src") + col("dst")) % 5).as("w"))
        val seed = edges.agg(min(col("src")).cast("long")).head.getLong(0)
        // eager checkpoints (r15, back from r14's lazy): each dist
        // generation is read twice per round (the relax join AND the
        // union) — see q_bfs_reach for the concurrent-materialization
        // pathology lazy leaves cause at high core counts
        var dist = edges.sparkSession.range(1)
          .select(lit(seed).as("node"), lit(0L).as("cost"))
          .localCheckpoint(true)
        for (_ <- 1 to 4) {
          val relaxed = edges
            .join(dist.hint("shuffle_hash"),
              edges("src") === dist("node"))
            .select(col("dst").cast("long").as("node"),
              (col("cost") + col("w")).as("cost"))
          dist = dist.unionByName(relaxed)
            .groupBy("node").agg(min(col("cost")).as("cost"))
            .localCheckpoint(true)
        }
        dist.groupBy("cost")
          .agg(count(lit(1)).as("n_nodes"),
            min(col("node")).cast("long").as("min_node"),
            max(col("node")).cast("long").as("max_node"))
          .orderBy("cost")
      },
      Some("""WITH RECURSIVE cs AS (
                SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
              edges AS (
                SELECT c AS src, s AS dst, 1 + (c + s) % 5 AS w FROM cs
                UNION ALL
                SELECT s AS src, c AS dst, 1 + (c + s) % 5 AS w FROM cs),
              walk(node, cost, depth) AS (
                SELECT (SELECT MIN(src) FROM edges), 0, 0
                UNION
                SELECT e.dst, p.cost + e.w, p.depth + 1
                FROM walk p JOIN edges e ON e.src = p.node
                WHERE p.depth < 4),
              d AS (SELECT node, MIN(cost) AS cost FROM walk GROUP BY 1)
              SELECT CAST(cost AS BIGINT) AS cost,
                COUNT(*) AS n_nodes,
                CAST(MIN(node) AS BIGINT) AS min_node,
                CAST(MAX(node) AS BIGINT) AS max_node
              FROM d GROUP BY 1 ORDER BY 1""")),

    // ── k-core decomposition (3 peel rounds, k = 8) ──────────────────────
    // The graph-curation primitive behind "keep the well-connected
    // subgraph": iteratively remove nodes with degree < k until the
    // 8-core remains. Each round is degree census (partial+final agg by
    // src) → keep-set semi-joins on BOTH endpoints → localCheckpoint —
    // the same shuffle-linear round shape as BFS/SSSP, peel control on
    // the driver only. A FIXED 3 rounds (not run-to-fixpoint) keeps the
    // answer engine-checkable: after round r both engines hold the same
    // edge set by induction, and the oracle unrolls the identical three
    // rounds as CTEs. Emits the per-round census (nodes per bipartite
    // side + undirected edge count) — the curve that shows where the
    // peel converges. Keep-sets are degree-filtered aggregates (≤ nodes
    // rows) but scale with the population, so they ride hash semi-joins,
    // never a broadcast hint.
    Q("q_kcore",
      (s, dir) => {
        val k = 8
        // establish the round invariant ONCE: edges hash-partitioned by
        // src. Every round's census + src-semi then ride it exchange-free
        // ([[kcoreRound]]), and the endpoint swap re-establishes it from
        // the dst-semi's own shuffle — 1 edge-scale exchange per round,
        // down from 3.
        var edges = kcoreEdges(s, dir)
        // round 14 (r13 verdict item 2, per-query job-count attack):
        // ONE degree census per round now serves BOTH consumers — the
        // round census the query emits (n_cust/n_supp are conditional
        // counts over the node-scale census, n_edges = Σdeg div 2) and
        // the NEXT round's keep set (filter deg >= k). The per-round
        // 1-row head() doubles as the cache materialization barrier the
        // old count() provided (the next round's semi-joins must see
        // the final cached partitioning; pre-final caches report
        // Unknown), so each round costs exactly one job — down from
        // three (eager keep checkpoint + count + the final action's
        // per-round distinct census). The collected rows are O(1)
        // iteration scalars, the PageRank-N discipline.
        var deg = edges.groupBy("src")
          .agg(count(lit(1)).as("deg")).localCheckpoint(false)
        val rows = (1 to 3).map { r =>
          val keep = deg.filter(col("deg") >= k)
            .select(col("src").as("node")).localCheckpoint(false)
          edges = Artifacts.persist(edges
            .join(keep.withColumnRenamed("node", "src"), Seq("src"),
              "left_semi")
            .join(keep.withColumnRenamed("node", "dst"), Seq("dst"),
              "left_semi")
            .select(col("dst").as("src"), col("src").as("dst")))
          deg = edges.groupBy("src")
            .agg(count(lit(1)).as("deg")).localCheckpoint(false)
          val c = deg.agg(
            count(when(col("src") % 2 === 0, lit(1))).as("n_cust"),
            count(when(col("src") % 2 === 1, lit(1))).as("n_supp"),
            expr("sum(deg) div 2").as("n_edges")).head()
          (r.toLong, c.getLong(0), c.getLong(1), c.getLong(2))
        }
        s.createDataFrame(rows)
          .toDF("round", "n_cust", "n_supp", "n_edges")
          .orderBy("round")
      },
      Some("""WITH cs AS (
                SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
              e0 AS (
                SELECT c AS src, s AS dst FROM cs
                UNION ALL SELECT s, c FROM cs),
              k1 AS (SELECT src AS node FROM e0 GROUP BY 1
                     HAVING count(*) >= 8),
              e1 AS (SELECT e.src, e.dst FROM e0 e
                     JOIN k1 a ON e.src = a.node JOIN k1 b ON e.dst = b.node),
              k2 AS (SELECT src AS node FROM e1 GROUP BY 1
                     HAVING count(*) >= 8),
              e2 AS (SELECT e.src, e.dst FROM e1 e
                     JOIN k2 a ON e.src = a.node JOIN k2 b ON e.dst = b.node),
              k3 AS (SELECT src AS node FROM e2 GROUP BY 1
                     HAVING count(*) >= 8),
              e3 AS (SELECT e.src, e.dst FROM e2 e
                     JOIN k3 a ON e.src = a.node JOIN k3 b ON e.dst = b.node)
              SELECT CAST(round AS BIGINT) AS round,
                CAST(n_cust AS BIGINT) AS n_cust,
                CAST(n_supp AS BIGINT) AS n_supp,
                CAST(n_edges AS BIGINT) AS n_edges
              FROM (
                SELECT 1 AS round,
                  count(DISTINCT CASE WHEN src % 2 = 0 THEN src END) AS n_cust,
                  count(DISTINCT CASE WHEN src % 2 = 1 THEN src END) AS n_supp,
                  count(*) // 2 AS n_edges FROM e1
                UNION ALL
                SELECT 2,
                  count(DISTINCT CASE WHEN src % 2 = 0 THEN src END),
                  count(DISTINCT CASE WHEN src % 2 = 1 THEN src END),
                  count(*) // 2 FROM e2
                UNION ALL
                SELECT 3,
                  count(DISTINCT CASE WHEN src % 2 = 0 THEN src END),
                  count(DISTINCT CASE WHEN src % 2 = 1 THEN src END),
                  count(*) // 2 FROM e3)
              ORDER BY round"""))
    ,

    // ── min-label propagation: the connected-components primitive ───────
    // Fifth iterative-graph shape: each node adopts the smallest label
    // in its closed neighborhood, a FIXED 3 rounds (the kcore
    // engine-checkability discipline — run-to-fixpoint would need a
    // driver-side convergence flag and an oracle that can't unroll).
    // After round r every node holds the min node-id within r hops, so
    // the label census is a deterministic partial-CC snapshot; the
    // star-contraction in q_dup_clusters is the run-to-fixpoint
    // production variant, this is the bounded-round gated twin. Per
    // round: edges⋈labels on src (edge-scale shuffle, the honest cost),
    // partial-agg min by dst, node-scale rejoin — labels are never
    // broadcast (they scale with the population). Output: the per-round
    // label census (n_labels falling toward #components, plus the
    // largest provisional component) — the convergence curve, same
    // shape discipline as q_kcore's per-round census.
    Q("q_label_prop",
      (s, dir) => {
        // src-partitioned cached edges ([[kcoreEdges]] — the shared
        // round-invariant discipline): every round's edges⋈labels join
        // is exchange-free on the edges side. Labels localCheckpoint
        // per round (the pagerank split): truncated lineage keeps each
        // round's plan at two leaf relations, at the price of one
        // node-scale label exchange per round — the small side.
        val edges = kcoreEdges(s, dir)
        // lazy checkpoints (r14): each round is leaf-cut at build time
        // and all three rounds + censuses compute in ONE final job —
        // each generation's marked RDD persists as its stage completes,
        // so census r and round r+1 both read the cache
        var labels = edges.select(col("src").as("node")).distinct()
          .select(col("node"), col("node").as("lbl"))
          .localCheckpoint(false)
        val rounds = (1 to 3).map { r =>
          labels = labelPropRound(edges, labels).localCheckpoint(false)
          labels.groupBy("lbl").agg(count(lit(1)).as("sz"))
            .agg(count(lit(1)).as("n_labels"),
              sum(col("sz")).as("n_nodes"),
              max(col("sz")).as("max_comm"))
            .select(lit(r.toLong).as("round"), col("n_labels"),
              col("n_nodes"), col("max_comm"))
        }
        rounds.reduce(_ unionByName _).orderBy("round")
      },
      Some("""WITH cs AS (
                SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
              e AS (
                SELECT c AS src, s AS dst FROM cs
                UNION ALL SELECT s, c FROM cs),
              l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM e),
              l1 AS (SELECT n.node, LEAST(n.lbl, MIN(l.lbl)) AS lbl
                     FROM l0 n JOIN e ON e.dst = n.node
                       JOIN l0 l ON l.node = e.src
                     GROUP BY n.node, n.lbl),
              l2 AS (SELECT n.node, LEAST(n.lbl, MIN(l.lbl)) AS lbl
                     FROM l1 n JOIN e ON e.dst = n.node
                       JOIN l1 l ON l.node = e.src
                     GROUP BY n.node, n.lbl),
              l3 AS (SELECT n.node, LEAST(n.lbl, MIN(l.lbl)) AS lbl
                     FROM l2 n JOIN e ON e.dst = n.node
                       JOIN l2 l ON l.node = e.src
                     GROUP BY n.node, n.lbl)
              SELECT CAST(round AS BIGINT) AS round,
                n_labels, n_nodes, max_comm FROM (
                SELECT 1 AS round,
                  CAST(count(*) AS BIGINT) AS n_labels,
                  CAST(SUM(sz) AS BIGINT) AS n_nodes,
                  CAST(MAX(sz) AS BIGINT) AS max_comm
                FROM (SELECT lbl, count(*) AS sz FROM l1 GROUP BY 1)
                UNION ALL
                SELECT 2, CAST(count(*) AS BIGINT),
                  CAST(SUM(sz) AS BIGINT), CAST(MAX(sz) AS BIGINT)
                FROM (SELECT lbl, count(*) AS sz FROM l2 GROUP BY 1)
                UNION ALL
                SELECT 3, CAST(count(*) AS BIGINT),
                  CAST(SUM(sz) AS BIGINT), CAST(MAX(sz) AS BIGINT)
                FROM (SELECT lbl, count(*) AS sz FROM l3 GROUP BY 1))
              ORDER BY round"""))
    ,

    // ── degree assortativity (Newman's r over the bipartite graph) ──────
    // Do high-degree customers trade with high-degree suppliers? r =
    // Pearson correlation of endpoint degrees over the directed-
    // symmetric edge list: (M·Σxy − Σx·Σy) / √((M·Σx² − (Σx)²)(M·Σy² −
    // (Σy)²)). Shape: degree census (one edge shuffle), two node-scale
    // enrichment joins (degrees are never broadcast — they scale with
    // the population), ONE partial+final agg to a 1-row sum frame. All
    // sums are exact integers (x·y in int64 — safe to ~3·10⁹-degree
    // hubs, then DECIMAL(38,0) accumulation); the statistic is a few
    // IEEE ops on identical doubles, so it hash-matches without
    // rounding.
    Q("q_assortativity",
      (s, dir) => {
        // lazy (r14): edges feeds the census and both enrichment-join
        // probes — the leaf cut dedups the planning, the single final
        // agg materializes the cache (no separate checkpoint job)
        val edges = bipartiteEdges(s, dir).localCheckpoint(false)
        val deg = edges.groupBy(col("src").as("node"))
          .agg(count(lit(1)).as("deg"))
        val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
        val sums = edges
          .join(deg.select(col("node").as("u"), col("deg").as("x")),
            col("src") === col("u"))
          .join(deg.select(col("node").as("v"), col("deg").as("y")),
            col("dst") === col("v"))
          .agg(count(lit(1)).as("m"),
            sum(col("x").cast(dec38)).as("sx"),
            sum(col("y").cast(dec38)).as("sy"),
            sum((col("x") * col("y")).cast(dec38)).as("sxy"),
            sum((col("x") * col("x")).cast(dec38)).as("sxx"),
            sum((col("y") * col("y")).cast(dec38)).as("syy"))
        sums.select(col("m").as("m_edges"),
          ((col("m").cast("double") * col("sxy").cast("double")
            - col("sx").cast("double") * col("sy").cast("double"))
            / sqrt((col("m").cast("double") * col("sxx").cast("double")
                - col("sx").cast("double") * col("sx").cast("double"))
              * (col("m").cast("double") * col("syy").cast("double")
                - col("sy").cast("double") * col("sy").cast("double"))))
            .as("assortativity"))
      },
      Some("""WITH cs AS (
                SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
              e AS (
                SELECT c AS src, s AS dst FROM cs
                UNION ALL SELECT s, c FROM cs),
              deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS d
                      FROM e GROUP BY 1),
              xy AS (
                SELECT du.d AS x, dv.d AS y
                FROM e JOIN deg du ON e.src = du.node
                  JOIN deg dv ON e.dst = dv.node),
              s AS (
                SELECT CAST(count(*) AS BIGINT) AS m,
                  CAST(SUM(x) AS DOUBLE) AS sx,
                  CAST(SUM(y) AS DOUBLE) AS sy,
                  CAST(SUM(x * y) AS DOUBLE) AS sxy,
                  CAST(SUM(x * x) AS DOUBLE) AS sxx,
                  CAST(SUM(y * y) AS DOUBLE) AS syy
                FROM xy)
              SELECT m AS m_edges,
                (CAST(m AS DOUBLE) * sxy - sx * sy)
                  / sqrt((CAST(m AS DOUBLE) * sxx - sx * sx)
                    * (CAST(m AS DOUBLE) * syy - sy * sy))
                  AS assortativity
              FROM s""")),

    // ── local clustering coefficient census ──────────────────────────────
    // q_triangle_count's per-node readout: how clique-like is each
    // node's neighborhood? Same degree-ordered wedge closure (Suri &
    // Vassilvitskii — wedges ≤ O(m^1.5) on any degree distribution),
    // but each closed triangle fans out ROW-LOCALLY to its three
    // vertices; per-node triangle counts then bucket by degree bit
    // length. The bucket coefficient is Σ closed / Σ possible — exact
    // integers with ONE division per bucket, so no per-node FP sum can
    // drift. Everything keyed on the packed pair key or the node id.
    Q("q_local_clustering",
      (s, dir) => {
        // reads the SHARED wedge-closure artifact ([[wedgeCore]], round
        // 11 — one Σ outdeg² closure serves this and q_triangle_count);
        // each closed wedge (center c, ends wu < wv) is one triangle,
        // fanned out to its three vertices row-locally
        val wc = wedgeCore(s, dir)
        val deg = wc.deg
        val tri = wc.closed
          .select(explode(array(col("c"), col("wu"), col("wv")))
            .as("node"))
          .groupBy("node").agg(count(lit(1)).as("tri"))
        deg.join(tri, Seq("node"), "left")
          .select(length(bin(col("dg"))).cast("long").as("deg_bucket"),
            coalesce(col("tri"), lit(0L)).as("tri"),
            (col("dg") * (col("dg") - 1) / 2).cast("long").as("possible"))
          .groupBy("deg_bucket")
          .agg(count(lit(1)).as("n_nodes"),
            sum(col("tri")).as("n_closed"),
            sum(col("possible")).as("n_possible"))
          .select(col("deg_bucket"), col("n_nodes"), col("n_closed"),
            col("n_possible"),
            // degree-1 buckets have zero possible wedges — NULL cc in
            // both engines (ANSI division would error, IEEE gives nan)
            when(col("n_possible") === 0, lit(null))
              .otherwise(col("n_closed").cast("double")
                / col("n_possible").cast("double")).as("cc"))
          .orderBy("deg_bucket")
      },
      Some("""WITH li AS (
                SELECT l_orderkey, l_partkey FROM lineitem
                WHERE l_shipdate >= TIMESTAMP '1998-01-01'
                  AND l_shipdate < TIMESTAMP '1999-01-01'),
              pairs AS (
                SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
                FROM li a JOIN li b
                  ON a.l_orderkey = b.l_orderkey
                  AND a.l_partkey < b.l_partkey
                WHERE a.l_orderkey IN (
                  SELECT l_orderkey FROM li
                  GROUP BY 1 HAVING COUNT(DISTINCT l_partkey) <= 128)),
              deg AS (
                SELECT node, CAST(COUNT(*) AS BIGINT) AS dg FROM (
                  SELECT u AS node FROM pairs
                  UNION ALL SELECT v FROM pairs)
                GROUP BY 1),
              ori AS (
                SELECT CASE WHEN (du.dg, u) < (dv.dg, v) THEN u ELSE v END
                    AS src,
                  CASE WHEN (du.dg, u) < (dv.dg, v) THEN v ELSE u END AS dst
                FROM pairs JOIN deg du ON u = du.node
                  JOIN deg dv ON v = dv.node),
              closed AS (
                SELECT a.src AS c,
                  least(a.dst, b.dst) AS wu, greatest(a.dst, b.dst) AS wv
                FROM ori a JOIN ori b ON a.src = b.src AND a.dst < b.dst
                  JOIN pairs p ON p.u = least(a.dst, b.dst)
                    AND p.v = greatest(a.dst, b.dst)),
              tri AS (
                SELECT node, CAST(COUNT(*) AS BIGINT) AS tri FROM (
                  SELECT c AS node FROM closed
                  UNION ALL SELECT wu FROM closed
                  UNION ALL SELECT wv FROM closed)
                GROUP BY 1),
              pernode AS (
                SELECT CAST(length(bin(dg)) AS BIGINT) AS deg_bucket,
                  COALESCE(tri.tri, 0) AS tri,
                  dg * (dg - 1) // 2 AS possible
                FROM deg LEFT JOIN tri ON deg.node = tri.node)
              SELECT deg_bucket, COUNT(*) AS n_nodes,
                CAST(SUM(tri) AS BIGINT) AS n_closed,
                CAST(SUM(possible) AS BIGINT) AS n_possible,
                CASE WHEN SUM(possible) = 0 THEN NULL
                  ELSE CAST(SUM(tri) AS DOUBLE)
                    / CAST(SUM(possible) AS DOUBLE) END AS cc
              FROM pernode GROUP BY 1 ORDER BY deg_bucket""")),

    // ── HITS hubs & authorities, 2 exact-integer iterations ──────────────
    // Kleinberg's HITS on the DIRECTED customer→supplier graph: hub
    // customers concentrate purchases on authoritative suppliers. Same
    // integer-fixed-point discipline as q_pagerank (float HITS would
    // drift with reduction order): scores normalize per half-round by
    // the round MAX with truncating division — the max is a 1-row agg
    // broadcast (iteration constant), DECIMAL keeps Σ hub·indeg exact
    // at any degree. Per half-round shape: edges⋈scores on the edge
    // frame's src partitioning, partial-agg by the other endpoint — ONE
    // edge-scale exchange, scores never broadcast.
    Q("q_hits",
      (s, dir) => {
        // the un-encoded (c, s) pair set decoded from the shared edge
        // artifact (one direction of the symmetric list: src even =
        // customer side) — identical content to the old private
        // lineitem⋈orders + distinct derivation, minus the fact join
        val cs = bipartiteEdges(s, dir)
          .filter(col("src") % 2 === 0)
          .select(expr("src div 2").as("c"), expr("(dst - 1) div 2").as("s"))
          .repartition(col("c"))
        // eager checkpoints (r15, back from r14's lazy): every score
        // generation is read 2+ times (the next half-round's join, the
        // max broadcast build, the final union) — lazy cache leaves let
        // those consumers materialize the SAME generation concurrently
        // (driver r14: q_hits 13.82 s at 32 cores vs 2.14 s at 8, the
        // worst inversion in the battery; JobTrace r15 measured ~200 s
        // of duplicated task CPU per rep). One eager job per
        // half-round is the cheaper trade.
        var hubs = cs.select(col("c")).distinct()
          .select(col("c").as("node"), lit(Scale).as("h"))
          .localCheckpoint(true)
        var auths: DataFrame = hubs
        for (_ <- 1 to 2) {
          val araw = cs.join(hubs.hint("shuffle_hash"),
              cs("c") === hubs("node"))
            .groupBy(col("s").as("node"))
            .agg(sum(col("h").cast("decimal(38,0)")).as("raw"))
          val amax = araw.agg(max(col("raw")).as("mx"))
          auths = araw.crossJoin(broadcast(amax))
            .select(col("node"),
              expr("(raw * 1000000000000) div mx").cast("long").as("a"))
            .localCheckpoint(true)
          val hraw = cs.join(auths.hint("shuffle_hash"),
              cs("s") === auths("node"))
            .groupBy(col("c").as("node"))
            .agg(sum(col("a").cast("decimal(38,0)")).as("raw"))
          val hmax = hraw.agg(max(col("raw")).as("mx"))
          hubs = hraw.crossJoin(broadcast(hmax))
            .select(col("node"),
              expr("(raw * 1000000000000) div mx").cast("long").as("h"))
            .localCheckpoint(true)
        }
        hubs.select(lit("hub").as("role"), col("node"),
            col("h").as("score"))
          .unionByName(auths.select(lit("authority").as("role"),
            col("node"), col("a").as("score")))
          .orderBy("role", "node")
      },
      Some("""WITH cs AS (
                SELECT DISTINCT o_custkey AS c, l_suppkey AS s
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
              h0 AS (SELECT DISTINCT c AS node,
                       CAST(1000000000000 AS HUGEINT) AS h FROM cs),
              a1r AS (SELECT s AS node, SUM(h) AS raw
                      FROM cs JOIN h0 ON h0.node = cs.c GROUP BY 1),
              a1 AS (SELECT node, CAST(raw * 1000000000000
                       // (SELECT MAX(raw) FROM a1r) AS BIGINT) AS a
                     FROM a1r),
              h1r AS (SELECT c AS node, SUM(CAST(a AS HUGEINT)) AS raw
                      FROM cs JOIN a1 ON a1.node = cs.s GROUP BY 1),
              h1 AS (SELECT node, CAST(raw * 1000000000000
                       // (SELECT MAX(raw) FROM h1r) AS BIGINT) AS h
                     FROM h1r),
              a2r AS (SELECT s AS node, SUM(CAST(h AS HUGEINT)) AS raw
                      FROM cs JOIN h1 ON h1.node = cs.c GROUP BY 1),
              a2 AS (SELECT node, CAST(raw * 1000000000000
                       // (SELECT MAX(raw) FROM a2r) AS BIGINT) AS a
                     FROM a2r),
              h2r AS (SELECT c AS node, SUM(CAST(a AS HUGEINT)) AS raw
                      FROM cs JOIN a2 ON a2.node = cs.s GROUP BY 1),
              h2 AS (SELECT node, CAST(raw * 1000000000000
                       // (SELECT MAX(raw) FROM h2r) AS BIGINT) AS h
                     FROM h2r)
              SELECT 'hub' AS role, node, h AS score FROM h2
              UNION ALL
              SELECT 'authority' AS role, node, a AS score FROM a2
              ORDER BY role, node""")),

    // ── Adamic–Adar link prediction (supplier pairs) ─────────────────────
    // Which supplier pairs share the most DISCRIMINATING customers?
    // Adamic–Adar down-weights promiscuous common neighbors by
    // 1/ln(deg) — the classic link-prediction score. Candidate pairs
    // come from the per-customer basket fan-out (ONE groupBy, row-local
    // triangular expansion over the sorted supplier set, whale baskets
    // >128 excluded on BOTH engines — never a fact self-join); pairs
    // ride the shuffle as ONE packed long. Weights are carried as
    // EXACT integer micros (round(1/ln(deg)·10¹²) — the 1/ln is IEEE-
    // identical per customer, and the integer sum is reduction-order-
    // free), so the score needs no pinned fold: partial aggregation
    // does the work and the top-50 sorts on the exact integer.
    Q("q_adamic_adar",
      (s, dir) => {
        // the pair census lives in the SHARED basket pair-core artifact
        // (one generator, three scores: also_bought / this /
        // preferential_attachment); aa12 in the artifact is the
        // verbatim w12 expression summed in DECIMAL, so the values —
        // and hence the top-50 and its hashes — are bit-identical to
        // the old private derivation
        Curation.basketPairCore(s, dir)
          .select(expr("pk div 4294967296L").as("s1"),
            (col("pk") % 4294967296L).as("s2"), col("common"),
            col("aa12"),
            (col("aa12").cast("double") / 1.0e12).as("aa"))
          .orderBy(col("aa12").desc, col("s1"), col("s2"))
          .limit(50)
          .drop("aa12")
      },
      Some("""WITH b AS (
                SELECT o_custkey AS cust,
                  list_sort(list(DISTINCT l_suppkey)) AS items
                FROM orders JOIN lineitem ON o_orderkey = l_orderkey
                GROUP BY 1
                HAVING len(list(DISTINCT l_suppkey)) <= 128),
              w AS (SELECT cust, items,
                      CAST(round(1.0e12
                        / ln(CAST(len(items) AS DOUBLE)), 0) AS BIGINT)
                        AS w12
                    FROM b WHERE len(items) >= 2),
              pairs AS (
                SELECT w12, unnest(flatten(list_transform(
                  generate_series(1, len(items)),
                  i -> list_transform(generate_series(i + 1, len(items)),
                    j -> {'s1': items[i], 's2': items[j]})))) AS p
                FROM w),
              pc AS (SELECT p.s1 AS s1, p.s2 AS s2,
                       CAST(COUNT(*) AS BIGINT) AS common,
                       SUM(CAST(w12 AS HUGEINT)) AS aa12
                     FROM pairs GROUP BY 1, 2)
              SELECT s1, s2, common,
                CAST(aa12 AS DOUBLE) / 1.0e12 AS aa
              FROM pc ORDER BY aa12 DESC, s1, s2 LIMIT 50""")),

    // ── preferential-attachment link prediction (supplier pairs) ────────
    // The degree-product baseline Adamic–Adar is judged against: for
    // the SAME candidate pairs (the shared per-customer basket
    // generator — one generator, three scores now), score
    // PA(s1,s2) = deg(s1)·deg(s2) with degrees read from the shared
    // edge artifact's supplier side. Exact longs end to end (deg ≤
    // customers, product < 2⁶³ at any realistic scale, carried dec38
    // anyway); the deg joins are size-gated (supplier census scales).
    Q("q_preferential_attachment",
      (s, dir) => {
        val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
        // persisted: BOTH endpoint joins (d1, d2) read the degree
        // census — un-cached, each re-scans the edge artifact
        val deg = Artifacts.persist(bipartiteEdges(s, dir)
          .filter(col("src") % 2 === 1)
          .groupBy(expr("(src - 1) div 2").as("node"))
          .agg(count(lit(1)).as("deg")))
        val pairs = Curation.basketPairCore(s, dir)
          .select(expr("pk div 4294967296L").as("s1"),
            (col("pk") % 4294967296L).as("s2"), col("common"))
        pairs
          .join(deg.select(col("node").as("n1"), col("deg").as("d1")),
            col("s1") === col("n1"))
          .join(deg.select(col("node").as("n2"), col("deg").as("d2")),
            col("s2") === col("n2"))
          .select(col("s1"), col("s2"), col("common"),
            col("d1"), col("d2"),
            (col("d1").cast(dec38) * col("d2")).as("pa"))
          .orderBy(col("pa").desc, col("s1"), col("s2"))
          .limit(50)
          .select(col("s1"), col("s2"), col("common"), col("d1"),
            col("d2"), col("pa").cast("long").as("pa"))
      },
      Some("""WITH cs AS (
                SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
              deg AS (
                SELECT (s - 1) // 2 AS node, CAST(count(*) AS BIGINT)
                  AS deg
                FROM cs GROUP BY 1),
              b AS (
                SELECT o_custkey AS cust,
                  list_sort(list(DISTINCT l_suppkey)) AS items
                FROM orders JOIN lineitem ON o_orderkey = l_orderkey
                GROUP BY 1
                HAVING len(list(DISTINCT l_suppkey)) <= 128),
              pairs AS (
                SELECT unnest(flatten(list_transform(
                  generate_series(1, len(items)),
                  i -> list_transform(generate_series(i + 1, len(items)),
                    j -> {'s1': items[i], 's2': items[j]})))) AS p
                FROM b WHERE len(items) >= 2),
              pc AS (SELECT p.s1 AS s1, p.s2 AS s2,
                       CAST(COUNT(*) AS BIGINT) AS common
                     FROM pairs GROUP BY 1, 2)
              SELECT pc.s1, pc.s2, pc.common,
                d1.deg AS d1, d2.deg AS d2,
                CAST(CAST(d1.deg AS HUGEINT) * d2.deg AS BIGINT) AS pa
              FROM pc JOIN deg d1 ON pc.s1 = d1.node
                JOIN deg d2 ON pc.s2 = d2.node
              ORDER BY CAST(d1.deg AS HUGEINT) * d2.deg DESC,
                pc.s1, pc.s2
              LIMIT 50""")),

    // ── neighbor-Jaccard link prediction (supplier pairs) ───────────────
    // The third score over the SAME shared candidate generator
    // (also_bought / adamic_adar / preferential_attachment → this):
    // J(s1,s2) = |N₁∩N₂| / |N₁∪N₂| = common / (d1 + d2 − common), the
    // normalized link predictor PA's raw degree product and AA's
    // rarity weighting bracket. common reads the basket pair-core
    // artifact, degrees the edge artifact (both built once per dir) —
    // the query itself is pair-volume-bounded, zero corpus rescans.
    // The score is ONE division of exact ints — identical doubles both
    // engines — so the top-50 order (J desc, s1, s2) is deterministic
    // and hash-stable.
    Q("q_link_jaccard",
      (s, dir) => {
        // persisted: BOTH endpoint joins read the degree census
        val deg = Artifacts.persist(bipartiteEdges(s, dir)
          .filter(col("src") % 2 === 1)
          .groupBy(expr("(src - 1) div 2").as("node"))
          .agg(count(lit(1)).as("deg")))
        val pairs = Curation.basketPairCore(s, dir)
          .select(expr("pk div 4294967296L").as("s1"),
            (col("pk") % 4294967296L).as("s2"), col("common"))
        pairs
          .join(deg.select(col("node").as("n1"), col("deg").as("d1")),
            col("s1") === col("n1"))
          .join(deg.select(col("node").as("n2"), col("deg").as("d2")),
            col("s2") === col("n2"))
          .select(col("s1"), col("s2"), col("common"),
            col("d1").cast("long").as("d1"),
            col("d2").cast("long").as("d2"),
            (col("common").cast("double")
              / (col("d1") + col("d2") - col("common")).cast("double"))
              .as("jaccard"))
          .orderBy(col("jaccard").desc, col("s1"), col("s2"))
          .limit(50)
      },
      Some("""WITH cs AS (
                SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
              deg AS (
                SELECT (s - 1) // 2 AS node, CAST(count(*) AS BIGINT)
                  AS deg
                FROM cs GROUP BY 1),
              b AS (
                SELECT o_custkey AS cust,
                  list_sort(list(DISTINCT l_suppkey)) AS items
                FROM orders JOIN lineitem ON o_orderkey = l_orderkey
                GROUP BY 1
                HAVING len(list(DISTINCT l_suppkey)) <= 128),
              pairs AS (
                SELECT unnest(flatten(list_transform(
                  generate_series(1, len(items)),
                  i -> list_transform(generate_series(i + 1, len(items)),
                    j -> {'s1': items[i], 's2': items[j]})))) AS p
                FROM b WHERE len(items) >= 2),
              pc AS (SELECT p.s1 AS s1, p.s2 AS s2,
                       CAST(COUNT(*) AS BIGINT) AS common
                     FROM pairs GROUP BY 1, 2)
              SELECT pc.s1, pc.s2, pc.common,
                d1.deg AS d1, d2.deg AS d2,
                CAST(pc.common AS DOUBLE)
                  / CAST(d1.deg + d2.deg - pc.common AS DOUBLE) AS jaccard
              FROM pc JOIN deg d1 ON pc.s1 = d1.node
                JOIN deg d2 ON pc.s2 = d2.node
              ORDER BY jaccard DESC, pc.s1, pc.s2
              LIMIT 50""")),

    // ── Katz centrality: 3-hop attenuated path counts ───────────────────
    // The path-counting centrality q_pagerank's normalized ranks can't
    // give: katz(v) = Σ_h α^h · (#walks of length h ending at v),
    // truncated at h = 3 with α = 1/2. Exact integers end to end —
    // walk counts are integer edge-join sums (p₁ = A·1, p₂ = A·p₁,
    // p₃ = A·p₂, each ONE edge-scale exchange off the shared artifact,
    // the q_pagerank round shape), and the α-weighted combination is
    // carried ×8 (α³ = 1/8 ⇒ katz_x8 = 4p₁ + 2p₂ + p₃ in
    // DECIMAL(38,0) — no truncating division anywhere). Top-25 hubs by
    // the exact integer.
    Q("q_katz_centrality",
      (s, dir) => {
        val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
        val edges = Artifacts.persist(bipartiteEdges(s, dir)) // bucketed scan: already src-partitioned
        // lazy checkpoints (r14): p1/p2 each feed two consumers — the
        // leaf cut keeps them planned once, the cache materializes on
        // first read inside the single final job
        val p1 = edges.groupBy(col("dst").as("node"))
          .agg(count(lit(1)).cast(dec38).as("p1"))
          .localCheckpoint(false)
        val p2 = edges.join(p1.hint("shuffle_hash"),
            edges("src") === p1("node"))
          .groupBy(col("dst").as("node"))
          .agg(sum(col("p1")).as("p2"))
          .localCheckpoint(false)
        val p3 = edges.join(p2.hint("shuffle_hash"),
            edges("src") === p2("node"))
          .groupBy(col("dst").as("node"))
          .agg(sum(col("p2")).as("p3"))
        p1.join(p2.select(col("node").as("n2"), col("p2")),
            col("node") === col("n2"))
          .join(p3.select(col("node").as("n3"), col("p3")),
            col("node") === col("n3"))
          .select(col("node"),
            col("p1").cast("long").as("walks1"),
            col("p2").cast("long").as("walks2"),
            col("p3").as("walks3"),
            (col("p1") * 4 + col("p2") * 2 + col("p3")).as("katz_x8"))
          .orderBy(col("katz_x8").desc, col("node"))
          .limit(25)
          // walks3/katz ride dec38 internally and surface as DOUBLE —
          // 3-hop walk counts exceed int64 at extreme degree scale, and
          // decimal→double is the same nearest-rounding in both engines
          .select(col("node"), col("walks1"), col("walks2"),
            col("walks3").cast("double").as("walks3"),
            col("katz_x8").cast("double").as("katz_x8"))
      },
      Some("""WITH cs AS (
                SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
              sym AS (
                SELECT c AS src, s AS dst FROM cs
                UNION ALL SELECT s AS src, c AS dst FROM cs),
              p1 AS (
                SELECT dst AS node, CAST(count(*) AS HUGEINT) AS p1
                FROM sym GROUP BY 1),
              p2 AS (
                SELECT sym.dst AS node, SUM(p1.p1) AS p2
                FROM sym JOIN p1 ON sym.src = p1.node GROUP BY 1),
              p3 AS (
                SELECT sym.dst AS node, SUM(p2.p2) AS p3
                FROM sym JOIN p2 ON sym.src = p2.node GROUP BY 1)
              SELECT p1.node AS node,
                CAST(p1.p1 AS BIGINT) AS walks1,
                CAST(p2.p2 AS BIGINT) AS walks2,
                CAST(p3.p3 AS DOUBLE) AS walks3,
                CAST(p1.p1 * 4 + p2.p2 * 2 + p3.p3 AS DOUBLE) AS katz_x8
              FROM p1 JOIN p2 ON p1.node = p2.node
                JOIN p3 ON p1.node = p3.node
              ORDER BY p1.p1 * 4 + p2.p2 * 2 + p3.p3 DESC, p1.node
              LIMIT 25""")),

    // ── directed-edge reciprocity of the part-transition graph ──────────
    // The DIRECTED graph the bipartite customer–supplier projection
    // can't ask about: part at line n → part at line n+1 within an
    // order (the "what gets picked next" graph). Reciprocity = share
    // of distinct directed edges whose reverse also exists. Edge
    // derivation is ONE self-join co-partitioned on l_orderkey (the
    // shuffle key both sides share); the mutual probe is a LEFT SEMI
    // self-join of the persisted distinct-edge frame — edge-scale,
    // never parts². Distinct edges are bounded by |lineitem|.
    Q("q_reciprocity",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
        val e = Artifacts.persist(li.as("a")
          .join(li.as("b"),
            col("a.l_orderkey") === col("b.l_orderkey")
              && col("b.l_linenumber") === col("a.l_linenumber") + 1)
          .select(col("a.l_partkey").as("src"),
            col("b.l_partkey").as("dst"))
          .filter(col("src") =!= col("dst"))
          .distinct())
        val mutual = e.as("e")
          .join(e.select(col("src").as("rsrc"), col("dst").as("rdst")),
            col("e.src") === col("rdst") && col("e.dst") === col("rsrc"),
            "left_semi")
          .agg(count(lit(1)).cast("long").as("n_mutual"))
        e.agg(count(lit(1)).cast("long").as("n_edges"))
          .crossJoin(broadcast(mutual))
          .select(col("n_edges"), col("n_mutual"),
            when(col("n_edges") === 0, lit(null).cast("double"))
              .otherwise(col("n_mutual").cast("double")
                / col("n_edges").cast("double")).as("reciprocity"))
      },
      Some("""WITH li AS (
                SELECT l_orderkey, l_linenumber, l_partkey FROM lineitem),
              e AS (
                SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
                FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                  AND b.l_linenumber = a.l_linenumber + 1
                WHERE a.l_partkey <> b.l_partkey),
              m AS (
                SELECT CAST(count(*) AS BIGINT) AS n_mutual FROM e
                WHERE EXISTS (SELECT 1 FROM e r
                  WHERE r.src = e.dst AND r.dst = e.src)),
              n AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e)
              SELECT n_edges, n_mutual,
                CASE WHEN n_edges = 0 THEN NULL
                  ELSE CAST(n_mutual AS DOUBLE) / CAST(n_edges AS DOUBLE)
                  END AS reciprocity
              FROM n, m""")),

    // ── truncated closeness centrality from a seed panel ────────────────
    // How central are the 8 lowest-id customers? Multi-source BFS to
    // depth 4 carrying (seed, node) state — the exact shape a
    // 1000-executor landmark-closeness job runs (state ≤ seeds×|V|,
    // bounded by the fixed panel). Edges ride the cached src
    // partitioning across all 4 frontier joins (kcore discipline);
    // the 8-row seed panel is a driver constant like q_bfs_reach's
    // single seed. Closeness = (reached−1)/Σdepth on the truncated
    // distances — exact-int ratio, NULL-guarded for an isolated seed.
    Q("q_closeness",
      (s, dir) => {
        val edges = Artifacts.persist(bipartiteEdges(s, dir)) // bucketed scan: already src-partitioned
        val seeds = edges.select(col("src").cast("long").as("seed"))
          .distinct().orderBy("seed").limit(8)
          .collect().map(_.getLong(0)).toSeq
        // eager checkpoints (r15, back from r14's lazy): each (seed,
        // node) generation is read twice (union AND next frontier) —
        // see q_bfs_reach for the lazy concurrent-materialization
        // pathology (driver r14: q_closeness 5.03 s at 32 cores vs
        // 2.87 s at 8)
        var visited = edges.sparkSession
          .createDataFrame(seeds.map(Tuple1(_)))
          .select(col("_1").as("seed"), col("_1").as("node"),
            lit(0L).as("depth"))
          .localCheckpoint(true)
        var frontier = visited.select(col("seed"), col("node"))
        for (d <- 1 to 4) {
          val next = edges
            .join(frontier.hint("shuffle_hash"),
              edges("src") === frontier("node"))
            .select(col("seed"), col("dst").cast("long").as("node"))
            .distinct()
            .join(visited.select("seed", "node"), Seq("seed", "node"),
              "left_anti")
            .select(col("seed"), col("node"), lit(d.toLong).as("depth"))
            .localCheckpoint(true)
          visited = visited.unionByName(next)
          frontier = next.select(col("seed"), col("node"))
        }
        visited.groupBy("seed")
          .agg((count(lit(1)) - 1).cast("long").as("n_reached"),
            sum(col("depth")).cast("long").as("sum_depth"))
          .select(col("seed"), col("n_reached"), col("sum_depth"),
            when(col("sum_depth") === 0, lit(null).cast("double"))
              .otherwise(col("n_reached").cast("double")
                / col("sum_depth").cast("double")).as("closeness"))
          .orderBy("seed")
      },
      Some("""WITH RECURSIVE cs AS (
                SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
              edges AS (
                SELECT c AS src, s AS dst FROM cs
                UNION ALL SELECT s AS src, c AS dst FROM cs),
              seeds AS (
                SELECT DISTINCT src AS seed FROM edges
                ORDER BY seed LIMIT 8),
              bfs(seed, node, depth) AS (
                SELECT seed, seed, 0 FROM seeds
                UNION
                SELECT b.seed, e.dst, b.depth + 1
                FROM bfs b JOIN edges e ON e.src = b.node
                WHERE b.depth < 4),
              d AS (
                SELECT seed, node, MIN(depth) AS depth
                FROM bfs GROUP BY 1, 2)
              SELECT CAST(seed AS BIGINT) AS seed,
                CAST(count(*) - 1 AS BIGINT) AS n_reached,
                CAST(SUM(depth) AS BIGINT) AS sum_depth,
                CASE WHEN SUM(depth) = 0 THEN NULL
                  ELSE CAST(count(*) - 1 AS DOUBLE)
                    / CAST(SUM(depth) AS DOUBLE) END AS closeness
              FROM d GROUP BY 1 ORDER BY seed""")),

    // ── modularity of the nation partition on the trade graph ───────────
    // Does trade cluster along nation lines? Newman modularity
    // Q = Σ_c (e_c/m − (d_c/2m)²) of the FIXED nation partition over
    // the undirected distinct customer–supplier edge set — the
    // community-quality readout q_label_prop's propagated labels can
    // be compared against. ONE distinct-edge census carrying both
    // endpoint nations (dimension joins broadcast); within-community
    // edges and community degree sums are exact longs off the
    // persisted census; the ≤|nations| terms are 12-dec rounded and
    // nation-pinned. m never leaves the cluster.
    Q("q_modularity",
      (s, dir) => {
        // distinct (c, su, cn, sn) ≡ the shared edge artifact's distinct
        // (c, su) + broadcast dimension joins (nation is a FUNCTION of
        // each key), so the fact join collapses to the artifact scan
        val e = Artifacts.persist(bipartiteEdges(s, dir)
          .filter(col("src") % 2 === 0)
          .select(expr("src div 2").as("c"),
            expr("(dst - 1) div 2").as("su"))
          .join(broadcast(t(s, dir, "customer")
            .select(col("c_custkey"), col("c_nationkey").as("cn"))),
            col("c") === col("c_custkey"))
          .join(broadcast(t(s, dir, "supplier")
            .select(col("s_suppkey"), col("s_nationkey").as("sn"))),
            col("su") === col("s_suppkey"))
          .select(col("c"), col("su"),
            col("cn").cast("long").as("cn"), col("sn").cast("long")
              .as("sn")))
        val m = e.agg(count(lit(1)).cast("long").as("m"))
        val within = e.filter(col("cn") === col("sn"))
          .groupBy(col("cn").as("g"))
          .agg(count(lit(1)).cast("long").as("e_c"))
        val deg = e.select(col("cn").as("g"))
          .unionByName(e.select(col("sn").as("g")))
          .groupBy("g")
          .agg(count(lit(1)).cast("long").as("d_c"))
        deg.join(within, Seq("g"), "left")
          .select(col("g"),
            coalesce(col("e_c"), lit(0L)).as("e_c"), col("d_c"))
          .crossJoin(broadcast(m))
          .select(col("g"), col("m"),
            round(col("e_c").cast("double") / col("m").cast("double")
              - (col("d_c").cast("double")
                / (lit(2.0) * col("m").cast("double")))
                * (col("d_c").cast("double")
                  / (lit(2.0) * col("m").cast("double"))), 12)
              .as("term"))
          .groupBy("m")
          .agg(count(lit(1)).cast("long").as("n_communities"),
            round(expr(
              """aggregate(array_sort(collect_list(struct(g, term))),
                   CAST(0 AS DOUBLE), (a, x) -> a + x.term)"""), 12)
              .as("modularity"))
          .select(col("m"), col("n_communities"), col("modularity"))
      },
      Some("""WITH e AS (
                SELECT DISTINCT o_custkey AS c, l_suppkey AS su,
                  CAST(c_nationkey AS BIGINT) AS cn,
                  CAST(s_nationkey AS BIGINT) AS sn
                FROM lineitem
                JOIN orders ON l_orderkey = o_orderkey
                JOIN customer ON o_custkey = c_custkey
                JOIN supplier ON l_suppkey = s_suppkey),
              mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
              within AS (
                SELECT cn AS g, CAST(count(*) AS BIGINT) AS e_c
                FROM e WHERE cn = sn GROUP BY 1),
              deg AS (
                SELECT g, CAST(count(*) AS BIGINT) AS d_c
                FROM (SELECT cn AS g FROM e
                      UNION ALL SELECT sn AS g FROM e)
                GROUP BY 1),
              terms AS (
                SELECT g, m,
                  round(CAST(COALESCE(e_c, 0) AS DOUBLE)
                      / CAST(m AS DOUBLE)
                    - (CAST(d_c AS DOUBLE) / (2.0 * CAST(m AS DOUBLE)))
                      * (CAST(d_c AS DOUBLE)
                        / (2.0 * CAST(m AS DOUBLE))), 12) AS term
                FROM deg LEFT JOIN within USING (g), mm)
              SELECT m, CAST(count(*) AS BIGINT) AS n_communities,
                round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                  list(term ORDER BY g)), (a, x) -> a + x), 12)
                  AS modularity
              FROM terms GROUP BY 1""")),

    // ── rich-club coefficient over the degree hierarchy ─────────────────
    // Do high-degree nodes trade preferentially with each other?
    // φ(k) = 2·E_k / (N_k·(N_k−1)) where N_k = nodes with degree > k
    // and E_k = undirected edges with BOTH endpoints above k — the
    // power-law readout that says whether the hubs form a core. Reads
    // the shared edge artifact: the degree census is one partial+final
    // agg over it, the two enrichment joins are size-gated (the census
    // scales with SF — never hinted broadcast), and the 6 thresholds
    // fold as conditional sums in ONE pass (zero fan-out), so the
    // output is 6 rows at any scale. Exact integers until φ's one
    // division.
    Q("q_rich_club",
      (s, dir) => {
        val ks = Seq(1L, 2L, 4L, 8L, 16L, 32L)
        val deg = Artifacts.persist(bipartiteEdges(s, dir)
          .groupBy(col("src").as("node"))
          .agg(count(lit(1)).as("deg")))
        val nCols = ks.map(k => sum(when(col("deg") > k, 1L).otherwise(0L))
          .cast("long").as(s"n_$k"))
        val nodeCounts = deg.agg(nCols.head, nCols.tail: _*)
        val e = bipartiteEdges(s, dir)
          .filter(col("src") % 2 === 0)
          .join(deg.select(col("node"), col("deg").as("deg_a")),
            col("src") === col("node"))
          .drop("node")
          .join(deg.select(col("node"), col("deg").as("deg_b")),
            col("dst") === col("node"))
        val eCols = ks.map(k =>
          sum(when(col("deg_a") > k && col("deg_b") > k, 1L)
            .otherwise(0L)).cast("long").as(s"e_$k"))
        val edgeCounts = e.agg(eCols.head, eCols.tail: _*)
        val stacked = nodeCounts.crossJoin(edgeCounts)
          .select(expr("stack(6, " + ks.map(k =>
            s"CAST($k AS BIGINT), n_$k, e_$k").mkString(", ") +
            ") AS (k, n_k, e_k)"))
        stacked.select(col("k"), col("n_k"), col("e_k"),
            when(col("n_k") < 2, lit(null).cast("double"))
              .otherwise(round(lit(2.0) * col("e_k").cast("double")
                / (col("n_k").cast("double")
                  * (col("n_k") - 1).cast("double")), 12)).as("phi"))
          .orderBy("k")
      },
      Some("""WITH cs AS (
                SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
              sym AS (
                SELECT c AS src, s AS dst FROM cs
                UNION ALL SELECT s AS src, c AS dst FROM cs),
              deg AS (
                SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
                FROM sym GROUP BY 1),
              e AS (
                SELECT da.deg AS deg_a, db.deg AS deg_b
                FROM cs JOIN deg da ON cs.c = da.node
                  JOIN deg db ON cs.s = db.node),
              grid AS (SELECT UNNEST([1, 2, 4, 8, 16, 32]) AS k),
              nk AS (
                SELECT k, CAST(SUM(CASE WHEN deg > k THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_k
                FROM grid, deg GROUP BY 1),
              ek AS (
                SELECT k, CAST(SUM(CASE WHEN deg_a > k AND deg_b > k
                  THEN 1 ELSE 0 END) AS BIGINT) AS e_k
                FROM grid, e GROUP BY 1)
              SELECT CAST(nk.k AS BIGINT) AS k, n_k, e_k,
                CASE WHEN n_k < 2 THEN NULL
                  ELSE round(2.0 * CAST(e_k AS DOUBLE)
                    / (CAST(n_k AS DOUBLE) * CAST(n_k - 1 AS DOUBLE)), 12)
                  END AS phi
              FROM nk JOIN ek ON nk.k = ek.k
              ORDER BY k"""))
  )
}
