package graft.plans

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.execution.ExplainMode

/** Plan-shape regression guards: the scale properties PLANS.md documents,
  * asserted mechanically so they cannot silently rot. These check the
  * PLAN, not the result — the DuckDB gate owns results.
  */
class PlanGuardSpec extends SparkSpec {

  /** Each query is planned on an empty SQL cache. The suite builds its
    * queries outside any `Artifacts.scoped`, so their persists stay
    * cached, and a later query whose census has the same plan would read
    * that cache: a scan budget would then hold on another query's persist.
    */
  private def qe(name: String) = {
    spark.catalog.clearCache()
    SparkEntry.queries(name)(spark, sfDir).queryExecution
  }

  private def formatted(name: String): String =
    qe(name).explainString(ExplainMode.fromString("formatted"))

  /** Plan text with cached subtrees removed: everything indented under an
    * InMemoryRelation line is that cache's own (already-materialized)
    * build plan — its exchanges executed once at cache build and must
    * not count against a CONSUMER's exchange budget.
    */
  private def aboveCache(plan: String): String = {
    var skipIndent = -1
    plan.linesIterator.filter { l =>
      val indent = math.max(l.indexWhere(c => !c.isWhitespace && c != ':'), 0)
      if (skipIndent >= 0 && indent > skipIndent) false
      else if (l.contains("InMemoryRelation")) { skipIndent = indent; true }
      else { skipIndent = -1; true }
    }.mkString("\n")
  }

  test("bounded-heap top-k paths plan without any window operator") {
    for (q <- Seq("q_similarity_topk", "q_ann_ivf", "q_topk_per_group", "q_knn_graph"))
      assert(!qe(q).executedPlan.toString.contains("Window"),
        s"$q plans a window where graft_topk should aggregate")
    // positive control: the detector does see windows where they belong
    assert(qe("q_window_rank").executedPlan.toString.contains("Window"))
  }

  test("filter queries reach the parquet scan (PushedFilters non-empty)") {
    val ex = formatted("q_filter_pred")
    assert(ex.contains("PushedFilters: ["), "no pushdown section in scan")
    assert(!ex.matches("(?s).*PushedFilters: \\[\\].*"),
      "filters did not push into the scan")
  }

  test("projection prunes the lineitem scan to the referenced columns") {
    val ex = formatted("q_scan_project")
    val read = ex.linesIterator.find(_.trim.startsWith("ReadSchema")).get
    // 6 of 11 lineitem columns — pruning would be broken if all appear
    assert(read.count(_ == ',') < 10, s"scan reads too many columns: $read")
  }

  test("SF-growing join sides carry no broadcast hints (size-gating decides)") {
    // customer / documents / embeddings grow with the scale factor; a
    // forced broadcast OOMs the build side long before 100 TB
    for (q <- Seq("q_join_inner", "q_window_rank", "q_multimodal_cols"))
      assert(!qe(q).analyzed.toString.contains("broadcast"),
        s"$q force-broadcasts a table that grows with SF")
    // positive control: constant-size dims ARE hinted (q_join_broadcast)
    assert(qe("q_join_broadcast").analyzed.toString.contains("broadcast"))
  }

  test("q_join_broadcast hints only constant-cardinality dims, never customer") {
    // every hint subtree must be nation/region (25 / 5 rows at any SF);
    // fact sides (lineitem, orders, customer) are size-gated by AQE
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    val hints = qe("q_join_broadcast").analyzed.collect { case h: ResolvedHint => h }
    assert(hints.nonEmpty, "expected nation/region broadcast hints")
    for (h <- hints) {
      val sub = h.child.toString
      assert(sub.contains("nation") || sub.contains("region"),
        s"broadcast hint on a non-constant side:\n$sub")
      assert(!sub.contains("customer") && !sub.contains("lineitem") && !sub.contains("orders"),
        s"broadcast hint covers an SF-scaling table:\n$sub")
    }
  }

  test("ORDER BY + LIMIT plans as TakeOrderedAndProject, never a global sort") {
    assert(qe("q_sort_limit").executedPlan.toString
      .contains("TakeOrderedAndProject"))
  }

  test("as-of join and funnel never degrade to nested-loop shapes") {
    for (q <- Seq("q_join_asof", "q_funnel")) {
      val plan = qe(q).executedPlan.toString
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"$q plans a non-equi product where an equi shape is intended")
    }
  }

  test("funnel stage filters push into the parquet scans") {
    val ex = formatted("q_funnel")
    for (stage <- Seq("view", "click", "purchase"))
      assert(ex.contains(s"EqualTo(event_type,$stage)"),
        s"$stage stage filter did not reach its scan")
  }

  test("chunking is row-local: the only exchange is the contract ORDER BY") {
    val plan = qe("q_chunking").executedPlan.toString
    val exchanges = "(?<!Reused)Exchange".r.findAllIn(plan).size
    assert(exchanges <= 1, s"q_chunking shuffles before the output sort:\n$plan")
  }

  test("dedup sketches stay row-local (no explode-groupBy signature shuffle)") {
    // the one-pass expressions compute signatures before any Exchange:
    // the near-dup plan must not aggregate per (doc, hash-index)
    val plan = qe("q_dedup_near").executedPlan.toString
    assert(plan.contains("graft_minhash"), "one-pass minhash expression missing")
  }

  test("near-dup verify never explodes shingles: row-local merge-walk intersection") {
    // round 2 semi-join-pruned the verify's explode; round 3 removed it
    // entirely — candidate pairs carry both sorted shingle sets in one
    // row and graft_sorted_inter counts |A ∩ B| with zero unnesting.
    // The candidate-id LeftSemi prune must still gate which docs' arrays
    // join into pair rows.
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join}
    for (q <- Seq("q_dedup_near", "q_dedup_near_incremental")) {
      val plan = qe(q).optimizedPlan
      val shingleExplodes = plan.collect {
        case g: Generate if g.generator.toString.contains("shs") => g
      }
      assert(shingleExplodes.isEmpty,
        s"$q verify still unnests shingle arrays (${shingleExplodes.size} Generate nodes)")
      assert(plan.toString.contains("graft_sorted_inter"),
        s"$q lost the merge-walk intersection expression")
      assert(plan.collect { case j: Join if j.joinType == LeftSemi => j }.nonEmpty,
        s"$q lost the candidate-id semi-join prune")
    }
  }

  test("q_bloom_join probes codegen'd bloom bits below the exact semi join") {
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val plan = qe("q_bloom_join").optimizedPlan
    // the exact semi join must see the bloom probe (xxhash64 bit tests)
    // on its probe side — if PushDownLeftSemiAntiJoin ever reorders the
    // exact join below the bloom, the unpruned probe hits the exchange
    val semis = plan.collect { case j: Join if j.joinType == LeftSemi => j }
    assert(semis.nonEmpty, "expected the exact LeftSemi join")
    assert(semis.head.left.toString.contains("xxhash64"),
      "orders probe reaches the semi join unpruned by the bloom")
    // and the SF-scaling customer side is never hint-broadcast
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    val hints = qe("q_bloom_join").analyzed.collect { case h: ResolvedHint => h }
    for (h <- hints)
      assert(!h.child.toString.contains("customer"),
        s"bloom join force-broadcasts the SF-scaling customer side:\n${h.child}")
  }

  /** The physical plan as planned: AQE's current plan, which before any
    * stage runs is the initial plan with every exchange in place.
    */
  private def physical(q: String) = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    qe(q).executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
  }

  /** The file scans of `q`'s physical plan, including those under a
    * cached frame (another spec may have persisted the same read).
    */
  private def fileScans(q: String) = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    def walk(p: SparkPlan): Seq[FileSourceScanExec] = p.collect {
      case f: FileSourceScanExec => Seq(f)
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case st: QueryStageExec => walk(st.plan)
      case m: InMemoryTableScanExec => walk(m.relation.cachedPlan)
    }.flatten
    walk(physical(q))
  }

  /** Every bucketed scan of `q` must select all of the session's
    * `numShufflePartitions` buckets: the artifact is sized to the
    * session, so its scan partitioning matches every exchange.
    */
  private def assertSessionBuckets(q: String): Unit = {
    val n = spark.sessionState.conf.numShufflePartitions
    val counts = formatted(q).linesIterator.map(_.trim)
      .filter(_.startsWith("SelectedBucketsCount:")).toSeq
    assert(counts.nonEmpty, s"$q reads no bucketed scan")
    for (c <- counts)
      assert(c === s"SelectedBucketsCount: $n out of $n",
        s"$q's bucketed scan is not sized to the session's $n partitions")
  }

  /** Shuffle exchanges under `q`'s sort-merge joins. */
  private def exchangesBelowJoin(q: String): Int = {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val joins = physical(q).collect { case j: SortMergeJoinExec => j }
    assert(joins.nonEmpty, s"$q lost its sort-merge join")
    joins.map(_.collect { case e: ShuffleExchangeExec => e }.size).sum
  }

  test("graph edge artifact reads as a bucketed scan (no read-time exchange)") {
    // the graph project is a src-bucketed table with one bucket per
    // session shuffle partition, so the per-node degree census rides the
    // scan's hashpartitioning — the edge-scale repartition every graph
    // query used to pay is gone
    val ex = formatted("q_degree_stats")
    assert(ex.contains("Bucketed: true"),
      "edge artifact scan is not bucketed — consumers re-shuffle at read")
    assertSessionBuckets("q_degree_stats")
    val plan = qe("q_degree_stats").executedPlan.toString
    // allowed hash exchanges: the 8-row bit-length census (+nothing
    // else); the src-keyed degree agg must NOT exchange
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashEx <= 1,
      s"degree census exchanges $hashEx times — bucketing not picked up")
  }

  test("q_pagerank never broadcasts ranks (they scale with the node population)") {
    // r14: the five rounds nest into ONE plan (no per-round checkpoint
    // leaves), so the analyzed plan SHOWS the per-round pins the
    // checkpoints used to hide. r15: the pin is SHUFFLE_HASH on the
    // node-scale (ranks) side — anti-broadcast at any threshold, but
    // without the per-round both-side sorts the r14 merge pin paid
    // (driver-measured 32-core collapse). The guard mirrors the
    // label-prop shape: no BROADCAST hint anywhere, the shuffle-hash
    // pin present on every round join.
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, ResolvedHint, SHUFFLE_HASH}
    val hints = qe("q_pagerank").analyzed.collect { case h: ResolvedHint => h }
    assert(!hints.exists(_.hints.strategy.contains(BROADCAST)),
      s"pagerank broadcast-hints a population-scaling side: $hints")
    assert(hints.count(_.hints.strategy.contains(SHUFFLE_HASH)) == 5,
      s"pagerank lost a round's anti-broadcast shuffle-hash pin: $hints")
  }

  /** Hash-exchange count by PHYSICAL TREE WALK over the plan AQE runs:
    * its current plan (after `EnsureRequirements` placed the join and
    * aggregate exchanges) and, through each query stage, the stage's
    * own plan. Cache build plans are not children of the consumer plan
    * (InMemoryTableScan is a leaf), so unlike the toString grep this
    * can never over-count exchanges the cache already paid at
    * materialization.
    */
  private def hashExchanges(df: org.apache.spark.sql.DataFrame): Int = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case st: QueryStageExec => st +: nodes(st.plan)
      case o => o +: o.children.flatMap(nodes)
    }
    nodes(df.queryExecution.executedPlan).count {
      case e: ShuffleExchangeExec =>
        e.outputPartitioning.isInstanceOf[HashPartitioning]
      case _ => false
    }
  }

  test("hashExchanges counts the exchanges AQE plans, not its input plan") {
    // an aggregate's hash exchange is placed by EnsureRequirements, which
    // runs inside AQE: a walk of the pre-AQE input plan reads 0 here
    assert(hashExchanges(SparkEntry.queries("q_groupby_sum")(spark, sfDir)) >= 1)
  }

  test("q_pagerank round: ONE hash exchange — joins ride the cached partitioning") {
    // the round-5 kcore discipline applied to PageRank: edges persist
    // hash-partitioned by src, ranks come out of the dst-agg already
    // node-partitioned, deg is cache-co-partitioned — the contribution
    // aggregation is the round's only hash exchange (in the SMJ regime;
    // size-gated BHJ at test SF can only reduce the count further)
    import org.apache.spark.sql.functions.{col, count, expr, lit, sum}
    val edges = graft.ops.Graph.kcoreEdges(spark, sfDir)
    val deg = edges.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg")).persist()
    deg.count()
    val ranks = deg.select(col("node"), col("deg"), lit(100L).as("pr"))
    val contrib = edges.join(ranks, edges("src") === ranks("node"))
      .select(col("dst"), expr("pr div deg").as("c"))
    val round = contrib.groupBy(col("dst").as("node"))
      .agg(sum(col("c")).as("sc"))
      .join(deg, "node")
    val ex = hashExchanges(round)
    assert(ex <= 1, s"pagerank round pays $ex hash exchanges (budget 1)")
    deg.unpersist()
  }

  test("q_pricing_summary: filter pushes to the scan, aggregation is partial+final") {
    val ex = formatted("q_pricing_summary")
    assert(ex.contains("PushedFilters: [") &&
      !ex.matches("(?s).*PushedFilters: \\[\\].*"),
      "shipdate filter did not reach the lineitem scan")
    // partial+final: two HashAggregates — the shuffle carries per-task
    // group partials, never raw lineitem rows
    val aggs = "HashAggregate".r.findAllIn(qe("q_pricing_summary").executedPlan.toString).size
    assert(aggs >= 2, "pricing summary lost its partial aggregation")
  }

  test("TPC-H shape joins never hint SF-scaling sides (part, customer)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, ResolvedHint}
    for (q <- Seq("q_promo_share", "q_returned_customers")) {
      val hints = qe(q).analyzed.collect { case h: ResolvedHint => h }
      assert(hints.isEmpty, s"$q carries a broadcast hint on a scaling side: $hints")
    }
    // q_top_supplier's one hint is the 1-row global-max aggregate — a
    // constant-size subtree regardless of SF
    val hints = qe("q_top_supplier").analyzed.collect { case h: ResolvedHint => h }
    assert(hints.size == 1, s"expected exactly the 1-row max hint: $hints")
    val globalAgg = hints.head.child.collectFirst {
      case a: Aggregate if a.groupingExpressions.isEmpty => a
    }
    assert(globalAgg.nonEmpty, "the broadcast subtree is not the 1-row global max")
  }

  test("q_rank_fusion ranks through bounded heaps, not windows") {
    assert(!qe("q_rank_fusion").executedPlan.toString.contains("Window"),
      "rank fusion plans a window where graft_topk should aggregate")
  }

  test("q_session_paths final top-20 is TakeOrderedAndProject") {
    assert(qe("q_session_paths").executedPlan.toString
      .contains("TakeOrderedAndProject"))
  }

  test("q_simple_revenue pushes all three predicates into one pruned scan") {
    val ex = formatted("q_simple_revenue")
    assert(ex.contains("PushedFilters: [") &&
      !ex.matches("(?s).*PushedFilters: \\[\\].*"),
      "Q6 predicates did not reach the lineitem scan")
    val read = ex.linesIterator.find(_.trim.startsWith("ReadSchema")).get
    // shipdate/discount/quantity/extendedprice — 4 of 11 lineitem columns
    assert(read.count(_ == ',') <= 4, s"Q6 scan reads too many columns: $read")
  }

  test("q_disjunctive_join extracts the equi-key: hash join, never BNLJ") {
    val plan = qe("q_disjunctive_join").executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "OR-of-ANDs degraded to a nested-loop product")
    // the per-side residuals must prune both scans before the join
    val ex = formatted("q_disjunctive_join")
    assert(!ex.matches("(?s).*PushedFilters: \\[\\].*"),
      "disjunctive residuals did not split to the scans")
  }

  test("q_large_orders aggregates lineitem BEFORE the dimension joins") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    // the optimized plan must contain an Aggregate with a Join ABOVE it
    // and no Join below it — fold-then-enrich, never enrich-then-fold
    val opt = qe("q_large_orders").optimizedPlan
    val aggs = opt.collect { case a: Aggregate => a }
    assert(aggs.nonEmpty, "groupBy-HAVING aggregate missing")
    assert(aggs.forall(_.collect { case j: Join => j }.isEmpty),
      "q_large_orders joins dimensions below the quantity aggregate")
    assert(qe("q_large_orders").executedPlan.toString
      .contains("TakeOrderedAndProject"), "top-100 is not a bounded take")
  }

  test("q_dormant_customers: scalar avg is the only broadcast; anti-join is hashed") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, ResolvedHint}
    val hints = qe("q_dormant_customers").analyzed.collect { case h: ResolvedHint => h }
    assert(hints.size == 1, s"expected exactly the 1-row avg hint: $hints")
    val globalAgg = hints.head.child.collectFirst {
      case a: Aggregate if a.groupingExpressions.isEmpty => a
    }
    assert(globalAgg.nonEmpty, "the broadcast subtree is not the 1-row global avg")
    // the 1-row scalar compare IS a BroadcastNestedLoopJoin(Cross) — that
    // is the correct O(n·1) shape; the anti-join must stay a hash join
    val plan = qe("q_dormant_customers").executedPlan.toString
    val antiLines = plan.linesIterator.filter(_.contains("LeftAnti")).toSeq
    assert(antiLines.nonEmpty, "anti-join missing from the plan")
    assert(antiLines.forall(_.contains("HashJoin")),
      s"anti-join degraded to a nested loop:\n${antiLines.mkString("\n")}")
  }

  test("q_nation_trade prunes supplier/customer through nation before the facts") {
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    // no manual hints anywhere: nation BHJs by size, scaling sides hash-join
    val hints = qe("q_nation_trade").analyzed.collect { case h: ResolvedHint => h }
    assert(hints.isEmpty, s"q_nation_trade hints a scaling side: $hints")
    val ex = formatted("q_nation_trade")
    assert(ex.contains("n_name"), "nation filter missing from the plan")
    assert(!ex.matches("(?s).*PushedFilters: \\[\\].*"),
      "shipdate/nation filters did not reach the scans")
  }

  test("q_char_diversity folds row-locally: no window, aggregation stays partial+final") {
    val plan = qe("q_char_diversity").executedPlan.toString
    assert(!plan.contains("Window"),
      "entropy plans a window where partial aggregation should fold")
    assert("Exchange".r.findAllIn(plan).size <= 3,
      "entropy shuffles more than (doc,char) agg + doc agg + ORDER BY")
  }

  test("q_winsorize clamp join builds from the constant-size threshold table") {
    // thresholds are |priorities| rows at any SF — the join must not
    // shuffle the orders fact on the priority key a second time
    val plan = qe("q_winsorize").executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "winsorize clamp join is not broadcast — fact re-shuffles on priority")
  }

  test("q_also_bought reads the shared pair-core artifact, never a self-join") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    // the triangular fan-out moved into the basket pair-core ARTIFACT
    // builder (one build serves also_bought / adamic_adar /
    // preferential_attachment); the query plan must read that artifact
    // — and must never degrade to the corpus² basket×basket join shape
    val plan = qe("q_also_bought").optimizedPlan
    // the artifact path only prints in the PHYSICAL scan's Location
    assert(qe("q_also_bought").executedPlan.toString.contains("paircore"),
      "q_also_bought no longer reads the shared pair-core artifact")
    assert(plan.collect { case j: Join => j }
      .forall(j => !(j.left.toString.contains("collect_set")
        && j.right.toString.contains("collect_set"))),
      "baskets self-join instead of the artifact read")
    assert(qe("q_also_bought").executedPlan.toString
      .contains("TakeOrderedAndProject"), "top-100 is not a bounded take")
  }

  test("q_bootstrap_ci replicate aggregation is partial+final over 32 groups") {
    val plan = qe("q_bootstrap_ci").executedPlan.toString
    val aggs = "HashAggregate".r.findAllIn(plan).size
    assert(aggs >= 2, "replicate means lost their partial aggregation")
  }

  test("q_heavy_hitters exact pass touches only broadcast candidate keys") {
    // the exact count must join the token stream to the (<= k)-row
    // candidate set via broadcast — a shuffled vocabulary agg would be
    // the exact shape the sketch pass exists to avoid
    val plan = qe("q_heavy_hitters").executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "candidate prune is not a broadcast join")
    assert(plan.contains("graft_mg"), "Misra-Gries sketch agg missing")
  }

  test("brand-basket readouts finish on the pinned census and never rebuild it") {
    import org.apache.spark.sql.catalyst.expressions.aggregate.CollectSet
    import org.apache.spark.sql.catalyst.plans.logical.Generate
    import org.apache.spark.sql.execution.LogicalRDD
    val qs = Seq("q_brand_affinity", "q_basket_lift", "q_association_metrics")
    qs.foreach(qe) // the first call in the session builds the census
    for (q <- qs) {
      val (plan, jobs) = graft.Harness.counting(spark) { c =>
        c.reset()
        val p = qe(q).optimizedPlan
        c.settle()
        (p, c.jobs)
      }
      assert(jobs === 0, s"$q started $jobs job(s) on a second call")
      assert(plan.collectLeaves().forall(_.isInstanceOf[LogicalRDD]),
        s"$q reads more than the pinned census:\n$plan")
      assert(plan.collect { case g: Generate => g }.isEmpty, s"$q fans out pairs")
      assert(plan.flatMap(_.expressions).forall(!_.exists(_.isInstanceOf[CollectSet])),
        s"$q collects baskets")
    }
  }

  test("q_set_overlap scans events once: type sizes are the census's single cells") {
    val scans = fileScans("q_set_overlap")
      .map(_.relation.location.rootPaths.mkString(","))
    assert(scans.size === 1 && scans.head.contains("events"),
      s"q_set_overlap scans ${scans.size} times: $scans")
  }

  test("wedge core: ship-year slice pushes to the scan, closure is hashed") {
    // round 11: the pairs→orientation→closure pipeline is the shared
    // wedgeCore artifact; the pushdown is asserted on its BUILD plan
    // (the queries themselves read the checkpointed result)
    val ex = graft.ops.Graph.wedgePairsRaw(spark, sfDir).queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(ex.contains("GreaterThanOrEqual(l_shipdate")
      && ex.contains("LessThan(l_shipdate"),
      "the co-occurrence time window did not reach the parquet scan")
    // the wedge self-join and the closure probe must be equi joins with
    // NO forced broadcast (adjacency and edge sets scale with the data;
    // at test SF AQE legitimately size-gates them to BHJ)
    for (q <- Seq("q_triangle_count", "q_local_clustering"))
      assert(!qe(q).executedPlan.toString.contains("CartesianProduct"),
        s"$q degraded to a cartesian product")
    assert(!qe("q_local_clustering").analyzed.toString.contains("broadcast"),
      "q_local_clustering force-broadcasts a scaling side")
  }

  test("q_semdedup joins cell-mates on cent_id, never broadcasting the corpus") {
    // the within-cell pair join must key on cent_id (cost Σ|cell|²);
    // broadcasting either side would ship the corpus to every task
    val an = qe("q_semdedup").analyzed.toString
    assert(!an.contains("broadcast"),
      "q_semdedup force-broadcasts an SF-scaling side")
    val plan = qe("q_semdedup").executedPlan.toString
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")
      || plan.contains("BroadcastHashJoin"), // AQE may size-gate at tiny SF
      s"no equi join in q_semdedup plan")
  }

  test("q_pareto_frontier windows are partitioned (no single-task prefix max)") {
    // AQE wraps the physical plan, so inspect the optimized logical plan:
    // every window spec must carry the segment partition key
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val windows = qe("q_pareto_frontier").optimizedPlan.collect {
      case w: LWindow => w
    }
    assert(windows.nonEmpty, "expected the prefix-max window")
    windows.foreach(w => assert(w.partitionSpec.nonEmpty,
      "prefix-max window lost its segment partitioning"))
  }

  test("q_supplier_wait decorrelates to ONE orderkey aggregation, no re-probe") {
    // both EXISTS collapse into a single groupBy(orderkey): the fact
    // table must appear in exactly one scan (plus the orders join)
    val plan = qe("q_supplier_wait").executedPlan.toString
    val liScans = "Scan parquet".r.findAllIn(plan).size
    assert(liScans <= 3, s"decorrelation re-probes the fact table:\n$plan")
  }

  test("single-pass moment queries: no window, no join, partial+final agg only") {
    // q_moments and q_corr_matrix must stay one scan + one agg exchange;
    // a window or join would mean the single-pass contract broke
    for (q <- Seq("q_moments", "q_corr_matrix")) {
      val plan = qe(q).executedPlan.toString
      assert(!plan.contains("Window"), s"$q grew a window operator")
      assert(!plan.contains("SortMergeJoin") && !plan.contains("Cartesian"),
        s"$q grew a data-sized join:\n$plan")
      assert(plan.contains("HashAggregate"), s"$q lost its hash aggregation")
    }
  }

  test("q_changepoint windows run on the day census, partitioned by priority") {
    // the fact table must collapse to (priority, day) BEFORE any window;
    // every window spec keeps the priority partition key (no global sort)
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val opt = qe("q_changepoint").optimizedPlan
    val windows = opt.collect { case w: LWindow => w }
    assert(windows.nonEmpty, "expected the CUSUM prefix windows")
    windows.foreach { w =>
      assert(w.partitionSpec.nonEmpty, "CUSUM window lost its partition key")
      assert(w.collect { case a: Aggregate => a }.nonEmpty,
        "CUSUM window reads raw orders instead of the day census")
    }
  }

  test("q_scd2_lookup probes versions through the equi-key, never a BNLJ") {
    // custkey equality is the hash key; the interval test is only a
    // residual — losing the equi extraction degrades to a data² product
    val plan = qe("q_scd2_lookup").executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "PIT lookup lost its custkey equi-join")
  }

  test("non-associative scans fold row-locally: no window operator at all") {
    // inventory balance / bin packing are per-key sorted-array left
    // folds inside the aggregate — a Window would mean the fold
    // regressed to a data-sized sort pipeline
    for (q <- Seq("q_inventory_running", "q_compaction_plan"))
      assert(!qe(q).executedPlan.toString.contains("Window"),
        s"$q grew a window operator over the fact table")
  }

  test("chi2/tvd drift lenses join only census-sized frames") {
    // both lenses collapse the corpus in ONE shared (source, lang)
    // census (tvdCounts); every join downstream must sit above
    // aggregates on BOTH sides — a raw-scan join side would mean the
    // corpus-sized work leaked past the census
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    for (q <- Seq("q_chi2", "q_tvd_drift")) {
      val joins = qe(q).optimizedPlan.collect { case j: Join => j }
      assert(joins.nonEmpty, s"$q lost its grid joins")
      // a side is census-sized if it aggregates, OR if it reads the
      // persisted census cache (InMemoryRelation wraps the census agg)
      for (j <- joins; side <- Seq(j.left, j.right))
        assert(side.collectFirst { case a: Aggregate => a }.nonEmpty
          || side.collectFirst { case r: InMemoryRelation => r }.nonEmpty,
          s"$q joins a raw corpus-sized side:\n$side")
    }
  }

  test("drift family scans the corpus exactly once (persisted census)") {
    // tvd/ks/wasserstein/chi2 and kendall_tau each feed 3-5 consumers
    // from one mergeable census; persisted, the final plan reads ONLY
    // the cache — any parquet scan here means a consumer re-walked the
    // corpus (the round-4 regression: 3-4 redundant passes at 100 TB)
    // assert on the optimized plan (post cache-substitution): every
    // table read must resolve to the InMemoryRelation census — a
    // surviving LogicalRelation is a direct parquet re-scan. Tree
    // collection cannot descend into the cached plan, so the census's
    // own (single) scan never false-positives.
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    for (q <- Seq("q_tvd_drift", "q_ks_drift", "q_wasserstein", "q_chi2",
        "q_kendall_tau")) {
      val opt = qe(q).optimizedPlan
      val raw = opt.collect { case l: LogicalRelation => l }
      assert(raw.isEmpty,
        s"$q re-scans parquet past its persisted census: ${raw.size} raw relations")
      // the census read is either a persisted cache (InMemoryRelation)
      // or — since r12 for the ks/wasserstein family — the pinned
      // checkpointed session artifact (LogicalRDD via Censuses)
      val cached = opt.collect { case r: InMemoryRelation => r }
      val pinned = opt.collect { case r: LogicalRDD => r }
      assert(cached.nonEmpty || pinned.nonEmpty,
        s"$q lost its census cache/artifact read:\n$opt")
    }
  }

  test("no few-group window ever sorts a fact-table scan (RangeRank family)") {
    // the round-3 weak family: rank/cumsum over a 3-25-value partition key
    // on a scaling fact. Every data-sized window must carry the RangeRank
    // partition id (parallelism = cluster partitions); windows WITHOUT the
    // pid are only legal above an Aggregate (the ≤ P·|k|-row census or a
    // group-collapsed frame) — never directly over the scan
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    import org.apache.spark.sql.execution.LogicalRDD
    val family = Seq("q_percentile_disc", "q_percentile_cont", "q_mad",
      "q_winsorize", "q_feature_binning", "q_quantile_norm",
      "q_sequence_pack", "q_gini", "q_template_mining",
      "q_weighted_median", "q_top_share", "q_norm_profile",
      "q_auc", "q_lift_gain", "q_abc_classification",
      // round-6 members: nation percent-rank, global quartile/decile
      // cuts, per-type percentiles, per-lang trigram top-5
      "q_percent_rank", "q_ntile_orders", "q_ltv_deciles",
      "q_group_percentiles", "q_char_trigrams",
      // round-8 members: moved from ranked()/plain windows onto the
      // groupValuesAtRanks histogram selection — their remaining
      // windows are the bucket/value censuses (over Aggregates)
      "q_ship_latency", "q_quantile_treatment_effect")
    for (q <- family) {
      val plan = qe(q).optimizedPlan
      val windows = plan.collect { case w: LWindow => w }
      // round 13: pinned-RANKED-census consumers carry no window at
      // all — the rank pass lives in the once-per-session artifact
      // build. Round 14 (r13 ADVICE): "any LogicalRDD" was vacuous —
      // every checkpointed frame qualifies, so a regression dropping
      // both the window AND the artifact-side rank would have passed.
      // A windowless plan must read a RANKED artifact specifically: a
      // LogicalRDD leaf exposing an exclusive-prefix column (off /
      // off1), the schema only the ranked census builders produce.
      if (windows.isEmpty) {
        val rankedLeaves = plan.collect {
          case r: LogicalRDD
              if r.output.exists(a => a.name == "off" || a.name == "off1")
            => r
        }
        assert(rankedLeaves.nonEmpty,
          s"$q has no rank window and no ranked-artifact (off/off1) leaf")
      }
      for (w <- windows) {
        val hasPid = w.partitionSpec.exists(_.toString.contains("__rr_pid"))
        val overCensus = w.child.collectFirst { case a: Aggregate => a }.nonEmpty
        assert(hasPid || overCensus,
          s"$q: data-sized window partitioned only by the few-group key:\n$w")
      }
    }
    // q_ndcg left the family by moving to bounded-heap graft_topk
    assert(!qe("q_ndcg").executedPlan.toString.contains("Window"),
      "q_ndcg regressed from graft_topk back to a window sort")
  }

  test("q_substring_dup joins the census un-hinted on the shingle key") {
    // the shingle census grows with the corpus: a broadcast hint here
    // OOMs at scale; the rejoin must be a plain hash join on `sh`
    assert(!qe("q_substring_dup").analyzed.toString.contains("broadcast"),
      "q_substring_dup force-broadcasts the corpus-sized shingle census")
  }

  test("q_join_bucketed: co-located join — bucket scans, only the agg exchanges") {
    // both sides bucketed on the join key, one bucket per session
    // shuffle partition: the SMJ must read
    // co-located buckets (Bucketed: true on both scans) and the ONLY
    // hash Exchange allowed is the census-sized post-join aggregation —
    // a second one means the layout stopped eliminating the join shuffle
    val ex = formatted("q_join_bucketed")
    assert("Bucketed: true".r.findAllIn(ex).size >= 2,
      s"join sides are not read as bucketed scans")
    assert(ex.contains("SortMergeJoin"),
      "bucketed join lost its SMJ (merge hint) shape")
    // count on executedPlan.toString — formatted mode splits the operator
    // and its 'Arguments: hashpartitioning(...)' across lines, so a
    // substring grep there never matches (the guard would pass vacuously)
    val plan = qe("q_join_bucketed").executedPlan.toString
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashEx <= 1,
      s"bucketed join still shuffles ($hashEx hash exchanges — expected ≤1 for the agg)")
    assertSessionBuckets("q_join_bucketed")
    assert(exchangesBelowJoin("q_join_bucketed") === 0,
      "a bucketed join side is re-shuffled below the join")
    // positive control for the detector: a plain partial+final agg on an
    // un-bucketed scan DOES show a hash exchange (a join would be
    // size-gated to broadcast at test SF)
    val ctl = qe("q_groupby_sum").executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(ctl).nonEmpty,
      "exchange detector is blind — control plan shows no hash exchange")
  }

  test("q_join_bucketed_fact: fact-fact join AND agg run with zero hash exchanges") {
    // both facts bucketed on the orderkey and the groupBy leads with the
    // bucket key: the join reads co-located buckets and the scan's hash
    // partitioning (subset of the group keys) satisfies the aggregation —
    // the Q18 drill-down must plan with NO hash exchange at all; only
    // the output ORDER BY range-partitions the survivor set
    val ex = formatted("q_join_bucketed_fact")
    assert("Bucketed: true".r.findAllIn(ex).size >= 2,
      "fact join sides are not read as bucketed scans")
    assert(ex.contains("SortMergeJoin"),
      "bucketed fact join lost its SMJ (merge hint) shape")
    val plan = qe("q_join_bucketed_fact").executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed fact-fact drill-down still hash-shuffles:\n$plan")
    assertSessionBuckets("q_join_bucketed_fact")
    assert(exchangesBelowJoin("q_join_bucketed_fact") === 0,
      "a bucketed fact side is re-shuffled below the join")
  }

  test("q_bucket_agg: bucket-key aggregation runs with ZERO hash exchanges") {
    // the scan's hash partitioning satisfies the aggregation's
    // distribution — the most common fact rollup becomes a scan
    val ex = formatted("q_bucket_agg")
    assert(ex.contains("Bucketed: true"), "agg does not read the bucketed scan")
    assert(!qe("q_bucket_agg").executedPlan.toString
      .contains("Exchange hashpartitioning"),
      "bucket-key aggregation still shuffles")
    assertSessionBuckets("q_bucket_agg")
  }

  test("q_partition_prune: the year predicate prunes at the directory level") {
    val ex = formatted("q_partition_prune")
    val pf = ex.linesIterator.find(_.trim.startsWith("PartitionFilters")).getOrElse("")
    assert(pf.contains("o_year"),
      s"year predicate did not become a PartitionFilter: $pf")
    // and it must NOT degrade to a post-scan Filter on o_year alone
    assert(!ex.matches("(?s).*PartitionFilters: \\[\\].*"),
      "partition filters list is empty")
  }

  test("rolling day-census windows run above the Aggregate, never on raw orders") {
    // fact rows collapse in the (day) aggregate FIRST; the ORDER BY day
    // window may only see the calendar-bounded census frame
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    for (q <- Seq("q_rolling_median", "q_rolling_corr")) {
      val windows = qe(q).optimizedPlan.collect { case w: LWindow => w }
      assert(windows.nonEmpty, s"$q: expected the trailing window")
      windows.foreach(w => assert(
        w.child.collectFirst { case a: Aggregate => a }.nonEmpty,
        s"$q window reads raw orders instead of the day census"))
    }
  }

  test("q_kcore peel round: no hints, census rides the src partitioning, 1 edge exchange") {
    // assert on ONE un-checkpointed round over the real (src-partitioned,
    // checkpointed) input — the q_kcore body checkpoints every round,
    // truncating lineage, so asserts on the full query were vacuous
    import graft.ops.Graph
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    import org.apache.spark.sql.functions.{col, count, lit}
    val edges = Graph.kcoreEdges(spark, sfDir)
    // the degree census must ride the input partitioning: zero exchanges
    val census = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    assert(!aboveCache(census.queryExecution.executedPlan.toString)
      .contains("Exchange hashpartitioning"),
      "k-core degree census re-shuffles the src-partitioned edge list")
    val round = Graph.kcoreRound(edges, 8)
    val hints = round.queryExecution.analyzed.collect { case h: ResolvedHint => h }
    assert(hints.isEmpty, s"k-core hints a population-scaling side: $hints")
    // exchange budget: the dst-semi's edge-scale shuffle + its keep side;
    // the src-semi must ride the shared partitioning on the edges side
    val plan = aboveCache(round.queryExecution.executedPlan.toString)
    val ex = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(ex <= 3, s"k-core round exchanges grew past the dst-semi budget:\n$plan")
    // the round budget is regime-dual: in the SMJ regime (node-scale
    // keeps at real SF) the dst-semi's shuffle carries the endpoint swap
    // and the NEXT census is free; in the BHJ regime (broadcast keeps at
    // test SF) the semis are shuffle-free and the next census pays the
    // round's one edge-scale exchange. Either way: ≤1 per round, down
    // from 3 (census + both semi sides) before round 5.
    val next = round.persist()
    next.count()
    val nextCensus = next.groupBy("src").agg(count(lit(1)).as("deg"))
    val nextEx = "Exchange hashpartitioning".r
      .findAllIn(aboveCache(nextCensus.queryExecution.executedPlan.toString)).size
    assert(nextEx <= 1,
      s"next-round census pays $nextEx exchanges — the round budget broke")
    next.unpersist()
  }

  test("ModelEval family: census-first, one corpus pass per source table") {
    // every model-eval readout collapses the fact table to a bounded
    // census before finishing arithmetic; multi-consumer censuses are
    // persisted. Raw LogicalRelation leaves in the OPTIMIZED plan =
    // direct parquet scans a consumer pays at runtime (cached subtrees
    // don't descend) — each query's budget is its distinct source-table
    // count or 0 when the whole read is behind a persist/RangeRank cache.
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val budget = Map(
      "q_auc" -> 0, // census ranked via RangeRank's internal persist
      "q_lift_gain" -> 0, // events read once into the RangeRank cache
      "q_calibration" -> 1, "q_target_encoding" -> 1,
      "q_cohen_kappa" -> 1, "q_mutual_info" -> 1,
      "q_psi" -> 0, "q_woe_iv" -> 0, // persisted multi-consumer census
      "q_survival_km" -> 0, // persisted day census (lineitem + orders)
      "q_pr_curve" -> 0, // persisted score census (RangeRank + 1-row total)
      "q_brier_score" -> 1, "q_ece" -> 1, "q_mcc" -> 1,
      "q_preference_pairs" -> 1,
      "q_lexicon_hits" -> 0, // persisted hit-sized token stream
      "q_corpus_report" -> 0, // persisted corpus projection, 3 censuses
      "q_ks_model" -> 0, // persisted score census (RangeRank + totals)
      "q_js_drift" -> 0, // persisted (source, lang) census, 4 consumers
      "q_effective_sample_size" -> 1,
      "q_csv_source" -> 1, "q_json_source" -> 1,
      "q_growth_accounting" -> 0, // persisted (user, week) census, 4 consumers
      "q_cuped" -> 0, // persisted per-user frame: pooled + variant sums
      "q_diff_in_diff" -> 0, // persisted 2x2 census: pivot + output
      "q_mrr" -> 0, // persisted per-source frame: pinned fold + output
      "q_srm" -> 1, // single consumer chain
      // round-6 members
      "q_log_loss" -> 1, // single census chain (streaming-twin split)
      "q_confusion_multi" -> 0, // persisted cells: rows + cols + diagonal
      "q_anova" -> 0, // persisted census: totals + term projection
      "q_langid_accuracy" -> 0, // persisted cells: totals + accuracy + output
      "q_map_at_k" -> 0, // persisted base: totals census + top-k ranking
      "q_stickiness" -> 0, // persisted (user, day) census, 3 consumers
      // round-6 closing batch
      "q_seasonality_index" -> 0, // persisted dow×type cells: 3 marginal consumers
      "q_deep_discount" -> 0, // persisted (p_type, bp) frame: moments + threshold pass
      "q_trade_matrix" -> 4, // single 4-table chain to the nation² census
      "q_returns_by_brand" -> 2, // single li⋈part chain to the brand census
      "q_customer_migration" -> 1, // ONE orders scan, CASE-split halves
      // round-6 growth batches
      "q_bleu_pairs" -> 0, // persisted uni+bi censuses: cand/ref/len consumers
      "q_token_coverage" -> 0, // persisted vocab census + RangeRank cache
      "q_token_gini" -> 0, // census behind RangeRank's internal persist
      "q_inter_event_quantiles" -> 0, // gaps behind RangeRank's internal persist
      "q_decile_transition" -> 0, // persisted CASE-split halves, 3 consumers
      "q_type_share_drift" -> 0, // persisted (week, type) census: totals + shares
      "q_doc_prefix_dup" -> 0, // persisted prefix projection: class census + rejoin
      "q_brand_affinity" -> 0, // finish over the pinned brand-basket census
      "q_trigram_hapax" -> 1, "q_char_entropy" -> 1, "q_user_lifespan" -> 1,
      "q_discount_quantity_curve" -> 1, "q_margin_waterfall" -> 1,
      "q_runs_test" -> 1, // ONE day census; windows live on the calendar frame
      "q_cramers_v" -> 2, // single orders⋈customer chain to the ≤25-cell census
      "q_order_value_cv" -> 2, // single orders⋈customer chain to 5 moment rows
      // round-6 closing batches (E/F/G/H)
      "q_spearman_customers" -> 0, // persisted CASE-split halves, 2 rank passes
      "q_split_balance" -> 0, // persisted (split, lang) census, 4 consumers
      "q_source_keywords" -> 0, // persisted (source, token) census: df + nS + scores
      "q_payload_key_drift" -> 0, // persisted (week, keys): totals + explode
      "q_cosine_histogram" -> 2, // self-join: two pruned scans by design (no
      // corpus-sized persist — a 3-column columnar rescan beats caching
      // the embedding corpus)
      "q_supplier_trend" -> 2, "q_weekend_effect" -> 2,
      "q_cross_shard_dup" -> 1, "q_multisource_depth" -> 1,
      "q_depth_value_corr" -> 2,
      "q_cold_start_parts" -> 3, // part's 2-column scan appears on both the
      // anti side and the totals side — stats-then-scan class, cheaper
      // than caching the dimension
      "q_type_share_drift" -> 0, // census+finish twin (seasonIdx already above)
      // round-6 batches I/J/K
      "q_bleu_corpus" -> 0, // persisted uni+bi censuses (q_bleu_pairs' shape)
      "q_power_user_share" -> 0, // RangeRank internal persist
      "q_dup_jaccard_bands" -> 0, // memoized checkpointed pair core
      "q_sequence_motifs" -> 0, // persisted per-user sequence frame
      "q_skipgram_pmi" -> 0, // persisted unigram + pair censuses
      "q_bounce_rate" -> 1, "q_label_purity" -> 2,
      "q_assortment_entropy" -> 4, // single 4-table chain to the census
      "q_fk_orphans" -> 8, // 4 independent probes × (child scan + parent
      // key census) — per-edge audits scan each edge by definition
      // round-6 batches L/M/N
      "q_month_end_load" -> 0, "q_filter_impact_curve" -> 0,
      "q_brand_momentum" -> 0, "q_interaction_effects" -> 0, // persisted censuses
      "q_nation_self_sufficiency" -> 4, // single 4-table chain
      "q_order_cadence" -> 1, "q_velocity_flags" -> 1, "q_aov_monthly" -> 1,
      "q_value_by_hour" -> 1, "q_priority_migration" -> 1,
      "q_token_length_hist" -> 1, "q_props_fill_by_type" -> 1,
      "q_supplier_continuity" -> 1, "q_length_moments" -> 1,
      "q_dedup_candidate_stats" -> 0, // memoized checkpointed pair core
      "q_discount_tax_grid" -> 1, "q_user_type_diversity" -> 1,
      "q_lang_vocab_jaccard" -> 0, // persisted (lang, gram) census
      "q_vocab_private_share" -> 0, // persisted (source, token) census
      "q_customer_growth" -> 0, // persisted (customer, month) census
      "q_brand_loyalty" -> 3, // single 3-table chain to the brand census
      "q_session_value_bands" -> 1, // single session-window chain
      "q_psi_timeline" -> 0, // persisted (week, bin) census (streaming twin)
      "q_brand_price_index" -> 0, // persisted (brand, type) census
      "q_order_concentration" -> 1, // single per-customer census chain
      "q_dedup_savings" -> 1, // losers ride the memoized CC artifact; one doc scan
      // round-6 continuation batches (stat tests / graph / LM)
      "q_mann_whitney" -> 1, // single customer chain to the cents census
      "q_mcnemar" -> 1, // ONE events agg to the 2×2 discordant census
      "q_levene" -> 0, // anovaFinish persists the z census; the readout reads it
      "q_hits" -> 0, // eager per-round checkpoints; the readout reads only them
      "q_adamic_adar" -> 2, // single li⋈orders chain to the basket fan-out
      "q_line_position_effect" -> 0, // persisted projection: totals + rejoin
      "q_source_kl" -> 0, // persisted (source, token) census: top + grid + totals
      "q_user_streaks" -> 1, // single events chain to the (user, week) census
      "q_sql_lateral" -> 2, // nation + customer single decorrelated chain
      "q_payload_dedup" -> 0, // persisted hashed frame: keeper census + rejoin
      "q_theil_between" -> 0, // persisted nation census: totals + terms
      "q_bigram_cond_entropy" -> 0, // persisted token arrays + restricted census
      "q_decayed_popularity" -> 0, // persisted (type, day) census: anchor + weights
      "q_price_volume_mix" -> 2, // single li⋈part chain, year filter pushed
      "q_kruskal_wallis" -> 0, // persisted cents census: midranks + rank sums + ties
      "q_jarque_bera" -> 1, // single customer chain to the power-sum census
      "q_durbin_watson" -> 0, // persisted daily census: OLS fit + residual pass
      "q_reciprocity" -> 0, // persisted distinct-edge frame: count + semi probe
      "q_basket_lift" -> 0, // finish over the pinned brand-basket census
      "q_closeness" -> 0, // cached src-partitioned edges; BFS rounds checkpointed
      "q_cronbach_alpha" -> 0, // persisted (user, item) census: moments + totals
      "q_partial_corr" -> 1, // ONE lineitem agg to the 9 moment sums
      "q_poisson_dispersion" -> 1, // single events chain to the day census
      "q_doc_anomaly_chi2" -> 0, // persisted (doc, letter) census: profile + terms
      "q_gap_autocorr" -> 1, // single events chain through the gap window
      "q_simpson_reversal" -> 0, // persisted brand moment census: pooled + slopes
      "q_contribution_clipping" -> 0, // persisted per-user census × threshold panel
      "q_temperature_mix" -> 0, // persisted source census: normalizer + readout
      "q_negative_sampling" -> 0, // persisted top-200 head: normalizer + probs
      "q_ips_estimator" -> 1, // ONE events agg to the exact-int estimator sums
      "q_odds_ratio" -> 1, // ONE events agg to the 2×2
      "q_kendall_w" -> 0, // persisted (region, brand) census: grid + ranks
      "q_max_drawdown" -> 0, // persisted drawdown frame: max + trough pick
      "q_sax_weekly" -> 0, // persisted day census: moments + symbolization
      "q_capture_recapture" -> 2, // docs chain + 2-row source panel
      "q_evt_gumbel" -> 1, // single orders chain to weekly maxima
      "q_user_turnover" -> 0, // persisted (day, user) census: actives + self-join
      "q_shapley_attribution" -> 0, // persisted mask census + persisted v(S)
      "q_hurst_exponent" -> 0, // persisted ranked day census × dyadic panel
      "q_simpson_diversity" -> 5, // single broadcast-dim chain to the census
      "q_vif" -> 1, // ONE lineitem agg to the 9 moment sums
      "q_modularity" -> 0, // persisted edge census: m + within + degrees
      "q_covariate_balance" -> 1, // users collapse first; one events chain
      "q_yule_k" -> 1, // single documents chain to the token census
      "q_burrows_delta" -> 0, // persisted token census + persisted head grid
      "q_haar_energy" -> 0, // persisted ranked day census; 3 tiny level aggs
      "q_sprt" -> 0, // persisted LLR walk: final row + crossing argmin
      "q_chow_test" -> 0, // persisted day census + persisted segment sums
      "q_mann_kendall" -> 0, // persisted day census: pair join + tie groups
      "q_theil_sen" -> 0, // persisted census + persisted ranked slope frame
      "q_page_hinkley" -> 0, // persisted PH walk: max + peak + alarm reads
      "q_power_mde" -> 1, // users collapse first; one events chain
      "q_lsh_tuning" -> 0, // memoized pair core; persisted wide sums ×3 rows
      "q_markov_stationary" -> 0, // persisted transition census; 6 tiny rounds
      "q_gini_split" -> 0, // persisted prefix census: totals + scores
      "q_abc_xyz" -> 0, // persisted (part, month) census: rev + CV + cells
      "q_influence_diagnostics" -> 0, // persisted census + persisted residuals
      "q_granger" -> 1, // single events chain through the lag window
      "q_control_chart" -> 0) // persisted day census + persisted flags
    for ((q, b) <- budget) {
      val raw = qe(q).optimizedPlan.collect { case l: LogicalRelation => l }
      assert(raw.size <= b,
        s"$q pays ${raw.size} direct parquet scans (budget $b) — " +
          "a census consumer re-walks the corpus")
    }
  }

  test("q_orc_source: the purchase/value predicate is pushed into the ORC scan") {
    // ORC is the one ingest format of the triad WITH pushdown — at
    // 100 TB the filter must prune row groups at the scan, not stream
    // the table through a Filter operator
    val ex = formatted("q_orc_source")
    assert(ex.contains("Scan orc"), "q_orc_source does not scan ORC")
    assert(ex.contains("PushedFilters: [") &&
      !ex.matches("(?s).*PushedFilters: \\[\\].*"),
      "ORC scan lost its pushed purchase/value predicate")
  }

  test("q_sql_surface: SQL text gets the same pushdown as the DataFrame path") {
    // the point of the SQL entry: one Catalyst pipeline. The returnflag
    // filter authored as SQL text must land in PushedFilters exactly as
    // a .filter(...) call would
    val ex = formatted("q_sql_surface")
    assert(ex.contains("PushedFilters: [") &&
      !ex.matches("(?s).*PushedFilters: \\[\\].*"),
      "SQL-text filter failed to reach the parquet scan")
  }

  test("q_label_prop round: labels never broadcast, min rides a partial agg") {
    // assert on ONE un-checkpointed round (the body checkpoints each
    // round — full-query asserts would be vacuous, the kcore lesson)
    import graft.ops.Graph
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    import org.apache.spark.sql.functions.col
    val edges = Graph.kcoreEdges(spark, sfDir)
    val labels = edges.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("lbl"))
    val round = Graph.labelPropRound(edges, labels)
    // r14 pinned the non-broadcast shape with a merge hint; r15 keeps
    // the pin but as SHUFFLE_HASH on the node-scale labels side
    // (threshold-proof: no session autoBroadcastJoinThreshold can pick
    // up a population-scaling side just because the local volume fits,
    // and no per-round sort is paid). The guard therefore asserts
    // (a) no BROADCAST hint anywhere, (b) the shuffle-hash pin is
    // present.
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, SHUFFLE_HASH}
    val hints = round.queryExecution.analyzed.collect { case h: ResolvedHint => h }
    assert(!hints.exists(_.hints.strategy.contains(BROADCAST)),
      s"label-prop broadcast-hints a population-scaling side: $hints")
    assert(hints.exists(_.hints.strategy.contains(SHUFFLE_HASH)),
      s"label-prop lost its anti-broadcast shuffle-hash pin: $hints")
    // the neighbor-min must partial-aggregate (map-side min before the
    // dst shuffle) — a missing partial agg ships every edge's label
    val aggs = "HashAggregate".r
      .findAllIn(round.queryExecution.executedPlan.toString).size
    assert(aggs >= 2, s"neighbor-min lost its partial aggregation ($aggs)")
  }

  test("AQE splits a runtime-skewed sort-merge join (skew=true in the final plan)") {
    // the runtime half of the skew story: q_join_skew_salted is the
    // STATIC fix (explicit salting when the hot keys are known); this
    // proves the engine's config path lets AQE repair UNKNOWN skew at
    // runtime — the skewed partition is split after the shuffle's true
    // sizes are observed, which is the mechanism a 1000-executor run
    // relies on for the long tail no salting list anticipates.
    // Thresholds are lowered so test-sized data crosses them; the
    // mechanism is identical at production defaults.
    import org.apache.spark.sql.functions.{col, lit, when}
    val confs = Map(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.keys.map(k =>
      // flatten: conf.get returns null (not a throw) for unset
      // null-default keys like adaptive.autoBroadcastJoinThreshold
      k -> scala.util.Try(Option(spark.conf.get(k))).toOption.flatten).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // one hot key carrying ~99% of the left side, a uniform right side
      val left = spark.range(0, 200000).select(
        when(col("id") % 100 =!= 0, lit(0L)).otherwise(col("id")).as("k"),
        col("id").as("v"))
      val right = spark.range(0, 1000).select(col("id").as("k"),
        lit(1L).as("w"))
      val j = left.join(right, "k")
      j.collect() // drive the SAME QueryExecution to its final adaptive plan
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not split the skewed join partition:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("q_assortativity: degree enrichment joins are un-hinted, census-first") {
    // degrees scale with the node population — a broadcast hint on the
    // census would OOM at real SF; the sums must partial-aggregate
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    val q = qe("q_assortativity")
    assert(q.analyzed.collect { case h: ResolvedHint => h }.isEmpty,
      "assortativity hints the scaling degree census")
    val aggs = "HashAggregate".r.findAllIn(q.executedPlan.toString).size
    assert(aggs >= 2, s"sum frame lost its partial aggregation ($aggs)")
  }

  test("q_fairness_gaps: one event scan — census persisted, totals read the cache") {
    // the cohort confusion matrix is a persisted 5-row census feeding
    // BOTH the population totals and the output projection — a raw
    // LogicalRelation in the optimized plan means a consumer re-scans
    // events (the r4 drift-family regression class)
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val opt = qe("q_fairness_gaps").optimizedPlan
    val raw = opt.collect { case l: LogicalRelation => l }
    assert(raw.isEmpty,
      s"fairness audit re-scans events past its persisted census: ${raw.size}")
  }

  test("q_forecast_eval: one orders scan — the self-joined day census is persisted") {
    // actual and d-7 forecast sides consume the SAME census; a raw
    // LogicalRelation past the cache means one side re-scans orders
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val opt = qe("q_forecast_eval").optimizedPlan
    assert(opt.collect { case l: LogicalRelation => l }.isEmpty,
      "forecast backtest re-scans orders past its persisted day census")
  }

  test("sketch pair: exact census and HLL sketch read ONE persisted build") {
    // r8 verdict item 1: q_sketch_rollup / q_overlap_sketch tripled in
    // the driver battery when they joined the hash gate — the claim
    // that the exact side and the sketch side share ONE persisted
    // projection (HLL is duplicate-insensitive, so sketching the cached
    // distinct census is byte-identical to sketching the raw stream)
    // was asserted only in comments. Mechanically: the optimized plan
    // must contain ZERO raw LogicalRelations (every consumer reads the
    // cache, no direct parquet re-scan) and exactly ONE DISTINCT cache
    // builder (both paths share the same build, not two separate caches)
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    for (q <- Seq("q_sketch_rollup", "q_overlap_sketch")) {
      val opt = qe(q).optimizedPlan
      val raw = opt.collect { case l: LogicalRelation => l }
      assert(raw.isEmpty,
        s"$q re-scans parquet past its persisted projection: ${raw.size}")
      val builders = opt.collect { case r: InMemoryRelation => r.cacheBuilder }
      assert(builders.nonEmpty, s"$q lost its cache read:\n$opt")
      assert(builders.distinct.size === 1,
        s"$q's exact and sketch paths read ${builders.distinct.size} " +
          "separate cache builds instead of the one shared projection")
    }
  }

  test("q_sql_exists: EXISTS/NOT EXISTS plan as semi/anti hash joins " +
      "with the return filter pushed to the scan") {
    // the r9 text-in twins must get the same physical treatment as the
    // DataFrame path: correlated EXISTS → left-semi hash join, NOT
    // EXISTS → left-anti hash join (never a nested loop), and the
    // l_returnflag = 'R' predicate reaches the lineitem parquet scan
    val plan = qe("q_sql_exists").executedPlan.toString
    assert(plan.contains("LeftSemi"), "EXISTS lost its semi join")
    assert(plan.contains("LeftAnti"), "NOT EXISTS lost its anti join")
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
      "correlated EXISTS degraded to a nested-loop shape")
    val ex = formatted("q_sql_exists")
    assert(ex.contains("EqualTo(l_returnflag,R)"),
      "returnflag filter not pushed into the lineitem scan")
  }

  test("q_sql_exists_agg: EXISTS-with-aggregate decorrelates to an " +
      "aggregate + equi semi join — no nested loop") {
    // the r10 text-in gate widening: EXISTS over a correlated scalar
    // aggregate with HAVING is the raw-SQL shape nearest the q_sql_asof
    // failure class. The correlation is equi (l_orderkey = o_orderkey),
    // so the executed plan must be an aggregate feeding a hash/merge
    // semi join — never a BroadcastNestedLoopJoin/CartesianProduct
    val plan = qe("q_sql_exists_agg").executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoop")
      && !plan.contains("CartesianProduct"),
      s"EXISTS-with-aggregate degraded to a nested-loop shape:\n${plan.take(2000)}")
    assert(plan.contains("LeftSemi"),
      "EXISTS-with-aggregate lost its semi join")
    assert(plan.contains("HashAggregate"),
      "the correlated SUM did not decorrelate into an aggregate")
  }

  test("q_sql_values: the literal band join is the JUSTIFIED nested " +
      "loop — broadcast build side is the 3-row VALUES relation") {
    // the inverse guard of the no-BNLJ family: a range join against a
    // LITERAL-bounded dimension SHOULD plan as a broadcast nested loop
    // (3-row build, streaming probe — linear at any SF). What must
    // never happen is the inversion: orders as the build side, or a
    // CartesianProduct (row-by-row filter with no broadcast). The
    // LocalTableScan in the plan is the VALUES relation; its presence
    // under the join's build side is the literal-boundedness evidence.
    val plan = qe("q_sql_values").executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"VALUES band join degraded to a Cartesian product:\n${plan.take(2000)}")
    assert(plan.contains("LocalTableScan"),
      "the VALUES literal relation vanished from the executed plan")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      "expected the literal-build broadcast nested loop for the range join")
    // the parquet side streams as the probe. Shape assertion, not an
    // exact scan count (ADVICE r10: AQE re-planning or reused-exchange
    // printing can legitimately repeat the scan line): at least one
    // parquet scan, and the BNLJ's build side is the VALUES relation —
    // BuildRight with the broadcast LocalTableScan on the right.
    assert("Scan parquet".r.findAllIn(plan).nonEmpty,
      "orders parquet scan vanished from the executed plan")
    assert(plan.contains("BroadcastNestedLoopJoin BuildRight"),
      "the VALUES relation must be the (right) broadcast build side — " +
        "an inverted build would broadcast the corpus")
  }

  test("q_sql_having_scalar: the global scalar is a 1-row subquery — " +
      "no join materializes for the HAVING compare") {
    // HAVING count(*)*10 > (SELECT count(*) FROM orders): Catalyst must
    // execute the uncorrelated scalar ONCE (Subquery/scalar-subquery
    // reuse) and fold it into the post-agg Filter — a BNLJ or cross
    // join against the 1-row aggregate would put a corpus-sized probe
    // through a nested loop for a constant compare
    val plan = qe("q_sql_having_scalar").executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoop")
      && !plan.contains("CartesianProduct"),
      s"scalar HAVING degraded to a join shape:\n${plan.take(2000)}")
    assert(plan.contains("Subquery") || plan.contains("scalar-subquery"),
      "the global count did not plan as a scalar subquery")
  }

  test("round-11 SQL gates: one scan each, sort after aggregate, " +
      "ILIKE filters before the aggregate") {
    // q_sql_order_by_all: ORDER BY ALL resolves to a real Sort ABOVE
    // the aggregate (not a re-aggregation or a join)
    val oba = qe("q_sql_order_by_all").executedPlan.toString
    assert(oba.contains("Sort") && oba.contains("HashAggregate"),
      "ORDER BY ALL lost its sort-over-aggregate shape")
    // q_sql_ilike: the case-insensitive predicate must run BEFORE the
    // aggregate — a Filter (or scan-pushed predicate) under one scan,
    // never a post-agg filter over the full census
    val il = formatted("q_sql_ilike")
    assert(il.contains("Filter"), "ILIKE predicate vanished from the plan")
    assert(il.indexOf("Filter") > il.indexOf("HashAggregate")
      || il.contains("ilike") || il.contains("ILIKE")
      || il.contains("lower"),
      s"ILIKE did not plan as a pre-aggregate filter:\n${il.take(1500)}")
    // q_sql_try_cast: a single scan + project/agg — TRY_CAST must not
    // introduce joins or subqueries
    val tc = qe("q_sql_try_cast").executedPlan.toString
    assert(!tc.contains("Join") && !tc.contains("CartesianProduct"),
      "TRY_CAST projection grew a join")
  }

  test("q_sql_asof: the as-of join is equi-keyed — no nested-loop, no " +
      "domain join") {
    // the round-9 scale-killer class: Catalyst decorrelated the original
    // correlated scalar MAX into a |dates|×|orders| NON-EQUI domain join
    // (BroadcastNestedLoopJoin, 80 s at sf0.1). The re-spelled query
    // must keep every join equi-keyed (hash/merge on o_custkey) with the
    // range predicate as a join condition, not a nested loop
    val plan = qe("q_sql_asof").executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoop")
      && !plan.contains("CartesianProduct"),
      s"as-of degraded to a nested-loop/domain join:\n${plan.take(2000)}")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")
      || plan.contains("BroadcastHashJoin"),
      "as-of lost its equi join")
  }

  test("q_schema_evolution: both generation branches push their era filter") {
    // one branch keeps `ts < cutover`, the other `ts >= cutover` — a
    // single non-empty PushedFilters anywhere would let one branch
    // silently degrade to a post-scan Filter, so count non-empty
    // pushed-filter lists and demand one per generation branch
    val ex = formatted("q_schema_evolution")
    val pushed = "PushedFilters: \\[[^\\]]+\\]".r.findAllIn(ex).toList
    assert(pushed.size >= 2,
      s"expected both era branches to push their filter, found ${pushed.size}: $pushed")
    assert(pushed.exists(_.contains("LessThan")) &&
      pushed.exists(_.contains("GreaterThanOrEqual")),
      s"era < and >= predicates not both pushed: $pushed")
  }

  test("privacy audits collapse to combo-bounded censuses with partial aggs") {
    // k-anonymity/l-diversity outputs are quasi-id-combo-sized, never
    // row-sized: the plan must partial-aggregate below the exchange
    for (q <- Seq("q_k_anonymity", "q_l_diversity")) {
      val plan = qe(q).executedPlan.toString
      val aggs = "HashAggregate".r.findAllIn(plan).size
      assert(aggs >= 2, s"$q lost its partial aggregation ($aggs)")
      assert(!plan.contains("CollectLimit"),
        s"$q truncates the audit instead of censusing")
    }
  }

  /** Parquet-scan count by PHYSICAL TREE WALK (the hashExchanges
    * discipline): InMemoryTableScan is a leaf, so a persisted census's
    * one-time build scan does not count against its consumers — what
    * remains is exactly the scans the query re-pays per execution.
    */
  private def parquetScans(name: String): Int = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val root = qe(name).executedPlan match {
      case a: AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }
    root.collect { case s: FileSourceScanExec => s }.size
  }

  test("stats-battery scan budgets: persisted censuses are read, not rebuilt") {
    // single-pass conditional-sum queries pay exactly their source scans;
    // multi-consumer queries persist the census and pay ZERO parquet
    // scans at readout (the cache build paid the one scan)
    val budgets = Seq(
      "q_fisher_index" -> 1, "q_taylor_law" -> 1, "q_chao1" -> 1,
      "q_tail_dependence" -> 1, "q_mantel_haenszel" -> 2,
      "q_tukey_hsd" -> 0, "q_lorenz_curve" -> 0, "q_friedman_test" -> 0,
      "q_grubbs_test" -> 0, "q_icc" -> 0, "q_croston" -> 0,
      "q_seasonal_strength" -> 0,
      // session batches 27-37: single-pass queries pay their scans,
      // persisted-census/RangeRank queries pay zero at readout; the
      // probe+corpus vector scans pay the documented two
      "q_kalman_filter" -> 1, "q_wilcoxon_signed_rank" -> 2,
      "q_pca_2d" -> 1, "q_mahalanobis_outliers" -> 0,
      "q_cochran_armitage" -> 1, "q_dtw_profile" -> 0,
      "q_permutation_entropy" -> 1, "q_turning_points" -> 1,
      "q_morans_i" -> 0, "q_bland_altman" -> 0,
      "q_effect_sizes" -> 0, "q_auc_delong" -> 0,
      "q_hill_tail" -> 0, "q_ewma_chart" -> 0,
      "q_mrl_overlap" -> 2, "q_mmr_rerank" -> 0,
      "q_maxsim_late_interaction" -> 2, "q_ctr_wilson" -> 1,
      "q_quantile_treatment_effect" -> 0, "q_anderson_darling" -> 1,
      "q_knee_detection" -> 0, "q_youden_cutoff" -> 1,
      "q_spiegelhalter_z" -> 1, "q_isotonic_calibration" -> 0,
      "q_weibull_fit" -> 2, "q_log_rank" -> 2, "q_feature_hashing" -> 0,
      "q_quasi_monte_carlo" -> 0,
      // round-7 batches: single-pass queries pay their source scans
      // (the rich-club pass reads the shared edge ARTIFACT, not the
      // facts — its budget is the one artifact scan); persisted-census
      // queries pay zero at readout
      "q_cliffs_delta" -> 1, "q_mase" -> 1, "q_rich_club" -> 1,
      "q_jonckheere_terpstra" -> 0, "q_cochran_q" -> 0,
      "q_atkinson_index" -> 2,
      "q_brier_decomposition" -> 0, "q_krippendorff_alpha" -> 1,
      "q_page_trend" -> 2,
      "q_katz_centrality" -> 0, "q_rake_keywords" -> 1,
      // basket pair-core artifact readers: pair core (+ edge artifact
      // for PA's degrees / + basket artifact for also_bought's support)
      "q_adamic_adar" -> 1, "q_preferential_attachment" -> 1,
      "q_also_bought" -> 2,
      "q_moods_median" -> 0, "q_gwet_ac1" -> 1, "q_hoover_index" -> 0,
      "q_pacf" -> 0, "q_autocorr" -> 0, "q_spectral_power" -> 1,
      "q_t_closeness" -> 0,
      "q_weighted_kappa" -> 0, "q_median_polish" -> 0,
      // r14: the single-fold IPF runs ONE job with no re-execution, so
      // its two raw scans (orders chain + the leaf-cut customer margin
      // build) sit in the plan instead of behind a per-sweep persist
      "q_ipf_raking" -> 2,
      "q_token_burstiness" -> 1, "q_token_dispersion" -> 0,
      "q_seasonal_mann_kendall" -> 0,
      "q_lorenz_asymmetry" -> 0, "q_kolkata_index" -> 0,
      "q_bowley_skew" -> 0,
      "q_sbc_classification" -> 1, "q_menzerath" -> 1,
      "q_rle_compressibility" -> 1,
      "q_cpk_capability" -> 1, "q_duncan_segregation" -> 0,
      "q_shift_share" -> 0,
      "q_ordinal_association" -> 0, "q_palma_ratio" -> 0,
      "q_gk_lambda" -> 0,
      // round-8: groupValuesAtRanks consumers persist their projected
      // base — every selection pass reads the cache, zero parquet scans
      // at readout
      "q_mad" -> 0, "q_percentile_disc" -> 0, "q_winsorize" -> 0,
      "q_ship_latency" -> 0,
      // round-8: the newly-oracled sketch queries share ONE persisted
      // projection between the sketch and exact sides (HLL insertion is
      // duplicate-insensitive) — zero parquet scans at readout
      "q_overlap_sketch" -> 0, "q_sketch_rollup" -> 0,
      // round-8 forecast/monitor batch: persisted day censuses
      "q_tracking_signal" -> 0, "q_pinball_loss" -> 0,
      "q_cusum_chart" -> 0,
      // round-8 robust-dispersion batch: persisted projections/censuses
      "q_trimmed_stats" -> 0, "q_quartile_dispersion" -> 0,
      "q_gini_mean_difference" -> 0,
      // round-8 tail/uplift/entropy batch
      "q_peak_over_threshold" -> 0, "q_entropy_rate" -> 1,
      "q_qini_uplift" -> 1,
      // round-8 series/audit batch
      "q_variance_ratio" -> 0, "q_price_ladder" -> 1,
      "q_length_buckets" -> 1,
      // round-8 selection/join batch
      "q_dixon_q" -> 0, "q_join_asof_tolerance" -> 2,
      // round-8 resampling/profile batch
      "q_permutation_test" -> 0, "q_jackknife_variance" -> 0,
      "q_dim_variance_profile" -> 1,
      // round-8 density/actuarial batch
      "q_kde_profile" -> 0, "q_life_table" -> 1,
      // round-8 rank-test batch (RangeRank internal persist)
      "q_brunner_munzel" -> 1,
      // round-8 inequality/rank-distance batch (persisted censuses;
      // theil joins three tables once at census build)
      "q_theil_decomposition" -> 0, "q_rank_distance" -> 0,
      // round-8 closing pair
      "q_middle_mass_share" -> 0, "q_share_of_wallet" -> 3,
      // round-9 text/eval batch: single-chain corpus censuses pay one
      // scan; the G-test reads the persisted tvd census at zero
      "q_lexical_richness" -> 1, "q_err_ranking" -> 1, "q_g_test" -> 0,
      // round-9 link/survival/SPC batch: jaccard reads the two shared
      // artifacts (pair core + edge), the hazard and p-chart read their
      // persisted day censuses at zero
      "q_link_jaccard" -> 2, "q_nelson_aalen" -> 0, "q_p_chart" -> 0,
      // round-9 test batch: persisted grids/censuses at zero, the
      // single-pass 2x2 pays its one scan
      "q_bowker_symmetry" -> 0, "q_cox_stuart" -> 0,
      "q_two_proportion_z" -> 1,
      // round-9 audit/risk/media batch: benford's digit census pays its
      // scan twice (census + totals subtree, the q_benford shape); the
      // VaR backtest reads the persisted day census; the header census
      // is one decode chain
      "q_benford_second" -> 2, "q_kupiec_pof" -> 0,
      "q_media_resolution" -> 1,
      // round-9 survival/strata batch: gehan pays the log_rank pair of
      // source scans (single chain); breslow-day reads its persisted
      // strata census at zero
      "q_gehan_wilcoxon" -> 2, "q_breslow_day" -> 0,
      // round-9 index/equivalence batch: persisted matched-part census /
      // checkpointed 2-row moment frame — zero scans at readout
      "q_tornqvist_index" -> 0, "q_tost_equivalence" -> 0,
      // round-9 rank/outlier batch: persisted census grids and
      // checkpointed iterative rounds — zero scans at readout
      "q_quade" -> 0, "q_rosner_esd" -> 0,
      // round-9 dispersion batch: persisted base + RangeRank internals
      "q_conover_squared_ranks" -> 0,
      // round-9 closing batch: persisted censuses
      "q_welch_anova" -> 0, "q_median_ci" -> 0,
      // round-9 mediation/dispersion pair: the AB census persists, the
      // mediation moments are one orders+lineitem pass
      "q_ansari_bradley" -> 0, "q_sobel_mediation" -> 2,
      // round-9 curation pair: single rule chain / cached token frame
      "q_gopher_rules" -> 1, "q_contamination_sweep" -> 0)
    for ((q, budget) <- budgets) {
      val scans = parquetScans(q)
      assert(scans <= budget,
        s"$q pays $scans parquet scans per execution (budget $budget) — " +
          "a census is being rebuilt instead of read")
    }
  }

  // ── round-12 guards for the composed serving pipeline + the J-T replan
  test("q_ivf_pq_search: broadcast-pruned, heap-bounded, window-free") {
    val plan = qe("q_ivf_pq_search").executedPlan.toString
    assert(!plan.contains("Window"),
      "the serving path plans a window where graft_topk should aggregate")
    // BroadcastNestedLoopJoin appears ONLY as the constant-size LUT
    // builds (probes × ≤16-centroid codebooks, the family's explicit
    // crossJoin-against-broadcast convention) — an unhinted
    // CartesianProduct is the unbounded shape this guard forbids
    assert(!plan.contains("CartesianProduct"),
      "the serving path plans an unbounded cartesian product")
    assert(plan.contains("BroadcastHashJoin"),
      "probe-cell/LUT/pool joins lost their broadcasts")
  }

  test("q_jonckheere_terpstra plans no data-sized join (pivoted prefix)") {
    // r12 replan: the dense g×v grid and the census self-join are gone;
    // the only combines left are 1-row crossJoins (jx2 × sizes), which
    // plan as nested-loop over single rows — a SortMergeJoin or
    // ShuffledHashJoin here means the grid crept back
    val plan = qe("q_jonckheere_terpstra").executedPlan.toString
    assert(!plan.contains("SortMergeJoin")
      && !plan.contains("ShuffledHashJoin"),
      "J-T replanned a data-sized join — the pivoted prefix was lost:\n" +
        plan.linesIterator.take(40).mkString("\n"))
  }

  test("CompactSmallSort fires on a small final sort and declines over threshold") {
    // r15 (r14 ADVICE): the rule fired only at runtime, so no suite
    // asserted it — a silent no-op would have passed everything. Fire
    // case: a census-bounded orderBy's EXECUTED plan must hold the
    // compacted Sort(local) ← Coalesce(1) and no range exchange.
    // Decline case: the same query under a 1-byte threshold keeps the
    // sampled range exchange (the distributed sort a >threshold input
    // needs). Results must be identical either way.
    import org.apache.spark.sql.execution.{CoalesceExec, SortExec}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def executedFinal(df: org.apache.spark.sql.DataFrame) = {
      val rows = df.collect().toSeq // collect() executes df's own QE
      val p = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan match {
          // QueryStageExec is a LEAF — collect() would see nothing
          // under a Spark 4 ResultQueryStage root without unwrapping
          case q: QueryStageExec => q.plan
          case p => p
        }
        case p => p
      }
      (rows, p)
    }
    def sorted() = spark.range(2000)
      .selectExpr("id % 97 as k", "id as v")
      .groupBy("k").agg(org.apache.spark.sql.functions.sum("v").as("s"))
      .orderBy("k")
    val (fireRows, firePlan) = executedFinal(sorted())
    assert(firePlan.collectFirst {
      case s: SortExec if !s.global => s }.nonEmpty
      && firePlan.collectFirst { case c: CoalesceExec
        if c.numPartitions == 1 => c }.nonEmpty,
      s"small final sort was not compacted:\n$firePlan")
    assert(!firePlan.toString.toLowerCase.contains("rangepartitioning"),
      s"compacted sort still pays the range exchange:\n$firePlan")
    val saved = spark.conf.getOption("spark.graft.compactSortBytes")
    try {
      spark.conf.set("spark.graft.compactSortBytes", "1")
      val (keepRows, keepPlan) = executedFinal(sorted())
      assert(keepPlan.toString.toLowerCase.contains("rangepartitioning"),
        s"over-threshold sort lost its range exchange:\n$keepPlan")
      assert(keepRows == fireRows,
        "compacted and distributed sorts disagree on the result")
      // byte-string thresholds parse too (the r14 '64mb' planning bug)
      spark.conf.set("spark.graft.compactSortBytes", "64mb")
      val (mbRows, mbPlan) = executedFinal(sorted())
      assert(mbRows == fireRows, s"byte-string threshold broke the sort")
      assert(!mbPlan.toString.toLowerCase.contains("rangepartitioning"),
        s"byte-string threshold failed to compact:\n$mbPlan")
    } finally saved match {
      case Some(v) => spark.conf.set("spark.graft.compactSortBytes", v)
      case None => spark.conf.unset("spark.graft.compactSortBytes")
    }
  }
}
