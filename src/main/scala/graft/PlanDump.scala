package graft

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}

/** Regenerate PLANS.md: formatted physical plans for representative
  * queries, the artifact of the "explain, then iterate until it's the
  * plan you'd want" loop.
  *
  * Run from the repo root, over the committed PLANS.md:
  * `sbt "runMain graft.PlanDump [sfDir]"`.
  */
object PlanDump {
  private val picks: Seq[(String, String)] = Seq(
    "q_scan_project" -> "column pruning: 6 of 11 lineitem columns in ReadSchema",
    "q_filter_pred" -> "predicate pushdown: conjuncts AND the OR-disjunction reach PushedFilters",
    "q_join_broadcast" -> "5-table star: every dim side is a BroadcastHashJoin — the fact table never shuffles for the join",
    "q_groupby_sum" -> "partial+final HashAggregate (map-side combine) around one exchange",
    "q_sort_limit" -> "ORDER BY + LIMIT plans as TakeOrderedAndProject: per-partition heaps, never a global sort",
    "q_join_range" -> "as-of join as union + composite (bucket, month-era) window with carry-over prefix — partition parallelism grows with the time span, no O(n*m) range-join materialization",
    "q_join_inner" -> "no forced broadcast: customer grows with SF, so the strategy is size-gated (AQE/autoBroadcastJoinThreshold picks BHJ while the build side fits, SMJ past it) — build-side bound = threshold, not a hint",
    "q_window_rank" -> "same size-gated join; the rank window itself shuffles only (segment, key, price) columns",
    "q_multimodal_cols" -> "documents ⋈ embeddings: both sides corpus-sized, so no broadcast hint — co-partitioned shuffle join on the shared key (bucketed storage makes it exchange-free)",
    "q_ann_ivf" -> "IVF: k-means training + assignment as arg-max aggregations and graft_topk — no WindowExec anywhere; corpus shuffles one partial row per vector",
    "q_similarity_topk" -> "graft_dot codegen expression + graft_topk partial aggregation: <=k rows per task per probe cross the shuffle",
    "q_dedup_near" -> "MinHash: graft_minhash computes the 32-min signature ROW-LOCALLY (zero shuffle), band bucket self-join; verify is explode-free — candidate pairs join their two sorted shingle sets into one row and graft_sorted_inter counts the intersection as a codegen'd merge walk",
    "q_tfidf" -> "tf-idf: vocab join with NO broadcast hint (df side grows with corpus); top-5 per doc is a row-local collect_list slice bounded by the doc's own vocabulary — no window sort",
    "q_bm25" -> "BM25: df + corpus stats are constant-size broadcasts (≤|query terms| rows); the ONLY data-sized shuffle is the dl join on doc_id; scores are per-(doc,term) projections",
    "q_corpus_pipeline" -> "end-to-end cleaning: lang/length filters reach PushedFilters; exact dedup = one hash-partitioned agg; final accounting re-aggregates the already-canonical set",
    "q_knn_graph" -> "kNN graph: probe side is the CORPUS, so the cent_id candidate join is a shuffle join (no broadcast — contrast q_ann_ivf); graft_topk bounds the final shuffle at 3 rows/vector",
    "q_containment" -> "containment: same capped-shingle pair core as q_dedup_ngram; the two directions fan out row-locally AFTER the joins — asymmetry adds no shuffle",
    "q_topk_per_group" -> "per-group top-k via graft_topk partial aggregation: k rows per (task × group) cross the shuffle — no WindowExec, no per-group sort",
    "q_join_asof" -> "row-level as-of join: ONE shuffle of |events|+|orders| on the user key + a running last-non-null window — no (event × earlier-order) theta-join blow-up; partition count = #users grows with data",
    "q_repetition" -> "repetition signals: n-grams fan out ROW-LOCALLY (transform over the token array — no self-join) into (doc, gram)-keyed partial aggs",
    "q_funnel" -> "conversion funnel: each stage's event_type equality pushes into the parquet scan (stage k reads |that type| rows, not |events|); every shuffle keyed user_id, frontier frames are users-sized",
    "q_resample_ffill" -> "resample + forward fill: row-local spine sequence off a users-sized agg, (user, day) equi-join, running last-non-null window per user — nothing global, nothing quadratic",
    "q_concurrency" -> "interval sweep: per-HOUR partitions with a calendar-bounded broadcast carry table (day readout = max of hour peaks) — the global ordered cumsum decomposes, no one-partition sort",
    "q_pagerank" -> "PageRank round: ranks shuffle-join onto edges by src (never broadcast — ranks scale with nodes), partial-agg sum by dst; localCheckpoint scans between rounds keep lineage flat",
    "q_heavy_hitters" -> "heavy hitters: ONE graft_mg sketch agg (≤k counters per partial) + candidate-only exact count behind a constant-size broadcast — the open vocabulary never shuffles",
    "q_bloom_join" -> "bloom-pruned semi join: codegen'd xxhash64 bit probes filter the orders probe BELOW the exact semi join's exchange (observe() fences the reorder); bloom build is 8 KiB regardless of SF",
    "q_inverted_index" -> "impact-ordered index: graft_topk caps postings at 100/token across the shuffle — a stopword costs k rows, not df rows",
    "q_merge_upsert" -> "CDC merge: change batch pre-compacted by arg-max, ONE full-outer join + coalesce CASE arms — update/insert/carry without driver branches",
    "q_decontaminate" -> "decontamination: eval-split shingles are constant-size by design (eval sets don't grow with the corpus) → size-gated broadcast; corpus touched by one equi-join + per-doc agg",
    "q_ship_priority" -> "TPC-H Q3 shape: segment/date/shipdate filters all in PushedFilters below the joins; top-10 is TakeOrderedAndProject over aggregated orders, never a lineitem sort",
    "q_region_volume" -> "TPC-H Q5 shape: region/nation broadcast by size-gating (5/25 rows), customer/supplier/orders/lineitem hash-partition; same-nation predicate rides the supplier equi-join",
    "q_sample_per_group" -> "deterministic k-per-slice sampling: Knuth-hash rank + graft_topk partial agg — ≤k rows per (task × slice) cross the shuffle, the corpus never does",
    "q_profile_table" -> "dataset-card profiling: one scan+partial-agg per column (distinct via two-level agg), output is #columns rows at any SF",
    "q_dedup_edit" -> "edit-distance verify: O(len²) levenshtein runs on the CANDIDATE pair set only — texts fetched by inner-joining candidate ids, never a corpus² text join",
    "q_gaps_islands" -> "gaps-and-islands: events collapse to (user, day) distinct FIRST, then one user-keyed window — the row_number-difference trick, no self-join",
    "q_zorder_layout" -> "z-order layout: 1-row stats broadcast → row-local quantize + codegen'd graft_zorder interleave → bounded tile agg (≤4096 groups at any SF)",
    "q_pricing_summary" -> "TPC-H Q1 shape: shipdate filter in PushedFilters, ONE partial+final HashAggregate pair around one exchange — 8 aggregates, ≤8 groups per task cross the shuffle",
    "q_promo_share" -> "TPC-H Q14 shape: part is a SCALING dim — no hint, size-gated join; CASE-gated and total sums share one partial agg on the month key",
    "q_returned_customers" -> "TPC-H Q10 shape: aggregate-THEN-join — revenue folds to one row per customer BEFORE the wide customer join; nation BHJ by size-gating; top-20 TakeOrderedAndProject",
    "q_session_paths" -> "journey prefixes: one user-keyed shuffle for the rank window, rn<=3 bounds everything downstream, path census over a ≤|types|³ key space",
    "q_lm_score" -> "corpus-LM scoring: bigram model joins un-hinted (model grows with corpus), per-doc fold is row-local over a sorted array — position-pinned FP addition, no window",
    "q_rank_fusion" -> "hybrid RRF: both arms end in graft_topk partial aggregation (no WindowExec over scored corpora); the fuse join sees ≤40 rows at any SF",
    "q_simple_revenue" -> "TPC-H Q6: all three predicates in PushedFilters, 4-of-11-column ReadSchema, scan → 1-row partial+final agg — nothing but pruned pages move",
    "q_nation_trade" -> "TPC-H Q7: nation filter prunes supplier AND customer before either fact join; zero hints — nation BHJs by size-gating, scaling sides hash-join on their keys",
    "q_large_orders" -> "TPC-H Q18: lineitem folds to qualifying orderkeys BEFORE orders/customer join (no Join below the Aggregate in the optimized plan); top-100 TakeOrderedAndProject",
    "q_disjunctive_join" -> "TPC-H Q19: OR-of-ANDs join — Catalyst extracts the partkey equi-key into a hash join and splits per-side residuals into both scans",
    "q_dormant_customers" -> "TPC-H Q22: 1-row scalar avg broadcast (constant at any SF) + recency-pruned hashed anti-join + ≤5-group census",
    "q_sequence_pack" -> "context packing: one window cumsum per source partition, then integer-div binning — no global sort; census keys bounded by corpus/budget",
    "q_char_diversity" -> "char diversity: explode → (doc,char) partial agg (alphabet-bounded per doc) → per-doc integer-moment agg; no window, pure codegen hash aggregation",
    "q_also_bought" -> "item co-occurrence: basket aggregate FIRST and PERSISTED (pair fan-out, support census and N scalar all read the cache — one orders⋈lineitem pass, not three), triangular pair fan-out row-locally (Generate above Aggregate, no basket self-join), capped at 128 items; top-100 TakeOrderedAndProject",
    "q_bootstrap_ci" -> "Poisson bootstrap: x32 row-local fan-out → 32-group partial+final replicate aggs — the shuffle carries 32 x tasks rows, not 32 x data; rank-select over 32 rows",
    "q_ship_latency" -> "SLA percentiles: lineitem folds to MIN per order BEFORE the orders join (agg below join in the optimized plan); rank windows parallelize per priority",
    "q_cohort_ltv" -> "cohort triangle: users fold to cohorts once (min-agg, no window), users-sized equi-join back onto events, calendar-bounded (cohort, age) partial agg",
    "q_min_cost_supplier" -> "TPC-H Q2: correlated min decorrelated to per-part agg + exact-decimal equality join; region membership rides the constant-size supplier dims (BHJ), small-part semi prunes the fact first",
    "q_supplier_wait" -> "TPC-H Q21: both EXISTS collapse to ONE groupBy(orderkey) — distinct/distinct-late/argmax in a single pass, no correlated re-probe of lineitem",
    "q_pareto_frontier" -> "skyline: per-(segment, price) max-date agg, then a segment-PARTITIONED prefix-max window — the linear sort-based plan whose oracle is the quadratic NOT EXISTS",
    "q_triangle_count" -> "triangle census: ship-year slice in PushedFilters, basket fan-out above ONE aggregate, degree-ordered orientation bounds wedges at O(m^1.5), closure is a hashed equi join on the packed pair key",
    "q_semdedup" -> "SemDeDup: within-cell pair join keyed on cent_id against the shared trained IVF artifact (Σ|cell|² ≈ n^1.5 with √n cells), loser set anti-joins back — no broadcast of any corpus-sized side",
    "q_ewma" -> "per-user EWMA: one shuffle on user_id, sorted-array left fold is row-local — FP order pinned, no window, no per-event state movement",
    "q_dsir_weights" -> "DSIR: both vocab joins un-hinted (count tables grow with the corpus), the (TT,TN) scalar is the one 1-row broadcast; ratio = one division of BIGINT products; per-doc mean is a sorted row-local fold",
    "q_hard_negatives" -> "contrastive mining: corpus x broadcast(probe batch) with the label-mismatch predicate riding the join; (vec_id,label) packed into graft_topk's long id — <=3 rows per task per probe shuffle",
    "q_dedup_near_incremental" -> "incremental near-dup: batch bands PROBE the standing corpus band index (batch x corpus collisions only — no corpus self-join); exact verify semi-join-pruned to candidates",
    "q_set_overlap" -> "audience overlap: per-user type-set aggregate + row-local triangular fan-out — the corpus never self-joins on user_id; pair census keys bounded by the type vocabulary",
    "q_bfs_reach" -> "distributed BFS: per hop, frontier ⋈ edges (node-keyed shuffle join — the frontier scales with the graph, so it is never broadcast) + LEFT ANTI against visited; localCheckpoint cuts the per-round lineage",
    "q_ks_drift" -> "exact KS: corpus-sized work is ONE partial+final (source, length) count agg, PERSISTED (single corpus scan, PlanGuard-asserted); the dense CDF grid and its windows live on the bounded sources x lengths frame, never on raw docs",
    "q_compression_ratio" -> "deflate census: graft_deflate_len runs inside the scan projection (WholeStageCodegen, no UDF boxing); the only data-sized exchange is the per-source partial+final agg shuffle — the final sort moves <= #sources rows",
    "q_tvd_drift" -> "exact categorical TVD: corpus-sized work is ONE partial+final (source, lang) count agg, PERSISTED — the scalar-n action materializes it and all four downstream consumers read the cache (single corpus scan, PlanGuard-asserted); the dense grid lives on the catalog-bounded sources x langs frame",
    "q_autocorr" -> "series autocorrelation: corpus collapses in ONE per-day partial+final count agg; the zero-filled series, x7 lag equi-join and per-lag agg are calendar-bounded (grow with time, not data)",
    "q_sssp" -> "Bellman-Ford: per round, dist ⋈ edges on src (node-keyed shuffle — distances scale with the graph, never broadcast) + min() partial agg by node; localCheckpoint cuts each round's lineage",
    "q_substring_dup" -> "duplicated-span census: shingles explode row-locally, collapse in ONE corpus-sized census, and the rejoin hash-partitions on the same shingle key (co-partitioned, un-hinted) — per-doc rollup is partial+final on doc_id",
    "q_moments" -> "single-pass moments: one scan, one partial+final HashAggregate carrying all five int64 sums — no window, no join, the minimal possible fact-table pass",
    "q_scd2_lookup" -> "PIT lookup: fact⋈fact equi join on orderkey, then equi join on custkey with the [valid_from, valid_to) residual — fan-out bounded by versions/customer, no range-join materialization",
    "q_inventory_running" -> "clamped scan: collect_list+fold runs inside the per-supplier HashAggregate — the non-associative clamp makes row-local per-key folding the only mergeable shape; keys stay hash-partitioned",
    "q_allocation" -> "Hamilton apportionment: two order-keyed window passes (share floor + remainder rank) over the co-partitioned li⋈ord join, then a supplier-keyed partial+final rollup",
    "q_join_bucketed" -> "bucketed co-located join: both scans show Bucketed: true / SelectedBucketsCount n out of n, one bucket per session shuffle partition (8 here) — the SMJ consumes bucket outputs directly, the ONLY hash Exchange is the census-sized post-join agg",
    "q_partition_prune" -> "partition-pruned scan: the o_year predicate is a PartitionFilter (directory-level pruning before any footer is read); the monthly census is one ≤12-key partial+final agg",
    "q_weighted_median" -> "weighted median: RangeRank's ONE range exchange + pid-partitioned local windows carry the exact quantity prefix mass; the 3-row totals frame is the only broadcast; the first-qualifying pick is a 3-group min_by agg",
    "q_template_mining" -> "template mining: row-local leading-4-gram slice (no explode) → (source, template) partial+final census → RangeRank 2-pass top-5 — the few-group cut never funnels the census through 5 tasks",
    "q_kcore" -> "k-core peel round: edges persisted hash-partitioned by src — degree census + src-semi ride the cached partitioning exchange-free, the dst-semi carries the round's ONE edge-scale shuffle, and the symmetric endpoint swap restores the invariant for free; 3 unrolled rounds, census output",
    "q_rolling_median" -> "sliding median: orders collapse in the (day) census FIRST; the unpartitioned ORDER BY day window sees only the calendar-bounded frame, and the 7-row median is a row-local array pick",
    "q_join_bucketed_fact" -> "bucketed FACT-FACT join: lineitem and orders both bucketed on the orderkey, one bucket per session shuffle partition — the SMJ reads co-located buckets AND the orderkey-led groupBy is satisfied by scan partitioning: ZERO hash exchanges end-to-end (the workload family's dominant shuffle deleted by layout)",
    "q_multimodal_decode" -> "binary header decode: packing is codegen'd hex/unhex/concat in the scan projection; the parse is an init-once mapPartitions codec — a narrow map over the corpus, no shuffle until the output ORDER BY",
    // round-5 model-eval family
    "q_auc" -> "Mann–Whitney AUC: per-score census (one shuffle), RangeRank over the census for exclusive cumulative counts (2·midrank = 2·cum+cnt+1, integer), DECIMAL(38,0) rank-sum, ONE double division — no data-sized window anywhere",
    "q_pr_curve" -> "PR threshold sweep: persisted score census feeds RangeRank (DESC prefix sums = cumulative TP/FP above threshold) AND the 1-row total-positives broadcast — one corpus pass, per-row divisions only",
    "q_lift_gain" -> "decile lift: event-scale total order rides RangeRank (rank+n), collapses to a 10-row frame where cum/lift windows are census-bounded",
    "q_survival_km" -> "Kaplan–Meier: lineitem collapses per-orderkey (co-partitioned fact-fact key) before joining orders; day census persisted (feeds term-array collect AND output join); survival = pinned multiplication fold over the calendar-bounded term array",
    "q_orc_source" -> "ORC ingest: purchase/value predicate in the ORC scan's PushedFilters (row-group pruning — contrast q_csv_source, where the format forces a post-scan Filter); daily census is one partial+final agg",
    "q_sql_surface" -> "SQL text entry: identical Catalyst pipeline as the DataFrame path — returnflag filter in PushedFilters, dims BHJ by size-gating, same exchange budget as hand-built joins",
    "q_k_anonymity" -> "privacy census: one partial+final agg to the quasi-id combo space (SF-independent rows); violator filter census-side; census doubles as Complete-mode streaming state",
    "q_rfm_segments" -> "RFM: ONE orders shuffle to the per-customer census; reference date folded in as 1-row broadcast (no driver action); band cube is census-over-census, 5·6·6 rows max",
    "q_decontaminate_embed" -> "embedding decontamination: corpus × broadcast(evals) with row-local graft_dot max-cosine — zero corpus shuffles before the per-label census; evals are fixed-size by nature",
    "q_label_prop" -> "label propagation round: edges⋈labels shuffle on src + partial-agg min by dst + node-scale rejoin; labels never broadcast; localCheckpoint per round keeps lineage flat",
    "q_export_shards" -> "shard manifest: row-local Knuth-hash shard id + polynomial row hash, ONE partial+final agg to 16 rows — XOR checksum is order-free so partial aggregation cannot change it",
    "q_fairness_gaps" -> "fairness audit: ONE event scan into a persisted 5-row confusion census; population totals read the cache (never a second scan); gaps are census-side arithmetic",
    "q_assortativity" -> "degree assortativity: degree census + two UN-HINTED node-scale enrichment joins (degrees scale with the population) + 1-row exact-integer sum frame — FP only in the final statistic",
    "q_forecast_eval" -> "seasonal-naive backtest: persisted day census self-joined at d-7 (calendar-bounded), monthly SMAPE from exact-integer sums — the orders table is scanned once",
    "q_schema_evolution" -> "schema-evolution union: unionByName(allowMissingColumns) null-fills the legacy branch; both branches' filters push to the scan; census is one partial+final agg",
    "q_growth_accounting" -> "growth accounting: ONE persisted (user, week) distinct census feeds first-week frame + shifted self-join + churn anti-join — all user-keyed, no broadcast of scaling sides",
    "q_rolling_corr" -> "rolling correlation: trailing-28 window over the calendar-bounded day census (above the Aggregate, PlanGuard-pinned); DECIMAL(38,0) window sums",
    "q_abc_classification" -> "ABC classes: part-revenue census -> RangeRank 2-pass exclusive prefix sum (pid-partitioned, cluster parallelism) -> exact-integer class test -> 3-row census",
    "q_price_elasticity" -> "grouped OLS: size-gated lineitem x part join, five integer sums per p_type (partial+final), slope arithmetic on the bounded census",
    // round-6 additions
    "q_dedup_band_verify" -> "composed production dedup: row-local MinHash signatures -> band bucket self-join (candidates) -> candidates-only exact verify (graft_sorted_inter merge walk) — the exact shared-shingle self-join is GONE from the plan; measured slope -0.04 vs the exact path's +1.11",
    "q_dedup_incremental" -> "incremental exact dedup: the batch anti-joins the STANDING hash-index parquet (stored artifact, appended per ingest — DedupIndexSpec) — the corpus is never rescanned; only batch-sized rows move",
    "q_ltv_deciles" -> "customer Pareto deciles: the data-sized total order rides RangeRank's range exchange at cluster parallelism (no single-task global window); shares/cumulative walk live on the 10-row census",
    "q_stickiness" -> "DAU/WAU/MAU: (user, day) distinct census persisted (one event scan), trailing-7/28 distinct via ROW-LOCAL fan-out (x7/x28 of the users x days census, never of raw events), calendar-bounded output",
    "q_local_clustering" -> "clustering coefficient: degree-ordered wedges (O(m^1.5) on any distribution), closure on the packed pair key, triangles fan out row-locally to 3 vertices; bucket cc = exact-integer ratio",
    "q_phrase_search" -> "positional phrase probe: the 4-phrase set broadcasts onto first-term postings only; adjacency is an equi-join on (doc, pos+1, term) — the corpus-scale index is probed, never scanned per phrase",
    "q_power_iteration" -> "matrix-free power method: each round is ONE corpus aggregation of x*(x.v) with v broadcast as a literal — X never shuffles, the 64x64 Gram never materializes; exact-integer carriers end to end",
    "q_trade_matrix" -> "full nation-pair trade grid (Q7 generalized): both nation dims BHJ by size-gating, the two fact joins hash-partition on orderkey/suppkey, ONE partial+final agg to the ≤nation² census — no per-pair re-probe",
    "q_deep_discount" -> "2σ discount outliers: the li⋈part frame is persisted ONCE; the per-type moment census broadcasts back onto the cached frame — the fact join never runs twice",
    // round-12 additions: the composed serving pipeline, the pivoted
    // rank-trend replan, and the shared-census rank statistics
    "q_ivf_pq_search" -> "composed IVF-PQ: nprobe cell pruning → posting-list ADC (cell + 4 one-byte codes per vector) through broadcast probe LUTs → exact rerank of the broadcast ≤20-per-probe pool; three bounded graft_topk heaps, no WindowExec, raw vectors scanned exactly once (at rerank)",
    "q_jonckheere_terpstra" -> "pivoted-prefix replan (r12): the bounded 5-priority alphabet rides ONE census-sized RangeRank pass with 5 prefix-sum columns; J2 collapses row-locally over the C(5,2) ordered pairs — the dense g×v grid and the census self-join are gone",
    "q_mad" -> "pinned RANKED (flag, price) census: the median is ONE conditional agg over the artifact's off prefix; the deviation selection re-runs a 3-row broadcast join against pinned census blocks per histogram pass instead of materializing a second barely-collapsing census (r13)",
    "q_hoeffding_d" -> "bounded dense (quantity × price-bucket) grid: A/Bx/By from 2-D exclusive prefix sums via three constant-size windows; the grid census is the pinned shared artifact (r13 — one build serves D, τ-b, Somers' D)",
    "q_watson_u2" -> "row-local integrated-ECDF masses off the pinned RANKED urgent-vs-rest census (off1/off2 prefix columns, r13) — zero per-query rank passes; two dec38 moments, two pinned divisions",
    "q_theta_method" -> "calendar-bounded daily census, localCheckpoint-pinned (r12 ADVICE): exact dec38 OLS normal-equation sums + one sorted-fold SES read the SAME pinned frame — one orders scan",
    // round-13 additions: the pinned-ranked-census consumers and the
    // new oracled seeds
    "q_double_mad" -> "ALL THREE selections are row-local filters over the pinned RANKED (v, c, off, n) census (r13): the side-deviation orders are monotone images of the value order, so cum-dev counts read off the SAME prefix — no derived census, no second rank machine; med pick + sides pick + fence agg = three census-sized jobs",
    "q_energy_distance" -> "pairwise-|Δ| masses in Gini-mean-difference form off the pinned RANKED census's count AND value-mass prefixes (off_i, vs_i): Σ|Δ| = Σc·(off·v − vs) per side/cross, row-local; exact dec38, three mirrored IEEE divisions, zero rounding",
    "q_kendall_tau_b" -> "concordance masses over the pinned bounded grid artifact: P = Σc·A (2-D exclusive prefix), Q = Σc·(CXL − A − By); marginal tie masses from grid marginals; constant-size windows only — shares ONE build with Hoeffding's D and Somers' D",
    "q_damped_holt" -> "calendar-bounded day census → ONE sorted fold (φ-damped level/trend recurrence, Spark aggregate ≡ DuckDB recursive CTE, bit-equal doubles); h=7 multiplier is a pinned literal — no data-sized window, one orders scan")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val sb = new StringBuilder
    sb.append("# PLANS — physical-plan evidence (generated by `graft.PlanDump`)\n\n")
    sb.append(s"Source data: `$sfDir`. Regenerate after plan-affecting changes:\n")
    sb.append("`sbt \"runMain graft.PlanDump\"`.\n\n")
    // the census-reuse table and the tail artifact-delta sections are
    // HAND-MAINTAINED per round (new query rows land there at commit
    // time); regeneration carries the live PLANS.md versions, so it
    // needs a live PLANS.md
    // UTF-8 EXPLICITLY: the platform default charset is ASCII in the
    // build container (file.encoding=ANSI_X3.4-1968), and a
    // default-charset read decodes every multi-byte character in the
    // hand-maintained sections to U+FFFD before writeString re-encodes
    // the damage — 114 silently mangled lines in round 10 until the
    // close audit caught it. Read and write must both pin UTF-8
    // (writeString already does).
    require(Files.exists(Paths.get("PLANS.md")),
      "PLANS.md not found: PlanDump regenerates the live file from the repo root")
    val live = new String(Files.readAllBytes(Paths.get("PLANS.md")),
      java.nio.charset.StandardCharsets.UTF_8)
    // fail LOUDLY when a splice marker is missing — a silent fallback
    // would drop the hand-maintained sections
    def markerGone(which: String): Nothing =
      sys.error(s"PLANS.md splice marker '$which' not found — " +
        "refusing to regenerate over a reworded live file; restore the marker")
    val censusStart = live.indexOf("## Census-reuse audit")
    if (censusStart < 0) markerGone("## Census-reuse audit")
    val censusEnd = live.indexOf("\n## q_", censusStart)
    if (censusEnd < censusStart) markerGone("\\n## q_ (census table end)")
    sb.append(live.substring(censusStart, censusEnd))
    val tailStart = live.indexOf("\n## Shared basket pair-core artifact")
    if (tailStart < 0) markerGone("\\n## Shared basket pair-core artifact")
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    picks.foreach { case (name, note) =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      sb.append(s"\n## $name\n\n$note\n\n```\n")
        .append(Harness.planText(df, 300))
        .append("\n```\n")
    }
    sb.append("\n").append(live.substring(tailStart + 1))
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"wrote PLANS.md (${picks.size} plans)")
    spark.stop()
  }
}
