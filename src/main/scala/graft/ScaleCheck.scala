package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths, StandardCopyOption}

/** Scale-slope measurement: build perturbed ×M copies of the fact/corpus
  * tables (documents, embeddings, lineitem, orders) in /tmp, keep the
  * dimension tables fixed, and time the heavy operators at M ∈ {1,2,4,8}.
  * The per-query growth exponent log(t_8/t_1)/log 8 is the evidence for
  * the 100-TB design claims — a query whose plan is shuffle-linear should
  * hold an exponent near 1.0; the IVF kNN graph is expected ≈1.5 by
  * construction (√n cells, fixed nprobe).
  *
  * Perturbation keeps workload SHAPE, not just volume: each copy c
  * replaces every 5th token (offset c mod 5) with a copy-specific marker,
  * so within-copy near-dup structure survives while cross-copy Jaccard
  * falls below the 0.3 pipeline threshold — the dup-pair count grows
  * ~linearly with M instead of quadratically. Embeddings rotate by c
  * positions — decorrelated across copies, norms preserved.
  *
  * Run: `sbt "runMain graft.ScaleCheck [baseSfDir] [workDir]"`.
  * Prints one JSON line per multiplier; post-process into SCALE.md.
  */
object ScaleCheck {

  private val Mults = Seq(1, 2, 4, 8)
  private val Picks = Seq(
    "q_text_stats", "q_groupby_sum", "q_join_inner", "q_window_rank",
    "q_corpus_pipeline", "q_dedup_exact", "q_dedup_ngram", "q_dedup_near",
    "q_dup_clusters", "q_ann_ivf", "q_knn_graph", "q_cluster_assign",
    "q_similarity_topk", "q_bm25", "q_tfidf", "q_join_asof", "q_repetition",
    "q_sessionize", "q_funnel", "q_concurrency", "q_retention", "q_transitions",
    "q_chunking",
    // round 3: iterative graph, sketch passes, runtime filter, curation
    "q_pagerank", "q_heavy_hitters", "q_bloom_join", "q_interval_overlap",
    "q_inverted_index", "q_decontaminate", "q_novelty", "q_merge_upsert",
    // round-3 late additions: sampling, candidate-only edit verify,
    // islands window, z-order layout
    "q_sample_per_group", "q_dedup_edit", "q_gaps_islands", "q_zorder_layout",
    // round-3 closing batch: TPC-H report shapes, LM scoring, sequence
    // analytics, hybrid retrieval, validation checksum
    "q_pricing_summary", "q_returned_customers", "q_lm_score",
    "q_session_paths", "q_rank_fusion", "q_table_checksum",
    // TPC-H tail batch: multi-fact join chain, HAVING fold, OR-of-ANDs
    "q_nation_trade", "q_large_orders", "q_disjunctive_join",
    // curation tail: window cumsum packing, char-moment aggregation,
    // capped-basket pair fan-out, x32 bootstrap replicates
    "q_sequence_pack", "q_char_diversity", "q_also_bought", "q_bootstrap_ci",
    // round-3 final batch: degree-ordered triangle closure, IVF-cell
    // semantic dedup, per-user EWMA fold, skyline prefix-max
    "q_triangle_count", "q_semdedup", "q_ewma", "q_pareto_frontier",
    // round-3 coda: growing-vocab importance weights, brute-force
    // negative mining, batch-vs-index incremental near-dup
    "q_dsir_weights", "q_hard_negatives", "q_dedup_near_incremental",
    // continuation batch: frontier-expand BFS, dense-grid KS drift,
    // codegen deflate census
    "q_bfs_reach", "q_ks_drift", "q_compression_ratio",
    // drift/audit/series batch: categorical TVD, Benford digit audit,
    // calendar-bounded autocorrelation, Bellman-Ford SSSP
    "q_tvd_drift", "q_benford", "q_autocorr", "q_sssp",
    // stats/curation batch: corpus-sized shingle census + rejoin,
    // single-pass moment profile, PIT interval probe, per-key
    // non-associative folds, Hamilton apportionment windows
    "q_substring_dup", "q_moments", "q_scd2_lookup",
    "q_inventory_running", "q_allocation",
    // rank-correlation batch: double range-rank over the supplier frame
    "q_kendall_tau",
    // round-4 batch: RangeRank weighted-mass walk, corpus template
    // census, vocab concentration moments, peel-round graph fixpoint,
    // bucketed co-located join (artifact written once per dir, min-of-2
    // reflects the steady-state query)
    "q_weighted_median", "q_template_mining", "q_token_diversity",
    "q_kcore", "q_join_bucketed",
    // round-4 second batch: x7 row-local fan-out rolling distinct,
    // RangeRank percentile-cut concentration, cross-source shingle
    // overlap (corpus-sized census + row-local pair fan-out)
    "q_rolling_distinct", "q_top_share", "q_source_overlap",
    // round-4 closing batch: SLI day census, vocab head cut, cluster
    // histogram over the shared artifact, zero-exchange bucket rollup,
    // corpus-scale norm ranks
    "q_error_burn", "q_zipf_fit", "q_dup_size_hist",
    "q_bucket_agg", "q_norm_profile",
    // round-5 model-eval batch: score-census midranks, event-scale
    // RangeRank decile split, cumulative-TP/FP threshold sweep,
    // orderkey-collapse + day-census survival fold
    "q_auc", "q_lift_gain", "q_pr_curve", "q_survival_km",
    // round-5 continuation batch: fixed-round min-label CC, per-customer
    // RFM census + banded cube, shard-manifest fold, ORC pushdown scan.
    // (q_decontaminate_embed is excluded by design: its %500 eval slice
    // grows with the scaled corpus, so the ×M dirs would stress an
    // eval×corpus product no production run pays — with the fixed eval
    // set the query is one broadcast + a row-local corpus pass, linear
    // by construction.)
    "q_label_prop", "q_rfm_segments",
    "q_export_shards", "q_orc_source",
    // degree-degree correlation: edge-scale enrichment joins
    "q_assortativity",
    // persisted day-census self-join backtest
    "q_forecast_eval",
    // RangeRank cumulative-share walk over the scaling part census
    "q_abc_classification",
    // round-6 coverage batch: every ≥1 s battery query gets a measured
    // slope (r5 verdict item 7) — the drift grids, census folds,
    // rank/percentile selections, the SQL surface, and the report
    // joins that were previously dispositioned only in prose
    "q_wasserstein", "q_chi2", "q_mad", "q_percentile_cont",
    "q_percentile_disc", "q_stats_agg", "q_rollup_cube", "q_variant_ops",
    "q_winsorize", "q_rare_token_docs", "q_dedup_simhash",
    "q_degree_stats", "q_excess_share", "q_fd_check", "q_feature_binning",
    "q_join_broadcast", "q_join_range", "q_part_type_census",
    "q_ship_latency", "q_sql_surface", "q_supplier_wait",
    // the composed production dedup path (band → exact-verify): the
    // linear replacement for q_dedup_ngram's +1.1-slope exact self-join;
    // recall vs the exact path is DedupRecallSpec's measured 1.0
    "q_dedup_band_verify",
    // round-6 growth batch heavies: wedge-closure clustering census,
    // ×7/×28 stickiness fan-out, RangeRank global quantile/decile cuts,
    // year-spine recursive CTE (calendar-bounded — expect flat)
    "q_local_clustering", "q_stickiness", "q_ntile_orders",
    "q_ltv_deciles", "q_sql_recursive",
    // matrix-free power method: 5 corpus aggregations — expect linear
    "q_power_iteration",
    // final-bench stragglers ≥1 s: char-trigram census + RangeRank cut,
    // per-(part, supplier) argmax census, per-brand HHI census
    "q_char_trigrams", "q_supplier_concentration", "q_hhi",
    // growth-batch ≥1 s additions: paired-census BLEU joins, bounded
    // basket pair fan-out, twin RangeRank decile passes, user-lag +
    // RangeRank gap quantiles, vocab-census coverage cut
    "q_bleu_pairs", "q_brand_affinity", "q_decile_transition",
    "q_inter_event_quantiles", "q_token_coverage",
    // closing batch: fact-scale distinct to the bounded depth histogram
    "q_multisource_depth",
    // eval/behavior batch ≥1 s: corpus-BLEU census joins, session
    // windows + entry argmax
    "q_bleu_corpus", "q_bounce_rate",
    // final-bench stragglers ≥1 s among the round-6 growth queries
    "q_deep_discount", "q_token_gini", "q_margin_waterfall",
    "q_spearman_customers", "q_skipgram_pmi",
    "q_nation_self_sufficiency", "q_brand_momentum",
    // fact-scale distinct to the calendar-bounded continuity histogram
    "q_supplier_continuity",
    // closing similarity/growth batch (borderline-1 s cold): vocab
    // census self-join, df rejoin, month-census growth split
    "q_lang_vocab_jaccard", "q_vocab_private_share", "q_customer_growth",
    // loyalty batch: 3-table distinct fold, session-window value bands
    "q_brand_loyalty", "q_session_value_bands",
    // drift-monitor series: calendar × bins census + grid folds
    "q_psi_timeline",
    // late round-6 battery: PAV runs bounded merge ROUNDS over a ≤100-row
    // block frame — per-round cost is fixed, only the census scan scales;
    // expect near-flat-to-linear
    "q_isotonic_calibration",
    // continuation batch: 2-round integer HITS (edge-scale joins),
    // shared-generator pair fan-out + integer-micros score, (source,
    // token) census + dense top-200 grid, decorrelated LATERAL top-N
    "q_hits", "q_adamic_adar", "q_source_kl", "q_sql_lateral",
    // continuation batch: brand-pair association fan-out (catalog-
    // bounded per order), 8-seed multi-source BFS rounds
    "q_basket_lift", "q_closeness",
    // char-linear doc anomaly scan (letter census + bounded folds)
    "q_doc_anomaly_chi2",
    // round-7 coverage batch (r6 verdict item 1): the 41 ≥1 s battery
    // queries the 401→467 late-round growth left without a slope row —
    // stats batteries (calendar- or census-bounded folds over one fact
    // scan: expect near-linear-to-flat), the RangeRank'd Theil–Sen,
    // report joins, and the SQL-surface grouping sets
    "q_theil_sen", "q_theil_sen_ci", "q_abc_xyz", "q_line_position_effect",
    "q_bland_altman", "q_morans_i", "q_modularity", "q_croston",
    "q_kendall_w", "q_ljung_box", "q_burrows_delta", "q_reciprocity",
    "q_sql_grouping_sets", "q_simpson_reversal", "q_markov_stationary",
    "q_cvm_drift", "q_quantile_treatment_effect", "q_partial_corr",
    "q_cronbach_alpha", "q_friedman_test", "q_fisher_index",
    "q_dtw_profile", "q_collocations", "q_hosmer_lemeshow", "q_vif",
    "q_user_turnover", "q_mahalanobis_outliers", "q_lorenz_curve",
    "q_bigram_cond_entropy", "q_levene", "q_important_parts",
    "q_xml_source", "q_promo_share", "q_ks_model", "q_source_keywords",
    "q_basket_size_dist", "q_knee_detection", "q_mann_kendall",
    "q_ab_test", "q_join_skew_salted", "q_trade_matrix",
    "q_group_percentiles",
    // round-7 growth batch ≥1 s: dense-grid RangeRank trend test and
    // the artifact-backed rich-club census
    "q_jonckheere_terpstra", "q_rich_club",
    // round-7 batch D ≥1 s: 3-round integer walk counts, the shared
    // basket generator's third score (pair-volume-bound like
    // q_also_bought), and the stopword-phrase word census
    "q_katz_centrality", "q_preferential_attachment", "q_rake_keywords",
    // round-7 batch E ≥1 s: value-census median test and the exact
    // absolute-deviation inequality index
    "q_moods_median", "q_hoover_index",
    // round-7 batch G ≥1 s: 4-sweep IPF over the persisted 25-cell census
    "q_ipf_raking",
    // round-8 coverage: the 3 late-r7 queries that leaked past the
    // same-commit invariant (r7 verdict item 2)
    "q_median_polish", "q_palma_ratio", "q_t_closeness",
    // round-8: the newly exact-census-oracled sketch queries (their
    // plans grew an exact distinct/pair side)
    "q_overlap_sketch", "q_sketch_rollup",
    // round-8 growth: quantile-forecast loss (selection + loss censuses)
    "q_pinball_loss",
    // round-8 robust-dispersion batch: prefix-sum-at-rank selections
    // and the census-ranked GMD
    "q_trimmed_stats", "q_quartile_dispersion", "q_gini_mean_difference",
    // round-8 tail/uplift/entropy batch
    "q_peak_over_threshold", "q_entropy_rate", "q_qini_uplift",
    // round-8 selection batch: 4-pick gap-ratio screen
    "q_dixon_q",
    // round-8 density batch: ×21 kernel fan-out
    "q_kde_profile",
    // round-8 rank-test batch: census prefix pass
    "q_brunner_munzel",
    // round-8 resampling heavy: ×32 randomization fan-out
    "q_permutation_test",
    // round-8 closing pair: sum-at-rank mass shares, wallet argmax
    "q_middle_mass_share", "q_share_of_wallet",
    // round-8 final coverage audit catches: BPE apply (oracle-exempt
    // but >=1 s in the 527-query battery) and the borderline Kolkata
    // crossing
    "q_bpe_apply", "q_kolkata_index",
    // round-9: the VaR backtest rides the day census + a RangeRank
    // selection — borderline 1 s steady-state
    "q_kupiec_pof",
    // round-9 survival/strata tests — borderline 1 s steady-state
    "q_gehan_wilcoxon", "q_breslow_day", "q_tarone_ware", "q_double_mad",
    // round-9: the re-spelled SQL as-of (the 80 s decorrelation fix) —
    // its fan-out must stay bounded by per-customer order counts
    "q_sql_asof",
    // round-9: 3-round iterative ESD over the day census — fixed round
    // overhead, only the census build scales
    "q_rosner_esd",
    // round-9: pooled squared-rank dispersion test — value census +
    // RangeRank prefix sums + fixed-point moments
    "q_conover_squared_ranks",
    // round-9: 3-pick order-statistic CI off one RangeRank bracket pass
    "q_median_ci",
    // round-9 close coverage audit: the 19 borderline queries the slow
    // close battery pushed over the 1 s line (1.0-2.3 s, mostly census
    // reports and the new SQL twins) — every >=1 s battery query keeps
    // a measured slope row
    "q_assortment_entropy", "q_bowley_skew", "q_brand_price_index",
    "q_map_ops", "q_nelson_aalen", "q_payload_key_drift",
    "q_product_margin", "q_quade", "q_rank_distance",
    "q_rle_compressibility", "q_sbc_classification", "q_shift_share",
    "q_sql_exists", "q_sql_pivot", "q_sql_setops", "q_sql_window",
    "q_supplier_trend", "q_tornqvist_index", "q_trigram_hapax",
    // round-9 curation batch: x3 n-gram sweep off one cached tokenized
    // frame — shingle volume scales with corpus x sweep width
    "q_contamination_sweep",
    // round-9 final-battery straggler: pooled rank census + scores
    "q_ansari_bradley",
    // round-10 SQL-gate widening: the ≥1 s text-in member
    "q_sql_exists_agg",
    // round-11 (r10 verdict item 2): the five ≥1 s round-10 queries
    // that landed without a slope row — rank/census statistics riding
    // RangeRank or the shared ecdf/day frames
    "q_cuzick_trend", "q_cucconi", "q_kuiper_drift",
    "q_nemenyi_posthoc", "q_hodges_lehmann",
    // round-11 borderline-1 s addition: clamp pass + rank cuts
    "q_yuen_t", "q_bws_test",
    // round-11 final-battery >=1 s: census placement agg
    "q_fligner_policello",
    // round-12 (r11 verdict item 3): the close-map >=1 s queries the
    // automated gate (scripts/scale_gate.py) found without slope rows
    "q_association_metrics", "q_cvm_two_sample", "q_lepage",
    "q_decayed_popularity",
    // round-12 additions >=1 s at close: the composed IVF-PQ search,
    // the grid-census independence seed, and the close map's one
    // spiked cell (q_chow_test 0.65->1.71 with no code change)
    "q_ivf_pq_search", "q_hoeffding_d", "q_chow_test",
    // round 13 (r12 verdict item 3 + ADVICE): the DRIVER-map >=1 s
    // queries the gate found without slope rows (the close map sat
    // below 1 s on every one of them — tenancy-hot cells), plus
    // q_watson_u2 (flagged by ADVICE as missing from this list)
    "q_watson_u2", "q_agg_distinct", "q_auc_delong", "q_c_chart",
    "q_cochran_q", "q_cohort_ltv", "q_cold_start_parts",
    "q_feature_hashing", "q_fk_orphans", "q_interaction_effects",
    "q_pacf", "q_quantile_norm",
    // round-13 seeds (rows needed only if >=1 s at close; picks listed
    // so ScaleCheck can measure them either way)
    "q_energy_distance", "q_kendall_tau_b", "q_somers_d",
    "q_damped_holt",
    // round 14 (r13 verdict item 1): the nine DRIVER-map >=1 s queries
    // the gate found without slope rows (all < 0.8 s on the committed
    // close map — tenancy-hot cells; measured anyway per the r12 rule)
    "q_diebold_mariano", "q_dunn_posthoc", "q_growth_accounting",
    "q_langid_accuracy", "q_mode", "q_ordinal_association",
    "q_p_chart", "q_rosenbluth_index", "q_sobel_mediation",
    // round-15 driver-map gate catches: the 18 queries the committed
    // 8-core bench_out.json puts >= 1 s (0.22-0.71 s where the mid-r10
    // map has them) — report scans and global sorts, text censuses,
    // rank tests, the as-of tolerance join and the per-day series folds
    "q_constraint_check", "q_corpus_report", "q_filter_pred",
    "q_join_asof_tolerance", "q_lang_id", "q_lexical_richness",
    "q_maxsim_late_interaction", "q_mmr_rerank", "q_resample_ffill",
    "q_returns_by_brand", "q_runs_test", "q_sax_weekly", "q_scan_project",
    "q_seasonal_mann_kendall", "q_seasonality_index", "q_sequence_motifs",
    "q_shapley_attribution", "q_van_elteren")

  /** Per-copy key shift for the event/order key domains: copies get
    * disjoint user populations (×M users, SAME time span — per-era
    * volume grows ×M, which is exactly the stress the era-carry
    * decompositions must absorb), and orders shift o_custkey by the
    * same base so copy-c events keep matching copy-c orders in the
    * as-of join.
    */
  private val KeyShift = 10000000L

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    val work = if (args.length > 1) args(1) else "/tmp/graft-scale"
    // optional 3rd arg: comma-separated pick subset (measure new ops
    // without re-timing the whole list)
    val picks = if (args.length > 2) {
      val want = args(2).split(',').toSet
      val unknown = want -- Picks.toSet
      require(unknown.isEmpty,
        s"unrecognized pick(s): ${unknown.toSeq.sorted.mkString(", ")} — " +
          s"known: ${Picks.mkString(", ")}")
      Picks.filter(want)
    } else Picks
    // optional 4th arg: comma-separated multipliers (default 1,2,4,8) —
    // the r8 verdict's deep-scale probe (×16/×32) uses this to confirm
    // the steepest ×2→×8 slopes flatten rather than bend up
    val mults = if (args.length > 3)
      args(3).split(',').map(_.trim.toInt).toSeq
    else Mults
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Bench-identical session block (BenchConf): slopes must be
    // measured on the same plans the battery times. Note the ×M
    // dirs GROW past 64 MB with depth, so a side that broadcasts at
    // ×1 falls back to shuffle at ×16/×32 — which is exactly the
    // scale behavior the deep rows exist to demonstrate.
    val spark = BenchConf(SparkSession.builder()
      .master(s"local[$cpus]"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    mults.foreach(m => buildScaled(spark, base, s"$work/m$m", m))

    // warmup (session + codegen)
    spark.range(1000000).selectExpr("sum(id)").collect()

    mults.foreach { m =>
      val dir = s"$work/m$m"
      val times = picks.map { name =>
        spark.catalog.clearCache()
        System.gc()
        val t0 = System.nanoTime()
        try SparkEntry.queries(name)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        catch { case e: Throwable => System.err.println(s"[scale] $name@m$m: $e") }
        name -> (System.nanoTime() - t0) / 1e9
      }
      val qs = times.map { case (k, v) => "\"" + k + "\":" + v }
        .mkString("{", ",", "}")
      println(s"""{"m":$m,"queries":$qs}""")
    }

    // q_also_bought SF-invariant, asserted on COUNTS rather than
    // wall-time (r5 verdict item 3: the wall-time slope was too
    // volatile across sessions to prove the shape). The 128-item
    // basket cap bounds per-customer fan-out at C(128,2) = 8128 pairs
    // by construction; what needs MEASURING is that total pairs grow
    // ∝ customers across ×M — i.e. the pair census is linear in the
    // scaled fact volume, never quadratic.
    if (picks.contains("q_also_bought")) {
      mults.foreach { m =>
        val b = graft.ops.Curation.alsoBoughtBaskets(spark, s"$work/m$m")
        val r = b.select(
          expr("cast(size(items) as bigint) * (size(items) - 1) div 2")
            .as("p"))
          .agg(count(lit(1)).as("customers"), sum(col("p")).as("pairs"),
            max(col("p")).as("max_per_cust")).head()
        println(s"""{"m":$m,"invariant":"also_bought_pairs",""" +
          s""""customers":${r.getLong(0)},"pairs":${r.getLong(1)},""" +
          s""""max_per_cust":${r.getLong(2)},"cap_pairs":8128}""")
      }
    }
    spark.stop()
  }

  /** Scaled copy of `base` at `dir` (idempotent: skips if present). */
  private def buildScaled(spark: SparkSession, base: String, dir: String, m: Int): Unit = {
    if (Files.exists(Paths.get(s"$dir/_DONE"))) return
    Files.createDirectories(Paths.get(dir))

    // dims: byte-copy
    Seq("region", "nation", "customer", "supplier", "part")
      .foreach { t =>
        Files.copy(Paths.get(s"$base/$t.parquet"), Paths.get(s"$dir/$t.parquet"),
          StandardCopyOption.REPLACE_EXISTING)
      }

    // events: ×M disjoint user populations over the SAME time span.
    // Read as raw nanos longs (the source is TIMESTAMP(NANOS), which
    // the vectorized reader rejects) and write ts as a plain INT64 —
    // Tables.load's nanosAsLong branch reads both physical forms as
    // LongType, so the scaled dirs stay drop-in.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val evRaw = spark.read.parquet(s"$base/events.parquet")
    val maxEv = evRaw.agg(max("event_id")).head().getLong(0) + 1
    union(m, c => evRaw.select(
      (col("event_id") + lit(c * maxEv)).as("event_id"), col("ts"),
      (col("user_id") + lit(c * KeyShift)).as("user_id"),
      col("event_type"), col("value"), col("props")))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

    val docs = Tables.load(spark, base, "documents")
    val maxDoc = docs.agg(max("doc_id")).head().getLong(0) + 1
    union(m, c => {
      if (c == 0) docs.select("doc_id", "text", "lang", "source", "n_chars")
      else docs.withColumn("toks", split(col("text"), " "))
        .select((col("doc_id") + lit(c * maxDoc)).as("doc_id"),
          array_join(expr(
            s"transform(toks, (t, i) -> IF(i % 5 = ${c % 5}, 'cp$c', t))"),
            " ").as("text"),
          col("lang"), col("source"))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }).write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val emb = Tables.load(spark, base, "embeddings")
    val maxVec = emb.agg(max("vec_id")).head().getLong(0) + 1
    union(m, c => {
      if (c == 0) emb.select("vec_id", "embedding", "label")
      else emb.select((col("vec_id") + lit(c * maxVec)).as("vec_id"),
        expr(s"""transform(sequence(0, size(embedding) - 1),
                 i -> embedding[(i + $c) % size(embedding)])""").as("embedding"),
        col("label"))
    }).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    val orders = Tables.load(spark, base, "orders")
    val maxOrd = orders.agg(max("o_orderkey")).head().getLong(0) + 1
    union(m, c => orders
      .withColumn("o_orderkey", col("o_orderkey") + lit(c * maxOrd))
      .withColumn("o_custkey", col("o_custkey") + lit(c * KeyShift)))
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")

    val li = Tables.load(spark, base, "lineitem")
    union(m, c => li.withColumn("l_orderkey",
      col("l_orderkey") + lit(c * maxOrd)))
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")

    Files.createFile(Paths.get(s"$dir/_DONE"))
  }

  private def union(m: Int, copy: Int => DataFrame): DataFrame =
    (0 until m).map(copy).reduce(_ unionByName _)
}
