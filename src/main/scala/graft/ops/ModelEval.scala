package graft.ops

import graft.{Q, Tables}
import graft.Q._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Model-evaluation & feature-engineering operators — the readouts a
  * training-data pipeline runs AFTER curation: ranking quality (AUC,
  * lift/gain), probability calibration, distribution stability (PSI),
  * categorical predictive power (WoE/IV, mutual information), leakage-safe
  * feature encoding (smoothed target encoding), inter-rater agreement
  * (Cohen's kappa) and time-to-event curves (Kaplan–Meier).
  *
  * Scale discipline (the same rules as the drift family in
  * [[Curation]]): every query collapses the fact table to a bounded
  * census FIRST (one shuffle, partial+final agg), finishes arithmetic on
  * the census, and pins every floating-point reduction to a
  * position-stable sorted left fold (the q_lm_score / chi2Finish
  * discipline) so Spark and DuckDB produce bit-identical doubles. The
  * one data-sized total order (q_lift_gain's decile split and the AUC
  * midranks' value census) rides [[RangeRank]] — never a single-task
  * window.
  *
  * Reference analog: the reference framework computes exactly one
  * census-shaped statistic (the mod-100 histogram client,
  * `test1-1_thread_1_process.cpp:59-77`) — these are the same
  * census-then-finish shape pointed at model-quality readouts.
  */
object ModelEval {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  private val dec38 = DecimalType(38, 0)

  /** Binary label shared by the ranking-quality readouts: did the event
    * convert? `value` plays the model score.
    */
  private def labeled(ev: DataFrame): DataFrame =
    ev.select(col("event_id"), col("value"),
      when(col("event_type") === "purchase", 1L).otherwise(0L).as("pos"))

  /** Per-score census — the sufficient statistic of the ranking-quality
    * battery (AUC, PR curve, KS, DeLong CI): value → (total count,
    * positive count). MERGEABLE (plain counts), so the streaming twin
    * keeps exactly this frame as Complete-mode state, the batch queries
    * read it off the shared pinned artifact ([[Censuses.scoreCensus]]),
    * and the finishes below produce bit-identical results from either.
    */
  def scoreCensus(events: DataFrame): DataFrame =
    labeled(events)
      .groupBy("value")
      .agg(count(lit(1)).cast("long").as("cnt"),
        sum(col("pos")).cast("long").as("p"))

  /** ROC-AUC finishing arithmetic over the drained/pinned
    * [[scoreCensus]] — see q_auc. */
  def aucFinish(census: DataFrame): DataFrame = {
    val ranked = RangeRank.ranked(
      census, Seq.empty, Seq(col("value")),
      rnName = "__rn", nName = None,
      prefixSums = Seq(RangeRank.PrefixSum(col("cnt"), "cum")))
    ranked
      .agg(sum(col("p")).as("npos"),
        sum(col("cnt") - col("p")).as("nneg"),
        sum(col("p").cast(dec38)
          * (lit(2L) * col("cum") + col("cnt") + lit(1L)).cast(dec38))
          .as("tworpos"))
      .select(col("npos").cast("long").as("n_pos"),
        col("nneg").cast("long").as("n_neg"),
        ((col("tworpos").cast("double")
          - col("npos").cast("double") * (col("npos").cast("double") + 1))
          / (lit(2.0) * col("npos").cast("double")
             * col("nneg").cast("double"))).as("auc"))
  }

  /** Precision/recall/F1-by-threshold finishing arithmetic over the
    * drained/pinned [[scoreCensus]] — see q_pr_curve. Output is
    * census-sized (one row per threshold), so it stays a frame. */
  def prCurveFinish(census: DataFrame): DataFrame = {
    val ranked = RangeRank.ranked(
      census, Seq.empty, Seq(col("value").desc),
      rnName = "__rn", nName = None,
      prefixSums = Seq(
        RangeRank.PrefixSum(col("p"), "tp_above"),
        RangeRank.PrefixSum(col("cnt") - col("p"), "fp_above")))
    // total positives: 1-row broadcast, NOT a global window — the
    // census is distinct-score-sized (≈ data-sized for a continuous
    // score), so an unpartitioned window would funnel it through one
    // task at 100 TB
    val np = census.agg(sum(col("p")).cast("long").as("np"))
    ranked.crossJoin(broadcast(np))
      .select(col("value").as("threshold"),
        (col("tp_above") + col("p")).cast("long").as("tp"),
        (col("fp_above") + col("cnt") - col("p")).cast("long").as("fp"),
        col("np"))
      .select(col("threshold"), col("tp"), col("fp"),
        (col("tp").cast("double")
          / (col("tp") + col("fp")).cast("double")).as("precision"),
        (col("tp").cast("double") / col("np").cast("double"))
          .as("recall"),
        ((lit(2.0) * col("tp").cast("double"))
          / (col("tp") + col("fp") + col("np")).cast("double")).as("f1"))
      .orderBy("threshold")
  }

  /** Two-sample KS over the score order (model discrimination)
    * finishing arithmetic over the drained/pinned [[scoreCensus]] —
    * see q_ks_model. */
  def ksModelFinish(census: DataFrame): DataFrame = {
    val ranked = RangeRank.ranked(
      census, Seq.empty, Seq(col("value")),
      rnName = "__rn", nName = None,
      prefixSums = Seq(
        RangeRank.PrefixSum(col("p"), "cp"),
        RangeRank.PrefixSum(col("cnt") - col("p"), "cn")))
    val tot = census.agg(sum(col("p")).cast("long").as("npos"),
      sum(col("cnt") - col("p")).cast("long").as("nneg"))
    ranked.crossJoin(broadcast(tot))
      .select(col("npos"), col("nneg"), col("value"),
        abs((col("cp") + col("p")).cast(dec38) * col("nneg").cast(dec38)
          - (col("cn") + col("cnt") - col("p")).cast(dec38)
            * col("npos").cast(dec38)).as("dnum"))
      .groupBy("npos", "nneg")
      .agg(max(struct(col("dnum"), col("value"))).as("m"))
      .select(col("npos").as("n_pos"), col("nneg").as("n_neg"),
        col("m.value").as("at_threshold"),
        (col("m.dnum").cast("double")
          / (col("npos").cast("double") * col("nneg").cast("double")))
          .as("ks"))
  }

  /** DeLong AUC variance/CI finishing arithmetic over the
    * drained/pinned [[scoreCensus]] — see q_auc_delong. */
  def aucDelongFinish(census: DataFrame): DataFrame = {
    val ranked = RangeRank.ranked(
      census, Seq.empty, Seq(col("value")),
      rnName = "__rn", nName = None,
      prefixSums = Seq(
        RangeRank.PrefixSum(col("cnt") - col("p"), "cumq"),
        RangeRank.PrefixSum(col("p"), "cump")))
    val agg = ranked
      .agg(sum(col("p")).cast("long").as("n1"),
        sum(col("cnt") - col("p")).cast("long").as("n0"),
        sum(col("p").cast(dec38)
          * (lit(2L) * col("cumq") + (col("cnt") - col("p"))))
          .as("s10"),
        sum(col("p").cast(dec38)
          * (lit(2L) * col("cumq") + (col("cnt") - col("p")))
          * (lit(2L) * col("cumq") + (col("cnt") - col("p"))))
          .as("s10q"),
        sum((col("cnt") - col("p")).cast(dec38)
          * (lit(2L) * col("cump") + col("p"))).as("s01r"),
        sum((col("cnt") - col("p")).cast(dec38)
          * (lit(2L) * col("cump") + col("p"))
          * (lit(2L) * col("cump") + col("p")))
          .as("s01rq"))
    // V01 uses positives ABOVE the negative: t01 = 2n1 − (2·cump + p);
    // Σ and Σ² expand algebraically from the below-sums (exact)
    agg.select(col("n1"), col("n0"),
        (col("s10").cast("double")
          / (lit(2.0) * col("n0").cast("double")
            * col("n1").cast("double"))).as("auc"),
        ((col("s10q").cast("double")
          / (lit(4.0) * col("n0").cast("double")
            * col("n0").cast("double"))
          - col("n1").cast("double")
            * (col("s10").cast("double")
              / (lit(2.0) * col("n0").cast("double")
                * col("n1").cast("double")))
            * (col("s10").cast("double")
              / (lit(2.0) * col("n0").cast("double")
                * col("n1").cast("double"))))
          / (col("n1") - 1).cast("double")).as("v10"),
        ((
          (lit(4.0) * col("n1").cast("double")
            * col("n1").cast("double") * col("n0").cast("double")
            - lit(4.0) * col("n1").cast("double")
              * col("s01r").cast("double")
            + col("s01rq").cast("double"))
          / (lit(4.0) * col("n1").cast("double")
            * col("n1").cast("double"))
          - col("n0").cast("double")
            * (lit(1.0) - col("s01r").cast("double")
              / (lit(2.0) * col("n1").cast("double")
                * col("n0").cast("double")))
            * (lit(1.0) - col("s01r").cast("double")
              / (lit(2.0) * col("n1").cast("double")
                * col("n0").cast("double"))))
          / (col("n0") - 1).cast("double")).as("v01"))
      .select(col("n1").as("n_pos"), col("n0").as("n_neg"),
        round(col("auc"), 12).as("auc"),
        round(sqrt(col("v10") / col("n1").cast("double")
          + col("v01") / col("n0").cast("double")), 6).as("se"),
        round(col("auc") - lit(1.96)
          * sqrt(col("v10") / col("n1").cast("double")
            + col("v01") / col("n0").cast("double")), 6)
          .as("ci_low"),
        round(col("auc") + lit(1.96)
          * sqrt(col("v10") / col("n1").cast("double")
            + col("v01") / col("n0").cast("double")), 6)
          .as("ci_high"))
  }

  /** Mergeable half of q_psi: the (bin → ref/cur counts) census. All-
    * integer and bounded by the bin grid, so it doubles as Complete-mode
    * streaming state — [[psiFinish]] over a drained census equals batch
    * q_psi exactly at any trigger (same contract as the tvd/ks drift
    * twins).
    */
  def psiCensus(events: DataFrame): DataFrame =
    events
      .select(floor(col("value") / 50).cast("long").as("bin"),
        when(col("ts") < lit("2024-01-16").cast("timestamp"), 1L)
          .otherwise(0L).as("is_ref"))
      .groupBy("bin")
      .agg(sum(col("is_ref")).as("ref_n"),
        sum(lit(1L) - col("is_ref")).as("cur_n"))

  /** Mergeable half of q_calibration: per-bin (count, positives, exact
    * decimal score sum). Same Complete-mode streaming contract as
    * [[psiCensus]] — integer/decimal state bounded by the bin grid.
    */
  def calibCensus(events: DataFrame): DataFrame =
    events
      .select(col("value"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("pos"))
      .groupBy(floor(col("value") / 50).cast("long").as("bin"))
      .agg(count(lit(1)).as("n"), sum(col("pos")).as("np"),
        sum(dec2(col("value"))).as("sv"))

  /** Finishing arithmetic of q_calibration over the census. */
  def calibFinish(census: DataFrame): DataFrame =
    census
      .select(col("bin"), col("n").cast("long").as("n"),
        col("np").cast("long").as("n_pos"),
        (col("sv").cast("double") / col("n")).as("mean_score"),
        (col("np").cast("double") / col("n").cast("double"))
          .as("frac_pos"))
      .orderBy("bin")

  /** Finishing arithmetic of q_psi over the census: Laplace-smoothed
    * proportions, per-bin PSI terms, pinned-fold total.
    */
  def psiFinish(census: DataFrame): DataFrame = {
    val wAll = Window.partitionBy()
    val prop = Artifacts.persist(census
      .select(col("bin"), col("ref_n").cast("long").as("ref_n"),
        col("cur_n").cast("long").as("cur_n"),
        sum(col("ref_n")).over(wAll).cast("long").as("rt"),
        sum(col("cur_n")).over(wAll).cast("long").as("ct"),
        count(lit(1)).over(wAll).cast("long").as("nb"))
      .select(col("bin"), col("ref_n"), col("cur_n"),
        ((col("ref_n").cast("double") + 1)
          / (col("rt").cast("double") + col("nb").cast("double")))
          .as("p_ref"),
        ((col("cur_n").cast("double") + 1)
          / (col("ct").cast("double") + col("nb").cast("double")))
          .as("p_cur"))
      // 12-decimal readouts (the q_js_drift discipline): JVM Math.log
      // and DuckDB's libm ln can disagree by 1 ulp on unlucky inputs —
      // no summation-order pinning fixes a transcendental's last bit
      .select(col("bin"), col("ref_n"), col("cur_n"),
        round((col("p_cur") - col("p_ref"))
          * log(col("p_cur") / col("p_ref")), 12).as("psi_bin")))
      // persist: the ≤11-row bin frame feeds BOTH the pinned-fold
      // total and the output join — without it each consumer re-runs
      // the corpus-sized census scan (the r4 drift-family regression
      // class)
    val tot = prop
      .agg(round(expr(
        """aggregate(array_sort(collect_list(struct(bin, psi_bin))),
             CAST(0 AS DOUBLE), (a, x) -> a + x.psi_bin)"""), 12)
        .as("psi"))
    prop.crossJoin(broadcast(tot)).orderBy("bin")
  }

  /** Fairness sufficient statistic: the 5-row per-cohort confusion
    * census (n, positives, predicted-positive, TP, FP). All counts —
    * mergeable, so the streaming twin keeps exactly this frame as
    * Complete-mode state and [[fairnessFinish]] over the drained state
    * equals batch q_fairness_gaps EXACTLY at any trigger: the release
    * gate's parity audit stays live during serving.
    */
  def fairnessCensus(events: DataFrame): DataFrame =
    events
      .select((col("user_id") % 5).as("grp"),
        when(col("event_type") === "purchase", 1L).otherwise(0L)
          .as("pos"),
        when(col("value") >= 50.0, 1L).otherwise(0L).as("pred"))
      .groupBy("grp")
      .agg(count(lit(1)).as("n"), sum(col("pos")).as("np"),
        sum(col("pred")).as("npred"),
        sum(col("pos") * col("pred")).as("tp"),
        sum((lit(1L) - col("pos")) * col("pred")).as("fp"))

  /** Readout of [[fairnessCensus]] (batch or drained stream state):
    * per-cohort rates + demographic-parity gap vs the population.
    */
  def fairnessFinish(conf: DataFrame): DataFrame = {
    val tot = conf.agg(sum(col("npred")).as("tot_pred"),
      sum(col("n")).as("tot_n"))
    conf.crossJoin(broadcast(tot))
      .select(col("grp"), col("n"),
        (col("np").cast("double") / col("n").cast("double"))
          .as("base_rate"),
        (col("npred").cast("double") / col("n").cast("double"))
          .as("sel_rate"),
        // all-negative / all-positive cohort guard: Spark (non-ANSI)
        // x/0 is NULL but DuckDB IEEE division gives inf/nan — make the
        // degenerate cohort NULL in BOTH engines by construction
        when(col("np") === 0, lit(null))
          .otherwise(col("tp").cast("double") / col("np").cast("double"))
          .as("tpr"),
        when(col("n") === col("np"), lit(null))
          .otherwise(col("fp").cast("double")
            / (col("n") - col("np")).cast("double")).as("fpr"),
        (col("npred").cast("double") / col("n").cast("double")
          - col("tot_pred").cast("double") / col("tot_n").cast("double"))
          .as("dp_gap"))
      .orderBy("grp")
  }

  /** Log-loss sufficient statistic: the ≤999×2 (p_mill, pos) count
    * census (p = value/500 clamped to [0.001, 0.999] on an exact
    * per-mill integer carrier). Mergeable, so the streaming twin keeps
    * exactly this frame as Complete-mode state — [[logLossFinish]] over
    * a drained state equals batch q_log_loss EXACTLY at any trigger:
    * the live cross-entropy monitor.
    */
  def logLossCensus(events: DataFrame): DataFrame =
    events
      .select(when(col("event_type") === "purchase", 1L).otherwise(0L)
        .as("pos"),
        least(greatest(round(col("value") * 2).cast("long"), lit(1L)),
          lit(999L)).as("p_mill"))
      .groupBy("p_mill", "pos").agg(count(lit(1)).as("cnt"))

  /** Readout of [[logLossCensus]]: per-row terms rounded to 12 (ln is
    * transcendental — the q_psi discipline), position-pinned fold.
    */
  def logLossFinish(census: DataFrame): DataFrame =
    census
      .select(col("p_mill"), col("pos"), col("cnt"),
        round(col("cnt").cast("double") *
          when(col("pos") === 1L, -log(col("p_mill").cast("double") / 1000.0))
            .otherwise(-log(lit(1.0) - col("p_mill").cast("double") / 1000.0)),
          12).as("term"))
      .agg(sum(col("cnt")).as("n"),
        round(expr(
          """aggregate(array_sort(collect_list(struct(p_mill, pos, term))),
               CAST(0 AS DOUBLE), (a, x) -> a + x.term)"""), 12)
          .as("loss_sum"))
      .select(col("n").cast("long").as("n"),
        round(col("loss_sum") / col("n").cast("double"), 12).as("log_loss"))

  /** Multi-class confusion sufficient statistic: the ≤25-cell
    * (true type, predicted band) count census. Mergeable Complete-mode
    * streaming state; [[confusionFinish]] over a drained state equals
    * batch q_confusion_multi exactly — the live confusion monitor.
    * floor, not a double→int cast: Spark's cast truncates where
    * DuckDB's rounds.
    */
  def confusionCells(events: DataFrame): DataFrame = {
    val pred = expr(
      """CASE least(CAST(floor(value / 100) AS BIGINT), 4)
           WHEN 0 THEN 'click' WHEN 1 THEN 'error'
           WHEN 2 THEN 'purchase' WHEN 3 THEN 'signup'
           ELSE 'view' END""")
    events.select(col("event_type").as("t"), pred.as("p"))
      .groupBy("t", "p").agg(count(lit(1)).as("n"))
  }

  /** Readout of [[confusionCells]]: per-class P/R/F1, NULL-guarded in
    * both engines. The census persists — it feeds row totals, column
    * totals AND the diagonal.
    */
  def confusionFinish(cells0: DataFrame): DataFrame = {
    val cells = Artifacts.persist(cells0)
    val actual = cells.groupBy(col("t").as("cls"))
      .agg(sum(col("n")).as("n_actual"))
    val predicted = cells.groupBy(col("p").as("cls"))
      .agg(sum(col("n")).as("n_predicted"))
    val diag = cells.filter(col("t") === col("p"))
      .select(col("t").as("cls"), col("n").as("tp"))
    actual.join(predicted, Seq("cls"), "full")
      .join(diag, Seq("cls"), "left")
      .select(col("cls"),
        coalesce(col("n_actual"), lit(0L)).as("n_actual"),
        coalesce(col("n_predicted"), lit(0L)).as("n_predicted"),
        coalesce(col("tp"), lit(0L)).as("tp"))
      .select(col("cls"), col("n_actual"), col("n_predicted"), col("tp"),
        when(col("n_predicted") === 0, lit(null))
          .otherwise(col("tp").cast("double")
            / col("n_predicted").cast("double")).as("precision"),
        when(col("n_actual") === 0, lit(null))
          .otherwise(col("tp").cast("double")
            / col("n_actual").cast("double")).as("recall"),
        when(col("n_predicted") + col("n_actual") === 0, lit(null))
          .otherwise(lit(2.0) * col("tp").cast("double")
            / (col("n_predicted") + col("n_actual")).cast("double"))
          .as("f1"))
      .orderBy("cls")
  }

  /** ANOVA sufficient statistic: the ≤5-row per-type (n, Σcents,
    * Σcents²) moment census in DECIMAL(38,0) (cents² at 100-TB row
    * counts exceeds int64). Mergeable Complete-mode streaming state;
    * [[anovaFinish]] over a drained state equals batch q_anova exactly
    * — the live between/within variance monitor.
    */
  def anovaCensus(events: DataFrame): DataFrame =
    events
      .select(col("event_type"),
        (dec2(col("value")) * 100).cast("long").as("cents"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("cents").cast(dec38)).as("s"),
        sum((col("cents") * col("cents")).cast(dec38)).as("ss"))

  /** Readout of [[anovaCensus]]: SSB/SSW terms (rounded 12 → pinned
    * folds) with the totals folded in as a 1-row broadcast; F = two
    * IEEE divisions.
    */
  def anovaFinish(census0: DataFrame): DataFrame = {
    // persist: the ≤5-row census feeds BOTH the totals agg and the
    // term projection — un-persisted, each consumer re-runs the
    // event-scale moment scan (the drift-family class; caught by the
    // scan-budget guard)
    val census = Artifacts.persist(census0)
    val tot = census.agg(sum(col("n")).as("n_tot"),
      sum(col("s")).as("s_tot"))
    census.crossJoin(broadcast(tot))
      .select(col("event_type"), col("n"),
        round(col("n").cast("double")
          * (col("s").cast("double") / col("n").cast("double")
            - col("s_tot").cast("double") / col("n_tot").cast("double"))
          * (col("s").cast("double") / col("n").cast("double")
            - col("s_tot").cast("double") / col("n_tot").cast("double")),
          6).as("ssb_term"),
        round(col("ss").cast("double")
          - col("s").cast("double") * col("s").cast("double")
            / col("n").cast("double"), 6).as("ssw_term"),
        col("n_tot"))
      .agg(count(lit(1)).as("k"), max(col("n_tot")).as("n_tot"),
        expr("""aggregate(array_sort(collect_list(
                  struct(event_type, ssb_term))),
                CAST(0 AS DOUBLE), (a, x) -> a + x.ssb_term)""")
          .as("ssb"),
        expr("""aggregate(array_sort(collect_list(
                  struct(event_type, ssw_term))),
                CAST(0 AS DOUBLE), (a, x) -> a + x.ssw_term)""")
          .as("ssw"))
      .select(col("k").cast("long").as("k"),
        col("n_tot").cast("long").as("n"),
        round(col("ssb"), 6).as("ssb"), round(col("ssw"), 6).as("ssw"),
        ((col("ssb") / (col("k") - 1).cast("double"))
          / (col("ssw") / (col("n_tot") - col("k")).cast("double")))
          .as("f_stat"))
  }

  /** Readout of [[anovaCensus]] for q_tukey_hsd — the post-hoc pairwise
    * studentized-range statistics. Shared with the streaming twin: the
    * drained Complete-mode ANOVA state finishes to the identical pair
    * table (StreamingSpec parity test).
    */
  def tukeyFinish(census0: DataFrame): DataFrame = {
    // persist: the ≤5-row census feeds the MSW fold AND both pair sides
    val census = Artifacts.persist(census0)
    val msw = census.agg(
        sum(col("n")).as("n_tot"),
        count(lit(1)).as("k"),
        expr("""aggregate(array_sort(collect_list(struct(event_type,
                  round(CAST(ss AS DOUBLE)
                    - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                      / CAST(n AS DOUBLE), 6) AS ssw_term))),
                CAST(0 AS DOUBLE), (a, x) -> a + x.ssw_term)""")
          .as("ssw"))
      .select((col("ssw")
        / (col("n_tot") - col("k")).cast("double")).as("msw"))
    val a = census.select(col("event_type").as("type_a"),
      col("n").cast("long").as("n_a"),
      (col("s").cast("double") / col("n").cast("double")).as("m_a"))
    val b = census.select(col("event_type").as("type_b"),
      col("n").cast("long").as("n_b"),
      (col("s").cast("double") / col("n").cast("double")).as("m_b"))
    a.join(b, col("type_a") < col("type_b"))
      .crossJoin(broadcast(msw))
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
        round((col("m_a") - col("m_b")) / 100.0, 6).as("mean_diff"),
        when(col("msw") <= 0, lit(null).cast("double"))
          .otherwise(round(abs(col("m_a") - col("m_b"))
            / sqrt(col("msw") / 2.0
              * (lit(1.0) / col("n_a").cast("double")
                + lit(1.0) / col("n_b").cast("double"))), 6))
          .as("q_stat"))
      .orderBy("type_a", "type_b")
  }

  /** Distinct-balance value census for q_effect_sizes — per exact cent
    * value, BUILDING (n_a) and AUTOMOBILE (n_b) counts. Complete-mode
    * mergeable streaming state (bounded by the acctbal DOMAIN grid,
    * not the customer count).
    */
  def effectCensus(customers: DataFrame): DataFrame =
    customers
      .filter(col("c_mktsegment").isin("BUILDING", "AUTOMOBILE"))
      .select((dec2(col("c_acctbal")) * 100).cast("long").as("cents"),
        when(col("c_mktsegment") === "BUILDING", 1L).otherwise(0L)
          .as("is_a"))
      .groupBy("cents")
      .agg(sum(col("is_a")).cast("long").as("n_a"),
        sum(lit(1L) - col("is_a")).cast("long").as("n_b"))

  /** Readout of [[effectCensus]]: exact-2U Cliff's δ, Cohen's d and
    * Hedges' g. Shared with the streaming twin — the drained census
    * finishes to the identical row (StreamingSpec parity test).
    */
  def effectFinish(census0: DataFrame): DataFrame = {
    val wv = Window.orderBy("cents")
      .rowsBetween(Window.unboundedPreceding, -1)
    // persist: the value census feeds the U walk AND the moment agg
    val census = Artifacts.persist(census0)
    val u = census
      .withColumn("cum_b",
        coalesce(sum(col("n_b")).over(wv), lit(0L)))
      .agg(sum(col("n_a").cast(dec38)
        * (lit(2L) * col("cum_b") + col("n_b"))).as("two_u"))
    val mom = census.agg(
      sum(col("n_a")).cast("long").as("na"),
      sum(col("n_b")).cast("long").as("nb"),
      sum(col("cents").cast(dec38) * col("n_a")).as("sa"),
      sum(col("cents").cast(dec38) * col("cents") * col("n_a"))
        .as("ssa"),
      sum(col("cents").cast(dec38) * col("n_b")).as("sb"),
      sum(col("cents").cast(dec38) * col("cents") * col("n_b"))
        .as("ssb"))
    mom.crossJoin(broadcast(u))
      .select(col("na"), col("nb"),
        col("two_u").cast("long").as("two_u"),
        round((col("two_u").cast("double")
          - (col("na") * col("nb")).cast("double"))
          / (col("na") * col("nb")).cast("double"), 12)
          .as("cliffs_delta"),
        ((col("sa").cast("double") / col("na").cast("double")
          - col("sb").cast("double") / col("nb").cast("double"))
          / sqrt(((col("ssa").cast("double")
            - col("sa").cast("double") * col("sa").cast("double")
              / col("na").cast("double"))
            + (col("ssb").cast("double")
              - col("sb").cast("double") * col("sb").cast("double")
                / col("nb").cast("double")))
            / (col("na") + col("nb") - 2).cast("double")))
          .as("d"))
      .select(col("na"), col("nb"), col("two_u"),
        col("cliffs_delta"),
        round(col("d"), 6).as("cohen_d"),
        round(col("d") * (lit(1.0) - lit(3.0)
          / (lit(4.0) * (col("na") + col("nb")).cast("double")
            - 9.0)), 6).as("hedges_g"))
  }

  /** Jarque–Bera sufficient statistic: per-segment exact power sums
    * Σx^k (k ≤ 4, DECIMAL(38,0) cents). Mergeable Complete-mode
    * streaming state (≤segments rows); [[jbFinish]] over a drained
    * state equals batch q_jarque_bera exactly — a live normality
    * monitor over the customer ingest.
    */
  def jbCensus(customer: DataFrame): DataFrame =
    customer
      .select(col("c_mktsegment").as("grp"),
        (dec2(col("c_acctbal")) * 100).cast("long").as("x"))
      .groupBy("grp")
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("x").cast(dec38)).as("s1"),
        sum(col("x").cast(dec38) * col("x")).as("s2"),
        sum(col("x").cast(dec38) * col("x") * col("x")).as("s3"),
        sum(col("x").cast(dec38) * col("x") * col("x") * col("x"))
          .as("s4"))

  /** Jarque–Bera readout over the census (batch or drained stream
    * state): central moments, skewness, kurtosis and JB as row-local
    * IEEE expressions of the exact sums.
    */
  def jbFinish(cen: DataFrame): DataFrame =
    cen
      .select(col("grp"), col("n"),
        (col("s1").cast("double") / col("n").cast("double")).as("mu"),
        (col("s2").cast("double") / col("n").cast("double")).as("r2"),
        (col("s3").cast("double") / col("n").cast("double")).as("r3"),
        (col("s4").cast("double") / col("n").cast("double")).as("r4"))
      .select(col("grp"), col("n"),
        (col("r2") - col("mu") * col("mu")).as("m2"),
        (col("r3") - lit(3.0) * col("mu") * col("r2")
          + lit(2.0) * col("mu") * col("mu") * col("mu")).as("m3"),
        (col("r4") - lit(4.0) * col("mu") * col("r3")
          + lit(6.0) * col("mu") * col("mu") * col("r2")
          - lit(3.0) * col("mu") * col("mu") * col("mu") * col("mu"))
          .as("m4"))
      .select(col("grp"), col("n"),
        when(col("m2") <= 0, lit(null).cast("double"))
          .otherwise(col("m3") / (col("m2") * sqrt(col("m2"))))
          .as("sk"),
        when(col("m2") <= 0, lit(null).cast("double"))
          .otherwise(col("m4") / (col("m2") * col("m2"))).as("ku"))
      .select(col("grp"), col("n"),
        round(col("sk"), 12).as("skewness"),
        round(col("ku"), 12).as("kurtosis"),
        when(col("sk").isNull, lit(null).cast("double"))
          .otherwise(round(col("n").cast("double") / 6.0
            * (col("sk") * col("sk")
              + (col("ku") - 3.0) * (col("ku") - 3.0) / 4.0), 6))
          .as("jb"))
      .orderBy("grp")

  /** McNemar sufficient statistic: the 2×2 (A-correct, B-correct)
    * agreement census. Mergeable Complete-mode streaming state (4 rows
    * max); [[mcnemarFinish]] over a drained state equals batch
    * q_mcnemar exactly — the live paired-model comparison monitor.
    */
  def mcnemarCensus(events: DataFrame): DataFrame =
    events
      .select(
        (col("event_type") === "purchase").as("label"),
        (col("value") > 50.0).as("pred_a"),
        (hour(col("ts")) >= 12).as("pred_b"))
      .groupBy((col("pred_a") === col("label")).as("a_ok"),
        (col("pred_b") === col("label")).as("b_ok"))
      .agg(count(lit(1)).cast("long").as("n"))

  /** Readout of [[mcnemarCensus]]: discordant counts + the continuity-
    * corrected χ², NULL-guarded when the discordant cells are empty.
    */
  def mcnemarFinish(census: DataFrame): DataFrame =
    census
      .agg(sum(col("n")).cast("long").as("n_pairs"),
        sum(when(col("a_ok") && !col("b_ok"), col("n")).otherwise(0L))
          .cast("long").as("b"),
        sum(when(!col("a_ok") && col("b_ok"), col("n")).otherwise(0L))
          .cast("long").as("c"))
      .select(col("n_pairs"), col("b"), col("c"),
        when(col("b") + col("c") === 0, lit(null).cast("double"))
          .otherwise((abs(col("b") - col("c")).cast("double") - 1.0)
            * (abs(col("b") - col("c")).cast("double") - 1.0)
            / (col("b") + col("c")).cast("double")).as("chi2"))

  /** Urgent-vs-rest value-census sufficient statistic shared by the
    * two-sample battery (Ansari/Cucconi/Lepage/BWS/CvM/Fligner/Tukey):
    * a MERGEABLE (v, c1, c2) count census, so the streaming twin keeps
    * exactly this frame as Complete-mode state and the finishes below
    * read either the batch or the drained census bit-for-bit.
    */
  def ansariCounts(orders: DataFrame): DataFrame =
    orders
      .select(
        when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L).as("tr"),
        (dec2(col("o_totalprice")) * 100).cast("long").as("v"))
      .groupBy("v")
      .agg(sum(col("tr")).cast("long").as("c1"),
        sum(lit(1L) - col("tr")).cast("long").as("c2"))

  /** Persist the hot frame a finish helper reads more than once, build
    * the finishing result, materialize it (every finish below reduces
    * to an O(1)-row scalar frame — the collect is constant-size by
    * construction), and RELEASE the caches before returning. `hot` is
    * evaluated inside the [[Artifacts.scoped]] block, so the block owns
    * the hot frame and every cache built under it (RangeRank.ranked's
    * range-partitioned frame is the big one): a battery or long verify
    * session does not accrete per-query cached blocks (r11 ADVICE: 7
    * batch queries + 7 streaming readouts each leaked a census cache
    * until clearCache). The returned frame is a local relation —
    * re-reading it never recomputes the census.
    */
  private def finishWith(hot: => DataFrame)(f: DataFrame => DataFrame)
      : DataFrame = Artifacts.scoped {
    val out = f(Artifacts.persist(hot))
    out.sparkSession.createDataFrame(
      java.util.Arrays.asList(out.collect(): _*), out.schema)
  }

  /** The (c1, c2, off1, off2) cumulative view every two-sample finish
    * starts from. `preRanked = true` declares the input is the pinned
    * [[Censuses.rankedAnsari]] artifact (prefix columns attached), so
    * the per-query RangeRank pass is skipped outright — the finish
    * reduces to row-local arithmetic plus one agg; the columns are
    * then REQUIRED, not sniffed (r13 ADVICE: a coincidental off1
    * column must not silently reroute the statistic). A drained
    * streaming census (v, c1, c2 only) keeps the default ranking
    * path, so the twin assertions compare bit-identical readouts.
    */
  private def ansariCum(census0: DataFrame,
      preRanked: Boolean = false): DataFrame =
    if (preRanked) {
      require(Seq("off1", "off2").forall(census0.columns.contains),
        "preRanked = true needs the pinned rankedAnsari prefix columns")
      census0.select(col("v"), col("c1").cast("long").as("c1"),
        col("c2").cast("long").as("c2"),
        col("off1").cast("long").as("off1"),
        col("off2").cast("long").as("off2"))
    } else {
      val census = census0
        .select(col("v"), col("c1").cast("long").as("c1"),
          col("c2").cast("long").as("c2"))
        .withColumn("g", lit(1L))
      RangeRank.ranked(census, Seq("g"), Seq(col("v")),
        rnName = "__rn", nName = None,
        prefixSums = Seq(RangeRank.PrefixSum(col("c1"), "off1"),
          RangeRank.PrefixSum(col("c2"), "off2")))
        .select(col("v"), col("c1"), col("c2"),
          col("off1").cast("long").as("off1"),
          col("off2").cast("long").as("off2"))
    }

  /** Tukey-quick finishing arithmetic over the drained
    * [[ansariCounts]] census — see q_tukey_quick. */
  def tukeyQuickFinish(census0: DataFrame): DataFrame =
    finishWith(census0
      .select(col("v"), col("c1").cast("long").as("c1"),
        col("c2").cast("long").as("c2"))) { census =>
    val bounds = census.agg(
      max(when(col("c2") > 0, col("v"))).as("max_b"),
      min(when(col("c1") > 0, col("v"))).as("min_a"),
      sum(col("c1")).cast("long").as("n1"),
      sum(col("c2")).cast("long").as("n2"))
    census.crossJoin(broadcast(bounds))
      .groupBy("n1", "n2")
      .agg(
        sum(when(col("v") > col("max_b"), col("c1")).otherwise(0L))
          .cast("long").as("a_above"),
        sum(when(col("v") < col("min_a"), col("c2")).otherwise(0L))
          .cast("long").as("b_below"))
      .select(col("n1"), col("n2"), col("a_above"), col("b_below"),
        (col("a_above") + col("b_below")).as("tukey_t"))
  }

  /** Cramér–von Mises finishing arithmetic over the drained
    * [[ansariCounts]] census — see q_cvm_two_sample. */
  def cvmTwoSampleFinish(census0: DataFrame,
      preRanked: Boolean = false): DataFrame = {
        val dec38 = DecimalType(38, 0)
        finishWith(ansariCum(census0, preRanked)
          .select(col("c1"), col("c2"),
            (col("off1") + col("c1")).cast("long").as("cum1"),
            (col("off2") + col("c2")).cast("long").as("cum2"))) { cum =>
        // lazy leaf (r14): single broadcast consumer — the cut dedups
        // planning, the final action's broadcast build materializes it
        val ns = cum.agg(sum(col("c1")).cast("long").as("n1"),
          sum(col("c2")).cast("long").as("n2")).localCheckpoint(false)
        cum.crossJoin(broadcast(ns))
          .select(col("n1"), col("n2"),
            ((col("c1") + col("c2")).cast(dec38)
              * (col("cum1").cast(dec38) * col("n2")
                - col("cum2").cast(dec38) * col("n1"))
              * (col("cum1").cast(dec38) * col("n2")
                - col("cum2").cast(dec38) * col("n1"))).as("m"))
          .groupBy("n1", "n2")
          .agg(sum(col("m")).as("num"))
          .select(col("n1"), col("n2"),
            when(col("n1") === 0 || col("n2") === 0,
              lit(null).cast("double"))
              .otherwise(col("num").cast("double")
                / ((col("n1") + col("n2")).cast("double")
                  * (col("n1") + col("n2")).cast("double")
                  * col("n1").cast("double") * col("n2").cast("double")))
              .as("t_cvm"))
  }}

  /** Watson's U² (the circular / rotation-invariant two-sample CvM)
    * finishing arithmetic over the drained [[ansariCounts]] census —
    * one extra FIRST moment on the SAME integrated-ECDF frame as
    * [[cvmTwoSampleFinish]]: with D = cum1·n2 − cum2·n1 exact dec38
    * per value run (c members each), T = Σc·D²/(N²·n1·n2) and
    * U² = T − (Σc·D)²/(N³·n1·n2) — the mean-gap recentering that makes
    * the statistic invariant to where the value circle is cut. Both
    * terms are one double division off dec38 integers, identically
    * spelled in both engines.
    */
  def watsonU2Finish(census0: DataFrame,
      preRanked: Boolean = false): DataFrame = {
        val dec38 = DecimalType(38, 0)
        finishWith(ansariCum(census0, preRanked)
          .select(col("c1"), col("c2"),
            (col("off1") + col("c1")).cast("long").as("cum1"),
            (col("off2") + col("c2")).cast("long").as("cum2"))) { cum =>
        // lazy leaf (r14): single broadcast consumer — the cut dedups
        // planning, the final action's broadcast build materializes it
        val ns = cum.agg(sum(col("c1")).cast("long").as("n1"),
          sum(col("c2")).cast("long").as("n2")).localCheckpoint(false)
        val nn = (col("n1") + col("n2")).cast("double")
        cum.crossJoin(broadcast(ns))
          .select(col("n1"), col("n2"),
            (col("c1") + col("c2")).cast(dec38).as("c"),
            (col("cum1").cast(dec38) * col("n2")
              - col("cum2").cast(dec38) * col("n1")).as("d"))
          .groupBy("n1", "n2")
          .agg(sum(col("c") * col("d")).as("s1"),
            sum(col("c") * col("d") * col("d")).as("s2"))
          .select(col("n1"), col("n2"),
            when(col("n1") === 0 || col("n2") === 0,
              lit(null).cast("double"))
              .otherwise(col("s2").cast("double")
                / (nn * nn
                  * col("n1").cast("double") * col("n2").cast("double")))
              .as("t_cvm"),
            when(col("n1") === 0 || col("n2") === 0,
              lit(null).cast("double"))
              .otherwise(col("s2").cast("double")
                / (nn * nn
                  * col("n1").cast("double") * col("n2").cast("double"))
                - col("s1").cast("double") * col("s1").cast("double")
                  / (nn * nn * nn
                    * col("n1").cast("double")
                    * col("n2").cast("double")))
              .as("u2_watson"))
  }}

  /** Energy-distance (Székely) finishing arithmetic over the drained
    * [[ansariCounts]] census — the NINTH readout of the urgent-vs-rest
    * value-census state. The three pairwise-|Δ| masses decompose over
    * the value order exactly like the Gini mean difference: with
    * exclusive count prefixes off_i and value-mass prefixes vs_i,
    * Σ_{pairs<} |x−y| = Σ_j c_j·(off_j·v_j − vs_j) per side/cross —
    * all DECIMAL(38,0), three IEEE divisions at the readout, no libm,
    * no rounding (both engines run the identical op sequence on
    * identical integers).
    */
  def energyDistanceFinish(census0: DataFrame,
      preRanked: Boolean = false): DataFrame = {
    val dec38 = DecimalType(38, 0)
    // a def: finishWith evaluates it inside its scope, which then owns
    // the rank pass's range cache
    def cum =
      if (preRanked) {
        require(Seq("off1", "off2", "vs1", "vs2")
          .forall(census0.columns.contains),
          "preRanked = true needs the pinned rankedAnsari prefix columns")
        census0.select(col("v"), col("c1"), col("c2"),
          col("off1"), col("off2"), col("vs1"), col("vs2"))
      } else {
        val census = census0
          .select(col("v"), col("c1").cast("long").as("c1"),
            col("c2").cast("long").as("c2"))
          .withColumn("g", lit(1L))
        RangeRank.ranked(census, Seq("g"), Seq(col("v")),
          rnName = "__rn", nName = None,
          prefixSums = Seq(RangeRank.PrefixSum(col("c1"), "off1"),
            RangeRank.PrefixSum(col("c2"), "off2"),
            RangeRank.PrefixSum(col("v").cast(dec38) * col("c1"), "vs1"),
            RangeRank.PrefixSum(col("v").cast(dec38) * col("c2"), "vs2")))
          .select(col("v"), col("c1"), col("c2"),
            col("off1").cast("long").as("off1"),
            col("off2").cast("long").as("off2"),
            col("vs1").cast(dec38).as("vs1"),
            col("vs2").cast(dec38).as("vs2"))
      }
    finishWith(cum) { c =>
      val d1 = col("off1").cast(dec38) * col("v") - col("vs1")
      val d2 = col("off2").cast(dec38) * col("v") - col("vs2")
      val agg = c.agg(
        sum(col("c1")).cast("long").as("n1"),
        sum(col("c2")).cast("long").as("n2"),
        sum(col("c2").cast(dec38) * d1 + col("c1").cast(dec38) * d2)
          .as("sxy"),
        sum(col("c1").cast(dec38) * d1).as("sxx"),
        sum(col("c2").cast(dec38) * d2).as("syy"))
      val n1d = col("n1").cast("double")
      val n2d = col("n2").cast("double")
      agg
        .select(col("n1"), col("n2"),
          when(col("n1") === 0 || col("n2") === 0,
            lit(null).cast("double"))
            .otherwise(col("sxy").cast("double") * 2.0 / (n1d * n2d)
              - col("sxx").cast("double") * 2.0 / (n1d * n1d)
              - col("syy").cast("double") * 2.0 / (n2d * n2d))
            .as("e_dist"))
        .select(col("n1"), col("n2"), col("e_dist"),
          when(col("e_dist").isNull, lit(null).cast("double"))
            .otherwise(n1d * n2d / (n1d + n2d) * col("e_dist"))
            .as("t_energy"))
    }
  }

  /** Concordance masses over an (x, y, c) grid census — the shared
    * sufficient statistic of the ordinal-association pair (Kendall
    * τ-b, Somers' D): concordant mass P = Σ c·A (A = the 2-D exclusive
    * prefix), discordant mass Q = Σ c·(CXL − A − By) (CXL = the
    * x-marginal exclusive prefix — pairs left-and-above), and the
    * marginal tie masses TX = Σ cx·(cx−1)/2, TY = Σ cy·(cy−1)/2. Same
    * dense-grid window machinery as [[hoeffdingFinish]] (the grid is
    * alphabet-bounded, so the unpartitioned windows ride constant-size
    * frames); everything stays DECIMAL(38,0) until the caller's one
    * division. Returns 1 row: (n, p2, q2, tx2, ty2, n0x2) in the ×2
    * integer domain (pair masses doubled so /2 never truncates).
    */
  def concordanceMasses(cen: DataFrame): DataFrame = {
    val grid = cen.select("x").distinct()
      .crossJoin(cen.select("y").distinct())
      .join(cen, Seq("x", "y"), "left")
      .select(col("x"), col("y"), coalesce(col("c"), lit(0L)).as("c"))
    val wInX = Window.partitionBy("x").orderBy("y")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wInY = Window.partitionBy("y").orderBy("x")
      .rowsBetween(Window.unboundedPreceding, -1)
    val cells = grid
      .withColumn("bx", coalesce(sum(col("c")).over(wInX), lit(0L)))
      .withColumn("by", coalesce(sum(col("c")).over(wInY), lit(0L)))
      .withColumn("a", coalesce(sum(col("bx")).over(wInY), lit(0L)))
      .filter(col("c") > 0)
    val wX = Window.orderBy("x")
      .rowsBetween(Window.unboundedPreceding, -1)
    val mx = grid.groupBy("x").agg(sum(col("c")).as("cx"))
      .select(col("x").as("mx_x"),
        coalesce(sum(col("cx")).over(wX), lit(0L)).as("cxl"))
    val tx = grid.groupBy("x").agg(sum(col("c")).as("cx"))
      .agg(sum(col("cx").cast(dec38) * (col("cx") - 1)).as("tx2"))
    val ty = grid.groupBy("y").agg(sum(col("c")).as("cy"))
      .agg(sum(col("cy").cast(dec38) * (col("cy") - 1)).as("ty2"))
    cells
      .join(broadcast(mx), col("x") === col("mx_x"))
      .agg(sum(col("c")).cast("long").as("n"),
        (sum(col("c").cast(dec38) * col("a")) * 2).as("p2"),
        (sum(col("c").cast(dec38)
          * (col("cxl") - col("a") - col("by"))) * 2).as("q2"))
      .crossJoin(broadcast(tx))
      .crossJoin(broadcast(ty))
      .select(col("n"), col("p2"), col("q2"), col("tx2"), col("ty2"),
        (col("n").cast(dec38) * (col("n") - 1)).as("n0x2"))
  }

  /** Shared DuckDB CTE prefix of the ordinal-association oracles —
    * the dense-grid prefix machinery mirrored from the q_hoeffding_d
    * oracle plus the concordance masses of [[concordanceMasses]];
    * `finalSelect` reads (agg: n/p2/q2, tx, ty, n0: n0x2).
    */
  /** The concordance-CTE ladder over an arbitrary (x, y, c) grid
    * census — shared by the quantity × price family (via
    * [[tauBOracle]]) and the round-14 priority × price-bucket grid.
    */
  private def concordanceOracle(cenSql: String,
      finalSelect: String): String =
    s"""WITH cen AS (
          $cenSql),
        grid AS (
          SELECT xx.x, yy.y, COALESCE(c.c, 0) AS c
          FROM (SELECT DISTINCT x FROM cen) xx
          CROSS JOIN (SELECT DISTINCT y FROM cen) yy
          LEFT JOIN cen c ON c.x = xx.x AND c.y = yy.y),
        cells0 AS (
          SELECT x, y, c,
            COALESCE(SUM(c) OVER (PARTITION BY x ORDER BY y
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS bx,
            COALESCE(SUM(c) OVER (PARTITION BY y ORDER BY x
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS byy
          FROM grid),
        cells AS (
          SELECT x, y, c, byy,
            COALESCE(SUM(bx) OVER (PARTITION BY y ORDER BY x
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS a
          FROM cells0
          QUALIFY c > 0),
        mx AS (
          SELECT x,
            COALESCE(SUM(cx) OVER (ORDER BY x
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS cxl
          FROM (SELECT x, CAST(SUM(c) AS BIGINT) AS cx
                FROM grid GROUP BY 1)),
        tx AS (
          SELECT SUM(CAST(cx AS HUGEINT) * (cx - 1)) AS tx2
          FROM (SELECT x, CAST(SUM(c) AS BIGINT) AS cx
                FROM grid GROUP BY 1)),
        ty AS (
          SELECT SUM(CAST(cy AS HUGEINT) * (cy - 1)) AS ty2
          FROM (SELECT y, CAST(SUM(c) AS BIGINT) AS cy
                FROM grid GROUP BY 1)),
        agg AS (
          SELECT CAST(SUM(c) AS BIGINT) AS n,
            2 * SUM(CAST(c AS HUGEINT) * a) AS p2,
            2 * SUM(CAST(c AS HUGEINT) * (cxl - a - byy)) AS q2
          FROM cells JOIN mx USING (x)),
        n0 AS (
          SELECT CAST(n AS HUGEINT) * (n - 1) AS n0x2 FROM agg)
        $finalSelect"""

  private def tauBOracle(finalSelect: String): String =
    concordanceOracle(
      """SELECT CAST(l_quantity AS BIGINT) AS x,
            CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
              AS BIGINT) // 100000 AS y,
            CAST(count(*) AS BIGINT) AS c
          FROM lineitem GROUP BY 1, 2""", finalSelect)

  private def priorityGridOracle(finalSelect: String): String =
    concordanceOracle(
      """SELECT CAST(substring(o_orderpriority, 1, 1) AS BIGINT) AS x,
            CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
              AS BIGINT) // 100000 AS y,
            CAST(count(*) AS BIGINT) AS c
          FROM orders GROUP BY 1, 2""", finalSelect)

  /** Hoeffding's D finishing arithmetic over an (x, y, c) grid
    * census — see q_hoeffding_d for the statistic's derivation and the
    * dec38 wall. Exposed so the law tests can drive it with
    * constructed censuses (perfect dependence vs independence), since
    * the synthetic corpus's columns are independent by generation and
    * the batch query's oracle therefore pins the null case only.
    */
  def hoeffdingFinish(cen: DataFrame): DataFrame = {
        // densify: A's prefix-over-x needs every (x, y) lattice point —
        // the grid is alphabet-bounded, so the dense frame is
        // constant-size by construction
        val grid = cen.select("x").distinct()
          .crossJoin(cen.select("y").distinct())
          .join(cen, Seq("x", "y"), "left")
          .select(col("x"), col("y"), coalesce(col("c"), lit(0L)).as("c"))
        val wInX = Window.partitionBy("x").orderBy("y")
          .rowsBetween(Window.unboundedPreceding, -1)
        val wInY = Window.partitionBy("y").orderBy("x")
          .rowsBetween(Window.unboundedPreceding, -1)
        val cells = grid
          .withColumn("bx", coalesce(sum(col("c")).over(wInX), lit(0L)))
          .withColumn("by", coalesce(sum(col("c")).over(wInY), lit(0L)))
          .withColumn("a", coalesce(sum(col("bx")).over(wInY), lit(0L)))
          .filter(col("c") > 0)
        val wX = Window.orderBy("x")
          .rowsBetween(Window.unboundedPreceding, -1)
        val wY = Window.orderBy("y")
          .rowsBetween(Window.unboundedPreceding, -1)
        val mx = grid.groupBy("x").agg(sum(col("c")).as("cx"))
          .select(col("x").as("mx_x"),
            (lit(2L) * coalesce(sum(col("cx")).over(wX), lit(0L))
              + col("cx") + 1L).as("r2"))
        val my = grid.groupBy("y").agg(sum(col("c")).as("cy"))
          .select(col("y").as("my_y"),
            (lit(2L) * coalesce(sum(col("cy")).over(wY), lit(0L))
              + col("cy") + 1L).as("s2"))
        val terms = cells
          .join(broadcast(mx), col("x") === col("mx_x"))
          .join(broadcast(my), col("y") === col("my_y"))
          .select(col("c"),
            (lit(4L) * col("a") + lit(2L) * col("bx")
              + lit(2L) * col("by") + col("c") - 1L).as("phi4"),
            col("r2"), col("s2"))
        terms.agg(
            sum(col("c")).cast("long").as("n"),
            sum(col("c").cast(dec38) * col("phi4")
              * (col("phi4") - 4)).as("d1x"),
            sum(col("c").cast(dec38) * (col("r2") - 2) * (col("r2") - 4)
              * (col("s2") - 2) * (col("s2") - 4)).as("d2x"),
            sum(col("c").cast(dec38) * (col("r2") - 4) * (col("s2") - 4)
              * col("phi4")).as("d3x"))
          .select(col("n"),
            when(col("n") < 5, lit(null).cast("double"))
              .otherwise(round(
                (lit(30L).cast(dec38)
                  * ((col("n") - 2).cast(dec38) * (col("n") - 3)
                      * col("d1x")
                    + col("d2x")
                    - lit(2L).cast(dec38) * (col("n") - 2)
                      * col("d3x"))).cast("double")
                / (lit(16.0) * col("n").cast("double")
                  * (col("n") - 1).cast("double")
                  * (col("n") - 2).cast("double")
                  * (col("n") - 3).cast("double")
                  * (col("n") - 4).cast("double")), 12))
              .as("hoeffding_d"))
  }

  /** Finishing arithmetic of q_ansari_bradley over the drained
    * [[ansariCounts]] census — one Complete-mode state, many readouts. */
  def ansariBradleyFinish(census0: DataFrame,
      preRanked: Boolean = false): DataFrame = {

        val dec38 = DecimalType(38, 0)
        finishWith(ansariCum(census0, preRanked)
          .select(col("c1"), col("c2"),
            col("off1").cast("long").as("off1"),
            col("off2").cast("long").as("off2"))) { cum =>
        // lazy leaf (r14): single broadcast consumer — the cut dedups
        // planning, the final action's broadcast build materializes it
        val ns = cum.agg(sum(col("c1")).cast("long").as("n1"),
          sum(col("c2")).cast("long").as("n2")).localCheckpoint(false)
        val scored = cum.crossJoin(broadcast(ns))
          .select(col("c1"), col("c2"),
            least(
              (col("off1") + col("off2")) * 2 + col("c1") + col("c2") + 1,
              (col("n1") + col("n2") + 1) * 2
                - ((col("off1") + col("off2")) * 2 + col("c1")
                  + col("c2") + 1)).as("s2"))
        scored.agg(
            sum(col("c1").cast(dec38) * col("s2")).as("t1"),
            sum((col("c1") + col("c2")).cast(dec38) * col("s2")).as("m1"),
            sum((col("c1") + col("c2")).cast(dec38) * col("s2")
              * col("s2")).as("m2"))
          .crossJoin(broadcast(ns))
          .select(col("n1"), col("n2"),
            (col("t1").cast("double") / 2.0).as("t_ab"),
            round(
              ((col("t1").cast("double")
                - col("n1").cast("double") * col("m1").cast("double")
                  / (col("n1") + col("n2")).cast("double")) / 2.0)
              / sqrt(col("n1").cast("double") * col("n2").cast("double")
                * ((col("n1") + col("n2")).cast("double")
                    * col("m2").cast("double")
                  - col("m1").cast("double") * col("m1").cast("double"))
                / ((col("n1") + col("n2")).cast("double")
                  * (col("n1") + col("n2")).cast("double")
                  * (col("n1") + col("n2") - 1).cast("double")) / 4.0),
              6).as("z_ab"))
  }}

  /** Finishing arithmetic of q_lepage over the drained
    * [[ansariCounts]] census — one Complete-mode state, many readouts. */
  def lepageFinish(census0: DataFrame,
      preRanked: Boolean = false): DataFrame = {

        val dec38 = DecimalType(38, 0)
        finishWith(ansariCum(census0, preRanked)
          .select(col("c1"), col("c2"),
            col("off1").cast("long").as("off1"),
            col("off2").cast("long").as("off2"))) { cum =>
        // lazy leaf (r14): single broadcast consumer — the cut dedups
        // planning, the final action's broadcast build materializes it
        val ns = cum.agg(sum(col("c1")).cast("long").as("n1"),
          sum(col("c2")).cast("long").as("n2")).localCheckpoint(false)
        val scored = cum.crossJoin(broadcast(ns))
          .select(col("c1"), col("c2"),
            ((col("off1") + col("off2")) * 2 + col("c1") + col("c2") + 1)
              .as("mr2"),
            least(
              (col("off1") + col("off2")) * 2 + col("c1") + col("c2") + 1,
              (col("n1") + col("n2") + 1) * 2
                - ((col("off1") + col("off2")) * 2 + col("c1")
                  + col("c2") + 1)).as("s2"))
        val agg = scored.agg(
          sum(col("c1").cast(dec38) * col("mr2")).as("w2"),
          sum((col("c1") + col("c2")).cast(dec38)
            * (col("c1") + col("c2")) * (col("c1") + col("c2"))
            - (col("c1") + col("c2"))).as("ties"),
          sum(col("c1").cast(dec38) * col("s2")).as("t1"),
          sum((col("c1") + col("c2")).cast(dec38) * col("s2")).as("m1"),
          sum((col("c1") + col("c2")).cast(dec38) * col("s2")
            * col("s2")).as("m2"))
        val nn = col("n1") + col("n2")
        val zs = agg.crossJoin(broadcast(ns))
          .select(col("n1"), col("n2"),
            when(col("n1") === 0 || col("n2") === 0 || nn <= 1
              || col("ties").cast("double")
                >= (nn.cast("double") * nn.cast("double")
                  * nn.cast("double") - nn.cast("double")),
              lit(null).cast("double"))
              .otherwise(round(
                (col("w2").cast("double") / 2.0
                  - col("n1").cast("double") * (nn + 1).cast("double")
                    / 2.0)
                / sqrt(col("n1").cast("double") * col("n2").cast("double")
                  / 12.0
                  * ((nn + 1).cast("double")
                    - col("ties").cast("double")
                      / (nn.cast("double") * (nn - 1).cast("double")))),
                6)).as("z_w"),
            when(col("n1") === 0 || col("n2") === 0 || nn <= 1
              || (nn.cast("double") * col("m2").cast("double")
                - col("m1").cast("double") * col("m1").cast("double"))
                <= 0,
              lit(null).cast("double"))
              .otherwise(round(
                ((col("t1").cast("double")
                  - col("n1").cast("double") * col("m1").cast("double")
                    / nn.cast("double")) / 2.0)
                / sqrt(col("n1").cast("double") * col("n2").cast("double")
                  * (nn.cast("double") * col("m2").cast("double")
                    - col("m1").cast("double") * col("m1").cast("double"))
                  / (nn.cast("double") * nn.cast("double")
                    * (nn - 1).cast("double")) / 4.0),
                6)).as("z_ab"))
        zs.select(col("n1"), col("n2"), col("z_w"), col("z_ab"),
          when(col("z_w").isNull || col("z_ab").isNull,
            lit(null).cast("double"))
            .otherwise(round(col("z_w") * col("z_w")
              + col("z_ab") * col("z_ab"), 6)).as("lepage_l"))
  }}

  /** Finishing arithmetic of q_bws_test over the drained
    * [[ansariCounts]] census — one Complete-mode state, many readouts. */
  def bwsFinish(census0: DataFrame,
      preRanked: Boolean = false): DataFrame = {

        val dec38 = DecimalType(38, 0)
        finishWith(ansariCum(census0, preRanked)
          .select(col("c1"), col("c2"),
            col("off1").cast("long").as("off1"),
            col("off2").cast("long").as("off2"))
          .withColumn("mr2",
            (col("off1") + col("off2")) * 2 + col("c1") + col("c2") + 1)) { cum =>
        // lazy leaf (r14): single broadcast consumer — the cut dedups
        // planning, the final action's broadcast build materializes it
        val ns = cum.agg(sum(col("c1")).cast("long").as("n1"),
          sum(col("c2")).cast("long").as("n2")).localCheckpoint(false)
        def side(cc: String, off: String, smp: Int) = cum
          .filter(col(cc) > 0)
          .select(lit(smp.toLong).as("smp"), col("mr2"),
            explode(sequence(col(off) + 1, col(off) + col(cc))).as("i"))
        val rows = side("c1", "off1", 1).unionByName(side("c2", "off2", 2))
        val terms = rows.crossJoin(broadcast(ns))
          .select(col("smp"), col("i"),
            when(col("smp") === 1, col("n1")).otherwise(col("n2"))
              .as("n_own"),
            when(col("smp") === 1, col("n2")).otherwise(col("n1"))
              .as("n_oth"),
            col("mr2"))
          .select(col("smp"), col("i"),
            (col("n_own").cast(dec38) * col("mr2")
              - lit(2L).cast(dec38) * (col("n_own") + col("n_oth"))
                * col("i")).as("a"),
            col("n_own"), col("n_oth"))
          .select(col("smp"), col("i"),
            (col("a") * col("a") * (col("n_own") + 1)
              * (col("n_own") + 1)).as("num"),
            (lit(4L).cast(dec38) * col("n_own") * col("n_own")
              * col("n_oth") * (col("n_own") + col("n_oth"))
              * col("i") * (col("n_own") + 1 - col("i"))).as("den"))
          .select(col("smp"), col("i"),
            (col("num").cast("double") / col("den").cast("double"))
              .as("term"))
        val folded = terms.groupBy("smp")
          .agg(expr("""aggregate(array_sort(collect_list(struct(i, term))),
                 CAST(0 AS DOUBLE), (a, x) -> a + x.term)""").as("b"))
        folded.groupBy()
          .agg(max(when(col("smp") === 1, col("b"))).as("b_x"),
            max(when(col("smp") === 2, col("b"))).as("b_y"))
          .crossJoin(broadcast(ns))
          .select(col("n1"), col("n2"), col("b_x"), col("b_y"),
            ((col("b_x") + col("b_y")) / 2.0).as("bws_b"))
  }}

  /** Finishing arithmetic of q_fligner_policello over the drained
    * [[ansariCounts]] census — one Complete-mode state, many readouts. */
  def flignerPolicelloFinish(census0: DataFrame,
      preRanked: Boolean = false): DataFrame = {

        val dec38 = DecimalType(38, 0)
        val cum = ansariCum(census0, preRanked)
          .select(col("c1"), col("c2"), col("off1"), col("off2"))
        // placements ×2: p2 = 2·#(other strictly below) + #(other tied)
        val m = cum
          .select(col("c1"), col("c2"),
            (lit(2L) * col("off2") + col("c2")).as("p2"),
            (lit(2L) * col("off1") + col("c1")).as("q2"))
          .agg(sum(col("c1")).cast("long").as("n1"),
            sum(col("c2")).cast("long").as("n2"),
            sum(col("c1").cast(dec38) * col("p2")).as("sp2"),
            sum(col("c2").cast(dec38) * col("q2")).as("sq2"),
            sum(col("c1").cast(dec38) * col("p2") * col("p2")).as("spp4"),
            sum(col("c2").cast(dec38) * col("q2") * col("q2")).as("sqq4"))
        m.select(col("n1"), col("n2"),
            (col("sp2").cast("double") / 2.0).as("sum_p"),
            (col("sq2").cast("double") / 2.0).as("sum_q"),
            // 4·n·V = n·Σ(2P)² − (Σ2P)² — exact dec38
            ((col("n1").cast(dec38) * col("spp4")
              - col("sp2") * col("sp2")).cast("double")
              / (col("n1").cast("double") * 4.0)).as("v1"),
            ((col("n2").cast(dec38) * col("sqq4")
              - col("sq2") * col("sq2")).cast("double")
              / (col("n2").cast("double") * 4.0)).as("v2"))
          .select(col("n1"), col("n2"), col("sum_p"), col("sum_q"),
            when(col("n1") === 0 || col("n2") === 0
              || col("v1") + col("v2")
                + (col("sum_p") / col("n1").cast("double"))
                  * (col("sum_q") / col("n2").cast("double")) <= 0,
              lit(null).cast("double"))
              .otherwise(round((col("sum_p") - col("sum_q"))
                / (lit(2.0) * sqrt(col("v1") + col("v2")
                  + (col("sum_p") / col("n1").cast("double"))
                    * (col("sum_q") / col("n2").cast("double")))), 6))
              .as("z_fp"))
  }

  /** Finishing arithmetic of q_cucconi over the drained
    * [[ansariCounts]] census — one Complete-mode state, many readouts. */
  def cucconiFinish(census0: DataFrame,
      preRanked: Boolean = false): DataFrame = {

        // finishWith: the midrank census feeds THREE consumers (agg,
        // aggT, and aggT's nn broadcast) — un-persisted, each re-scans
        // the orders corpus (ADVICE r10; the q_cuzick_trend cg
        // discipline); the cache is released once the scalar result is
        // materialized (r11 ADVICE). The pooled exclusive prefix is
        // off1 + off2, so the doubled pooled midrank is row-local off
        // the shared ranked artifact.
        finishWith(ansariCum(census0, preRanked)
          .select(col("c1"), col("c2"),
            (lit(2L) * (col("off1") + col("off2"))
              + col("c1") + col("c2") + 1L)
              .as("mr_x2"))) { cum =>
        val agg = cum.agg(
          sum(col("c1")).cast("long").as("n1"),
          sum(col("c2")).cast("long").as("n2"),
          sum(col("c1").cast(dec38) * col("mr_x2") * col("mr_x2"))
            .as("ss_x4"))
        val aggT = cum.crossJoin(broadcast(
            cum.agg((sum(col("c1")) + sum(col("c2"))).cast("long")
              .as("nn"))))
          .select(col("c1"),
            (lit(2L) * (col("nn") + 1L) - col("mr_x2")).as("t_x2"))
          .agg(sum(col("c1").cast(dec38) * col("t_x2") * col("t_x2"))
            .as("tt_x4"))
        agg.crossJoin(broadcast(aggT))
          .select(col("n1"), col("n2"),
            (col("n1") + col("n2")).as("nn"),
            (lit(6L).cast(dec38) * col("ss_x4")
              - lit(4L).cast(dec38) * col("n1")
                * (col("n1") + col("n2") + 1)
                * (lit(2L) * (col("n1") + col("n2")) + 1)).as("a4u"),
            (lit(6L).cast(dec38) * col("tt_x4")
              - lit(4L).cast(dec38) * col("n1")
                * (col("n1") + col("n2") + 1)
                * (lit(2L) * (col("n1") + col("n2")) + 1)).as("a4v"))
          .select(col("n1"), col("n2"),
            (col("a4u").cast("double") / 4.0
              / sqrt(col("n1").cast("double") * col("n2").cast("double")
                * (col("nn").cast("double") + 1.0)
                * (col("nn").cast("double") * 2.0 + 1.0)
                * (col("nn").cast("double") * 8.0 + 11.0) / 5.0))
              .as("u"),
            (col("a4v").cast("double") / 4.0
              / sqrt(col("n1").cast("double") * col("n2").cast("double")
                * (col("nn").cast("double") + 1.0)
                * (col("nn").cast("double") * 2.0 + 1.0)
                * (col("nn").cast("double") * 8.0 + 11.0) / 5.0))
              .as("v"),
            ((col("nn").cast(dec38) * col("nn") - 4).cast("double") * 2.0
              / ((lit(2L).cast(dec38) * col("nn") + 1)
                * (lit(8L) * col("nn") + 11)).cast("double") - 1.0)
              .as("rho"))
          .select(col("n1"), col("n2"), col("u"), col("v"), col("rho"),
            when(col("rho") * col("rho") >= 1.0,
              lit(null).cast("double"))
              .otherwise((col("u") * col("u") + col("v") * col("v")
                - col("rho") * col("u") * col("v") * 2.0)
                / (lit(2.0) * (lit(1.0) - col("rho") * col("rho"))))
              .as("c_stat"))
  }}

  val queries: Seq[Q] = Seq(

    // ── ROC AUC via Mann–Whitney midranks ───────────────────────────────
    // AUC = (2·R⁺ − n⁺(n⁺+1)) / (2·n⁺·n⁻) where R⁺ is the positive
    // class's midrank sum. Shape: collapse events to a per-score census
    // (one shuffle; ties resolved exactly — midrank of a tie group is
    // derivable from the census row alone), then ONE RangeRank pass over
    // the census gives each distinct score its exclusive cumulative
    // count: 2·midrank = 2·cum + cnt + 1, integer. The midrank sum runs
    // in DECIMAL(38,0) (n⁺·2n exceeds int64 past ~2B rows); the only FP
    // op is the final division. Never a data-sized window: the census
    // order statistic rides RangeRank, so a 100-TB score column with
    // billions of distinct values still ranks at cluster parallelism.
    Q("q_auc",
      (s, dir) => aucFinish(Censuses.scoreCensus(s, dir)),
      Some("""WITH census AS (
                SELECT value, CAST(COUNT(*) AS BIGINT) AS cnt,
                  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS p
                FROM events GROUP BY 1),
              r AS (
                SELECT cnt, p,
                  COALESCE(SUM(cnt) OVER (ORDER BY value
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
                FROM census),
              m AS (
                SELECT CAST(SUM(p) AS BIGINT) AS npos,
                  CAST(SUM(cnt - p) AS BIGINT) AS nneg,
                  SUM(CAST(p AS HUGEINT) * (2 * cum + cnt + 1)) AS tworpos
                FROM r)
              SELECT npos AS n_pos, nneg AS n_neg,
                (CAST(tworpos AS DOUBLE)
                   - CAST(npos AS DOUBLE) * (CAST(npos AS DOUBLE) + 1))
                / (2.0 * CAST(npos AS DOUBLE) * CAST(nneg AS DOUBLE)) AS auc
              FROM m""")),

    // ── decile lift / gain table ────────────────────────────────────────
    // Score-ordered population deciles: how concentrated are conversions
    // in the top-scored 10%? The data-sized total order (rank by score
    // desc over ALL events) rides RangeRank — rank+n in two passes at
    // cluster parallelism — then everything collapses to a 10-row frame.
    // Tiebreak pinned on event_id so both engines split equal scores
    // identically at decile boundaries. Cum/gain/lift finish on the
    // 10-row census (single-task window is fine THERE).
    Q("q_lift_gain",
      (s, dir) => {
        val ranked = RangeRank.ranked(
          labeled(t(s, dir, "events")), Seq.empty,
          Seq(col("value").desc, col("event_id")),
          rnName = "rn", nName = Some("n"))
        val byDec = ranked
          .select(expr("CAST((rn - 1) * 10 DIV n AS BIGINT) + 1").as("decile"),
            col("pos"))
          .groupBy("decile")
          .agg(count(lit(1)).as("n_rows"), sum(col("pos")).as("n_pos"))
        val wCum = Window.orderBy(col("decile"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wAll = Window.partitionBy()
        byDec
          .select(col("decile"), col("n_rows"), col("n_pos"),
            sum(col("n_pos")).over(wCum).cast("long").as("cum_pos"),
            sum(col("n_rows")).over(wCum).cast("long").as("cum_rows"),
            sum(col("n_pos")).over(wAll).cast("long").as("tot_pos"),
            sum(col("n_rows")).over(wAll).cast("long").as("tot_rows"))
          .select(col("decile"), col("n_rows").cast("long").as("n_rows"),
            col("n_pos").cast("long").as("n_pos"), col("cum_pos"),
            (col("cum_pos").cast("double") / col("tot_pos").cast("double"))
              .as("gain"),
            ((col("cum_pos").cast("double") / col("cum_rows").cast("double"))
              / (col("tot_pos").cast("double") / col("tot_rows").cast("double")))
              .as("lift"))
          .orderBy("decile")
      },
      Some("""WITH ranked AS (
                SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos,
                  row_number() OVER (ORDER BY value DESC, event_id) AS rn,
                  COUNT(*) OVER () AS n
                FROM events),
              bydec AS (
                SELECT CAST((rn - 1) * 10 // n AS BIGINT) + 1 AS decile,
                  CAST(COUNT(*) AS BIGINT) AS n_rows,
                  CAST(SUM(pos) AS BIGINT) AS n_pos
                FROM ranked GROUP BY 1),
              c AS (
                SELECT decile, n_rows, n_pos,
                  CAST(SUM(n_pos) OVER (ORDER BY decile
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum_pos,
                  CAST(SUM(n_rows) OVER (ORDER BY decile
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum_rows,
                  CAST(SUM(n_pos) OVER () AS BIGINT) AS tot_pos,
                  CAST(SUM(n_rows) OVER () AS BIGINT) AS tot_rows
                FROM bydec)
              SELECT decile, n_rows, n_pos, cum_pos,
                CAST(cum_pos AS DOUBLE) / CAST(tot_pos AS DOUBLE) AS gain,
                (CAST(cum_pos AS DOUBLE) / CAST(cum_rows AS DOUBLE))
                  / (CAST(tot_pos AS DOUBLE) / CAST(tot_rows AS DOUBLE)) AS lift
              FROM c ORDER BY decile""")),

    // ── probability calibration bins (reliability diagram) ──────────────
    // Fixed-width score bins: per bin, mean score vs observed positive
    // rate. One census shuffle; mean score is an exact decimal sum over
    // the stored 2-decimal values, divided once (the [[Q.avgDec]]
    // discipline) — no FP accumulation order anywhere.
    Q("q_calibration",
      (s, dir) => calibFinish(calibCensus(t(s, dir, "events"))),
      Some("""SELECT CAST(floor(value / 50) AS BIGINT) AS bin,
                CAST(COUNT(*) AS BIGINT) AS n,
                CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_pos,
                CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
                  AS mean_score,
                CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS frac_pos
              FROM events GROUP BY 1 ORDER BY bin""")),

    // ── population stability index (serving-drift gate) ─────────────────
    // The deployment sibling of the q_tvd/q_ks drift lenses: compare the
    // score distribution between a reference window and the current one.
    // One (bin, period)-census shuffle; Laplace-smoothed proportions so
    // an empty bin can't produce ln(0); the PSI total is a position-
    // pinned sorted fold over the ≤11-bin frame (chi2Finish discipline).
    Q("q_psi",
      (s, dir) => psiFinish(psiCensus(t(s, dir, "events"))),
      Some("""WITH census AS (
                SELECT CAST(floor(value / 50) AS BIGINT) AS bin,
                  CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16'
                    THEN 1 ELSE 0 END) AS BIGINT) AS ref_n,
                  CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16'
                    THEN 0 ELSE 1 END) AS BIGINT) AS cur_n
                FROM events GROUP BY 1),
              prop AS (
                SELECT bin, ref_n, cur_n,
                  (CAST(ref_n AS DOUBLE) + 1)
                    / (CAST(SUM(ref_n) OVER () AS DOUBLE)
                       + CAST(COUNT(*) OVER () AS DOUBLE)) AS p_ref,
                  (CAST(cur_n AS DOUBLE) + 1)
                    / (CAST(SUM(cur_n) OVER () AS DOUBLE)
                       + CAST(COUNT(*) OVER () AS DOUBLE)) AS p_cur
                FROM census),
              pb AS (
                SELECT bin, ref_n, cur_n,
                  round((p_cur - p_ref) * ln(p_cur / p_ref), 12) AS psi_bin
                FROM prop),
              tot AS (
                SELECT round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(psi_bin ORDER BY bin)), (a, x) -> a + x), 12) AS psi
                FROM pb)
              SELECT pb.bin, pb.ref_n, pb.cur_n, pb.psi_bin, tot.psi
              FROM pb, tot ORDER BY pb.bin""")),

    // ── weight of evidence / information value ──────────────────────────
    // Credit-scoring-style predictive-power readout for a categorical
    // feature (order priority) against a binary outcome (fulfilled).
    // One 5-row census; totals ride a window over that census; the IV
    // total is a pinned sorted fold. Everything after the census is
    // constant-size at any SF.
    Q("q_woe_iv",
      (s, dir) => {
        val census = t(s, dir, "orders")
          .select(col("o_orderpriority"),
            when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("g"))
          .groupBy("o_orderpriority")
          .agg(sum(col("g")).as("n_good"),
            sum(lit(1L) - col("g")).as("n_bad"))
        val wAll = Window.partitionBy()
        val woe = Artifacts.persist(census
          .select(col("o_orderpriority"),
            col("n_good").cast("long").as("n_good"),
            col("n_bad").cast("long").as("n_bad"),
            sum(col("n_good")).over(wAll).cast("long").as("gt"),
            sum(col("n_bad")).over(wAll).cast("long").as("bt"))
          .select(col("o_orderpriority"), col("n_good"), col("n_bad"),
            (col("n_good").cast("double") / col("gt").cast("double"))
              .as("pg"),
            (col("n_bad").cast("double") / col("bt").cast("double"))
              .as("pb"))
          // 12-decimal readouts: the q_js_drift libm-ln discipline
          .select(col("o_orderpriority"), col("n_good"), col("n_bad"),
            round(log(col("pg") / col("pb")), 12).as("woe"),
            round((col("pg") - col("pb")) * log(col("pg") / col("pb")), 12)
              .as("iv_contrib")))
          // persist: feeds the IV fold AND the output join (see q_psi)
        val tot = woe
          .agg(round(expr(
            """aggregate(array_sort(collect_list(struct(o_orderpriority, iv_contrib))),
                 CAST(0 AS DOUBLE), (a, x) -> a + x.iv_contrib)"""), 12)
            .as("iv"))
        woe.crossJoin(broadcast(tot)).orderBy("o_orderpriority")
      },
      Some("""WITH census AS (
                SELECT o_orderpriority,
                  CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_good,
                  CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 0 ELSE 1 END)
                    AS BIGINT) AS n_bad
                FROM orders GROUP BY 1),
              p AS (
                SELECT o_orderpriority, n_good, n_bad,
                  CAST(n_good AS DOUBLE)
                    / CAST(SUM(n_good) OVER () AS DOUBLE) AS pg,
                  CAST(n_bad AS DOUBLE)
                    / CAST(SUM(n_bad) OVER () AS DOUBLE) AS pb
                FROM census),
              w AS (
                SELECT o_orderpriority, n_good, n_bad,
                  round(ln(pg / pb), 12) AS woe,
                  round((pg - pb) * ln(pg / pb), 12) AS iv_contrib
                FROM p),
              tot AS (
                SELECT round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(iv_contrib ORDER BY o_orderpriority)),
                    (a, x) -> a + x), 12) AS iv
                FROM w)
              SELECT w.o_orderpriority, w.n_good, w.n_bad, w.woe,
                w.iv_contrib, tot.iv
              FROM w, tot ORDER BY w.o_orderpriority""")),

    // ── smoothed target encoding ────────────────────────────────────────
    // Leakage-aware categorical encoding: shrink each category's target
    // mean toward the global mean with pseudo-count m=50 — the encoding
    // a feature pipeline would broadcast-join back onto the fact table.
    // One census shuffle; sums stay in exact DECIMAL until the single
    // final division; the global mean derives from the SAME census via
    // a window (no second scan).
    Q("q_target_encoding",
      (s, dir) => {
        val wAll = Window.partitionBy()
        t(s, dir, "events")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum(dec2(col("value"))).as("sv"))
          .select(col("event_type"), col("n").cast("long").as("n"),
            col("sv"),
            sum(col("sv")).over(wAll).as("gs"),
            sum(col("n")).over(wAll).cast("long").as("gn"))
          .select(col("event_type"), col("n"),
            (col("sv").cast("double") / col("n").cast("double"))
              .as("raw_mean"),
            ((col("sv").cast("double")
              + lit(50.0) * (col("gs").cast("double") / col("gn").cast("double")))
              / (col("n").cast("double") + 50)).as("encoded"))
          .orderBy("event_type")
      },
      Some("""WITH census AS (
                SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
                  SUM(CAST(value AS DECIMAL(18,2))) AS sv
                FROM events GROUP BY 1),
              g AS (
                SELECT event_type, n, sv, SUM(sv) OVER () AS gs,
                  CAST(SUM(n) OVER () AS BIGINT) AS gn
                FROM census)
              SELECT event_type, n,
                CAST(sv AS DOUBLE) / CAST(n AS DOUBLE) AS raw_mean,
                (CAST(sv AS DOUBLE)
                   + 50.0 * (CAST(gs AS DOUBLE) / CAST(gn AS DOUBLE)))
                  / (CAST(n AS DOUBLE) + 50) AS encoded
              FROM g ORDER BY event_type""")),

    // ── Cohen's kappa (agreement beyond chance) ─────────────────────────
    // Rater A = thresholded score (value ≥ 250), rater B = observed
    // conversion. ONE aggregate pass collapses events to four int64
    // confusion sums; kappa's FP happens once, on scalars. The shape a
    // labeling-QA pipeline runs between two annotator columns.
    Q("q_cohen_kappa",
      (s, dir) =>
        t(s, dir, "events")
          .select(when(col("value") >= 250, 1L).otherwise(0L).as("a"),
            when(col("event_type") === "purchase", 1L).otherwise(0L).as("b"))
          .agg(count(lit(1)).as("n"), sum(col("a") * col("b")).as("tp"),
            sum(col("a")).as("na"), sum(col("b")).as("nb"))
          .select(col("n").cast("long").as("n"),
            col("tp").cast("long").as("n_both"),
            ((col("n") - col("na") - col("nb") + lit(2L) * col("tp"))
              .cast("double") / col("n").cast("double")).as("po"),
            ((col("na").cast("double") * col("nb").cast("double")
              + (col("n") - col("na")).cast("double")
                * (col("n") - col("nb")).cast("double"))
              / (col("n").cast("double") * col("n").cast("double"))).as("pe"))
          .select(col("n"), col("n_both"), col("po"), col("pe"),
            ((col("po") - col("pe")) / (lit(1.0) - col("pe"))).as("kappa")),
      Some("""WITH m AS (
                SELECT CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(SUM(CASE WHEN value >= 250 AND event_type = 'purchase'
                    THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                  CAST(SUM(CASE WHEN value >= 250 THEN 1 ELSE 0 END)
                    AS BIGINT) AS na,
                  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS nb
                FROM events),
              s AS (
                SELECT n, tp AS n_both,
                  CAST(n - na - nb + 2 * tp AS DOUBLE) / CAST(n AS DOUBLE)
                    AS po,
                  (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
                     + CAST(n - na AS DOUBLE) * CAST(n - nb AS DOUBLE))
                    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS pe
                FROM m)
              SELECT n, n_both, po, pe, (po - pe) / (1.0 - pe) AS kappa
              FROM s""")),

    // ── mutual information (feature-selection readout) ──────────────────
    // MI(event_type; score bin) = Σ p_xy · ln(p_xy / (p_x·p_y)), computed
    // entirely on the |types|×|bins| census: joint counts from one
    // shuffle, marginals via windows OVER THE CENSUS (no second scan),
    // and the total pinned to a sorted left fold over (type, bin).
    Q("q_mutual_info",
      (s, dir) => {
        val census = t(s, dir, "events")
          .groupBy(col("event_type"),
            floor(col("value") / 50).cast("long").as("bin"))
          .agg(count(lit(1)).as("c"))
        val wAll = Window.partitionBy()
        val wX = Window.partitionBy("event_type")
        val wY = Window.partitionBy("bin")
        census
          .select(col("event_type"), col("bin"), col("c"),
            sum(col("c")).over(wX).cast("long").as("cx"),
            sum(col("c")).over(wY).cast("long").as("cy"),
            sum(col("c")).over(wAll).cast("long").as("n"))
          // 12-decimal per-cell terms: the q_js_drift libm-ln discipline
          .select(col("event_type"), col("bin"),
            round((col("c").cast("double") / col("n").cast("double"))
              * log(col("c").cast("double") * col("n").cast("double")
                / (col("cx").cast("double") * col("cy").cast("double"))), 12)
              .as("term"))
          .agg(round(expr(
            """aggregate(array_sort(collect_list(struct(event_type, bin, term))),
                 CAST(0 AS DOUBLE), (a, x) -> a + x.term)"""), 12).as("mi"),
            count(lit(1)).cast("long").as("n_cells"))
          .select(col("n_cells"), col("mi"))
      },
      Some("""WITH census AS (
                SELECT event_type, CAST(floor(value / 50) AS BIGINT) AS bin,
                  CAST(COUNT(*) AS BIGINT) AS c
                FROM events GROUP BY 1, 2),
              m AS (
                SELECT event_type, bin, c,
                  CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS cx,
                  CAST(SUM(c) OVER (PARTITION BY bin) AS BIGINT) AS cy,
                  CAST(SUM(c) OVER () AS BIGINT) AS n
                FROM census),
              terms AS (
                SELECT event_type, bin,
                  round((CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
                    * ln(CAST(c AS DOUBLE) * CAST(n AS DOUBLE)
                      / (CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE))), 12)
                    AS term
                FROM m)
              SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
                round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                  list(term ORDER BY event_type, bin)), (a, x) -> a + x), 12)
                  AS mi
              FROM terms""")),

    // ── precision/recall threshold sweep ────────────────────────────────
    // The full PR curve: at every distinct score threshold t, classify
    // value ≥ t positive and report precision/recall/F1. Shape: per-score
    // census (one shuffle), then ONE RangeRank pass ordered score-DESC
    // whose exclusive prefix sums of (pos, neg) ARE the cumulative TP/FP
    // above each threshold — no data-sized window, no self-join, output
    // rows = distinct scores (data-sized, like the curve itself). Per-row
    // divisions only — no cross-row FP accumulation anywhere.
    Q("q_pr_curve",
      // the census feeds RangeRank AND the 1-row total — both read the
      // shared pinned artifact (round 12; was a per-query persist)
      (s, dir) => prCurveFinish(Censuses.scoreCensus(s, dir)),
      Some("""WITH census AS (
                SELECT value, CAST(COUNT(*) AS BIGINT) AS cnt,
                  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS p
                FROM events GROUP BY 1),
              c AS (
                SELECT value AS threshold,
                  CAST(SUM(p) OVER (ORDER BY value DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS tp,
                  CAST(SUM(cnt - p) OVER (ORDER BY value DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS fp,
                  CAST(SUM(p) OVER () AS BIGINT) AS np
                FROM census)
              SELECT threshold, tp, fp,
                CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) AS precision,
                CAST(tp AS DOUBLE) / CAST(np AS DOUBLE) AS recall,
                (2.0 * CAST(tp AS DOUBLE)) / CAST(tp + fp + np AS DOUBLE)
                  AS f1
              FROM c ORDER BY threshold""")),

    // ── Brier score (probabilistic-forecast MSE) ────────────────────────
    // score/500 plays the predicted probability. The squared-error sum
    // runs ENTIRELY in integers: cents = exact decimal 100·value, error
    // numerator (cents − 50000·y)² sums in DECIMAL(38,0) (cents² ≈ 2.5e9
    // per row — int64 would overflow past ~4B rows), ONE double division
    // at the end: Σ(cents − 50000y)² / (n · 50000²). No FP accumulation,
    // no rounding ambiguity (the decimal cast is exact on 2-decimal
    // stored values in both engines).
    Q("q_brier_score",
      (s, dir) =>
        labeled(t(s, dir, "events"))
          .select((dec2(col("value")) * 100).cast("long").as("cents"),
            col("pos"))
          .agg(count(lit(1)).as("n"),
            sum(((col("cents") - lit(50000L) * col("pos"))
              * (col("cents") - lit(50000L) * col("pos"))).cast(dec38))
              .as("se"))
          .select(col("n").cast("long").as("n"),
            (col("se").cast("double")
              / (col("n").cast("double") * lit(2.5e9))).as("brier")),
      Some("""WITH b AS (
                SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                    AS cents,
                  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
                FROM events),
              m AS (
                SELECT CAST(COUNT(*) AS BIGINT) AS n,
                  SUM(CAST(cents - 50000 * y AS HUGEINT)
                    * CAST(cents - 50000 * y AS HUGEINT)) AS se
                FROM b)
              SELECT n, CAST(se AS DOUBLE) / (CAST(n AS DOUBLE) * 2.5e9)
                AS brier
              FROM m""")),

    // ── Brier skill score vs the climatology baseline ───────────────────
    // BSS = 1 − BS/BS_ref with BS_ref = p̄(1−p̄), the Brier score of
    // always forecasting the base rate — the skill normalization that
    // makes Brier scores comparable across base rates. Same one-pass
    // integer census as q_brier_score (cents² sums exact in dec38);
    // the base rate and both scores are a short pinned double chain.
    Q("q_brier_skill",
      (s, dir) =>
        labeled(t(s, dir, "events"))
          .select((dec2(col("value")) * 100).cast("long").as("cents"),
            col("pos"))
          .agg(count(lit(1)).as("n"),
            sum(col("pos")).as("npos"),
            sum(((col("cents") - lit(50000L) * col("pos"))
              * (col("cents") - lit(50000L) * col("pos"))).cast(dec38))
              .as("se"))
          .select(col("n").cast("long").as("n"),
            col("npos").cast("long").as("n_pos"),
            (col("se").cast("double")
              / (col("n").cast("double") * lit(2.5e9))).as("brier"),
            (col("npos").cast("double") / col("n").cast("double"))
              .as("pbar"))
          .select(col("n"), col("n_pos"), col("brier"),
            (col("pbar") * (lit(1.0) - col("pbar"))).as("brier_ref"),
            col("pbar"))
          .select(col("n"), col("n_pos"), col("brier"), col("brier_ref"),
            when(col("brier_ref") <= 0, lit(null).cast("double"))
              .otherwise(lit(1.0) - col("brier") / col("brier_ref"))
              .as("bss")),
      Some("""WITH b AS (
                SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                    AS cents,
                  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
                FROM events),
              m AS (
                SELECT CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(SUM(y) AS BIGINT) AS n_pos,
                  SUM(CAST(cents - 50000 * y AS HUGEINT)
                    * CAST(cents - 50000 * y AS HUGEINT)) AS se
                FROM b),
              sc AS (
                SELECT n, n_pos,
                  CAST(se AS DOUBLE) / (CAST(n AS DOUBLE) * 2.5e9)
                    AS brier,
                  CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS pbar
                FROM m),
              r AS (
                SELECT n, n_pos, brier,
                  pbar * (1.0 - pbar) AS brier_ref
                FROM sc)
              SELECT n, n_pos, brier, brier_ref,
                CASE WHEN brier_ref <= 0 THEN NULL
                  ELSE 1.0 - brier / brier_ref END AS bss
              FROM r""")),

    // ── expected calibration error ──────────────────────────────────────
    // ECE = Σ_b (n_b/n)·|pos_rate_b − mean_pred_b| over the same
    // fixed-width bins as q_calibration, with mean predicted probability
    // from exact integer cent sums (no FP until the per-bin readout) and
    // the bin sum pinned to a sorted fold. One census pass; single row.
    Q("q_ece",
      (s, dir) => {
        val wAll = Window.partitionBy()
        labeled(t(s, dir, "events"))
          .select((dec2(col("value")) * 100).cast("long").as("cents"),
            col("pos"))
          .groupBy(expr("CAST(cents DIV 5000 AS BIGINT)").as("bin"))
          .agg(count(lit(1)).as("nb"), sum(col("pos")).as("np"),
            sum(col("cents")).as("sc"))
          .select(col("bin"), col("nb"), col("np"), col("sc"),
            sum(col("nb")).over(wAll).cast("long").as("n"))
          .select(col("bin"),
            ((col("nb").cast("double") / col("n").cast("double"))
              * abs(col("np").cast("double") / col("nb").cast("double")
                - col("sc").cast("double")
                  / (col("nb").cast("double") * lit(50000.0))))
              .as("term"))
          .agg(expr("""aggregate(array_sort(collect_list(struct(bin, term))),
                         CAST(0 AS DOUBLE), (a, x) -> a + x.term)""")
            .as("ece"), count(lit(1)).cast("long").as("n_bins"))
          .select(col("n_bins"), col("ece"))
      },
      Some("""WITH b AS (
                SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                    AS cents,
                  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
                FROM events),
              census AS (
                SELECT CAST(cents // 5000 AS BIGINT) AS bin,
                  CAST(COUNT(*) AS BIGINT) AS nb,
                  CAST(SUM(y) AS BIGINT) AS np,
                  CAST(SUM(cents) AS BIGINT) AS sc
                FROM b GROUP BY 1),
              terms AS (
                SELECT bin,
                  (CAST(nb AS DOUBLE) / CAST(SUM(nb) OVER () AS DOUBLE))
                    * abs(CAST(np AS DOUBLE) / CAST(nb AS DOUBLE)
                      - CAST(sc AS DOUBLE)
                        / (CAST(nb AS DOUBLE) * 50000.0)) AS term
                FROM census)
              SELECT CAST(COUNT(*) AS BIGINT) AS n_bins,
                list_reduce(list_prepend(CAST(0 AS DOUBLE),
                  list(term ORDER BY bin)), (a, x) -> a + x) AS ece
              FROM terms""")),

    // ── Matthews correlation coefficient ────────────────────────────────
    // The kappa sibling on the same thresholded confusion matrix; the
    // χ²-derived binary-classification correlation. Same ONE-pass int64
    // confusion sums; the numerator tp·tn − fp·fn runs in DECIMAL
    // (each product ≈ n²/4 — past int64 at ~6B rows), denominator in
    // doubles on scalars.
    Q("q_mcc",
      (s, dir) =>
        t(s, dir, "events")
          .select(when(col("value") >= 250, 1L).otherwise(0L).as("a"),
            when(col("event_type") === "purchase", 1L).otherwise(0L).as("b"))
          .agg(count(lit(1)).as("n"), sum(col("a") * col("b")).as("tp"),
            sum(col("a")).as("na"), sum(col("b")).as("nb"))
          .select(col("n").cast("long").as("n"),
            col("tp").cast("long").as("tp"),
            (col("na") - col("tp")).cast("long").as("fp"),
            (col("nb") - col("tp")).cast("long").as("fn"),
            (col("n") - col("na") - col("nb") + col("tp")).cast("long")
              .as("tn"))
          .select(col("n"), col("tp"), col("fp"), col("fn"), col("tn"),
            ((col("tp").cast(dec38) * col("tn").cast(dec38)
              - col("fp").cast(dec38) * col("fn").cast(dec38))
              .cast("double")
              / sqrt((col("tp") + col("fp")).cast("double")
                * (col("tp") + col("fn")).cast("double")
                * (col("tn") + col("fp")).cast("double")
                * (col("tn") + col("fn")).cast("double"))).as("mcc")),
      Some("""WITH m AS (
                SELECT CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(SUM(CASE WHEN value >= 250 AND event_type = 'purchase'
                    THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                  CAST(SUM(CASE WHEN value >= 250 THEN 1 ELSE 0 END)
                    AS BIGINT) AS na,
                  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS nb
                FROM events),
              c AS (
                SELECT n, tp, na - tp AS fp, nb - tp AS fn,
                  n - na - nb + tp AS tn
                FROM m)
              SELECT n, tp, fp, fn, tn,
                CAST(CAST(tp AS HUGEINT) * CAST(tn AS HUGEINT)
                     - CAST(fp AS HUGEINT) * CAST(fn AS HUGEINT) AS DOUBLE)
                  / sqrt(CAST(tp + fp AS DOUBLE) * CAST(tp + fn AS DOUBLE)
                    * CAST(tn + fp AS DOUBLE) * CAST(tn + fn AS DOUBLE))
                  AS mcc
              FROM c""")),

    // ── classifier KS statistic (max CDF separation) ────────────────────
    // The scorecard-world twin of q_ks_drift: max over thresholds of
    // |CDF⁺(t) − CDF⁻(t)|, located at its argmax threshold. Same
    // per-score census + RangeRank prefix sums as q_auc; the numerator
    // |cum⁺·n⁻ − cum⁻·n⁺| stays in DECIMAL(38,0) (the cross products
    // pass int64 near ~3B rows/class), the max and its argmax are one
    // lexicographic struct-extreme aggregate (order-free, no FP until
    // the final division). Single row out.
    Q("q_ks_model",
      (s, dir) => ksModelFinish(Censuses.scoreCensus(s, dir)),
      Some("""WITH census AS (
                SELECT value, CAST(COUNT(*) AS BIGINT) AS cnt,
                  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS p
                FROM events GROUP BY 1),
              c AS (
                SELECT value,
                  CAST(SUM(p) OVER (ORDER BY value
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cp,
                  CAST(SUM(cnt - p) OVER (ORDER BY value
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cn,
                  CAST(SUM(p) OVER () AS BIGINT) AS npos,
                  CAST(SUM(cnt - p) OVER () AS BIGINT) AS nneg
                FROM census),
              d AS (
                SELECT npos, nneg, value,
                  abs(CAST(cp AS HUGEINT) * nneg
                      - CAST(cn AS HUGEINT) * npos) AS dnum
                FROM c)
              SELECT npos AS n_pos, nneg AS n_neg, value AS at_threshold,
                CAST(dnum AS DOUBLE)
                  / (CAST(npos AS DOUBLE) * CAST(nneg AS DOUBLE)) AS ks
              FROM d ORDER BY dnum DESC, value DESC LIMIT 1""")),

    // ── preference-pair mining ──────────────────────────────────────────
    // RLHF-style pair construction: per user with ≥2 scored events,
    // (chosen, rejected) = the arg-max/arg-min event by (value,
    // event_id) — the lexicographic struct extremes, so ties break
    // identically in both engines and NO window ever sorts the fact
    // table: one groupBy shuffle, two struct-extreme aggregates, margin
    // arithmetic on the 2-row-per-user result. Parallelism = user
    // cardinality (grows with data — never a bottleneck key).
    Q("q_preference_pairs",
      (s, dir) =>
        t(s, dir, "events")
          .groupBy("user_id")
          .agg(count(lit(1)).as("n"),
            max(struct(col("value"), col("event_id"))).as("c"),
            min(struct(col("value"), col("event_id"))).as("r"))
          .filter(col("n") >= 2)
          .select(col("user_id"), col("n").cast("long").as("n_events"),
            col("c.event_id").as("chosen_id"),
            col("r.event_id").as("rejected_id"),
            (col("c.value") - col("r.value")).as("margin"))
          .orderBy("user_id"),
      Some("""WITH ranked AS (
                SELECT user_id, event_id, value,
                  row_number() OVER (PARTITION BY user_id
                    ORDER BY value DESC, event_id DESC) AS rmax,
                  row_number() OVER (PARTITION BY user_id
                    ORDER BY value ASC, event_id ASC) AS rmin,
                  CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS n
                FROM events)
              SELECT user_id, MAX(n) AS n_events,
                MAX(CASE WHEN rmax = 1 THEN event_id END) AS chosen_id,
                MAX(CASE WHEN rmin = 1 THEN event_id END) AS rejected_id,
                MAX(CASE WHEN rmax = 1 THEN value END)
                  - MAX(CASE WHEN rmin = 1 THEN value END) AS margin
              FROM ranked WHERE n >= 2
              GROUP BY 1 ORDER BY user_id""")),

    // ── Kaplan–Meier survival curve ─────────────────────────────────────
    // Time-to-fulfillment per order: duration = days from order date to
    // FIRST ship event; status 'F' = observed, else right-censored at its
    // last known duration. Shape: lineitem collapses to per-order min
    // shipdate (one shuffle on the orderkey — the co-partitioned fact-fact
    // key), joins orders, then collapses to a per-duration-day census
    // (bounded by the ship-window calendar, not data size). The survival
    // product S(t) = Π_{tᵢ≤t}(1 − dᵢ/nᵢ) is computed per census row as a
    // pinned sorted MULTIPLICATION fold over the ≤|days| term array —
    // IEEE multiply is correctly rounded in both engines, so the product
    // is bit-identical (a log/exp detour is NOT: libm exp differs by an
    // ulp between JVM and DuckDB), and a d=n tail row zeroes the product
    // with no ln(0) special case.
    Q("q_survival_km",
      (s, dir) => {
        val firstShip = t(s, dir, "lineitem")
          .groupBy("l_orderkey").agg(min(col("l_shipdate")).as("ship0"))
        val durs = t(s, dir, "orders")
          .join(firstShip, col("o_orderkey") === col("l_orderkey"))
          .select(
            datediff(to_date(col("ship0")), to_date(col("o_orderdate")))
              .cast("long").as("dur"),
            when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("ev"))
        val census = durs.groupBy("dur")
          .agg(sum(col("ev")).as("d"), sum(lit(1L) - col("ev")).as("c"))
        val wAll = Window.partitionBy()
        val wPrev = Window.orderBy(col("dur"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val risk = Artifacts.persist(census
          .select(col("dur"), col("d").cast("long").as("d"),
            col("c").cast("long").as("c"),
            (sum(col("d") + col("c")).over(wAll)
              - coalesce(sum(col("d") + col("c")).over(wPrev), lit(0L)))
              .cast("long").as("n_risk"))
          .select(col("dur"), col("d"), col("c"), col("n_risk"),
            (lit(1.0) - col("d").cast("double")
              / col("n_risk").cast("double")).as("term")))
          // persist: the day census feeds the term-array collect AND the
          // output join — one lineitem+orders pass, not two (see q_psi)
        // prefix products in ONE pass over the sorted term array (pp[i] =
        // t₁·…·tᵢ, pp[0] = 1) instead of a per-row filter+fold — that
        // shape re-walks the array per census row (O(|days|²) lambda
        // evals ≈ 13M at sf0.1, the query's dominant constant). The fold
        // sequence per prefix is IDENTICAL to the per-row form, so every
        // surv value is bit-identical to the DuckDB oracle's per-row
        // left fold.
        val curve = risk
          .agg(expr("""array_sort(collect_list(struct(dur, term)))""")
            .as("ts"))
          .select(col("ts"), expr(
            """aggregate(ts, array(CAST(1 AS DOUBLE)),
                 (acc, x) -> concat(acc, array(element_at(acc, -1) * x.term)))""")
            .as("pp"))
          .select(explode(expr(
            """transform(sequence(1, size(ts)),
                 i -> struct(ts[i-1].dur AS dur, pp[i] AS surv))""")).as("z"))
          .select(col("z.dur").as("dur"), col("z.surv").as("surv"))
        risk.join(broadcast(curve), "dur")
          .select(col("dur"), col("d"), col("c"), col("n_risk"), col("surv"))
          .orderBy("dur")
      },
      Some("""WITH fs AS (
                SELECT l_orderkey, MIN(l_shipdate) AS ship0
                FROM lineitem GROUP BY 1),
              durs AS (
                SELECT CAST(date_diff('day', CAST(o_orderdate AS DATE),
                    CAST(ship0 AS DATE)) AS BIGINT) AS dur,
                  CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS ev
                FROM orders JOIN fs ON o_orderkey = l_orderkey),
              census AS (
                SELECT dur, CAST(SUM(ev) AS BIGINT) AS d,
                  CAST(SUM(1 - ev) AS BIGINT) AS c
                FROM durs GROUP BY 1),
              nr AS (
                SELECT dur, d, c,
                  CAST(SUM(d + c) OVER ()
                    - COALESCE(SUM(d + c) OVER (ORDER BY dur
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS n_risk
                FROM census),
              risk AS (
                SELECT dur, d, c, n_risk,
                  1.0 - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE) AS term
                FROM nr),
              ts AS (
                SELECT list({'dur': dur, 'term': term} ORDER BY dur)
                  AS terms FROM risk)
              SELECT r.dur, r.d, r.c, r.n_risk,
                list_reduce(list_prepend(CAST(1 AS DOUBLE),
                  [x.term FOR x IN ts.terms IF x.dur <= r.dur]),
                  (a, x) -> a * x) AS surv
              FROM risk r, ts ORDER BY r.dur"""))
    ,

    // ── Nelson–Aalen cumulative hazard (the KM curve's dual) ────────────
    // The additive estimator next to Kaplan–Meier's multiplicative one:
    // H(t) = Σ_{dur≤t} d/n_risk — preferred when hazard RATES (not
    // survival probabilities) drive the readout, and the better-behaved
    // small-risk-set estimate. SAME duration census and risk-set
    // machinery as q_survival_km (one lineitem+orders pass, persisted
    // day census); the cumulative sum is the same one-pass pinned
    // prefix fold as KM's prefix product — pp[i] = pp[i−1] + term_i in
    // dur order — so every H value is bit-identical to the oracle's
    // per-row left fold (terms are exact-int ratio doubles; no libm,
    // no rounding).
    Q("q_nelson_aalen",
      (s, dir) => {
        val firstShip = t(s, dir, "lineitem")
          .groupBy("l_orderkey").agg(min(col("l_shipdate")).as("ship0"))
        val durs = t(s, dir, "orders")
          .join(firstShip, col("o_orderkey") === col("l_orderkey"))
          .select(
            datediff(to_date(col("ship0")), to_date(col("o_orderdate")))
              .cast("long").as("dur"),
            when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("ev"))
        val census = durs.groupBy("dur")
          .agg(sum(col("ev")).as("d"), sum(lit(1L) - col("ev")).as("c"))
        val wAll = Window.partitionBy()
        val wPrev = Window.orderBy(col("dur"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val risk = Artifacts.persist(census
          .select(col("dur"), col("d").cast("long").as("d"),
            col("c").cast("long").as("c"),
            (sum(col("d") + col("c")).over(wAll)
              - coalesce(sum(col("d") + col("c")).over(wPrev), lit(0L)))
              .cast("long").as("n_risk"))
          .select(col("dur"), col("d"), col("c"), col("n_risk"),
            (col("d").cast("double") / col("n_risk").cast("double"))
              .as("term")))
          // persist: feeds the prefix collect AND the output join
        val curve = risk
          .agg(expr("""array_sort(collect_list(struct(dur, term)))""")
            .as("ts"))
          .select(col("ts"), expr(
            """aggregate(ts, array(CAST(0 AS DOUBLE)),
                 (acc, x) -> concat(acc, array(element_at(acc, -1) + x.term)))""")
            .as("pp"))
          .select(explode(expr(
            """transform(sequence(1, size(ts)),
                 i -> struct(ts[i-1].dur AS dur, pp[i] AS cumhaz))""")).as("z"))
          .select(col("z.dur").as("dur"), col("z.cumhaz").as("cumhaz"))
        risk.join(broadcast(curve), "dur")
          .select(col("dur"), col("d"), col("c"), col("n_risk"),
            col("cumhaz"))
          .orderBy("dur")
      },
      Some("""WITH fs AS (
                SELECT l_orderkey, MIN(l_shipdate) AS ship0
                FROM lineitem GROUP BY 1),
              durs AS (
                SELECT CAST(date_diff('day', CAST(o_orderdate AS DATE),
                    CAST(ship0 AS DATE)) AS BIGINT) AS dur,
                  CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS ev
                FROM orders JOIN fs ON o_orderkey = l_orderkey),
              census AS (
                SELECT dur, CAST(SUM(ev) AS BIGINT) AS d,
                  CAST(SUM(1 - ev) AS BIGINT) AS c
                FROM durs GROUP BY 1),
              nr AS (
                SELECT dur, d, c,
                  CAST(SUM(d + c) OVER ()
                    - COALESCE(SUM(d + c) OVER (ORDER BY dur
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS n_risk
                FROM census),
              risk AS (
                SELECT dur, d, c, n_risk,
                  CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE) AS term
                FROM nr),
              ts AS (
                SELECT list({'dur': dur, 'term': term} ORDER BY dur)
                  AS terms FROM risk)
              SELECT r.dur, r.d, r.c, r.n_risk,
                list_reduce(list_prepend(CAST(0 AS DOUBLE),
                  [x.term FOR x IN ts.terms IF x.dur <= r.dur]),
                  (a, x) -> a + x) AS cumhaz
              FROM risk r, ts ORDER BY r.dur"""))
    ,

    // ── fairness audit: per-group confusion parity ──────────────────────
    // The model-eval readout a release gate runs before shipping a
    // classifier: per-cohort selection rate (demographic parity),
    // TPR/FPR (equalized odds), base rate, and each cohort's
    // demographic-parity gap vs the population. Cohorts are the
    // deterministic user_id%5 slices (the synthetic stand-in for a
    // protected attribute); pred = score ≥ 50 at the q_psi bin
    // threshold. Shape: ONE event shuffle to a 5-row confusion census
    // (partial+final agg of four CASE-gated counts), population totals
    // folded back as a 1-row broadcast; every rate is one IEEE division
    // of exact integers, the gap one subtraction of two such divisions —
    // bit-stable in both engines.
    Q("q_fairness_gaps",
      // persist: the 5-row census feeds BOTH the population totals and
      // the output projection — un-persisted, each consumer re-runs
      // the event-scale scan (the r4 drift-family class)
      (s, dir) => fairnessFinish(Artifacts.persist(fairnessCensus(t(s, dir, "events")))),
      Some("""WITH c AS (
                SELECT user_id % 5 AS grp, count(*) AS n,
                  CAST(SUM(CASE WHEN event_type = 'purchase'
                    THEN 1 ELSE 0 END) AS BIGINT) AS np,
                  CAST(SUM(CASE WHEN value >= 50.0
                    THEN 1 ELSE 0 END) AS BIGINT) AS npred,
                  CAST(SUM(CASE WHEN event_type = 'purchase'
                    AND value >= 50.0 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                  CAST(SUM(CASE WHEN event_type <> 'purchase'
                    AND value >= 50.0 THEN 1 ELSE 0 END) AS BIGINT) AS fp
                FROM events GROUP BY 1),
              o AS (
                SELECT CAST(SUM(npred) AS BIGINT) AS tot_pred,
                  CAST(SUM(n) AS BIGINT) AS tot_n
                FROM c)
              SELECT CAST(grp AS BIGINT) AS grp, CAST(n AS BIGINT) AS n,
                CAST(np AS DOUBLE) / CAST(n AS DOUBLE) AS base_rate,
                CAST(npred AS DOUBLE) / CAST(n AS DOUBLE) AS sel_rate,
                CASE WHEN np = 0 THEN NULL
                     ELSE CAST(tp AS DOUBLE) / CAST(np AS DOUBLE) END AS tpr,
                CASE WHEN n = np THEN NULL
                     ELSE CAST(fp AS DOUBLE) / CAST(n - np AS DOUBLE) END AS fpr,
                CAST(npred AS DOUBLE) / CAST(n AS DOUBLE)
                  - CAST(tot_pred AS DOUBLE) / CAST(tot_n AS DOUBLE)
                  AS dp_gap
              FROM c, o ORDER BY grp"""))
    ,

    // ── sample-ratio mismatch (the A/B guardrail before any readout) ────
    // A skewed assignment ratio invalidates an experiment before any
    // metric is read: per day, the 50/50 user split's observed counts
    // and the χ² statistic against the expected ratio —
    // (n₀−n₁)²/(n₀+n₁) for equal allocation. DISTINCT users per
    // (day, variant) (an exposure is counted once), one partial+final
    // agg to the calendar-bounded census; the statistic is one IEEE
    // division of exact integers per day. Flag days where χ² > 3.84
    // (p<.05 at 1 dof) — the flag is an integer-domain compare
    // ((n₀−n₁)²·100 > 384·(n₀+n₁)), no FP boundary.
    Q("q_srm",
      (s, dir) => {
        t(s, dir, "events")
          .select(date_trunc("day", col("ts")).as("day"),
            col("user_id"), (col("user_id") % 2).as("variant"))
          .distinct()
          .groupBy("day")
          .agg(count(when(col("variant") === 0, lit(1))).as("n0"),
            count(when(col("variant") === 1, lit(1))).as("n1"))
          .select(col("day"), col("n0"), col("n1"),
            (((col("n0") - col("n1")) * (col("n0") - col("n1")))
              .cast("double") / (col("n0") + col("n1")).cast("double"))
              .as("chi2"),
            ((col("n0") - col("n1")) * (col("n0") - col("n1")) * 100
              > (col("n0") + col("n1")) * 384).as("srm_flag"))
          .orderBy("day")
      },
      Some("""WITH u AS (
                SELECT DISTINCT date_trunc('day', ts) AS day, user_id,
                  user_id % 2 AS variant
                FROM events),
              c AS (
                SELECT day,
                  CAST(COUNT(CASE WHEN variant = 0 THEN 1 END) AS BIGINT)
                    AS n0,
                  CAST(COUNT(CASE WHEN variant = 1 THEN 1 END) AS BIGINT)
                    AS n1
                FROM u GROUP BY 1)
              SELECT day, n0, n1,
                CAST((n0 - n1) * (n0 - n1) AS DOUBLE)
                  / CAST(n0 + n1 AS DOUBLE) AS chi2,
                (n0 - n1) * (n0 - n1) * 100 > (n0 + n1) * 384 AS srm_flag
              FROM c ORDER BY day"""))
    ,

    // ── difference-in-differences (the causal readout) ──────────────────
    // The estimator for a launch with a pre-period: Δ = (treat_post −
    // treat_pre) − (ctrl_post − ctrl_pre), which nets out both the
    // level difference between arms and the common time trend. Same
    // variant/period splits as q_cuped/q_srm (one family, one
    // convention); shape is ONE event shuffle to a 2×2 (variant,
    // period) cents census — counts and decimal-exact sums, four IEEE
    // divisions and three subtractions at the end. Emits the 2×2 cell
    // means plus the DiD estimate on every row (a 1-row broadcast
    // fold), so the readout is self-contained.
    Q("q_diff_in_diff",
      (s, dir) => {
        val cells = Artifacts.persist(t(s, dir, "events")
          .select((col("user_id") % 2).as("variant"),
            when(col("ts") < lit("2024-01-16").cast("timestamp"), "pre")
              .otherwise("post").as("period"),
            expr("cast(cast(value as decimal(18,2)) * 100 as bigint)")
              .as("cents"))
          .groupBy("variant", "period")
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("sc")))
          // 4-row census feeds the pivot AND the output — persist is
          // overkill at 4 rows but the scan behind it is not: fold the
          // pivot from the census itself
        val did = cells
          .agg(
            (max(when(col("variant") === 1 && col("period") === "post",
              col("sc").cast("double") / col("n").cast("double")))
              - max(when(col("variant") === 1 && col("period") === "pre",
                col("sc").cast("double") / col("n").cast("double")))
              - (max(when(col("variant") === 0 && col("period") === "post",
                col("sc").cast("double") / col("n").cast("double")))
                - max(when(col("variant") === 0 && col("period") === "pre",
                  col("sc").cast("double") / col("n").cast("double")))))
              .as("did_cents"))
        cells.crossJoin(broadcast(did))
          .select(col("variant"), col("period"), col("n"),
            (col("sc").cast("double") / col("n").cast("double") / 100.0)
              .as("mean_value"),
            (col("did_cents") / 100.0).as("did"))
          .orderBy("variant", "period")
      },
      Some("""WITH c AS (
                SELECT user_id % 2 AS variant,
                  CASE WHEN ts < TIMESTAMP '2024-01-16'
                    THEN 'pre' ELSE 'post' END AS period,
                  count(*) AS n,
                  CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100
                    AS BIGINT)) AS BIGINT) AS sc
                FROM events GROUP BY 1, 2),
              d AS (
                SELECT
                  (MAX(CASE WHEN variant = 1 AND period = 'post'
                     THEN CAST(sc AS DOUBLE) / CAST(n AS DOUBLE) END)
                   - MAX(CASE WHEN variant = 1 AND period = 'pre'
                     THEN CAST(sc AS DOUBLE) / CAST(n AS DOUBLE) END)
                   - (MAX(CASE WHEN variant = 0 AND period = 'post'
                       THEN CAST(sc AS DOUBLE) / CAST(n AS DOUBLE) END)
                     - MAX(CASE WHEN variant = 0 AND period = 'pre'
                       THEN CAST(sc AS DOUBLE) / CAST(n AS DOUBLE) END)))
                    AS did_cents
                FROM c)
              SELECT CAST(variant AS BIGINT) AS variant, period, n,
                CAST(sc AS DOUBLE) / CAST(n AS DOUBLE) / 100.0
                  AS mean_value,
                did_cents / 100.0 AS did
              FROM c, d ORDER BY variant, period"""))
    ,

    // ── CUPED variance reduction (experimentation-platform staple) ──────
    // The adjustment every mature A/B platform applies before reading a
    // treatment effect: θ = cov(pre, post)/var(pre) from the POOLED
    // population, adjusted variant mean = ȳ_v − θ·(x̄_v − x̄). Shape:
    // one event shuffle to a PERSISTED per-user (variant, pre-cents,
    // post-cents) frame (it feeds the pooled-moments agg AND the
    // per-variant agg — two consumers, one scan), pooled moments folded
    // back as a 1-row broadcast. Every sum is exact integer cents in
    // DECIMAL(38,0); θ, the adjusted means, and the pooled ρ² (the
    // variance-reduction factor CUPED buys) are a few IEEE ops on
    // identical doubles.
    Q("q_cuped",
      (s, dir) => {
        val users = Artifacts.persist(t(s, dir, "events")
          .select((col("user_id") % 2).as("variant"), col("user_id"),
            when(col("ts") < lit("2024-01-16").cast("timestamp"),
              expr("cast(cast(value as decimal(18,2)) * 100 as bigint)"))
              .otherwise(0L).as("pre_c"),
            when(col("ts") >= lit("2024-01-16").cast("timestamp"),
              expr("cast(cast(value as decimal(18,2)) * 100 as bigint)"))
              .otherwise(0L).as("post_c"))
          .groupBy("variant", "user_id")
          .agg(sum(col("pre_c")).as("x"), sum(col("post_c")).as("y")))
        val pooled = users.agg(count(lit(1)).as("n"),
          sum(col("x").cast(dec38)).as("sx"),
          sum(col("y").cast(dec38)).as("sy"),
          sum((col("x") * col("y")).cast(dec38)).as("sxy"),
          sum((col("x") * col("x")).cast(dec38)).as("sxx"),
          sum((col("y") * col("y")).cast(dec38)).as("syy"))
        val byVar = users.groupBy("variant")
          .agg(count(lit(1)).as("n_users"),
            sum(col("x").cast(dec38)).as("vx"),
            sum(col("y").cast(dec38)).as("vy"))
        byVar.crossJoin(broadcast(pooled))
          .select(col("variant"), col("n_users"),
            (col("vx").cast("double") / col("n_users").cast("double")
              / 100.0).as("mean_pre"),
            (col("vy").cast("double") / col("n_users").cast("double")
              / 100.0).as("mean_post"),
            ((col("n").cast("double") * col("sxy").cast("double")
              - col("sx").cast("double") * col("sy").cast("double"))
              / (col("n").cast("double") * col("sxx").cast("double")
                - col("sx").cast("double") * col("sx").cast("double")))
              .as("theta"),
            col("n"), col("sx"), col("sy"), col("sxy"), col("sxx"),
            col("syy"), col("vx"), col("vy"))
          .select(col("variant"), col("n_users"), col("mean_pre"),
            col("mean_post"), col("theta"),
            ((col("vy").cast("double") / col("n_users").cast("double")
              - col("theta") * (col("vx").cast("double")
                / col("n_users").cast("double")
                - col("sx").cast("double") / col("n").cast("double")))
              / 100.0).as("mean_adj"),
            (((col("n").cast("double") * col("sxy").cast("double")
              - col("sx").cast("double") * col("sy").cast("double"))
              * (col("n").cast("double") * col("sxy").cast("double")
                - col("sx").cast("double") * col("sy").cast("double")))
              / ((col("n").cast("double") * col("sxx").cast("double")
                - col("sx").cast("double") * col("sx").cast("double"))
                * (col("n").cast("double") * col("syy").cast("double")
                  - col("sy").cast("double") * col("sy").cast("double"))))
              .as("rho2"))
          .orderBy("variant")
      },
      Some("""WITH u AS (
                SELECT user_id % 2 AS variant, user_id,
                  CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16'
                    THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS x,
                  CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16'
                    THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS y
                FROM events GROUP BY 1, 2),
              p AS (
                SELECT CAST(count(*) AS BIGINT) AS n,
                  CAST(SUM(x) AS DOUBLE) AS sx,
                  CAST(SUM(y) AS DOUBLE) AS sy,
                  CAST(SUM(x * y) AS DOUBLE) AS sxy,
                  CAST(SUM(x * x) AS DOUBLE) AS sxx,
                  CAST(SUM(y * y) AS DOUBLE) AS syy
                FROM u),
              v AS (
                SELECT variant, CAST(count(*) AS BIGINT) AS n_users,
                  CAST(SUM(x) AS DOUBLE) AS vx,
                  CAST(SUM(y) AS DOUBLE) AS vy
                FROM u GROUP BY 1)
              SELECT CAST(variant AS BIGINT) AS variant, n_users,
                vx / CAST(n_users AS DOUBLE) / 100.0 AS mean_pre,
                vy / CAST(n_users AS DOUBLE) / 100.0 AS mean_post,
                (CAST(n AS DOUBLE) * sxy - sx * sy)
                  / (CAST(n AS DOUBLE) * sxx - sx * sx) AS theta,
                (vy / CAST(n_users AS DOUBLE)
                  - (CAST(n AS DOUBLE) * sxy - sx * sy)
                    / (CAST(n AS DOUBLE) * sxx - sx * sx)
                    * (vx / CAST(n_users AS DOUBLE)
                      - sx / CAST(n AS DOUBLE))) / 100.0 AS mean_adj,
                ((CAST(n AS DOUBLE) * sxy - sx * sy)
                  * (CAST(n AS DOUBLE) * sxy - sx * sy))
                / ((CAST(n AS DOUBLE) * sxx - sx * sx)
                  * (CAST(n AS DOUBLE) * syy - sy * sy)) AS rho2
              FROM v, p ORDER BY variant""")),

    // ── log loss (cross-entropy, the q_brier_score sibling) ─────────────
    // −mean(y·ln p + (1−y)·ln(1−p)) with p = value/500 clamped to
    // [0.001, 0.999] on an exact per-mill integer carrier. ln is
    // transcendental, so the corpus FIRST collapses to the ≤999×2
    // (p_mill, y) census (one partial+final agg — at 100 TB the only
    // event-scale work), each census row's term rounds to 12 decimals
    // (the q_psi discipline — no summation-order pinning fixes a
    // transcendental's last bit), and the total is a position-pinned
    // sorted-array fold over the bounded census.
    Q("q_log_loss",
      (s, dir) => logLossFinish(logLossCensus(t(s, dir, "events"))),
      Some("""WITH c AS (
                SELECT least(greatest(CAST(round(value * 2, 0) AS BIGINT), 1),
                         999) AS p_mill,
                  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos,
                  CAST(count(*) AS BIGINT) AS cnt
                FROM events GROUP BY 1, 2),
              t AS (
                SELECT p_mill, pos, cnt,
                  round(CAST(cnt AS DOUBLE) * (CASE WHEN pos = 1
                    THEN -ln(CAST(p_mill AS DOUBLE) / 1000.0)
                    ELSE -ln(1.0 - CAST(p_mill AS DOUBLE) / 1000.0) END),
                    12) AS term
                FROM c)
              SELECT CAST(SUM(cnt) AS BIGINT) AS n,
                round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(term ORDER BY p_mill, pos, term)),
                    (a, x) -> a + x) / SUM(cnt), 12) AS log_loss
              FROM t""")),

    // ── multi-class confusion summary (the q_mcc/q_cohen_kappa sibling) ──
    // Per-class precision/recall/F1 over a 5×5 confusion census: true
    // class = the event type, predicted class = the value-quintile band
    // mapped onto the same label space. The corpus collapses in ONE
    // partial+final agg to ≤25 cells; row/column totals and the
    // diagonal are census-over-census; rates are IEEE divisions of
    // exact counts, NULL-guarded identically in both engines (the
    // q_fairness_gaps discipline).
    Q("q_confusion_multi",
      (s, dir) => confusionFinish(confusionCells(t(s, dir, "events"))),
      Some("""WITH cells AS (
                SELECT event_type AS t,
                  CASE least(CAST(floor(value / 100) AS BIGINT), 4)
                    WHEN 0 THEN 'click' WHEN 1 THEN 'error'
                    WHEN 2 THEN 'purchase' WHEN 3 THEN 'signup'
                    ELSE 'view' END AS p,
                  CAST(count(*) AS BIGINT) AS n
                FROM events GROUP BY 1, 2),
              a AS (SELECT t AS cls, CAST(SUM(n) AS BIGINT) AS n_actual
                    FROM cells GROUP BY 1),
              pr AS (SELECT p AS cls, CAST(SUM(n) AS BIGINT) AS n_predicted
                     FROM cells GROUP BY 1),
              d AS (SELECT t AS cls, n AS tp FROM cells WHERE t = p),
              j AS (
                SELECT COALESCE(a.cls, pr.cls) AS cls,
                  COALESCE(n_actual, 0) AS n_actual,
                  COALESCE(n_predicted, 0) AS n_predicted,
                  COALESCE(tp, 0) AS tp
                FROM a FULL JOIN pr ON a.cls = pr.cls
                  LEFT JOIN d ON COALESCE(a.cls, pr.cls) = d.cls)
              SELECT cls, n_actual, n_predicted, CAST(tp AS BIGINT) AS tp,
                CASE WHEN n_predicted = 0 THEN NULL
                  ELSE CAST(tp AS DOUBLE) / n_predicted END AS precision,
                CASE WHEN n_actual = 0 THEN NULL
                  ELSE CAST(tp AS DOUBLE) / n_actual END AS recall,
                CASE WHEN n_predicted + n_actual = 0 THEN NULL
                  ELSE 2.0 * tp / (n_predicted + n_actual) END AS f1
              FROM j ORDER BY cls""")),

    // ── Scott's π (chance-corrected agreement, joint-marginal chance) ──
    // Beside q_cohen_kappa on the IDENTICAL binary frame: Scott
    // replaces Cohen's per-rater chance model with the JOINT marginal
    // p̄ = (na+nb)/2n, pe = p̄² + (1−p̄)² — the agreement coefficient
    // Krippendorff's α generalizes. Same one-pass integer census, two
    // IEEE steps at the end; κ ≥ π always (Cohen's pe ≤ Scott's).
    Q("q_scotts_pi",
      (s, dir) =>
        t(s, dir, "events")
          .select(when(col("value") >= 250, 1L).otherwise(0L).as("a"),
            when(col("event_type") === "purchase", 1L).otherwise(0L).as("b"))
          .agg(count(lit(1)).as("n"), sum(col("a") * col("b")).as("tp"),
            sum(col("a")).as("na"), sum(col("b")).as("nb"))
          .select(col("n").cast("long").as("n"),
            ((col("n") - col("na") - col("nb") + lit(2L) * col("tp"))
              .cast("double") / col("n").cast("double")).as("po"),
            ((col("na") + col("nb")).cast("double")
              / (lit(2L) * col("n")).cast("double")).as("pbar"))
          .select(col("n"), col("po"),
            (col("pbar") * col("pbar")
              + (lit(1.0) - col("pbar")) * (lit(1.0) - col("pbar")))
              .as("pe_scott"), col("pbar"))
          .select(col("n"), col("po"), col("pe_scott"),
            when(col("pe_scott") >= 1.0, lit(null).cast("double"))
              .otherwise((col("po") - col("pe_scott"))
                / (lit(1.0) - col("pe_scott"))).as("scotts_pi")),
      Some("""WITH m AS (
                SELECT CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(SUM(CASE WHEN value >= 250 AND event_type = 'purchase'
                    THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                  CAST(SUM(CASE WHEN value >= 250 THEN 1 ELSE 0 END)
                    AS BIGINT) AS na,
                  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS nb
                FROM events),
              s AS (
                SELECT n,
                  CAST(n - na - nb + 2 * tp AS DOUBLE) / CAST(n AS DOUBLE)
                    AS po,
                  CAST(na + nb AS DOUBLE) / CAST(2 * n AS DOUBLE) AS pbar
                FROM m),
              s2 AS (
                SELECT n, po,
                  pbar * pbar + (1.0 - pbar) * (1.0 - pbar) AS pe_scott
                FROM s)
              SELECT n, po, pe_scott,
                CASE WHEN pe_scott >= 1.0 THEN NULL
                  ELSE (po - pe_scott) / (1.0 - pe_scott) END AS scotts_pi
              FROM s2""")),

    // ── Rₖ correlation (multi-class MCC) over the confusion census ──────
    // Gorodkin's Rₖ — the Matthews coefficient generalized to k
    // classes — on the SAME [[confusionCells]] census as
    // q_confusion_multi: Rₖ = (N·trace − Σₖ tₖpₖ) /
    // (√(N²−Σpₖ²)·√(N²−Σtₖ²)). Every moment is an exact dec38 integer
    // off the ≤k² census (row/col totals full-joined so one-sided
    // classes contribute zero); two √'s and one division at the end.
    Q("q_rk_correlation",
      (s, dir) => {
        val dec38 = DecimalType(38, 0)
        val cells = confusionCells(t(s, dir, "events"))
        val rows = cells.groupBy(col("t").as("cls"))
          .agg(sum(col("n")).cast("long").as("tk"))
        val cols = cells.groupBy(col("p").as("cls"))
          .agg(sum(col("n")).cast("long").as("pk"))
        val marg = rows.join(cols, Seq("cls"), "full")
          .select(coalesce(col("tk"), lit(0L)).as("tk"),
            coalesce(col("pk"), lit(0L)).as("pk"))
          .agg(sum(col("tk").cast(dec38) * col("pk")).as("tp_cross"),
            sum(col("tk").cast(dec38) * col("tk")).as("t2"),
            sum(col("pk").cast(dec38) * col("pk")).as("p2"))
        val base = cells.agg(sum(col("n")).cast("long").as("nn"),
          sum(when(col("t") === col("p"), col("n")).otherwise(0L))
            .cast("long").as("trace"))
        base.crossJoin(broadcast(marg))
          .select(col("nn"), col("trace"),
            (col("nn").cast(dec38) * col("trace") - col("tp_cross"))
              .as("num"),
            (col("nn").cast(dec38) * col("nn") - col("p2")).as("dp"),
            (col("nn").cast(dec38) * col("nn") - col("t2")).as("dt"))
          .select(col("nn").as("n"), col("trace"),
            when(col("dp") <= 0 || col("dt") <= 0,
              lit(null).cast("double"))
              .otherwise(col("num").cast("double")
                / sqrt(col("dp").cast("double"))
                / sqrt(col("dt").cast("double"))).as("rk"))
      },
      Some("""WITH cells AS (
                SELECT event_type AS t,
                  CASE least(CAST(floor(value / 100) AS BIGINT), 4)
                    WHEN 0 THEN 'click' WHEN 1 THEN 'error'
                    WHEN 2 THEN 'purchase' WHEN 3 THEN 'signup'
                    ELSE 'view' END AS p,
                  CAST(count(*) AS BIGINT) AS n
                FROM events GROUP BY 1, 2),
              r AS (SELECT t AS cls, CAST(SUM(n) AS BIGINT) AS tk
                    FROM cells GROUP BY 1),
              c AS (SELECT p AS cls, CAST(SUM(n) AS BIGINT) AS pk
                    FROM cells GROUP BY 1),
              marg AS (
                SELECT SUM(CAST(COALESCE(tk, 0) AS HUGEINT)
                    * COALESCE(pk, 0)) AS tp_cross,
                  SUM(CAST(COALESCE(tk, 0) AS HUGEINT)
                    * COALESCE(tk, 0)) AS t2,
                  SUM(CAST(COALESCE(pk, 0) AS HUGEINT)
                    * COALESCE(pk, 0)) AS p2
                FROM r FULL JOIN c USING (cls)),
              base AS (
                SELECT CAST(SUM(n) AS BIGINT) AS nn,
                  CAST(SUM(CASE WHEN t = p THEN n ELSE 0 END) AS BIGINT)
                    AS trace
                FROM cells),
              q AS (
                SELECT nn, trace,
                  CAST(nn AS HUGEINT) * trace - tp_cross AS num,
                  CAST(nn AS HUGEINT) * nn - p2 AS dp,
                  CAST(nn AS HUGEINT) * nn - t2 AS dt
                FROM base, marg)
              SELECT nn AS n, trace,
                CASE WHEN dp <= 0 OR dt <= 0 THEN NULL
                  ELSE CAST(num AS DOUBLE) / sqrt(CAST(dp AS DOUBLE))
                    / sqrt(CAST(dt AS DOUBLE)) END AS rk
              FROM q""")),

    // ── Fleiss' kappa (multi-rater agreement, beyond Cohen's 2 raters) ──
    // Three deterministic raters (distinct high-bit windows of the
    // masked Knuth hash — the q_ndcg relevance discipline) vote a
    // binary grade per document; κ = (P̄ − P_e)/(1 − P_e). With n = 3
    // raters and 2 categories, each doc's agreement is a pure function
    // of its vote count v ∈ {0..3}, so the corpus collapses to a
    // ≤4-row census and every moment is exact-integer off it; the
    // statistic is a few IEEE ops at the very end.
    Q("q_fleiss_kappa",
      (s, dir) => {
        def rater(shift: Int) = expr(
          s"pmod(((doc_id % 2147483648) * 2654435761) div ${1L << shift}, 2)")
        val census = t(s, dir, "documents")
          .select((rater(16) + rater(19) + rater(22)).as("v"))
          .groupBy("v").agg(count(lit(1)).as("cnt"))
        census
          .agg(sum(col("cnt")).as("n_items"),
            sum(col("cnt") * col("v")).as("s1"),
            sum(col("cnt") * (col("v") * col("v")
              + (lit(3L) - col("v")) * (lit(3L) - col("v")))).as("sq"))
          .select(col("n_items").cast("long").as("n_items"),
            ((col("sq") - col("n_items") * 3).cast("double")
              / (col("n_items").cast("double") * 6.0)).as("p_bar"),
            col("s1").cast("long").as("n_pos"))
          .select(col("n_items"), col("p_bar"),
            (col("n_pos").cast("double")
              / (col("n_items").cast("double") * 3.0)).as("p1"))
          .select(col("n_items"), col("p_bar"), col("p1"),
            (col("p1") * col("p1")
              + (lit(1.0) - col("p1")) * (lit(1.0) - col("p1"))).as("p_e"))
          .select(col("n_items"), col("p_bar"), col("p_e"),
            ((col("p_bar") - col("p_e")) / (lit(1.0) - col("p_e")))
              .as("kappa"))
      },
      Some(s"""WITH v AS (
                SELECT
                  (((doc_id % 2147483648) * 2654435761 // ${1L << 16} % 2 + 2) % 2)
                  + (((doc_id % 2147483648) * 2654435761 // ${1L << 19} % 2 + 2) % 2)
                  + (((doc_id % 2147483648) * 2654435761 // ${1L << 22} % 2 + 2) % 2)
                    AS v
                FROM documents),
              c AS (SELECT v, CAST(count(*) AS BIGINT) AS cnt
                    FROM v GROUP BY 1),
              s AS (
                SELECT CAST(SUM(cnt) AS BIGINT) AS n_items,
                  CAST(SUM(cnt * v) AS BIGINT) AS s1,
                  CAST(SUM(cnt * (v * v + (3 - v) * (3 - v))) AS BIGINT) AS sq
                FROM c),
              m AS (
                SELECT n_items,
                  CAST(sq - 3 * n_items AS DOUBLE)
                    / (CAST(n_items AS DOUBLE) * 6.0) AS p_bar,
                  CAST(s1 AS DOUBLE) / (CAST(n_items AS DOUBLE) * 3.0) AS p1
                FROM s),
              e AS (
                SELECT n_items, p_bar,
                  p1 * p1 + (1.0 - p1) * (1.0 - p1) AS p_e
                FROM m)
              SELECT n_items, p_bar, p_e,
                (p_bar - p_e) / (1.0 - p_e) AS kappa
              FROM e""")),

    // ── one-way ANOVA: does value differ across event types? ────────────
    // The between/within variance decomposition behind every "is this
    // segment different" question. The corpus collapses to the ≤5-row
    // per-type (n, Σcents, Σcents²) census — ONE partial+final agg, the
    // sums exact in DECIMAL(38,0) (cents² at 100-TB row counts exceeds
    // int64). SSB/SSW terms are computed per census row with the global
    // totals folded in as a 1-row broadcast, rounded to 12 (the q_psi
    // transcendental-free analog — here the rounding pins the double
    // division noise), summed by the pinned sorted fold; F is two
    // IEEE divisions at the end.
    Q("q_anova",
      (s, dir) => anovaFinish(anovaCensus(t(s, dir, "events"))),
      Some("""WITH c AS (
                SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                  SUM(CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                    AS HUGEINT)) AS s,
                  SUM(CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                    AS HUGEINT)
                    * CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                    AS HUGEINT)) AS ss
                FROM events GROUP BY 1),
              tt AS (SELECT CAST(SUM(n) AS BIGINT) AS n_tot,
                       CAST(SUM(s) AS HUGEINT) AS s_tot FROM c),
              terms AS (
                SELECT event_type, n, n_tot,
                  round(CAST(n AS DOUBLE)
                    * (CAST(s AS DOUBLE) / n
                      - CAST(s_tot AS DOUBLE) / n_tot)
                    * (CAST(s AS DOUBLE) / n
                      - CAST(s_tot AS DOUBLE) / n_tot), 6) AS ssb_term,
                  round(CAST(ss AS DOUBLE)
                    - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n, 6)
                    AS ssw_term
                FROM c, tt),
              agg AS (
                SELECT CAST(count(*) AS BIGINT) AS k,
                  CAST(MAX(n_tot) AS BIGINT) AS n_tot,
                  list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(ssb_term ORDER BY event_type)),
                    (a, x) -> a + x) AS ssb,
                  list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(ssw_term ORDER BY event_type)),
                    (a, x) -> a + x) AS ssw
                FROM terms)
              SELECT k, n_tot AS n,
                round(ssb, 6) AS ssb, round(ssw, 6) AS ssw,
                (ssb / CAST(k - 1 AS DOUBLE))
                  / (ssw / CAST(n_tot - k AS DOUBLE)) AS f_stat
              FROM agg""")),

    // ── Mann–Whitney U: account balance, BUILDING vs AUTOMOBILE ─────────
    // The rank-based two-sample test — the nonparametric complement of
    // q_ab_test's t-test and q_ks_drift's CDF distance. The corpus
    // collapses to the value-domain-bounded (cents → n_a, n_b) census
    // (acctbal spans ~1.1 M distinct cents regardless of row count —
    // the q_rolling_median envelope); midranks are exact half-integers
    // carried ×2 in integers, rank sums and the tie correction are
    // exact DECIMAL(38,0), and μ/σ²/z are IEEE expressions of those
    // exact integers at the very end.
    Q("q_mann_whitney",
      (s, dir) => {
        val wv = Window.orderBy("cents")
          .rowsBetween(Window.unboundedPreceding, -1)
        val census = t(s, dir, "customer")
          .filter(col("c_mktsegment").isin("BUILDING", "AUTOMOBILE"))
          .select((dec2(col("c_acctbal")) * 100).cast("long").as("cents"),
            when(col("c_mktsegment") === "BUILDING", 1L).otherwise(0L)
              .as("is_a"))
          .groupBy("cents")
          .agg(sum(col("is_a")).as("n_a"),
            sum(lit(1L) - col("is_a")).as("n_b"))
        val ranked = census
          .withColumn("cum_before",
            coalesce(sum(col("n_a") + col("n_b")).over(wv), lit(0L)))
          .withColumn("midrank_x2",
            lit(2L) * col("cum_before") + col("n_a") + col("n_b") + 1L)
        val agg = ranked.agg(
          sum(col("n_a")).cast("long").as("na"),
          sum(col("n_b")).cast("long").as("nb"),
          sum(col("n_a").cast(dec38) * col("midrank_x2")).as("ra_x2"),
          sum((col("n_a") + col("n_b")).cast(dec38)
            * (col("n_a") + col("n_b")) * (col("n_a") + col("n_b"))
            - (col("n_a") + col("n_b"))).as("ties"))
        agg.select(col("na"), col("nb"),
            (col("ra_x2").cast("double") / 2.0
              - col("na").cast("double") * (col("na") + 1).cast("double")
                / 2.0).as("u_a"),
            (col("na").cast("double") * col("nb").cast("double") / 2.0)
              .as("mu"),
            col("ties").cast("double").as("tie_term"),
            (col("na") + col("nb")).cast("long").as("n"))
          .select(col("na"), col("nb"), col("u_a"), col("mu"),
            when(col("na") === 0 || col("nb") === 0 || col("n") <= 1
              || col("tie_term")
                >= (col("n").cast("double") * col("n").cast("double")
                  * col("n").cast("double") - col("n").cast("double")),
              lit(null).cast("double"))
              .otherwise((col("u_a") - col("mu"))
                / sqrt(col("na").cast("double") * col("nb").cast("double")
                  / 12.0
                  * ((col("n") + 1).cast("double")
                    - col("tie_term")
                      / (col("n").cast("double")
                        * (col("n") - 1).cast("double")))))
              .as("z"))
      },
      Some("""WITH census AS (
                SELECT CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS cents,
                  CAST(SUM(CASE WHEN c_mktsegment = 'BUILDING'
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                  CAST(SUM(CASE WHEN c_mktsegment = 'AUTOMOBILE'
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_b
                FROM customer
                WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE')
                GROUP BY 1),
              ranked AS (
                SELECT cents, n_a, n_b,
                  COALESCE(SUM(n_a + n_b) OVER (ORDER BY cents
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS cum_before
                FROM census),
              agg AS (
                SELECT CAST(SUM(n_a) AS BIGINT) AS na,
                  CAST(SUM(n_b) AS BIGINT) AS nb,
                  SUM(CAST(n_a AS HUGEINT)
                    * (2 * cum_before + n_a + n_b + 1)) AS ra_x2,
                  SUM(CAST(n_a + n_b AS HUGEINT) * (n_a + n_b) * (n_a + n_b)
                    - (n_a + n_b)) AS ties
                FROM ranked),
              m AS (
                SELECT na, nb,
                  CAST(ra_x2 AS DOUBLE) / 2.0
                    - CAST(na AS DOUBLE) * CAST(na + 1 AS DOUBLE) / 2.0
                    AS u_a,
                  CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 2.0 AS mu,
                  CAST(ties AS DOUBLE) AS tie_term,
                  CAST(na + nb AS BIGINT) AS n
                FROM agg)
              SELECT na, nb, u_a, mu,
                CASE WHEN na = 0 OR nb = 0 OR n <= 1
                  OR tie_term >= CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                    * CAST(n AS DOUBLE) - CAST(n AS DOUBLE)
                  THEN NULL
                  ELSE (u_a - mu)
                    / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 12.0
                      * (CAST(n + 1 AS DOUBLE)
                        - tie_term / (CAST(n AS DOUBLE)
                          * CAST(n - 1 AS DOUBLE)))) END AS z
              FROM m""")),

    // ── Kruskal–Wallis H: account balance across all 5 segments ─────────
    // The k-group extension of q_mann_whitney's rank test. Same
    // value-domain-bounded (cents, segment) census (acctbal spans
    // ~1.1 M distinct cents regardless of row count), persisted so the
    // midrank frame, the per-group rank sums and the tie term all read
    // it without a corpus rescan; midranks are
    // exact half-integers carried ×2, per-group rank sums and the tie
    // term are exact DECIMAL(38,0), the Σ R_g²/n_g cross-group fold is
    // 6-decimal rounded and segment-pinned, and H is one IEEE
    // expression at the end (tie-corrected variant NULL-guarded for a
    // degenerate all-ties corpus).
    Q("q_kruskal_wallis",
      (s, dir) => {
        val wv = Window.orderBy("cents")
          .rowsBetween(Window.unboundedPreceding, -1)
        val cg = Artifacts.persist(t(s, dir, "customer")
          .select((dec2(col("c_acctbal")) * 100).cast("long").as("cents"),
            col("c_mktsegment").as("grp"))
          .groupBy("cents", "grp")
          .agg(count(lit(1)).cast("long").as("n_g")))
        val cm = Artifacts.persist(cg.groupBy("cents")
          .agg(sum(col("n_g")).cast("long").as("n_c"))
          .withColumn("cum_before",
            coalesce(sum(col("n_c")).over(wv), lit(0L)))
          .withColumn("midrank_x2",
            lit(2L) * col("cum_before") + col("n_c") + 1L))
        val perG = cg.join(cm.select("cents", "midrank_x2"), "cents")
          .groupBy("grp")
          .agg(sum(col("n_g")).cast("long").as("ng"),
            sum(col("n_g").cast(dec38) * col("midrank_x2")).as("rg_x2"))
        val ties = cm.agg(
          sum(col("n_c").cast(dec38) * col("n_c") * col("n_c")
            - col("n_c")).as("tie"),
          sum(col("n_c")).cast("long").as("n"))
        perG.crossJoin(broadcast(ties))
          .select(col("grp"), col("n"), col("tie"),
            round((col("rg_x2").cast("double")
              * col("rg_x2").cast("double") / 4.0)
              / col("ng").cast("double"), 6).as("r2n"))
          .groupBy("n", "tie")
          .agg(count(lit(1)).cast("long").as("k"),
            expr("""aggregate(array_sort(collect_list(struct(grp, r2n))),
                    CAST(0 AS DOUBLE), (a, x) -> a + x.r2n)""")
              .as("sum_r2n"))
          .withColumn("h",
            lit(12.0) / (col("n").cast("double")
              * (col("n") + 1).cast("double")) * col("sum_r2n")
              - lit(3.0) * (col("n") + 1).cast("double"))
          .select(col("k"), col("n"), col("h"),
            when(col("n") <= 1
              || col("tie").cast("double")
                >= col("n").cast("double") * col("n").cast("double")
                  * col("n").cast("double") - col("n").cast("double"),
              lit(null).cast("double"))
              .otherwise(col("h") / (lit(1.0)
                - col("tie").cast("double")
                  / (col("n").cast("double") * col("n").cast("double")
                    * col("n").cast("double") - col("n").cast("double"))))
              .as("h_tie"))
      },
      Some("""WITH cg AS (
                SELECT CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS cents,
                  c_mktsegment AS grp, CAST(count(*) AS BIGINT) AS n_g
                FROM customer GROUP BY 1, 2),
              cc AS (
                SELECT cents, CAST(SUM(n_g) AS BIGINT) AS n_c
                FROM cg GROUP BY 1),
              cm AS (
                SELECT cents, n_c,
                  2 * COALESCE(SUM(n_c) OVER (ORDER BY cents
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    + n_c + 1 AS midrank_x2
                FROM cc),
              pg AS (
                SELECT grp, CAST(SUM(n_g) AS BIGINT) AS ng,
                  SUM(CAST(n_g AS HUGEINT) * midrank_x2) AS rg_x2
                FROM cg JOIN cm USING (cents) GROUP BY 1),
              ts AS (
                SELECT SUM(CAST(n_c AS HUGEINT) * n_c * n_c - n_c) AS tie,
                  CAST(SUM(n_c) AS BIGINT) AS n
                FROM cc),
              terms AS (
                SELECT grp, n, tie,
                  round((CAST(rg_x2 AS DOUBLE) * CAST(rg_x2 AS DOUBLE)
                    / 4.0) / CAST(ng AS DOUBLE), 6) AS r2n
                FROM pg, ts),
              agg AS (
                SELECT CAST(MAX(n) AS BIGINT) AS n,
                  CAST(MAX(tie) AS HUGEINT) AS tie,
                  CAST(count(*) AS BIGINT) AS k,
                  list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(r2n ORDER BY grp)), (a, x) -> a + x) AS sum_r2n
                FROM terms),
              hh AS (
                SELECT k, n, tie, sum_r2n,
                  12.0 / (CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE))
                    * sum_r2n - 3.0 * CAST(n + 1 AS DOUBLE) AS h
                FROM agg)
              SELECT k, n, h,
                CASE WHEN n <= 1 OR CAST(tie AS DOUBLE)
                    >= CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                      * CAST(n AS DOUBLE) - CAST(n AS DOUBLE)
                  THEN NULL
                  ELSE h / (1.0 - CAST(tie AS DOUBLE)
                    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                      * CAST(n AS DOUBLE) - CAST(n AS DOUBLE))) END
                  AS h_tie
              FROM hh""")),

    // ── Dunn post-hoc: WHICH segment pairs differ, after Kruskal–Wallis ─
    // The follow-up q_kruskal_wallis's single H can't answer: pairwise
    // mean-rank gaps z_ab = (R̄_a−R̄_b)/√(S·(1/n_a+1/n_b)) with the
    // pooled tie-corrected S = (N(N+1) − Σ(t³−t)/(N−1))/12, over the
    // SAME (cents, segment) census. Midranks ride the ×2 domain so S
    // carries ×4 and the gap ×2 — the scale factors cancel in z. Per-
    // group rank sums are exact dec38; R̄, S and z are the identical
    // IEEE division sequence in both engines (pinned step order, no
    // rounding — every operand is a cast of an exact integer). Output
    // is the C(5,2) = 10-row pair grid — catalog-bounded, ordered.
    Q("q_dunn_posthoc",
      (s, dir) => {
        val wv = Window.orderBy("cents")
          .rowsBetween(Window.unboundedPreceding, -1)
        val cg = t(s, dir, "customer")
          .select((dec2(col("c_acctbal")) * 100).cast("long").as("cents"),
            col("c_mktsegment").as("grp"))
          .groupBy("cents", "grp")
          .agg(count(lit(1)).cast("long").as("n_g"))
        val cm = cg.groupBy("cents")
          .agg(sum(col("n_g")).cast("long").as("n_c"))
          .withColumn("cum_before",
            coalesce(sum(col("n_c")).over(wv), lit(0L)))
          .withColumn("midrank_x2",
            lit(2L) * col("cum_before") + col("n_c") + 1L)
        val perG = cg.join(cm.select("cents", "midrank_x2"), "cents")
          .groupBy("grp")
          .agg(sum(col("n_g")).cast("long").as("ng"),
            sum(col("n_g").cast(dec38) * col("midrank_x2")).as("rg_x2"))
        val ties = cm.agg(
          sum(col("n_c").cast(dec38) * col("n_c") * col("n_c")
            - col("n_c")).as("tie"),
          sum(col("n_c")).cast("long").as("n"))
        perG.as("a")
          .join(perG.as("b"), col("a.grp") < col("b.grp"))
          .crossJoin(broadcast(ties))
          .select(col("a.grp").as("seg_a"), col("b.grp").as("seg_b"),
            col("a.ng").as("n_a"), col("b.ng").as("n_b"),
            (col("a.rg_x2").cast("double") / col("a.ng").cast("double")
              - col("b.rg_x2").cast("double") / col("b.ng").cast("double"))
              .as("gap_x2"),
            ((col("n").cast("double") * (col("n") + 1).cast("double")
              - col("tie").cast("double") / (col("n") - 1).cast("double"))
              / 3.0).as("s_x4"),
            (lit(1.0) / col("a.ng").cast("double")
              + lit(1.0) / col("b.ng").cast("double")).as("inv"))
          .select(col("seg_a"), col("seg_b"), col("n_a"), col("n_b"),
            when(col("s_x4") <= 0, lit(null).cast("double"))
              .otherwise(col("gap_x2") / sqrt(col("s_x4") * col("inv")))
              .as("z"))
          .orderBy("seg_a", "seg_b")
      },
      Some("""WITH cg AS (
                SELECT CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS cents,
                  c_mktsegment AS grp, CAST(count(*) AS BIGINT) AS n_g
                FROM customer GROUP BY 1, 2),
              cc AS (
                SELECT cents, CAST(SUM(n_g) AS BIGINT) AS n_c
                FROM cg GROUP BY 1),
              cm AS (
                SELECT cents, n_c,
                  2 * COALESCE(SUM(n_c) OVER (ORDER BY cents
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    + n_c + 1 AS midrank_x2
                FROM cc),
              pg AS (
                SELECT grp, CAST(SUM(n_g) AS BIGINT) AS ng,
                  SUM(CAST(n_g AS HUGEINT) * midrank_x2) AS rg_x2
                FROM cg JOIN cm USING (cents) GROUP BY 1),
              ts AS (
                SELECT SUM(CAST(n_c AS HUGEINT) * n_c * n_c - n_c) AS tie,
                  CAST(SUM(n_c) AS BIGINT) AS n
                FROM cc)
              SELECT a.grp AS seg_a, b.grp AS seg_b,
                a.ng AS n_a, b.ng AS n_b,
                CASE WHEN (CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE)
                    - CAST(tie AS DOUBLE) / CAST(n - 1 AS DOUBLE)) / 3.0
                    <= 0 THEN NULL
                  ELSE (CAST(a.rg_x2 AS DOUBLE) / CAST(a.ng AS DOUBLE)
                    - CAST(b.rg_x2 AS DOUBLE) / CAST(b.ng AS DOUBLE))
                    / sqrt(((CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE)
                      - CAST(tie AS DOUBLE) / CAST(n - 1 AS DOUBLE))
                      / 3.0)
                      * (1.0 / CAST(a.ng AS DOUBLE)
                        + 1.0 / CAST(b.ng AS DOUBLE))) END AS z
              FROM pg a JOIN pg b ON a.grp < b.grp, ts
              ORDER BY seg_a, seg_b""")),

    // ── Jarque–Bera normality test per segment ──────────────────────────
    // Is acctbal normal within each segment? Skewness + excess-kurtosis
    // moment test. ONE partial+final agg to the per-segment exact power
    // sums Σx^k (DECIMAL(38,0) on cents — |x|⁴ ≈ 1.5e24 fits, and the
    // sums stay exact at any SF); central moments, S, K and JB are
    // row-local IEEE expressions of those exact sums (identical operand
    // order both engines — no cross-row FP fold at all). NULL-guarded
    // for a zero-variance segment.
    Q("q_jarque_bera",
      (s, dir) => jbFinish(jbCensus(t(s, dir, "customer"))),
      Some("""WITH cen AS (
                SELECT c_mktsegment AS grp, CAST(count(*) AS BIGINT) AS n,
                  SUM(CAST(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS HUGEINT)) AS s1,
                  SUM(CAST(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS HUGEINT)
                    * CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100
                      AS BIGINT)) AS s2,
                  SUM(CAST(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS HUGEINT)
                    * CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100
                      AS BIGINT)
                    * CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100
                      AS BIGINT)) AS s3,
                  SUM(CAST(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS HUGEINT)
                    * CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100
                      AS BIGINT)
                    * CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100
                      AS BIGINT)
                    * CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100
                      AS BIGINT)) AS s4
                FROM customer GROUP BY 1),
              raw AS (
                SELECT grp, n,
                  CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
                  CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS r2,
                  CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS r3,
                  CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS r4
                FROM cen),
              cm AS (
                SELECT grp, n,
                  r2 - mu * mu AS m2,
                  r3 - 3.0 * mu * r2 + 2.0 * mu * mu * mu AS m3,
                  r4 - 4.0 * mu * r3 + 6.0 * mu * mu * r2
                    - 3.0 * mu * mu * mu * mu AS m4
                FROM raw),
              sk AS (
                SELECT grp, n,
                  CASE WHEN m2 <= 0 THEN NULL
                    ELSE m3 / (m2 * sqrt(m2)) END AS sk,
                  CASE WHEN m2 <= 0 THEN NULL
                    ELSE m4 / (m2 * m2) END AS ku
                FROM cm)
              SELECT grp, n,
                round(sk, 12) AS skewness, round(ku, 12) AS kurtosis,
                CASE WHEN sk IS NULL THEN NULL
                  ELSE round(CAST(n AS DOUBLE) / 6.0
                    * (sk * sk + (ku - 3.0) * (ku - 3.0) / 4.0), 6) END
                  AS jb
              FROM sk ORDER BY grp""")),

    // ── Durbin–Watson serial-correlation test on daily revenue ──────────
    // Are the residuals of the linear revenue trend autocorrelated?
    // The corpus collapses ONCE to the calendar-bounded daily cents
    // census (persisted: the OLS fit and the residual pass both read
    // it); slope/intercept are IEEE ratios of exact DECIMAL sums,
    // residuals are 6-decimal-rounded row-local expressions, and the
    // two DW folds (Σ(eₜ−eₜ₋₁)², Σeₜ²) are day-pinned. The lag rides
    // ONE day-ordered window over the bounded census. NULL-guarded
    // for a degenerate (constant-day or zero-residual) series.
    Q("q_durbin_watson",
      (s, dir) => {
        val cen = Artifacts.persist(t(s, dir, "orders")
          .select(
            expr("datediff(CAST(o_orderdate AS DATE), DATE'1970-01-01')")
              .as("d"),
            (dec2(col("o_totalprice")) * 100).cast("long").as("cents"))
          .groupBy("d")
          .agg(sum(col("cents").cast(dec38)).as("y")))
        val fit = cen.agg(
          count(lit(1)).cast("long").as("n"),
          sum(col("d").cast(dec38)).as("st"),
          sum(col("y")).as("sy"),
          sum(col("d").cast(dec38) * col("d")).as("stt"),
          sum(col("d").cast(dec38) * col("y")).as("sty"))
        val ab = fit
          .select(col("n"), col("st"), col("sy"),
            when(col("n") * col("stt") - col("st") * col("st") === 0,
              lit(null).cast("double"))
              .otherwise((col("n") * col("sty") - col("st") * col("sy"))
                .cast("double")
                / (col("n") * col("stt") - col("st") * col("st"))
                  .cast("double"))
              .as("slope"))
          .select(col("n"), col("slope"),
            ((col("sy").cast("double")
              - col("slope") * col("st").cast("double"))
              / col("n").cast("double")).as("icept"))
        val wv = Window.orderBy("d")
        cen.crossJoin(broadcast(ab))
          .select(col("d"),
            round(col("y").cast("double") - col("icept")
              - col("slope") * col("d").cast("double"), 6).as("e"))
          .withColumn("e_prev", lag(col("e"), 1).over(wv))
          .select(col("d"),
            round(col("e") * col("e"), 6).as("den_t"),
            when(col("e_prev").isNull, lit(0.0))
              .otherwise(round((col("e") - col("e_prev"))
                * (col("e") - col("e_prev")), 6)).as("num_t"))
          .agg(count(lit(1)).cast("long").as("n_days"),
            expr("""aggregate(array_sort(collect_list(struct(d, num_t))),
                    CAST(0 AS DOUBLE), (a, x) -> a + x.num_t)""")
              .as("num"),
            expr("""aggregate(array_sort(collect_list(struct(d, den_t))),
                    CAST(0 AS DOUBLE), (a, x) -> a + x.den_t)""")
              .as("den"))
          .select(col("n_days"),
            when(col("den").isNull || col("den") <= 0,
              lit(null).cast("double"))
              .otherwise(col("num") / col("den")).as("dw"))
      },
      Some("""WITH cen AS (
                SELECT date_diff('day', DATE '1970-01-01',
                    CAST(o_orderdate AS DATE)) AS d,
                  SUM(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS HUGEINT)) AS y
                FROM orders GROUP BY 1),
              fit AS (
                SELECT CAST(count(*) AS BIGINT) AS n,
                  SUM(CAST(d AS HUGEINT)) AS st, SUM(y) AS sy,
                  SUM(CAST(d AS HUGEINT) * d) AS stt,
                  SUM(CAST(d AS HUGEINT) * y) AS sty
                FROM cen),
              ab AS (
                SELECT n, st, sy,
                  CASE WHEN n * stt - st * st = 0 THEN NULL
                    ELSE CAST(n * sty - st * sy AS DOUBLE)
                      / CAST(n * stt - st * st AS DOUBLE) END AS slope
                FROM fit),
              ab2 AS (
                SELECT n, slope,
                  (CAST(sy AS DOUBLE) - slope * CAST(st AS DOUBLE))
                    / CAST(n AS DOUBLE) AS icept
                FROM ab),
              res AS (
                SELECT d,
                  round(CAST(y AS DOUBLE) - icept
                    - slope * CAST(d AS DOUBLE), 6) AS e
                FROM cen, ab2),
              lagd AS (
                SELECT d, e, lag(e) OVER (ORDER BY d) AS e_prev FROM res),
              terms AS (
                SELECT d, round(e * e, 6) AS den_t,
                  CASE WHEN e_prev IS NULL THEN 0.0
                    ELSE round((e - e_prev) * (e - e_prev), 6) END
                    AS num_t
                FROM lagd),
              agg AS (
                SELECT CAST(count(*) AS BIGINT) AS n_days,
                  list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(num_t ORDER BY d)), (a, x) -> a + x) AS num,
                  list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(den_t ORDER BY d)), (a, x) -> a + x) AS den
                FROM terms)
              SELECT n_days,
                CASE WHEN den IS NULL OR den <= 0 THEN NULL
                  ELSE num / den END AS dw
              FROM agg""")),

    // ── Chow test: structural break in the daily revenue trend ──────────
    // Did the revenue~time relationship CHANGE at the calendar
    // midpoint? F = ((SSR_p − SSR₁ − SSR₂)/k) / ((SSR₁+SSR₂)/(n−2k)),
    // k = 2, each SSR in closed form from exact (n, Σx, Σy, Σx²,
    // Σxy, Σy²) DECIMAL sums — the pooled sums are the exact column-
    // sums of the two segment rows, so ONE partial+final agg over the
    // persisted day census feeds everything. Row-local IEEE
    // finishers; NULL-guarded degenerate segments.
    Q("q_chow_test",
      (s, dir) => {
        val cen = Artifacts.persist(t(s, dir, "orders")
          .select(
            expr("datediff(CAST(o_orderdate AS DATE), DATE'1970-01-01')")
              .as("d"),
            (dec2(col("o_totalprice")) * 100).cast("long").as("cents"))
          .groupBy("d")
          .agg(sum(col("cents").cast(dec38)).as("y")))
        val split = cen.agg(
          expr("(min(d) + max(d)) div 2").cast("long").as("sp"))
        val seg = Artifacts.persist(cen.crossJoin(broadcast(split))
          .select(when(col("d") <= col("sp"), 1L).otherwise(2L).as("h"),
            col("d"), col("y"))
          .groupBy("h")
          .agg(count(lit(1)).cast("long").as("n"),
            sum(col("d").cast(dec38)).as("sx"),
            sum(col("y")).as("sy"),
            sum(col("d").cast(dec38) * col("d")).as("sxx"),
            sum(col("d").cast(dec38) * col("y")).as("sxy"),
            sum(col("y") * col("y")).as("syy")))
        def ssr(n: Column, sx: Column, sy: Column, sxx: Column,
            sxy: Column, syy: Column): Column = {
          val nn = n.cast("double")
          val sxc = (sxx.cast("double")
            - sx.cast("double") * sx.cast("double") / nn)
          val syc = (syy.cast("double")
            - sy.cast("double") * sy.cast("double") / nn)
          val sxyc = (sxy.cast("double")
            - sx.cast("double") * sy.cast("double") / nn)
          when(sxc <= 0, lit(null).cast("double"))
            .otherwise(syc - sxyc * sxyc / sxc)
        }
        val wide = seg.agg(
          sum(col("n")).cast("long").as("n"),
          sum(when(col("h") === 1, col("n"))).cast("long").as("n1"),
          sum(when(col("h") === 2, col("n"))).cast("long").as("n2"),
          sum(col("sx")).as("psx"), sum(col("sy")).as("psy"),
          sum(col("sxx")).as("psxx"), sum(col("sxy")).as("psxy"),
          sum(col("syy")).as("psyy"),
          sum(when(col("h") === 1, col("sx"))).as("sx1"),
          sum(when(col("h") === 1, col("sy"))).as("sy1"),
          sum(when(col("h") === 1, col("sxx"))).as("sxx1"),
          sum(when(col("h") === 1, col("sxy"))).as("sxy1"),
          sum(when(col("h") === 1, col("syy"))).as("syy1"),
          sum(when(col("h") === 2, col("sx"))).as("sx2"),
          sum(when(col("h") === 2, col("sy"))).as("sy2"),
          sum(when(col("h") === 2, col("sxx"))).as("sxx2"),
          sum(when(col("h") === 2, col("sxy"))).as("sxy2"),
          sum(when(col("h") === 2, col("syy"))).as("syy2"))
        wide.select(col("n"), col("n1"), col("n2"),
          ssr(col("n"), col("psx"), col("psy"), col("psxx"),
            col("psxy"), col("psyy")).as("ssr_p"),
          ssr(col("n1"), col("sx1"), col("sy1"), col("sxx1"),
            col("sxy1"), col("syy1")).as("ssr_1"),
          ssr(col("n2"), col("sx2"), col("sy2"), col("sxx2"),
            col("sxy2"), col("syy2")).as("ssr_2"))
          .select(col("n"), col("n1"), col("n2"),
            when(col("ssr_p").isNull || col("ssr_1").isNull
              || col("ssr_2").isNull || col("n") <= 4
              || (col("ssr_1") + col("ssr_2")) <= 0,
              lit(null).cast("double"))
              .otherwise(round(
                ((col("ssr_p") - col("ssr_1") - col("ssr_2")) / 2.0)
                  / ((col("ssr_1") + col("ssr_2"))
                    / (col("n") - 4).cast("double")), 6)).as("f_stat"))
      },
      Some("""WITH cen AS (
                SELECT date_diff('day', DATE '1970-01-01',
                    CAST(o_orderdate AS DATE)) AS d,
                  SUM(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS HUGEINT)) AS y
                FROM orders GROUP BY 1),
              sp AS (SELECT (MIN(d) + MAX(d)) // 2 AS sp FROM cen),
              seg AS (
                SELECT CASE WHEN d <= sp THEN 1 ELSE 2 END AS h,
                  CAST(count(*) AS BIGINT) AS n,
                  SUM(CAST(d AS HUGEINT)) AS sx, SUM(y) AS sy,
                  SUM(CAST(d AS HUGEINT) * d) AS sxx,
                  SUM(CAST(d AS HUGEINT) * y) AS sxy,
                  SUM(y * y) AS syy
                FROM cen, sp GROUP BY 1),
              wide AS (
                SELECT CAST(SUM(n) AS BIGINT) AS n,
                  CAST(SUM(CASE WHEN h = 1 THEN n END) AS BIGINT) AS n1,
                  CAST(SUM(CASE WHEN h = 2 THEN n END) AS BIGINT) AS n2,
                  SUM(sx) AS psx, SUM(sy) AS psy, SUM(sxx) AS psxx,
                  SUM(sxy) AS psxy, SUM(syy) AS psyy,
                  SUM(CASE WHEN h = 1 THEN sx END) AS sx1,
                  SUM(CASE WHEN h = 1 THEN sy END) AS sy1,
                  SUM(CASE WHEN h = 1 THEN sxx END) AS sxx1,
                  SUM(CASE WHEN h = 1 THEN sxy END) AS sxy1,
                  SUM(CASE WHEN h = 1 THEN syy END) AS syy1,
                  SUM(CASE WHEN h = 2 THEN sx END) AS sx2,
                  SUM(CASE WHEN h = 2 THEN sy END) AS sy2,
                  SUM(CASE WHEN h = 2 THEN sxx END) AS sxx2,
                  SUM(CASE WHEN h = 2 THEN sxy END) AS sxy2,
                  SUM(CASE WHEN h = 2 THEN syy END) AS syy2
                FROM seg),
              ssrs AS (
                SELECT n, n1, n2,
                  CASE WHEN (CAST(psxx AS DOUBLE) - CAST(psx AS DOUBLE)
                      * CAST(psx AS DOUBLE) / CAST(n AS DOUBLE)) <= 0
                    THEN NULL
                    ELSE (CAST(psyy AS DOUBLE) - CAST(psy AS DOUBLE)
                      * CAST(psy AS DOUBLE) / CAST(n AS DOUBLE))
                      - (CAST(psxy AS DOUBLE) - CAST(psx AS DOUBLE)
                        * CAST(psy AS DOUBLE) / CAST(n AS DOUBLE))
                        * (CAST(psxy AS DOUBLE) - CAST(psx AS DOUBLE)
                          * CAST(psy AS DOUBLE) / CAST(n AS DOUBLE))
                        / (CAST(psxx AS DOUBLE) - CAST(psx AS DOUBLE)
                          * CAST(psx AS DOUBLE) / CAST(n AS DOUBLE))
                    END AS ssr_p,
                  CASE WHEN (CAST(sxx1 AS DOUBLE) - CAST(sx1 AS DOUBLE)
                      * CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE)) <= 0
                    THEN NULL
                    ELSE (CAST(syy1 AS DOUBLE) - CAST(sy1 AS DOUBLE)
                      * CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE))
                      - (CAST(sxy1 AS DOUBLE) - CAST(sx1 AS DOUBLE)
                        * CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE))
                        * (CAST(sxy1 AS DOUBLE) - CAST(sx1 AS DOUBLE)
                          * CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE))
                        / (CAST(sxx1 AS DOUBLE) - CAST(sx1 AS DOUBLE)
                          * CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE))
                    END AS ssr_1,
                  CASE WHEN (CAST(sxx2 AS DOUBLE) - CAST(sx2 AS DOUBLE)
                      * CAST(sx2 AS DOUBLE) / CAST(n2 AS DOUBLE)) <= 0
                    THEN NULL
                    ELSE (CAST(syy2 AS DOUBLE) - CAST(sy2 AS DOUBLE)
                      * CAST(sy2 AS DOUBLE) / CAST(n2 AS DOUBLE))
                      - (CAST(sxy2 AS DOUBLE) - CAST(sx2 AS DOUBLE)
                        * CAST(sy2 AS DOUBLE) / CAST(n2 AS DOUBLE))
                        * (CAST(sxy2 AS DOUBLE) - CAST(sx2 AS DOUBLE)
                          * CAST(sy2 AS DOUBLE) / CAST(n2 AS DOUBLE))
                        / (CAST(sxx2 AS DOUBLE) - CAST(sx2 AS DOUBLE)
                          * CAST(sx2 AS DOUBLE) / CAST(n2 AS DOUBLE))
                    END AS ssr_2
                FROM wide)
              SELECT n, n1, n2,
                CASE WHEN ssr_p IS NULL OR ssr_1 IS NULL
                    OR ssr_2 IS NULL OR n <= 4
                    OR (ssr_1 + ssr_2) <= 0 THEN NULL
                  ELSE round(((ssr_p - ssr_1 - ssr_2) / 2.0)
                    / ((ssr_1 + ssr_2) / CAST(n - 4 AS DOUBLE)), 6)
                  END AS f_stat
              FROM ssrs""")),

    // ── experiment power: minimum detectable effect of an A/B split ─────
    // Before running the test: with the observed purchase rate and a
    // 50/50 split of the current user population, what's the smallest
    // absolute/relative lift detectable at α=0.05, power 0.8?
    // MDE = (z_{α/2}+z_β)·√(2p(1−p)/n_arm). Users collapse first
    // (ONE census); p is an IEEE ratio of exact longs; the two z
    // constants are the same 17-digit literals in both engines; one √.
    // NULL-guarded degenerate rates.
    Q("q_power_mde",
      (s, dir) => {
        t(s, dir, "events")
          .groupBy("user_id")
          .agg(max((col("event_type") === "purchase").cast("long"))
            .as("conv"))
          .agg(count(lit(1)).cast("long").as("n_users"),
            sum(col("conv")).cast("long").as("n_conv"))
          .select(col("n_users"), col("n_conv"),
            (col("n_conv").cast("double") / col("n_users").cast("double"))
              .as("p"),
            expr("n_users div 2").cast("long").as("n_arm"))
          .select(col("n_users"), col("n_conv"),
            round(col("p"), 12).as("p"), col("n_arm"),
            when(col("n_arm") <= 0 || col("p") <= 0 || col("p") >= 1,
              lit(null).cast("double"))
              .otherwise(round(
                lit(1.959963984540054 + 0.8416212335729143)
                  * sqrt(lit(2.0) * col("p") * (lit(1.0) - col("p"))
                    / col("n_arm").cast("double")), 12)).as("mde_abs"))
          .select(col("n_users"), col("n_conv"), col("p"), col("n_arm"),
            col("mde_abs"),
            when(col("mde_abs").isNull || col("p") <= 0,
              lit(null).cast("double"))
              .otherwise(round(col("mde_abs") / col("p"), 12))
              .as("mde_rel"))
      },
      Some("""WITH users AS (
                SELECT user_id,
                  MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                    END) AS conv
                FROM events GROUP BY 1),
              agg AS (
                SELECT CAST(count(*) AS BIGINT) AS n_users,
                  CAST(SUM(conv) AS BIGINT) AS n_conv
                FROM users),
              base AS (
                SELECT n_users, n_conv,
                  CAST(n_conv AS DOUBLE) / CAST(n_users AS DOUBLE) AS p,
                  CAST(n_users // 2 AS BIGINT) AS n_arm
                FROM agg),
              mde AS (
                SELECT n_users, n_conv, round(p, 12) AS p, n_arm,
                  CASE WHEN n_arm <= 0 OR p <= 0 OR p >= 1 THEN NULL
                    ELSE round((1.959963984540054 + 0.8416212335729143)
                      * sqrt(2.0 * p * (1.0 - p)
                        / CAST(n_arm AS DOUBLE)), 12) END AS mde_abs
                FROM base)
              SELECT n_users, n_conv, p, n_arm, mde_abs,
                CASE WHEN mde_abs IS NULL OR p <= 0 THEN NULL
                  ELSE round(mde_abs / p, 12) END AS mde_rel
              FROM mde""")),

    // ── optimal decision-stump split by Gini impurity ───────────────────
    // The one-feature decision tree: which value threshold best
    // separates purchases? The corpus collapses to the value-domain-
    // bounded (cents → n, pos) census; prefix counts ride ONE
    // cents-ordered window, every candidate split's weighted impurity
    // is a row-local IEEE expression of exact longs, and the argmin
    // pick is an ORDER BY (score, cents) LIMIT 1 over identical
    // doubles — deterministic in both engines. Baseline Gini and the
    // gain come off the same totals row.
    Q("q_gini_split",
      (s, dir) => {
        val wv = Window.orderBy("cents")
          .rowsBetween(Window.unboundedPreceding, 0)
        val cen = Artifacts.persist(t(s, dir, "events")
          .select((dec2(col("value")) * 100).cast("long").as("cents"),
            (col("event_type") === "purchase").cast("long").as("pos"))
          .groupBy("cents")
          .agg(count(lit(1)).cast("long").as("n"),
            sum(col("pos")).cast("long").as("p"))
          .withColumn("nl", sum(col("n")).over(wv).cast("long"))
          .withColumn("pl", sum(col("p")).over(wv).cast("long")))
        val tot = cen.agg(max(col("nl")).cast("long").as("nt"),
          max(col("pl")).cast("long").as("pt"))
        val scored = cen.crossJoin(broadcast(tot))
          .filter(col("nl") < col("nt"))
          .select(col("cents"), col("nl"), col("pl"), col("nt"),
            col("pt"),
            (col("nl") - col("pl")).as("ql"),
            (col("nt") - col("nl")).as("nr"),
            (col("pt") - col("pl")).as("pr"))
          .select(col("cents"), col("nt"), col("pt"),
            round((
              (col("nl").cast("double")
                - (col("pl").cast(dec38) * col("pl")).cast("double")
                  / col("nl").cast("double")
                - (col("ql").cast(dec38) * col("ql")).cast("double")
                  / col("nl").cast("double"))
              + (col("nr").cast("double")
                - (col("pr").cast(dec38) * col("pr")).cast("double")
                  / col("nr").cast("double")
                - ((col("nr") - col("pr")).cast(dec38)
                  * (col("nr") - col("pr")))
                  .cast("double") / col("nr").cast("double")))
              / col("nt").cast("double"), 12).as("score"))
        val best = scored.orderBy(col("score"), col("cents")).limit(1)
        best.select(
          (col("cents").cast("double") / 100.0).as("threshold"),
          col("score").as("split_gini"),
          round(lit(1.0)
            - (col("pt").cast("double") / col("nt").cast("double"))
              * (col("pt").cast("double") / col("nt").cast("double"))
            - ((col("nt") - col("pt")).cast("double")
              / col("nt").cast("double"))
              * ((col("nt") - col("pt")).cast("double")
                / col("nt").cast("double")), 12).as("baseline_gini"))
          .select(col("threshold"), col("split_gini"),
            col("baseline_gini"),
            round(col("baseline_gini") - col("split_gini"), 12)
              .as("gain"))
      },
      Some("""WITH cen AS (
                SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS cents,
                  CAST(count(*) AS BIGINT) AS n,
                  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1
                    ELSE 0 END) AS BIGINT) AS p
                FROM events GROUP BY 1),
              pre AS (
                SELECT cents,
                  CAST(SUM(n) OVER w AS BIGINT) AS nl,
                  CAST(SUM(p) OVER w AS BIGINT) AS pl
                FROM cen
                WINDOW w AS (ORDER BY cents
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
              tot AS (
                SELECT CAST(MAX(nl) AS BIGINT) AS nt,
                  CAST(MAX(pl) AS BIGINT) AS pt
                FROM pre),
              scored AS (
                SELECT cents, nt, pt,
                  round((
                    (CAST(nl AS DOUBLE)
                      - CAST(CAST(pl AS HUGEINT) * pl AS DOUBLE)
                        / CAST(nl AS DOUBLE)
                      - CAST(CAST(nl - pl AS HUGEINT) * (nl - pl)
                          AS DOUBLE)
                        / CAST(nl AS DOUBLE))
                    + (CAST(nt - nl AS DOUBLE)
                      - CAST(CAST(pt - pl AS HUGEINT) * (pt - pl)
                          AS DOUBLE)
                        / CAST(nt - nl AS DOUBLE)
                      - CAST(CAST((nt - nl) - (pt - pl) AS HUGEINT)
                          * ((nt - nl) - (pt - pl)) AS DOUBLE)
                        / CAST(nt - nl AS DOUBLE)))
                    / CAST(nt AS DOUBLE), 12) AS score
                FROM pre, tot WHERE nl < nt),
              best AS (
                SELECT * FROM scored ORDER BY score, cents LIMIT 1)
              SELECT CAST(cents AS DOUBLE) / 100.0 AS threshold,
                score AS split_gini,
                round(1.0
                  - (CAST(pt AS DOUBLE) / CAST(nt AS DOUBLE))
                    * (CAST(pt AS DOUBLE) / CAST(nt AS DOUBLE))
                  - (CAST(nt - pt AS DOUBLE) / CAST(nt AS DOUBLE))
                    * (CAST(nt - pt AS DOUBLE) / CAST(nt AS DOUBLE)), 12)
                  AS baseline_gini,
                round(round(1.0
                  - (CAST(pt AS DOUBLE) / CAST(nt AS DOUBLE))
                    * (CAST(pt AS DOUBLE) / CAST(nt AS DOUBLE))
                  - (CAST(nt - pt AS DOUBLE) / CAST(nt AS DOUBLE))
                    * (CAST(nt - pt AS DOUBLE) / CAST(nt AS DOUBLE)), 12)
                  - score, 12) AS gain
              FROM best""")),

    // ── OLS influence diagnostics: leverage + Cook's distance ───────────
    // Which days DRIVE the revenue trend fit? Leverage
    // hᵢ = 1/n + (dᵢ−d̄)²/Sxx and Cook's D = e²h/(k·s²·(1−h)²) per
    // day, top-10 by influence. The persisted day census feeds the
    // OLS sums, the residual pass and the SSE fold (day-pinned); h is
    // row-local IEEE of exact sums, and the top-10 pick is an ORDER
    // BY (rounded D DESC, day) LIMIT over identical doubles.
    Q("q_influence_diagnostics",
      (s, dir) => {
        val cen = Artifacts.persist(t(s, dir, "orders")
          .select(
            expr("datediff(CAST(o_orderdate AS DATE), DATE'1970-01-01')")
              .as("d"),
            (dec2(col("o_totalprice")) * 100).cast("long").as("cents"))
          .groupBy("d")
          .agg(sum(col("cents").cast(dec38)).as("y")))
        val fit = cen.agg(
          count(lit(1)).cast("long").as("n"),
          sum(col("d").cast(dec38)).as("st"),
          sum(col("y")).as("sy"),
          sum(col("d").cast(dec38) * col("d")).as("stt"),
          sum(col("d").cast(dec38) * col("y")).as("sty"))
          .select(col("n"), col("st"), col("stt"),
            when(col("n") * col("stt") - col("st") * col("st") === 0,
              lit(null).cast("double"))
              .otherwise((col("n") * col("sty") - col("st") * col("sy"))
                .cast("double")
                / (col("n") * col("stt") - col("st") * col("st"))
                  .cast("double")).as("slope"),
            col("sy"))
          .select(col("n"), col("st"), col("stt"), col("slope"),
            ((col("sy").cast("double")
              - col("slope") * col("st").cast("double"))
              / col("n").cast("double")).as("icept"))
        val res = Artifacts.persist(cen.crossJoin(broadcast(fit))
          .select(col("d"),
            round(col("y").cast("double") - col("icept")
              - col("slope") * col("d").cast("double"), 6).as("e"),
            round(lit(1.0) / col("n").cast("double")
              + (col("d").cast("double")
                - col("st").cast("double") / col("n").cast("double"))
                * (col("d").cast("double")
                  - col("st").cast("double") / col("n").cast("double"))
                / (col("stt").cast("double")
                  - col("st").cast("double") * col("st").cast("double")
                    / col("n").cast("double")), 12).as("h")))
        val sse = res.agg(
          round(expr("""aggregate(array_sort(collect_list(
                          struct(d, e * e))),
                        CAST(0 AS DOUBLE), (a, x) -> a + x.col2)"""), 6)
            .as("sse"),
          count(lit(1)).cast("long").as("n"))
        res.crossJoin(broadcast(sse))
          .select(col("d"), col("e"), col("h"),
            when(col("n") <= 2 || col("sse") <= 0 || col("h") >= 1,
              lit(null).cast("double"))
              .otherwise(round(col("e") * col("e") * col("h")
                / (lit(2.0) * (col("sse") / (col("n") - 2)
                  .cast("double"))
                  * (lit(1.0) - col("h")) * (lit(1.0) - col("h"))), 9))
              .as("cooks_d"))
          .orderBy(col("cooks_d").desc_nulls_last, col("d"))
          .limit(10)
      },
      Some("""WITH cen AS (
                SELECT date_diff('day', DATE '1970-01-01',
                    CAST(o_orderdate AS DATE)) AS d,
                  SUM(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS HUGEINT)) AS y
                FROM orders GROUP BY 1),
              fit AS (
                SELECT CAST(count(*) AS BIGINT) AS n,
                  SUM(CAST(d AS HUGEINT)) AS st, SUM(y) AS sy,
                  SUM(CAST(d AS HUGEINT) * d) AS stt,
                  SUM(CAST(d AS HUGEINT) * y) AS sty
                FROM cen),
              ab AS (
                SELECT n, st, stt,
                  CASE WHEN n * stt - st * st = 0 THEN NULL
                    ELSE CAST(n * sty - st * sy AS DOUBLE)
                      / CAST(n * stt - st * st AS DOUBLE) END AS slope,
                  sy
                FROM fit),
              ab2 AS (
                SELECT n, st, stt, slope,
                  (CAST(sy AS DOUBLE) - slope * CAST(st AS DOUBLE))
                    / CAST(n AS DOUBLE) AS icept
                FROM ab),
              res AS (
                SELECT d,
                  round(CAST(y AS DOUBLE) - icept
                    - slope * CAST(d AS DOUBLE), 6) AS e,
                  round(1.0 / CAST(n AS DOUBLE)
                    + (CAST(d AS DOUBLE)
                      - CAST(st AS DOUBLE) / CAST(n AS DOUBLE))
                      * (CAST(d AS DOUBLE)
                        - CAST(st AS DOUBLE) / CAST(n AS DOUBLE))
                      / (CAST(stt AS DOUBLE)
                        - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)
                          / CAST(n AS DOUBLE)), 12) AS h
                FROM cen, ab2),
              sse AS (
                SELECT round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(e * e ORDER BY d)), (a, x) -> a + x), 6)
                    AS sse,
                  CAST(count(*) AS BIGINT) AS n
                FROM res)
              SELECT d, e, h,
                CASE WHEN n <= 2 OR sse <= 0 OR h >= 1 THEN NULL
                  ELSE round(e * e * h
                    / (2.0 * (sse / CAST(n - 2 AS DOUBLE))
                      * (1.0 - h) * (1.0 - h)), 9) END AS cooks_d
              FROM res, sse
              ORDER BY cooks_d DESC NULLS LAST, d LIMIT 10""")),

    // ── Cronbach's alpha: internal consistency of the event "items" ─────
    // Treat the 5 event types as instrument items and each user's
    // per-type spend as the item score (absent cell = 0): are the
    // items measuring one construct? The stream collapses ONCE to the
    // (user, item) exact-cents census (persisted: item moments and
    // user totals both read it); absent cells contribute 0 to every
    // Σx/Σx², so only N needs the zero-fill — no dense grid is ever
    // materialized. Item variances are IEEE of exact DECIMAL sums,
    // the Σvar_i cross-item fold is item-pinned, α is one guarded
    // expression at the end.
    Q("q_cronbach_alpha",
      (s, dir) => {
        val cell = Artifacts.persist(t(s, dir, "events")
          .select(col("user_id"), col("event_type").as("item"),
            (dec2(col("value")) * 100).cast("long").as("cents"))
          .groupBy("user_id", "item")
          .agg(sum(col("cents").cast(dec38)).as("x")))
        val nUsers = cell.select(col("user_id")).distinct()
          .agg(count(lit(1)).cast("long").as("n_users"))
        val itemStats = cell.groupBy("item")
          .agg(sum(col("x")).as("s1"), sum(col("x") * col("x")).as("s2"))
        val totStats = cell.groupBy("user_id")
          .agg(sum(col("x")).as("tot"))
          .agg(sum(col("tot")).as("t1"),
            sum(col("tot") * col("tot")).as("t2"))
        val itemVar = itemStats.crossJoin(broadcast(nUsers))
          .select(col("item"),
            round(col("s2").cast("double") / col("n_users").cast("double")
              - (col("s1").cast("double") / col("n_users").cast("double"))
                * (col("s1").cast("double")
                  / col("n_users").cast("double")), 6).as("v"))
          .agg(count(lit(1)).cast("long").as("k"),
            expr("""aggregate(array_sort(collect_list(struct(item, v))),
                    CAST(0 AS DOUBLE), (a, x) -> a + x.v)""")
              .as("sum_item_var"))
        itemVar.crossJoin(broadcast(totStats))
          .crossJoin(broadcast(nUsers))
          .select(col("n_users"), col("k"), col("sum_item_var"),
            round(col("t2").cast("double") / col("n_users").cast("double")
              - (col("t1").cast("double") / col("n_users").cast("double"))
                * (col("t1").cast("double")
                  / col("n_users").cast("double")), 6).as("total_var"))
          .select(col("n_users"), col("k"),
            col("sum_item_var"), col("total_var"),
            when(col("k") <= 1 || col("total_var") <= 0,
              lit(null).cast("double"))
              .otherwise(round(col("k").cast("double")
                / (col("k") - 1).cast("double")
                * (lit(1.0) - col("sum_item_var") / col("total_var")), 12))
              .as("alpha"))
      },
      Some("""WITH cell AS (
                SELECT user_id, event_type AS item,
                  SUM(CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS HUGEINT)) AS x
                FROM events GROUP BY 1, 2),
              nu AS (
                SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
                FROM cell),
              ist AS (
                SELECT item, SUM(x) AS s1, SUM(x * x) AS s2
                FROM cell GROUP BY 1),
              iv AS (
                SELECT item,
                  round(CAST(s2 AS DOUBLE) / CAST(n_users AS DOUBLE)
                    - (CAST(s1 AS DOUBLE) / CAST(n_users AS DOUBLE))
                      * (CAST(s1 AS DOUBLE) / CAST(n_users AS DOUBLE)), 6)
                    AS v
                FROM ist, nu),
              siv AS (
                SELECT CAST(count(*) AS BIGINT) AS k,
                  list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(v ORDER BY item)), (a, x) -> a + x)
                    AS sum_item_var
                FROM iv),
              ut AS (
                SELECT user_id, SUM(x) AS tot FROM cell GROUP BY 1),
              tv AS (
                SELECT SUM(tot) AS t1, SUM(tot * tot) AS t2 FROM ut),
              fin AS (
                SELECT n_users, k, sum_item_var,
                  round(CAST(t2 AS DOUBLE) / CAST(n_users AS DOUBLE)
                    - (CAST(t1 AS DOUBLE) / CAST(n_users AS DOUBLE))
                      * (CAST(t1 AS DOUBLE) / CAST(n_users AS DOUBLE)), 6)
                    AS total_var
                FROM siv, tv, nu)
              SELECT n_users, k, sum_item_var, total_var,
                CASE WHEN k <= 1 OR total_var <= 0 THEN NULL
                  ELSE round(CAST(k AS DOUBLE) / CAST(k - 1 AS DOUBLE)
                    * (1.0 - sum_item_var / total_var), 12) END AS alpha
              FROM fin""")),

    // ── IPS / SNIPS off-policy value estimate ───────────────────────────
    // What would the "act when value > 50" policy earn, estimated from
    // logs of a randomized logger? Logged action a = 1{event_id%4=0}
    // (known propensities 1/4 vs 3/4 — the deterministic stand-in for
    // the logger's coin), reward = purchase. Importance weights 1/p ∈
    // {4, 4/3} are carried ×12 as EXACT integers (48, 16), so both
    // estimator numerators and the SNIPS denominator are exact longs
    // in ONE partial+final agg; the two estimates are single IEEE
    // divisions at the end. NULL-guarded for zero matched mass.
    Q("q_ips_estimator",
      (s, dir) => {
        t(s, dir, "events")
          .select(
            (pmod(col("event_id"), lit(4)) === 0).cast("int").as("a"),
            (col("value") > 50.0).cast("int").as("pi"),
            (col("event_type") === "purchase").cast("int").as("r"))
          .select(col("a"), col("r"),
            (col("pi") === col("a")).cast("long").as("m"),
            when(col("a") === 1, lit(48L)).otherwise(lit(16L)).as("w12"))
          .agg(count(lit(1)).cast("long").as("n"),
            sum(col("m")).cast("long").as("n_matched"),
            sum(col("m") * col("w12")).cast("long").as("sw12"),
            sum(col("m") * col("w12") * col("r")).cast("long")
              .as("swr12"))
          .select(col("n"), col("n_matched"),
            round(col("swr12").cast("double")
              / (lit(12.0) * col("n").cast("double")), 12).as("ips"),
            when(col("sw12") === 0, lit(null).cast("double"))
              .otherwise(round(col("swr12").cast("double")
                / col("sw12").cast("double"), 12)).as("snips"))
      },
      Some("""WITH logs AS (
                SELECT CASE WHEN ((event_id % 4) + 4) % 4 = 0
                    THEN 1 ELSE 0 END AS a,
                  CASE WHEN value > 50.0 THEN 1 ELSE 0 END AS pi,
                  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                    AS r
                FROM events),
              w AS (
                SELECT a, r,
                  CASE WHEN pi = a THEN 1 ELSE 0 END AS m,
                  CASE WHEN a = 1 THEN 48 ELSE 16 END AS w12
                FROM logs),
              agg AS (
                SELECT CAST(count(*) AS BIGINT) AS n,
                  CAST(SUM(m) AS BIGINT) AS n_matched,
                  CAST(SUM(m * w12) AS BIGINT) AS sw12,
                  CAST(SUM(m * w12 * r) AS BIGINT) AS swr12
                FROM w)
              SELECT n, n_matched,
                round(CAST(swr12 AS DOUBLE)
                  / (12.0 * CAST(n AS DOUBLE)), 12) AS ips,
                CASE WHEN sw12 = 0 THEN NULL
                  ELSE round(CAST(swr12 AS DOUBLE)
                    / CAST(sw12 AS DOUBLE), 12) END AS snips
              FROM agg""")),

    // ── odds ratio / relative risk of the afternoon→purchase 2×2 ────────
    // The epidemiological companion to q_mcnemar: exposure =
    // afternoon event (hour ≥ 12), outcome = purchase. ONE
    // partial+final agg to the exact 2×2; OR = ad/bc and RR are IEEE
    // ratios of exact DECIMAL products, ln(OR) is the only
    // transcendental and is 12-dec rounded. NULL-guarded zero cells.
    Q("q_odds_ratio",
      (s, dir) => {
        t(s, dir, "events")
          .select((hour(col("ts")) >= 12).cast("int").as("e"),
            (col("event_type") === "purchase").cast("int").as("o"))
          .agg(
            sum((col("e") * col("o")).cast("long")).cast("long").as("a"),
            sum((col("e") * (lit(1) - col("o"))).cast("long"))
              .cast("long").as("b"),
            sum(((lit(1) - col("e")) * col("o")).cast("long"))
              .cast("long").as("c"),
            sum(((lit(1) - col("e")) * (lit(1) - col("o"))).cast("long"))
              .cast("long").as("d"))
          .select(col("a"), col("b"), col("c"), col("d"),
            when(col("b") === 0 || col("c") === 0,
              lit(null).cast("double"))
              .otherwise((col("a").cast("decimal(38,0)") * col("d"))
                .cast("double")
                / (col("b").cast("decimal(38,0)") * col("c"))
                  .cast("double")).as("odds_ratio"),
            when(col("a") + col("b") === 0 || col("c") + col("d") === 0
              || col("c") === 0, lit(null).cast("double"))
              .otherwise((col("a").cast("double")
                / (col("a") + col("b")).cast("double"))
                / (col("c").cast("double")
                  / (col("c") + col("d")).cast("double")))
              .as("relative_risk"))
          .select(col("a"), col("b"), col("c"), col("d"),
            round(col("odds_ratio"), 12).as("odds_ratio"),
            round(col("relative_risk"), 12).as("relative_risk"),
            when(col("odds_ratio").isNull || col("odds_ratio") <= 0,
              lit(null).cast("double"))
              .otherwise(round(log(col("odds_ratio")), 12)).as("ln_or"))
      },
      Some("""WITH p AS (
                SELECT CASE WHEN hour(ts) >= 12 THEN 1 ELSE 0 END AS e,
                  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                    AS o
                FROM events),
              cc AS (
                SELECT CAST(SUM(e * o) AS BIGINT) AS a,
                  CAST(SUM(e * (1 - o)) AS BIGINT) AS b,
                  CAST(SUM((1 - e) * o) AS BIGINT) AS c,
                  CAST(SUM((1 - e) * (1 - o)) AS BIGINT) AS d
                FROM p),
              m AS (
                SELECT a, b, c, d,
                  CASE WHEN b = 0 OR c = 0 THEN NULL
                    ELSE CAST(CAST(a AS HUGEINT) * d AS DOUBLE)
                      / CAST(CAST(b AS HUGEINT) * c AS DOUBLE) END
                    AS odds_ratio,
                  CASE WHEN a + b = 0 OR c + d = 0 OR c = 0 THEN NULL
                    ELSE (CAST(a AS DOUBLE) / CAST(a + b AS DOUBLE))
                      / (CAST(c AS DOUBLE) / CAST(c + d AS DOUBLE)) END
                    AS relative_risk
                FROM cc)
              SELECT a, b, c, d,
                round(odds_ratio, 12) AS odds_ratio,
                round(relative_risk, 12) AS relative_risk,
                CASE WHEN odds_ratio IS NULL OR odds_ratio <= 0
                  THEN NULL
                  ELSE round(ln(odds_ratio), 12) END AS ln_or
              FROM m""")),

    // ── two-proportion z test: urgent vs rest completion rates ──────────
    // The pooled-variance z the A/B readouts (q_ab_test reads means,
    // q_srm reads allocation) don't give: is the fulfilled-order RATE
    // different between the urgent-priority slice and the rest?
    // z = (p₁ − p₂)/√(p̂(1−p̂)(1/n₁ + 1/n₂)) with p̂ the pooled rate.
    // FP-free discipline: one orders scan folds to a 4-cell census
    // (partial+final agg), every output is a division/sqrt chain over
    // exact integers mirrored operation-for-operation — identical
    // doubles both engines, zero rounding.
    Q("q_two_proportion_z",
      (s, dir) => {
        t(s, dir, "orders")
          .select(
            when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
              .otherwise(0L).as("e"),
            when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("y"))
          .agg(sum(col("e")).cast("long").as("n1"),
            sum(col("e") * col("y")).cast("long").as("x1"),
            sum(lit(1L) - col("e")).cast("long").as("n2"),
            sum((lit(1L) - col("e")) * col("y")).cast("long").as("x2"))
          .select(col("n1"), col("x1"), col("n2"), col("x2"),
            (col("x1").cast("double") / col("n1").cast("double"))
              .as("p1"),
            (col("x2").cast("double") / col("n2").cast("double"))
              .as("p2"),
            ((col("x1") + col("x2")).cast("double")
              / (col("n1") + col("n2")).cast("double")).as("pooled"))
          .select(col("n1"), col("x1"), col("n2"), col("x2"),
            col("p1"), col("p2"), col("pooled"),
            when(col("n1") === 0 || col("n2") === 0
              || col("pooled") === 0.0 || col("pooled") === 1.0,
              lit(null).cast("double"))
              .otherwise((col("p1") - col("p2"))
                / sqrt(col("pooled") * (lit(1.0) - col("pooled"))
                  * (lit(1.0) / col("n1").cast("double")
                    + lit(1.0) / col("n2").cast("double"))))
              .as("z"))
      },
      Some("""WITH cc AS (
                SELECT
                  CAST(SUM(CASE WHEN o_orderpriority IN
                    ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)
                    AS n1,
                  CAST(SUM(CASE WHEN o_orderpriority IN
                    ('1-URGENT', '2-HIGH') AND o_orderstatus = 'F'
                    THEN 1 ELSE 0 END) AS BIGINT) AS x1,
                  CAST(SUM(CASE WHEN o_orderpriority NOT IN
                    ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)
                    AS n2,
                  CAST(SUM(CASE WHEN o_orderpriority NOT IN
                    ('1-URGENT', '2-HIGH') AND o_orderstatus = 'F'
                    THEN 1 ELSE 0 END) AS BIGINT) AS x2
                FROM orders),
              r AS (
                SELECT n1, x1, n2, x2,
                  CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS p1,
                  CAST(x2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS p2,
                  CAST(x1 + x2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE)
                    AS pooled
                FROM cc)
              SELECT n1, x1, n2, x2, p1, p2, pooled,
                CASE WHEN n1 = 0 OR n2 = 0 OR pooled = 0.0
                    OR pooled = 1.0 THEN NULL
                  ELSE (p1 - p2) / sqrt(pooled * (1.0 - pooled)
                    * (1.0 / CAST(n1 AS DOUBLE)
                      + 1.0 / CAST(n2 AS DOUBLE))) END AS z
              FROM r""")),

    // ── Conover squared-ranks test: nonparametric variance equality ─────
    // The rank-based alternative to q_levene (which trusts means): are
    // urgent and non-urgent order values equally DISPERSED? Ranks of
    // |x − group mean| over the pooled sample, T = Σ_{g1} R². Numeric
    // discipline for scale: deviations stay exact by multiplying
    // through (n₂·|n₁x − S₁| vs n₁·|n₂x − S₂| — cross-group comparable
    // integers), midranks come from RangeRank prefix sums over the
    // value census (doubled to stay integral under ties), and the R²/R⁴
    // moments — whose raw integer forms would overflow ANY fixed
    // decimal at 100 TB ((2N)⁴ > 10³⁸ past N ~ 10⁹) — are carried as
    // FIXED-POINT integers of the RELATIVE rank (round(rel^k·10¹⁸)):
    // identical doubles both engines → identical integers → order-free
    // exact sums at any N. z is scale-invariant in rel units.
    Q("q_conover_squared_ranks",
      (s, dir) => {
        val dec38 = DecimalType(38, 0)
        // round 14 (the §21 r13 seed): the |v·n_g − s_g| deviation
        // census, its prefixes, and the group totals are the pinned
        // [[Censuses.rankedConoverDev]] artifact — the per-query work
        // left is row-local midrank arithmetic + ONE agg
        val cum = Censuses.rankedConoverDev(s, dir)
        val terms = cum
          .select(col("c1"), col("c2"), col("n1"), col("n2"),
            (((col("off1") + col("off2")) * 2 + col("c1") + col("c2")
              + 1).cast("double")
              / ((col("n1") + col("n2")).cast("double") * 2.0)).as("rel"))
          .select(col("c1"), col("c2"), col("n1"), col("n2"),
            round(col("rel") * col("rel") * 1e18, 0).cast(dec38).as("q2"),
            round(col("rel") * col("rel") * col("rel") * col("rel")
              * 1e18, 0).cast(dec38).as("q4"))
        terms.groupBy("n1", "n2").agg(
            sum(col("c1").cast(dec38) * col("q2")).as("t1"),
            sum((col("c1") + col("c2")).cast(dec38) * col("q2")).as("a2"),
            sum((col("c1") + col("c2")).cast(dec38) * col("q4")).as("b4"))
          .select(col("n1"), col("n2"),
            (col("t1").cast("double") / 1e18).as("t_rel"),
            (col("a2").cast("double") / 1e18).as("a_rel"),
            (col("b4").cast("double") / 1e18).as("b_rel"))
          .select(col("n1"), col("n2"),
            round(col("t_rel"), 6).as("t_rel"),
            round(
              (col("t_rel") - col("n1").cast("double") * col("a_rel")
                / (col("n1") + col("n2")).cast("double"))
              / sqrt(col("n1").cast("double") * col("n2").cast("double")
                / ((col("n1") + col("n2")).cast("double")
                  * (col("n1") + col("n2") - 1).cast("double"))
                * (col("b_rel") - col("a_rel") * col("a_rel")
                  / (col("n1") + col("n2")).cast("double"))), 6)
              .as("z_conover"))
      },
      Some("""WITH base AS (
                SELECT CASE WHEN o_orderpriority IN
                    ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END AS tr,
                  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS v
                FROM orders),
              gs AS (
                SELECT tr, CAST(count(*) AS BIGINT) AS n,
                  SUM(CAST(v AS HUGEINT)) AS sv
                FROM base GROUP BY 1),
              wide AS (
                SELECT a.n AS n1, a.sv AS s1, b.n AS n2, b.sv AS s2
                FROM gs a, gs b WHERE a.tr = 1 AND b.tr = 0),
              census AS (
                SELECT u, CAST(SUM(tr) AS BIGINT) AS c1,
                  CAST(SUM(1 - tr) AS BIGINT) AS c2
                FROM (
                  SELECT tr,
                    CASE WHEN tr = 1
                      THEN abs(CAST(v AS HUGEINT) * n1 - s1) * n2
                      ELSE abs(CAST(v AS HUGEINT) * n2 - s2) * n1
                      END AS u
                  FROM base, wide)
                GROUP BY 1),
              cum AS (
                SELECT c1, c2,
                  COALESCE(SUM(c1) OVER (ORDER BY u
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS off1,
                  COALESCE(SUM(c2) OVER (ORDER BY u
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS off2
                FROM census),
              terms AS (
                SELECT c1, c2,
                  CAST(round(rel * rel * 1e18) AS HUGEINT) AS q2,
                  CAST(round(rel * rel * rel * rel * 1e18) AS HUGEINT)
                    AS q4
                FROM (
                  SELECT c1, c2,
                    CAST((off1 + off2) * 2 + c1 + c2 + 1 AS DOUBLE)
                      / (CAST(n1 + n2 AS DOUBLE) * 2.0) AS rel
                  FROM cum, wide)),
              agg AS (
                SELECT SUM(CAST(c1 AS HUGEINT) * q2) AS t1,
                  SUM(CAST(c1 + c2 AS HUGEINT) * q2) AS a2,
                  SUM(CAST(c1 + c2 AS HUGEINT) * q4) AS b4
                FROM terms),
              rels AS (
                SELECT n1, n2,
                  CAST(t1 AS DOUBLE) / 1e18 AS t_rel,
                  CAST(a2 AS DOUBLE) / 1e18 AS a_rel,
                  CAST(b4 AS DOUBLE) / 1e18 AS b_rel
                FROM agg, wide)
              SELECT n1, n2, round(t_rel, 6) AS t_rel,
                round((t_rel - CAST(n1 AS DOUBLE) * a_rel
                    / CAST(n1 + n2 AS DOUBLE))
                  / sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                    / (CAST(n1 + n2 AS DOUBLE)
                      * CAST(n1 + n2 - 1 AS DOUBLE))
                    * (b_rel - a_rel * a_rel
                      / CAST(n1 + n2 AS DOUBLE))), 6) AS z_conover
              FROM rels""")),

    // ── Sobel mediation: does basket size carry the priority effect? ────
    // The causal-chain readout q_diff_in_diff/q_cuped don't give: how
    // much of priority's (X) effect on order value (Y) flows THROUGH
    // line count (M)? Two OLS fits from ONE pass of exact dec38 sums
    // (n, Σ of every first/second moment): a = X→M slope, b = M→Y|X
    // partial slope via the closed-form normal equations, Sobel
    // z = ab/√(a²se_b² + b²se_a²). Centered sums n·Σab − ΣaΣb stay in
    // dec38 (≤10³⁶ at the design point), then leave the exact domain
    // at ONE double cast each — the coefficient/SE chains multiply
    // n²-scale values whose products would overflow ANY decimal, so
    // they run in doubles on identical operands, mirrored op-for-op.
    Q("q_sobel_mediation",
      (s, dir) => {
        val dec38 = DecimalType(38, 0)
        val lines = t(s, dir, "lineitem")
          .groupBy("l_orderkey").agg(count(lit(1)).cast("long").as("m"))
        val sums = t(s, dir, "orders")
          .join(lines, col("o_orderkey") === col("l_orderkey"), "left")
          .select(
            when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
              .otherwise(0L).as("x"),
            coalesce(col("m"), lit(0L)).as("m"),
            (dec2(col("o_totalprice")) * 100).cast("long").as("y"))
          .agg(count(lit(1)).cast("long").as("n"),
            sum(col("x").cast(dec38)).as("sx"),
            sum(col("m").cast(dec38)).as("sm"),
            sum(col("y").cast(dec38)).as("sy"),
            sum((col("x") * col("m")).cast(dec38)).as("sxm"),
            sum((col("x") * col("y")).cast(dec38)).as("sxy"),
            sum(col("m").cast(dec38) * col("y")).as("smy"),
            sum((col("x") * col("x")).cast(dec38)).as("sxx"),
            sum((col("m") * col("m")).cast(dec38)).as("smm"),
            sum(col("y").cast(dec38) * col("y")).as("syy"))
        val cs = sums.select(col("n"),
          ((col("n").cast(dec38) * col("sxx") - col("sx") * col("sx"))
            .cast("double") / col("n").cast("double")).as("csxx"),
          ((col("n").cast(dec38) * col("smm") - col("sm") * col("sm"))
            .cast("double") / col("n").cast("double")).as("csmm"),
          ((col("n").cast(dec38) * col("syy") - col("sy") * col("sy"))
            .cast("double") / col("n").cast("double")).as("csyy"),
          ((col("n").cast(dec38) * col("sxm") - col("sx") * col("sm"))
            .cast("double") / col("n").cast("double")).as("csxm"),
          ((col("n").cast(dec38) * col("sxy") - col("sx") * col("sy"))
            .cast("double") / col("n").cast("double")).as("csxy"),
          ((col("n").cast(dec38) * col("smy") - col("sm") * col("sy"))
            .cast("double") / col("n").cast("double")).as("csmy"))
        cs.select(col("n"),
            (col("csmm") * col("csxx") - col("csxm") * col("csxm"))
              .as("den"),
            col("csxx"), col("csmm"), col("csyy"), col("csxm"),
            col("csxy"), col("csmy"))
          .select(col("n"),
            (col("csxm") / col("csxx")).as("a"),
            ((col("csmy") * col("csxx") - col("csxm") * col("csxy"))
              / col("den")).as("b"),
            ((col("csxy") * col("csmm") - col("csxm") * col("csmy"))
              / col("den")).as("c"),
            col("den"), col("csxx"), col("csmm"), col("csyy"),
            col("csxm"), col("csxy"), col("csmy"))
          .select(col("n"), col("a"), col("b"), col("c"),
            (((col("csmm") - col("csxm") * col("csxm") / col("csxx"))
              / (col("n") - 2).cast("double")) / col("csxx"))
              .as("se2_a"),
            (((col("csyy") - col("b") * col("csmy")
              - col("c") * col("csxy"))
              / (col("n") - 3).cast("double")) * col("csxx")
              / col("den")).as("se2_b"))
          .select(col("n"), round(col("a"), 6).as("a_path"),
            round(col("b"), 6).as("b_path"),
            round(col("c"), 6).as("direct_c"),
            round(col("a") * col("b")
              / sqrt(col("a") * col("a") * col("se2_b")
                + col("b") * col("b") * col("se2_a")), 6).as("sobel_z"),
            when(col("c") + col("a") * col("b") === 0.0,
              lit(null).cast("double"))
              .otherwise(round(col("a") * col("b")
                / (col("c") + col("a") * col("b")), 6))
              .as("prop_mediated"))
      },
      Some("""WITH lines AS (
                SELECT l_orderkey, CAST(count(*) AS BIGINT) AS m
                FROM lineitem GROUP BY 1),
              base AS (
                SELECT CASE WHEN o_orderpriority IN
                    ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END AS x,
                  COALESCE(m, 0) AS m,
                  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS y
                FROM orders LEFT JOIN lines ON o_orderkey = l_orderkey),
              sums AS (
                SELECT CAST(count(*) AS BIGINT) AS n,
                  SUM(CAST(x AS HUGEINT)) AS sx,
                  SUM(CAST(m AS HUGEINT)) AS sm,
                  SUM(CAST(y AS HUGEINT)) AS sy,
                  SUM(CAST(x * m AS HUGEINT)) AS sxm,
                  SUM(CAST(x * y AS HUGEINT)) AS sxy,
                  SUM(CAST(m AS HUGEINT) * y) AS smy,
                  SUM(CAST(x * x AS HUGEINT)) AS sxx,
                  SUM(CAST(m * m AS HUGEINT)) AS smm,
                  SUM(CAST(y AS HUGEINT) * y) AS syy
                FROM base),
              cs AS (
                SELECT n,
                  CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE)
                    / CAST(n AS DOUBLE) AS csxx,
                  CAST(CAST(n AS HUGEINT) * smm - sm * sm AS DOUBLE)
                    / CAST(n AS DOUBLE) AS csmm,
                  CAST(CAST(n AS HUGEINT) * syy - sy * sy AS DOUBLE)
                    / CAST(n AS DOUBLE) AS csyy,
                  CAST(CAST(n AS HUGEINT) * sxm - sx * sm AS DOUBLE)
                    / CAST(n AS DOUBLE) AS csxm,
                  CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS DOUBLE)
                    / CAST(n AS DOUBLE) AS csxy,
                  CAST(CAST(n AS HUGEINT) * smy - sm * sy AS DOUBLE)
                    / CAST(n AS DOUBLE) AS csmy
                FROM sums),
              co AS (
                SELECT n, csxx, csmm, csyy, csxm, csxy, csmy,
                  csmm * csxx - csxm * csxm AS den,
                  csxm / csxx AS a
                FROM cs),
              co2 AS (
                SELECT n, csxx, csmm, csyy, csxm, csxy, csmy, den, a,
                  (csmy * csxx - csxm * csxy) / den AS b,
                  (csxy * csmm - csxm * csmy) / den AS c
                FROM co),
              ses AS (
                SELECT n, a, b, c,
                  ((csmm - csxm * csxm / csxx)
                    / CAST(n - 2 AS DOUBLE)) / csxx AS se2_a,
                  ((csyy - b * csmy - c * csxy)
                    / CAST(n - 3 AS DOUBLE)) * csxx / den AS se2_b
                FROM co2)
              SELECT n, round(a, 6) AS a_path, round(b, 6) AS b_path,
                round(c, 6) AS direct_c,
                round(a * b / sqrt(a * a * se2_b + b * b * se2_a), 6)
                  AS sobel_z,
                CASE WHEN c + a * b = 0.0 THEN NULL
                  ELSE round(a * b / (c + a * b), 6) END
                  AS prop_mediated
              FROM ses""")),

    // ── Ansari–Bradley dispersion test (rank-from-both-ends) ────────────
    // The third dispersion lens (q_levene parametric, q_conover squared
    // ranks): score each pooled value by its distance from the NEAREST
    // end of the ranking, s = min(R, N+1−R) — small scores at the
    // extremes, so a LOW group-1 sum means group 1 is MORE dispersed.
    // Everything stays exact integers: doubled midranks from RangeRank
    // prefix sums over the value census, doubled scores
    // s₂ = min(r₂, 2(N+1)−r₂), and the permutation moments
    // E[T] = n₁M₁/N, Var[T] = n₁n₂(N·M₂−M₁²)/(N²(N−1)) from dec38
    // census sums — one mirrored division/sqrt chain at the readout.
    Q("q_ansari_bradley",
      (s, dir) => ansariBradleyFinish(Censuses.rankedAnsari(s, dir),
        preRanked = true),
      Some("""WITH base AS (
                SELECT CASE WHEN o_orderpriority IN
                    ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END AS tr,
                  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS v
                FROM orders),
              census AS (
                SELECT v, CAST(SUM(tr) AS BIGINT) AS c1,
                  CAST(SUM(1 - tr) AS BIGINT) AS c2
                FROM base GROUP BY 1),
              cum AS (
                SELECT c1, c2,
                  COALESCE(SUM(c1) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS off1,
                  COALESCE(SUM(c2) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS off2
                FROM census),
              ns AS (
                SELECT CAST(SUM(c1) AS BIGINT) AS n1,
                  CAST(SUM(c2) AS BIGINT) AS n2
                FROM cum),
              scored AS (
                SELECT c1, c2,
                  least((off1 + off2) * 2 + c1 + c2 + 1,
                    (n1 + n2 + 1) * 2
                      - ((off1 + off2) * 2 + c1 + c2 + 1)) AS s2
                FROM cum, ns),
              agg AS (
                SELECT SUM(CAST(c1 AS HUGEINT) * s2) AS t1,
                  SUM(CAST(c1 + c2 AS HUGEINT) * s2) AS m1,
                  SUM(CAST(c1 + c2 AS HUGEINT) * s2 * s2) AS m2
                FROM scored)
              SELECT n1, n2,
                CAST(t1 AS DOUBLE) / 2.0 AS t_ab,
                round(
                  ((CAST(t1 AS DOUBLE)
                    - CAST(n1 AS DOUBLE) * CAST(m1 AS DOUBLE)
                      / CAST(n1 + n2 AS DOUBLE)) / 2.0)
                  / sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                    * (CAST(n1 + n2 AS DOUBLE) * CAST(m2 AS DOUBLE)
                      - CAST(m1 AS DOUBLE) * CAST(m1 AS DOUBLE))
                    / (CAST(n1 + n2 AS DOUBLE)
                      * CAST(n1 + n2 AS DOUBLE)
                      * CAST(n1 + n2 - 1 AS DOUBLE)) / 4.0), 6) AS z_ab
              FROM agg, ns""")),

    // ── Lepage joint location-scale test (urgent vs rest values) ───────
    // The CLASSICAL joint two-sample test beside q_cucconi's modern
    // one: L = z_W² + z_AB² — the squared standardized Wilcoxon
    // rank-sum (location) plus the squared standardized Ansari–Bradley
    // (scale), χ²₂ under H₀. Rides the IDENTICAL value census +
    // RangeRank prefix frame as q_ansari_bradley: midranks ×2 and
    // Ansari scores ×2 come off the same cum rows, W and the tie term
    // accumulate exactly in dec38, the Ansari moments reuse the m1/m2
    // tie-conditional spelling verbatim, and each z is the same pinned
    // double chain its parent query uses (rounded to 6 before the
    // squares, L from the ROUNDED z's — fully order-free).
    Q("q_lepage",
      (s, dir) => lepageFinish(Censuses.rankedAnsari(s, dir),
        preRanked = true),
      Some("""WITH base AS (
                SELECT CASE WHEN o_orderpriority IN
                    ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END AS tr,
                  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS v
                FROM orders),
              census AS (
                SELECT v, CAST(SUM(tr) AS BIGINT) AS c1,
                  CAST(SUM(1 - tr) AS BIGINT) AS c2
                FROM base GROUP BY 1),
              cum AS (
                SELECT c1, c2,
                  COALESCE(SUM(c1) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS off1,
                  COALESCE(SUM(c2) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS off2
                FROM census),
              ns AS (
                SELECT CAST(SUM(c1) AS BIGINT) AS n1,
                  CAST(SUM(c2) AS BIGINT) AS n2
                FROM cum),
              scored AS (
                SELECT c1, c2,
                  (off1 + off2) * 2 + c1 + c2 + 1 AS mr2,
                  least((off1 + off2) * 2 + c1 + c2 + 1,
                    (n1 + n2 + 1) * 2
                      - ((off1 + off2) * 2 + c1 + c2 + 1)) AS s2
                FROM cum, ns),
              agg AS (
                SELECT SUM(CAST(c1 AS HUGEINT) * mr2) AS w2,
                  SUM(CAST(c1 + c2 AS HUGEINT) * (c1 + c2) * (c1 + c2)
                    - (c1 + c2)) AS ties,
                  SUM(CAST(c1 AS HUGEINT) * s2) AS t1,
                  SUM(CAST(c1 + c2 AS HUGEINT) * s2) AS m1,
                  SUM(CAST(c1 + c2 AS HUGEINT) * s2 * s2) AS m2
                FROM scored),
              zs AS (
                SELECT n1, n2,
                  CASE WHEN n1 = 0 OR n2 = 0 OR n1 + n2 <= 1
                      OR CAST(ties AS DOUBLE)
                        >= CAST(n1 + n2 AS DOUBLE)
                          * CAST(n1 + n2 AS DOUBLE)
                          * CAST(n1 + n2 AS DOUBLE)
                          - CAST(n1 + n2 AS DOUBLE) THEN NULL
                    ELSE round(
                      (CAST(w2 AS DOUBLE) / 2.0
                        - CAST(n1 AS DOUBLE)
                          * CAST(n1 + n2 + 1 AS DOUBLE) / 2.0)
                      / sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                        / 12.0
                        * (CAST(n1 + n2 + 1 AS DOUBLE)
                          - CAST(ties AS DOUBLE)
                            / (CAST(n1 + n2 AS DOUBLE)
                              * CAST(n1 + n2 - 1 AS DOUBLE)))), 6)
                    END AS z_w,
                  CASE WHEN n1 = 0 OR n2 = 0 OR n1 + n2 <= 1
                      OR CAST(n1 + n2 AS DOUBLE) * CAST(m2 AS DOUBLE)
                        - CAST(m1 AS DOUBLE) * CAST(m1 AS DOUBLE) <= 0
                      THEN NULL
                    ELSE round(
                      ((CAST(t1 AS DOUBLE)
                        - CAST(n1 AS DOUBLE) * CAST(m1 AS DOUBLE)
                          / CAST(n1 + n2 AS DOUBLE)) / 2.0)
                      / sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                        * (CAST(n1 + n2 AS DOUBLE) * CAST(m2 AS DOUBLE)
                          - CAST(m1 AS DOUBLE) * CAST(m1 AS DOUBLE))
                        / (CAST(n1 + n2 AS DOUBLE)
                          * CAST(n1 + n2 AS DOUBLE)
                          * CAST(n1 + n2 - 1 AS DOUBLE)) / 4.0), 6)
                    END AS z_ab
                FROM agg, ns)
              SELECT n1, n2, z_w, z_ab,
                CASE WHEN z_w IS NULL OR z_ab IS NULL THEN NULL
                  ELSE round(z_w * z_w + z_ab * z_ab, 6) END AS lepage_l
              FROM zs""")),

    // ── Tukey's quick (pocket) test: tail-exceedance count ──────────────
    // The back-of-envelope two-sample test (Tukey 1959): T = #(urgent
    // values STRICTLY above the rest's maximum) + #(rest values
    // STRICTLY below urgent's minimum); T ≥ 7 rejects at ~5%
    // regardless of n. All-integer on the same urgent-vs-rest value
    // census as the rank tests — two extreme bounds off the persisted
    // census broadcast back over it, exceedance counts exact; no FP at
    // all. Strict inequalities make ties contribute zero on both
    // engines.
    Q("q_tukey_quick",
      (s, dir) => tukeyQuickFinish(Censuses.rankedAnsari(s, dir)),
      Some("""WITH base AS (
                SELECT CASE WHEN o_orderpriority IN
                    ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END AS tr,
                  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS v
                FROM orders),
              census AS (
                SELECT v, CAST(SUM(tr) AS BIGINT) AS c1,
                  CAST(SUM(1 - tr) AS BIGINT) AS c2
                FROM base GROUP BY 1),
              bounds AS (
                SELECT MAX(CASE WHEN c2 > 0 THEN v END) AS max_b,
                  MIN(CASE WHEN c1 > 0 THEN v END) AS min_a,
                  CAST(SUM(c1) AS BIGINT) AS n1,
                  CAST(SUM(c2) AS BIGINT) AS n2
                FROM census)
              SELECT n1, n2,
                CAST(SUM(CASE WHEN v > max_b THEN c1 ELSE 0 END)
                  AS BIGINT) AS a_above,
                CAST(SUM(CASE WHEN v < min_a THEN c2 ELSE 0 END)
                  AS BIGINT) AS b_below,
                CAST(SUM(CASE WHEN v > max_b THEN c1 ELSE 0 END)
                  + SUM(CASE WHEN v < min_a THEN c2 ELSE 0 END)
                  AS BIGINT) AS tukey_t
              FROM census, bounds
              GROUP BY n1, n2""")),

    // ── Yuen's trimmed-mean t-test (10% trim, urgent vs rest) ───────────
    // The robust Behrens–Fisher t (Yuen 1974): compare 10%-trimmed
    // means with winsorized variances. Positional winsorization equals
    // a VALUE clamp at the rank-cut picks (values at ranks g+1 and
    // n−g, g = n div 10 — ties straddling the cut clamp to themselves),
    // so the whole statistic reduces to exact integer census
    // arithmetic: Σw and Σw² in dec38 off one clamped pass, trimmed
    // sums recovered as Σw − g·vlo − g·vhi, SSD_w = (nΣw²−(Σw)²)/n via
    // the integer identity, dᵢ = SSD_w/(hᵢ(hᵢ−1)) (the n−1 factors
    // cancel in Yuen's dᵢ), and t = Δtm/√(d₁+d₂) is the one pinned
    // double chain.
    Q("q_yuen_t",
      (s, dir) => {
        val dec38 = DecimalType(38, 0)
        val base = Artifacts.persist(t(s, dir, "orders")
          .select(
            when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
              .otherwise(0L).as("grp"),
            (dec2(col("o_totalprice")) * 100).cast("long").as("cents")))
        val picks = RangeRank.groupValuesAtRanks(base, Seq("grp"),
          "cents",
          Seq(RangeRank.RankPick("vlo", n => expr("(n div 10) + 1")),
            RangeRank.RankPick("vhi", n => expr("n - (n div 10)"))))
          .select(col("grp"), col("n"), col("vlo"), col("vhi"))
        val perG = base.join(broadcast(picks), "grp")
          .select(col("grp"), col("n"), col("vlo"), col("vhi"),
            least(greatest(col("cents"), col("vlo")), col("vhi"))
              .as("w"))
          .groupBy("grp", "n", "vlo", "vhi")
          .agg(sum(col("w").cast(dec38)).as("sw"),
            sum(col("w").cast(dec38) * col("w")).as("sww"))
          .select(col("grp"), col("n"),
            expr("n div 10").as("g"),
            (col("n") - lit(2L) * expr("n div 10")).as("h"),
            col("vlo"), col("vhi"), col("sw"), col("sww"))
          .select(col("grp"), col("n"), col("h"),
            ((col("sw") - col("g").cast(dec38) * col("vlo")
              - col("g").cast(dec38) * col("vhi")).cast("double")
              / col("h").cast("double")).as("tm"),
            (((col("n").cast(dec38) * col("sww") - col("sw") * col("sw"))
              .cast("double") / col("n").cast("double"))
              / (col("h").cast("double")
                * (col("h") - 1).cast("double"))).as("d"))
        perG.groupBy()
          .agg(max(when(col("grp") === 1, col("n"))).as("n1"),
            max(when(col("grp") === 0, col("n"))).as("n2"),
            max(when(col("grp") === 1, col("h"))).as("h1"),
            max(when(col("grp") === 0, col("h"))).as("h2"),
            max(when(col("grp") === 1, col("tm"))).as("tm1"),
            max(when(col("grp") === 0, col("tm"))).as("tm2"),
            max(when(col("grp") === 1, col("d"))).as("d1"),
            max(when(col("grp") === 0, col("d"))).as("d2"))
          .select(col("n1"), col("n2"), col("h1"), col("h2"),
            round((col("tm1") - col("tm2")) / 100.0, 6)
              .as("tm_diff_dollars"),
            when(col("d1") + col("d2") <= 0, lit(null).cast("double"))
              .otherwise(round((col("tm1") - col("tm2"))
                / sqrt(col("d1") + col("d2")), 6)).as("t_yuen"))
      },
      Some("""WITH base AS (
                SELECT CASE WHEN o_orderpriority IN
                    ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END AS grp,
                  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS cents
                FROM orders),
              r AS (
                SELECT grp, cents,
                  CAST(row_number() OVER (PARTITION BY grp
                    ORDER BY cents) AS BIGINT) AS rn,
                  CAST(count(*) OVER (PARTITION BY grp) AS BIGINT) AS n
                FROM base),
              picks AS (
                SELECT grp, MAX(n) AS n,
                  MAX(CASE WHEN rn = (n // 10) + 1 THEN cents END)
                    AS vlo,
                  MAX(CASE WHEN rn = n - (n // 10) THEN cents END)
                    AS vhi
                FROM r GROUP BY grp),
              wz AS (
                SELECT b.grp, p.n, p.vlo, p.vhi,
                  least(greatest(b.cents, p.vlo), p.vhi) AS w
                FROM base b JOIN picks p ON b.grp = p.grp),
              agg AS (
                SELECT grp, n, n // 10 AS g, n - 2 * (n // 10) AS h,
                  vlo, vhi,
                  SUM(CAST(w AS HUGEINT)) AS sw,
                  SUM(CAST(w AS HUGEINT) * w) AS sww
                FROM wz GROUP BY grp, n, vlo, vhi),
              st AS (
                SELECT grp, n, h,
                  CAST(sw - CAST(g AS HUGEINT) * vlo
                      - CAST(g AS HUGEINT) * vhi AS DOUBLE)
                    / CAST(h AS DOUBLE) AS tm,
                  (CAST(CAST(n AS HUGEINT) * sww - sw * sw AS DOUBLE)
                    / CAST(n AS DOUBLE))
                    / (CAST(h AS DOUBLE) * CAST(h - 1 AS DOUBLE)) AS d
                FROM agg)
              SELECT
                MAX(CASE WHEN grp = 1 THEN n END) AS n1,
                MAX(CASE WHEN grp = 0 THEN n END) AS n2,
                MAX(CASE WHEN grp = 1 THEN h END) AS h1,
                MAX(CASE WHEN grp = 0 THEN h END) AS h2,
                round((MAX(CASE WHEN grp = 1 THEN tm END)
                  - MAX(CASE WHEN grp = 0 THEN tm END)) / 100.0, 6)
                  AS tm_diff_dollars,
                CASE WHEN MAX(CASE WHEN grp = 1 THEN d END)
                    + MAX(CASE WHEN grp = 0 THEN d END) <= 0 THEN NULL
                  ELSE round((MAX(CASE WHEN grp = 1 THEN tm END)
                      - MAX(CASE WHEN grp = 0 THEN tm END))
                    / sqrt(MAX(CASE WHEN grp = 1 THEN d END)
                      + MAX(CASE WHEN grp = 0 THEN d END)), 6)
                  END AS t_yuen
              FROM st""")),

    // ── Fligner–Policello robust rank-order test ────────────────────────
    // The Behrens–Fisher corner of the two-sample battery: compares
    // medians WITHOUT the equal-shape assumption Mann–Whitney needs,
    // via placements — P_i = #(sample-2 values below X_i), Q_j the
    // mirror (ties counted half, the midrank convention ×2 to stay
    // integer). Off the shared value census every moment is exact:
    // ΣP, ΣQ from c·(2·cum_excl + ties), the dispersions
    // V = Σ(P−P̄)² via the n·ΣP²−(ΣP)² integer identity in dec38, and
    // z = (ΣP−ΣQ) / 2√(V₁+V₂+P̄Q̄) is the one pinned double chain
    // (Fligner–Policello 1981).
    Q("q_fligner_policello",
      (s, dir) => flignerPolicelloFinish(Censuses.rankedAnsari(s, dir),
        preRanked = true),
      Some("""WITH base AS (
                SELECT CASE WHEN o_orderpriority IN
                    ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END AS tr,
                  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS v
                FROM orders),
              census AS (
                SELECT v, CAST(SUM(tr) AS BIGINT) AS c1,
                  CAST(SUM(1 - tr) AS BIGINT) AS c2
                FROM base GROUP BY 1),
              cum AS (
                SELECT c1, c2,
                  COALESCE(SUM(c1) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS off1,
                  COALESCE(SUM(c2) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS off2
                FROM census),
              pl AS (
                SELECT c1, c2,
                  2 * off2 + c2 AS p2,
                  2 * off1 + c1 AS q2
                FROM cum),
              m AS (
                SELECT CAST(SUM(c1) AS BIGINT) AS n1,
                  CAST(SUM(c2) AS BIGINT) AS n2,
                  SUM(CAST(c1 AS HUGEINT) * p2) AS sp2,
                  SUM(CAST(c2 AS HUGEINT) * q2) AS sq2,
                  SUM(CAST(c1 AS HUGEINT) * p2 * p2) AS spp4,
                  SUM(CAST(c2 AS HUGEINT) * q2 * q2) AS sqq4
                FROM pl),
              d AS (
                SELECT n1, n2,
                  CAST(sp2 AS DOUBLE) / 2.0 AS sum_p,
                  CAST(sq2 AS DOUBLE) / 2.0 AS sum_q,
                  CAST(CAST(n1 AS HUGEINT) * spp4 - sp2 * sp2 AS DOUBLE)
                    / (CAST(n1 AS DOUBLE) * 4.0) AS v1,
                  CAST(CAST(n2 AS HUGEINT) * sqq4 - sq2 * sq2 AS DOUBLE)
                    / (CAST(n2 AS DOUBLE) * 4.0) AS v2
                FROM m)
              SELECT n1, n2, sum_p, sum_q,
                CASE WHEN n1 = 0 OR n2 = 0
                    OR v1 + v2 + (sum_p / CAST(n1 AS DOUBLE))
                      * (sum_q / CAST(n2 AS DOUBLE)) <= 0 THEN NULL
                  ELSE round((sum_p - sum_q)
                    / (2.0 * sqrt(v1 + v2
                      + (sum_p / CAST(n1 AS DOUBLE))
                        * (sum_q / CAST(n2 AS DOUBLE)))), 6)
                  END AS z_fp
              FROM d""")),

    // ── Cramér–von Mises two-sample test (urgent vs rest values) ────────
    // The integrated-ECDF companion of the sup-based tests: T =
    // (n₁n₂/N²)·Σ_obs (F₁−F₂)² evaluated at every pooled observation.
    // On the shared value census the common-denominator gap
    // d_v = cum₁·n₂ − cum₂·n₁ (INCLUSIVE prefix sums) is an exact
    // dec38 integer, each value contributes (c₁+c₂)·d_v², and
    // T = Σ(c₁+c₂)d_v² / (N²n₁n₂) is ONE division of exact operands —
    // zero FP until the end. Σd² fits dec38 to ~10⁸ rows per group
    // (the q_bws_test envelope note).
    Q("q_cvm_two_sample",
      (s, dir) => cvmTwoSampleFinish(Censuses.rankedAnsari(s, dir),
        preRanked = true),
      Some("""WITH base AS (
                SELECT CASE WHEN o_orderpriority IN
                    ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END AS tr,
                  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS v
                FROM orders),
              census AS (
                SELECT v, CAST(SUM(tr) AS BIGINT) AS c1,
                  CAST(SUM(1 - tr) AS BIGINT) AS c2
                FROM base GROUP BY 1),
              cum AS (
                SELECT c1, c2,
                  CAST(SUM(c1) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum1,
                  CAST(SUM(c2) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum2
                FROM census),
              ns AS (
                SELECT CAST(SUM(c1) AS BIGINT) AS n1,
                  CAST(SUM(c2) AS BIGINT) AS n2
                FROM cum),
              agg AS (
                SELECT n1, n2,
                  SUM(CAST(c1 + c2 AS HUGEINT)
                    * (CAST(cum1 AS HUGEINT) * n2
                      - CAST(cum2 AS HUGEINT) * n1)
                    * (CAST(cum1 AS HUGEINT) * n2
                      - CAST(cum2 AS HUGEINT) * n1)) AS num
                FROM cum, ns GROUP BY n1, n2)
              SELECT n1, n2,
                CASE WHEN n1 = 0 OR n2 = 0 THEN NULL
                  ELSE CAST(num AS DOUBLE)
                    / (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE)
                      * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
                  END AS t_cvm
              FROM agg""")),

    // ── Watson's U²: the circular two-sample CvM (round-12 seed) ───────
    // The rotation-invariant lens on the SAME integrated-ECDF frame as
    // q_cvm_two_sample — recentering the gap process by its mean makes
    // the statistic independent of where the value circle is cut, the
    // standard two-sample test for circular/periodic domains. One extra
    // FIRST moment (Σc·D) in the same dec38 agg; the eighth readout of
    // the drained two-sample streaming twin (StreamingSpec).
    Q("q_watson_u2",
      (s, dir) => watsonU2Finish(Censuses.rankedAnsari(s, dir),
        preRanked = true),
      Some("""WITH base AS (
                SELECT CASE WHEN o_orderpriority IN
                    ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END AS tr,
                  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS v
                FROM orders),
              census AS (
                SELECT v, CAST(SUM(tr) AS BIGINT) AS c1,
                  CAST(SUM(1 - tr) AS BIGINT) AS c2
                FROM base GROUP BY 1),
              cum AS (
                SELECT c1, c2,
                  CAST(SUM(c1) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum1,
                  CAST(SUM(c2) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum2
                FROM census),
              ns AS (
                SELECT CAST(SUM(c1) AS BIGINT) AS n1,
                  CAST(SUM(c2) AS BIGINT) AS n2
                FROM cum),
              agg AS (
                SELECT n1, n2,
                  SUM(CAST(c1 + c2 AS HUGEINT)
                    * (CAST(cum1 AS HUGEINT) * n2
                      - CAST(cum2 AS HUGEINT) * n1)) AS s1,
                  SUM(CAST(c1 + c2 AS HUGEINT)
                    * (CAST(cum1 AS HUGEINT) * n2
                      - CAST(cum2 AS HUGEINT) * n1)
                    * (CAST(cum1 AS HUGEINT) * n2
                      - CAST(cum2 AS HUGEINT) * n1)) AS s2
                FROM cum, ns GROUP BY n1, n2)
              SELECT n1, n2,
                CASE WHEN n1 = 0 OR n2 = 0 THEN NULL
                  ELSE CAST(s2 AS DOUBLE)
                    / (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE)
                      * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
                  END AS t_cvm,
                CASE WHEN n1 = 0 OR n2 = 0 THEN NULL
                  ELSE CAST(s2 AS DOUBLE)
                    / (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE)
                      * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
                    - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                      / (CAST(n1 + n2 AS DOUBLE)
                        * CAST(n1 + n2 AS DOUBLE)
                        * CAST(n1 + n2 AS DOUBLE)
                        * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
                  END AS u2_watson
              FROM agg""")),

    // ── energy-distance two-sample test (Székely) ───────────────────────
    // The strongest modern member of the two-sample battery: E = 2·E|X−Y|
    // − E|X−X′| − E|Y−Y′| ≥ 0, zero iff the distributions coincide —
    // consistent against EVERY alternative (location, scale, shape),
    // where Wilcoxon/Ansari each see one axis. Never pairwise: each
    // pairwise-|Δ| mass collapses over the value order exactly like the
    // Gini mean difference — Σ|Δ| = Σ_j c_j·(off_j·v_j − vs_j) with
    // count and value-mass prefixes read ROW-LOCALLY off the shared
    // pinned ranked census. T = n1n2/(n1+n2)·E is the permutation-test
    // statistic. The NINTH readout of the urgent-vs-rest streaming
    // twin state; exact dec38 until three mirrored IEEE divisions.
    Q("q_energy_distance",
      (s, dir) => energyDistanceFinish(Censuses.rankedAnsari(s, dir),
        preRanked = true),
      Some("""WITH base AS (
                SELECT CASE WHEN o_orderpriority IN
                    ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END AS tr,
                  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS v
                FROM orders),
              census AS (
                SELECT v, CAST(SUM(tr) AS BIGINT) AS c1,
                  CAST(SUM(1 - tr) AS BIGINT) AS c2
                FROM base GROUP BY 1),
              cum AS (
                SELECT v, c1, c2,
                  COALESCE(SUM(c1) OVER w, 0) AS off1,
                  COALESCE(SUM(c2) OVER w, 0) AS off2,
                  COALESCE(SUM(CAST(v AS HUGEINT) * c1) OVER w,
                    CAST(0 AS HUGEINT)) AS vs1,
                  COALESCE(SUM(CAST(v AS HUGEINT) * c2) OVER w,
                    CAST(0 AS HUGEINT)) AS vs2
                FROM census
                WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED
                  PRECEDING AND 1 PRECEDING)),
              agg AS (
                SELECT CAST(SUM(c1) AS BIGINT) AS n1,
                  CAST(SUM(c2) AS BIGINT) AS n2,
                  SUM(CAST(c2 AS HUGEINT)
                      * (CAST(off1 AS HUGEINT) * v - vs1)
                    + CAST(c1 AS HUGEINT)
                      * (CAST(off2 AS HUGEINT) * v - vs2)) AS sxy,
                  SUM(CAST(c1 AS HUGEINT)
                    * (CAST(off1 AS HUGEINT) * v - vs1)) AS sxx,
                  SUM(CAST(c2 AS HUGEINT)
                    * (CAST(off2 AS HUGEINT) * v - vs2)) AS syy
                FROM cum),
              sel AS (
                SELECT n1, n2,
                  CASE WHEN n1 = 0 OR n2 = 0 THEN NULL
                    ELSE CAST(sxy AS DOUBLE) * 2.0
                        / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
                      - CAST(sxx AS DOUBLE) * 2.0
                        / (CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE))
                      - CAST(syy AS DOUBLE) * 2.0
                        / (CAST(n2 AS DOUBLE) * CAST(n2 AS DOUBLE))
                    END AS e_dist
                FROM agg)
              SELECT n1, n2, e_dist,
                CASE WHEN e_dist IS NULL THEN NULL
                  ELSE CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                    / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                    * e_dist END AS t_energy
              FROM sel""")),

    // ── Hoeffding's D: nonparametric independence on a bounded grid ────
    // The rank-association family's completion (round-12 seed): D
    // detects ANY dependence (including non-monotone) between quantity
    // and extended-price bucket, where Kendall/Spearman see only
    // monotone trends. Everything reduces to the BOUNDED (quantity ×
    // thousand-dollar-bucket) grid census (≤ 50×~110 cells at any
    // corpus size): per-cell bivariate mass A/Bx/By from 2-D exclusive
    // prefix sums (three windows over the constant-size dense grid —
    // the q_lift_gain "single-task window is fine THERE" rule),
    // marginal midranks in the ×2 integer domain, Q in the ×4 domain
    // with the c(u) = {1, ½, 0} tie convention (Q4 − 4 = φ4 =
    // 4A + 2Bx + 2By + (E−1)). D1/D2/D3 and the final numerator are
    // exact DECIMAL(38,0); ONE cast + division + round(12). dec38
    // wall (documented, the q_stuart_maxwell4 class): the D2 moment is
    // Σ c·R²S² ≈ n⁵/16 — exact through n ≈ 4·10⁷ pooled rows; beyond
    // that the moment needs a wider integer carrier.
    Q("q_hoeffding_d",
      // round 13: the grid census is the pinned shared artifact
      // ([[Censuses.quantityBucket]]) — one build serves the whole
      // bivariate-association family (D, τ-b, Somers' D)
      (s, dir) => hoeffdingFinish(Censuses.quantityBucket(s, dir)),
      Some("""WITH cen AS (
                SELECT CAST(l_quantity AS BIGINT) AS x,
                  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) // 100000 AS y,
                  CAST(count(*) AS BIGINT) AS c
                FROM lineitem GROUP BY 1, 2),
              grid AS (
                SELECT xx.x, yy.y, COALESCE(c.c, 0) AS c
                FROM (SELECT DISTINCT x FROM cen) xx
                CROSS JOIN (SELECT DISTINCT y FROM cen) yy
                LEFT JOIN cen c ON c.x = xx.x AND c.y = yy.y),
              cells0 AS (
                SELECT x, y, c,
                  COALESCE(SUM(c) OVER (PARTITION BY x ORDER BY y
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS bx,
                  COALESCE(SUM(c) OVER (PARTITION BY y ORDER BY x
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS byy
                FROM grid),
              cells AS (
                SELECT x, y, c, bx, byy,
                  COALESCE(SUM(bx) OVER (PARTITION BY y ORDER BY x
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS a
                FROM cells0
                QUALIFY c > 0),
              mx AS (
                SELECT x, 2 * COALESCE(SUM(cx) OVER (ORDER BY x
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) + cx + 1 AS r2
                FROM (SELECT x, CAST(SUM(c) AS BIGINT) AS cx
                      FROM grid GROUP BY 1)),
              my AS (
                SELECT y, 2 * COALESCE(SUM(cy) OVER (ORDER BY y
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) + cy + 1 AS s2
                FROM (SELECT y, CAST(SUM(c) AS BIGINT) AS cy
                      FROM grid GROUP BY 1)),
              terms AS (
                SELECT c.c,
                  4 * c.a + 2 * c.bx + 2 * c.byy + c.c - 1 AS phi4,
                  mx.r2, my.s2
                FROM cells c
                JOIN mx ON mx.x = c.x
                JOIN my ON my.y = c.y),
              agg AS (
                SELECT CAST(SUM(c) AS BIGINT) AS n,
                  SUM(CAST(c AS HUGEINT) * phi4 * (phi4 - 4)) AS d1x,
                  SUM(CAST(c AS HUGEINT) * (r2 - 2) * (r2 - 4)
                    * (s2 - 2) * (s2 - 4)) AS d2x,
                  SUM(CAST(c AS HUGEINT) * (r2 - 4) * (s2 - 4)
                    * phi4) AS d3x
                FROM terms)
              SELECT n,
                CASE WHEN n < 5 THEN NULL
                  ELSE round(
                    CAST(CAST(30 AS HUGEINT)
                      * (CAST(n - 2 AS HUGEINT) * (n - 3) * d1x
                        + d2x
                        - CAST(2 AS HUGEINT) * (n - 2) * d3x)
                      AS DOUBLE)
                    / (16.0 * CAST(n AS DOUBLE)
                      * CAST(n - 1 AS DOUBLE) * CAST(n - 2 AS DOUBLE)
                      * CAST(n - 3 AS DOUBLE) * CAST(n - 4 AS DOUBLE)),
                    12) END AS hoeffding_d
              FROM agg""")),

    // ── Kendall's τ-b: tie-corrected rank correlation on the grid ──────
    // Completes ordinal association next to q_hoeffding_d (any-
    // dependence) and q_kendall_tau (the per-month small-frame τ):
    // τ-b = (P − Q)/√((n0 − Tx)(n0 − Ty)) with the marginal tie
    // corrections that make it reach ±1 on a tied grid. P/Q/Tx/Ty all
    // come from [[concordanceMasses]] over the SAME pinned grid build
    // as Hoeffding's D (concordant mass = Σ c·A off the 2-D exclusive
    // prefix; discordant = Σ c·(CXL − A − By) — pairs left-and-above);
    // everything dec38 (×2 integer domain) until one mirrored
    // division; |τ| ≤ 1 so round(12) is ULP-safe.
    Q("q_kendall_tau_b",
      (s, dir) => concordanceMasses(Censuses.quantityBucket(s, dir))
        .select(col("n"),
          when(col("n0x2") - col("tx2") <= 0
            || col("n0x2") - col("ty2") <= 0, lit(null).cast("double"))
            .otherwise(round((col("p2") - col("q2")).cast("double")
              / sqrt((col("n0x2") - col("tx2")).cast("double")
                * (col("n0x2") - col("ty2")).cast("double")), 12))
            .as("tau_b")),
      Some(tauBOracle(
        """SELECT n,
             CASE WHEN n0x2 - tx2 <= 0 OR n0x2 - ty2 <= 0 THEN NULL
               ELSE round(CAST(p2 - q2 AS DOUBLE)
                 / sqrt(CAST(n0x2 - tx2 AS DOUBLE)
                   * CAST(n0x2 - ty2 AS DOUBLE)), 12) END AS tau_b
           FROM agg, tx, ty, n0"""))),

    // ── Somers' D: the asymmetric ordinal-association pair ──────────────
    // The directed readouts τ-b symmetrizes away: D(y|x) = (P − Q)/
    // (n0 − Tx) conditions on the PREDICTOR's non-tied pairs (the Gini
    // coefficient of rank discrimination — AUC's 2·AUC−1 relative), and
    // D(x|y) the reverse. Shares the [[concordanceMasses]] build with
    // τ-b and Hoeffding's D — ONE grid artifact, three statistics.
    Q("q_somers_d",
      (s, dir) => concordanceMasses(Censuses.quantityBucket(s, dir))
        .select(col("n"),
          when(col("n0x2") - col("tx2") <= 0, lit(null).cast("double"))
            .otherwise(round((col("p2") - col("q2")).cast("double")
              / (col("n0x2") - col("tx2")).cast("double"), 12))
            .as("d_yx"),
          when(col("n0x2") - col("ty2") <= 0, lit(null).cast("double"))
            .otherwise(round((col("p2") - col("q2")).cast("double")
              / (col("n0x2") - col("ty2")).cast("double"), 12))
            .as("d_xy")),
      Some(tauBOracle(
        """SELECT n,
             CASE WHEN n0x2 - tx2 <= 0 THEN NULL
               ELSE round(CAST(p2 - q2 AS DOUBLE)
                 / CAST(n0x2 - tx2 AS DOUBLE), 12) END AS d_yx,
             CASE WHEN n0x2 - ty2 <= 0 THEN NULL
               ELSE round(CAST(p2 - q2 AS DOUBLE)
                 / CAST(n0x2 - ty2 AS DOUBLE), 12) END AS d_xy
           FROM agg, tx, ty, n0"""))),

    // ── Somers' D on the ASYMMETRIC priority × price-bucket grid ────────
    // The r13 §21 seed: the direction pair on a grid whose marginals
    // differ by two orders (5 priority levels vs hundreds of price
    // buckets). D(price|priority) divides out the priority ties — the
    // dominant mass on the 5-level margin — while D(priority|price)
    // divides out the (much smaller) price-bucket ties, so the
    // asymmetry of the pair is the measurement, not an artifact.
    // Same [[concordanceMasses]] build over the pinned
    // [[Censuses.priorityPriceBucket]] grid; one artifact, row-local
    // finish, identical integer masses in both engines.
    Q("q_somers_d_priority",
      (s, dir) => concordanceMasses(Censuses.priorityPriceBucket(s, dir))
        .select(col("n"),
          when(col("n0x2") - col("tx2") <= 0, lit(null).cast("double"))
            .otherwise(round((col("p2") - col("q2")).cast("double")
              / (col("n0x2") - col("tx2")).cast("double"), 12))
            .as("d_yx"),
          when(col("n0x2") - col("ty2") <= 0, lit(null).cast("double"))
            .otherwise(round((col("p2") - col("q2")).cast("double")
              / (col("n0x2") - col("ty2")).cast("double"), 12))
            .as("d_xy")),
      Some(priorityGridOracle(
        """SELECT n,
             CASE WHEN n0x2 - tx2 <= 0 THEN NULL
               ELSE round(CAST(p2 - q2 AS DOUBLE)
                 / CAST(n0x2 - tx2 AS DOUBLE), 12) END AS d_yx,
             CASE WHEN n0x2 - ty2 <= 0 THEN NULL
               ELSE round(CAST(p2 - q2 AS DOUBLE)
                 / CAST(n0x2 - ty2 AS DOUBLE), 12) END AS d_xy
           FROM agg, tx, ty, n0"""))),

    // ── Goodman–Kruskal gamma on the same grid ──────────────────────────
    // The tie-INSENSITIVE member completing the concordance family
    // (τ-b normalizes by both tie-corrected margins, D by one, γ by
    // none): γ = (P − Q)/(P + Q) over concordant/discordant mass
    // only. On the asymmetric grid γ ≫ |D(priority|price)| whenever
    // the association is real but priority ties dominate — the
    // three-statistic readout is the point of sharing one artifact.
    Q("q_gk_gamma",
      (s, dir) => concordanceMasses(Censuses.priorityPriceBucket(s, dir))
        .select(col("n"),
          when(col("p2") + col("q2") === 0, lit(null).cast("double"))
            .otherwise(round((col("p2") - col("q2")).cast("double")
              / (col("p2") + col("q2")).cast("double"), 12))
            .as("gamma")),
      Some(priorityGridOracle(
        """SELECT n,
             CASE WHEN p2 + q2 = 0 THEN NULL
               ELSE round(CAST(p2 - q2 AS DOUBLE)
                 / CAST(p2 + q2 AS DOUBLE), 12) END AS gamma
           FROM agg"""))),

    // ── van Elteren stratified Wilcoxon (urgent vs rest, by year) ───────
    // The rank analog of the CMH family: the two-sample comparison run
    // WITHIN each order-year stratum and combined with the locally-
    // most-powerful 1/(N_s+1) weights — the design that removes the
    // year-mix confound a pooled Wilcoxon absorbs. Per-stratum
    // midranks/ties come off ONE (year, value) census (window
    // partitioned by the stratum key); W_s, E_s, Var_s use
    // q_mann_whitney's tie-corrected spellings; the three cross-
    // stratum sums are year-pinned sorted folds, so the combination
    // is bit-stable. Degenerate strata (one-sided or all-tied) are
    // excluded by the SAME predicate on both engines.
    Q("q_van_elteren",
      (s, dir) => {
        val dec38 = DecimalType(38, 0)
        val w = Window.partitionBy("yr").orderBy("v")
          .rowsBetween(Window.unboundedPreceding, -1)
        val cen = t(s, dir, "orders")
          .select(year(col("o_orderdate").cast("date")).cast("long")
              .as("yr"),
            when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
              .otherwise(0L).as("tr"),
            (dec2(col("o_totalprice")) * 100).cast("long").as("v"))
          .groupBy("yr", "v")
          .agg(sum(col("tr")).cast("long").as("c1"),
            sum(lit(1L) - col("tr")).cast("long").as("c2"))
        val cum = cen
          .withColumn("off",
            coalesce(sum(col("c1") + col("c2")).over(w), lit(0L)))
          .withColumn("mr2",
            lit(2L) * col("off") + col("c1") + col("c2") + 1L)
        val perS = cum.groupBy("yr")
          .agg(sum(col("c1")).cast("long").as("n1s"),
            sum(col("c2")).cast("long").as("n2s"),
            sum(col("c1").cast(dec38) * col("mr2")).as("w2s"),
            sum((col("c1") + col("c2")).cast(dec38)
              * (col("c1") + col("c2")) * (col("c1") + col("c2"))
              - (col("c1") + col("c2"))).as("ties"))
          .withColumn("ns", col("n1s") + col("n2s"))
          .filter(col("n1s") > 0 && col("n2s") > 0 && col("ns") >= 2
            && col("ties").cast("double")
              < (col("ns").cast("double") * col("ns").cast("double")
                * col("ns").cast("double") - col("ns").cast("double")))
          .select(col("yr"), col("n1s"), col("n2s"), col("ns"),
            (col("w2s").cast("double") / 2.0
              / (col("ns") + 1).cast("double")).as("tw"),
            (col("n1s").cast("double") / 2.0).as("te"),
            ((col("n1s").cast("double") * col("n2s").cast("double")
              / 12.0
              * ((col("ns") + 1).cast("double")
                - col("ties").cast("double")
                  / (col("ns").cast("double")
                    * (col("ns") - 1).cast("double"))))
              / ((col("ns") + 1).cast("double")
                * (col("ns") + 1).cast("double"))).as("tv"))
        def fold(c: String) =
          expr(s"""aggregate(array_sort(collect_list(struct(yr, $c))),
                   CAST(0 AS DOUBLE), (a, x) -> a + x.$c)""")
        perS.agg(count(lit(1)).cast("long").as("n_strata"),
            fold("tw").as("w_ve"), fold("te").as("e_ve"),
            fold("tv").as("v_ve"))
          .select(col("n_strata"),
            round(col("w_ve"), 6).as("w_ve"),
            round(col("e_ve"), 6).as("e_ve"),
            when(col("v_ve") <= 0, lit(null).cast("double"))
              .otherwise(round((col("w_ve") - col("e_ve"))
                / sqrt(col("v_ve")), 6)).as("z_ve"))
      },
      Some("""WITH base AS (
                SELECT CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT)
                    AS yr,
                  CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END AS tr,
                  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS v
                FROM orders),
              cen AS (
                SELECT yr, v, CAST(SUM(tr) AS BIGINT) AS c1,
                  CAST(SUM(1 - tr) AS BIGINT) AS c2
                FROM base GROUP BY 1, 2),
              cum AS (
                SELECT yr, c1, c2,
                  COALESCE(SUM(c1 + c2) OVER (PARTITION BY yr ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS off
                FROM cen),
              cum2 AS (
                SELECT yr, c1, c2,
                  2 * off + c1 + c2 + 1 AS mr2
                FROM cum),
              per_s AS (
                SELECT yr,
                  CAST(SUM(c1) AS BIGINT) AS n1s,
                  CAST(SUM(c2) AS BIGINT) AS n2s,
                  CAST(SUM(c1) + SUM(c2) AS BIGINT) AS ns,
                  SUM(CAST(c1 AS HUGEINT) * mr2) AS w2s,
                  SUM(CAST(c1 + c2 AS HUGEINT) * (c1 + c2) * (c1 + c2)
                    - (c1 + c2)) AS ties
                FROM cum2 GROUP BY 1),
              terms AS (
                SELECT yr, n1s, n2s, ns,
                  CAST(w2s AS DOUBLE) / 2.0 / CAST(ns + 1 AS DOUBLE)
                    AS tw,
                  CAST(n1s AS DOUBLE) / 2.0 AS te,
                  (CAST(n1s AS DOUBLE) * CAST(n2s AS DOUBLE) / 12.0
                    * (CAST(ns + 1 AS DOUBLE)
                      - CAST(ties AS DOUBLE)
                        / (CAST(ns AS DOUBLE)
                          * CAST(ns - 1 AS DOUBLE))))
                    / (CAST(ns + 1 AS DOUBLE) * CAST(ns + 1 AS DOUBLE))
                    AS tv
                FROM per_s
                WHERE n1s > 0 AND n2s > 0 AND ns >= 2
                  AND CAST(ties AS DOUBLE)
                    < CAST(ns AS DOUBLE) * CAST(ns AS DOUBLE)
                      * CAST(ns AS DOUBLE) - CAST(ns AS DOUBLE)),
              agg AS (
                SELECT CAST(count(*) AS BIGINT) AS n_strata,
                  list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(tw ORDER BY yr)), (a, x) -> a + x) AS w_ve,
                  list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(te ORDER BY yr)), (a, x) -> a + x) AS e_ve,
                  list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(tv ORDER BY yr)), (a, x) -> a + x) AS v_ve
                FROM terms)
              SELECT n_strata,
                round(w_ve, 6) AS w_ve,
                round(e_ve, 6) AS e_ve,
                CASE WHEN v_ve <= 0 THEN NULL
                  ELSE round((w_ve - e_ve) / sqrt(v_ve), 6) END AS z_ve
              FROM agg""")),

    // ── Baumgartner–Weiss–Schindler two-sample test ─────────────────────
    // The r10-parked seed, landed: B = (B_X + B_Y)/2 where B_X =
    // (1/n)Σᵢ (Rᵢ − (N/n)i)² / [i/(n+1)(1−i/(n+1)) · mN/n] over the
    // i-th order statistic's pooled midrank. Per-observation variance
    // weights make this corpus-sized ARITHMETIC (the reason it was
    // parked) but strictly linear: the value census explodes back to
    // one row per observation via its per-sample prefix ranges
    // (sequence over [off+1, off+c] — every member of a tied cell
    // shares the cell's pooled midrank ×2), each term is ONE division
    // of two exact dec38 integers — numerator (n·mr₂ − 2Ni)²(n+1)²,
    // denominator 4n²mN·i(n+1−i), both inside dec38 up to ~10⁸ rows
    // per group (past that the squares outgrow dec38 — the q_cucconi
    // B-term envelope note) — and each sample's sum is the
    // position-pinned sorted fold (the q_psi discipline), so the
    // statistic is bit-stable on both engines.
    Q("q_bws_test",
      (s, dir) => bwsFinish(Censuses.rankedAnsari(s, dir),
        preRanked = true),
      Some("""WITH base AS (
                SELECT CASE WHEN o_orderpriority IN
                    ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END AS tr,
                  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS v
                FROM orders),
              census AS (
                SELECT v, CAST(SUM(tr) AS BIGINT) AS c1,
                  CAST(SUM(1 - tr) AS BIGINT) AS c2
                FROM base GROUP BY 1),
              cum AS (
                SELECT c1, c2,
                  COALESCE(SUM(c1) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS off1,
                  COALESCE(SUM(c2) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS off2
                FROM census),
              cum2 AS (
                SELECT c1, c2,
                  CAST(off1 AS BIGINT) AS off1,
                  CAST(off2 AS BIGINT) AS off2,
                  CAST((off1 + off2) * 2 + c1 + c2 + 1 AS BIGINT) AS mr2
                FROM cum),
              ns AS (
                SELECT CAST(SUM(c1) AS BIGINT) AS n1,
                  CAST(SUM(c2) AS BIGINT) AS n2
                FROM cum2),
              rows_x AS (
                SELECT 1 AS smp, mr2, unnest(generate_series(off1 + 1,
                  off1 + c1)) AS i
                FROM cum2 WHERE c1 > 0),
              rows_y AS (
                SELECT 2 AS smp, mr2, unnest(generate_series(off2 + 1,
                  off2 + c2)) AS i
                FROM cum2 WHERE c2 > 0),
              rows_all AS (
                SELECT * FROM rows_x UNION ALL SELECT * FROM rows_y),
              terms AS (
                SELECT smp, i,
                  CAST(CASE WHEN smp = 1 THEN
                      (CAST(n1 AS HUGEINT) * mr2 - 2 * (n1 + n2) * i)
                        * (CAST(n1 AS HUGEINT) * mr2 - 2 * (n1 + n2) * i)
                        * (n1 + 1) * (n1 + 1)
                    ELSE
                      (CAST(n2 AS HUGEINT) * mr2 - 2 * (n1 + n2) * i)
                        * (CAST(n2 AS HUGEINT) * mr2 - 2 * (n1 + n2) * i)
                        * (n2 + 1) * (n2 + 1)
                    END AS DOUBLE)
                  / CAST(CASE WHEN smp = 1 THEN
                      4 * CAST(n1 AS HUGEINT) * n1 * n2 * (n1 + n2)
                        * i * (n1 + 1 - i)
                    ELSE
                      4 * CAST(n2 AS HUGEINT) * n2 * n1 * (n1 + n2)
                        * i * (n2 + 1 - i)
                    END AS DOUBLE) AS term
                FROM rows_all, ns),
              folded AS (
                SELECT smp,
                  list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(term ORDER BY i)), (a, x) -> a + x) AS b
                FROM terms GROUP BY smp)
              SELECT n1, n2,
                MAX(CASE WHEN smp = 1 THEN b END) AS b_x,
                MAX(CASE WHEN smp = 2 THEN b END) AS b_y,
                (MAX(CASE WHEN smp = 1 THEN b END)
                  + MAX(CASE WHEN smp = 2 THEN b END)) / 2.0 AS bws_b
              FROM folded, ns
              GROUP BY n1, n2""")),

    // ── Cucconi joint location-scale test (urgent vs rest values) ──────
    // The SINGLE test for "did the urgent orders' value distribution
    // move OR spread?" — q_mann_whitney sees location only, Ansari
    // scale only; running both and Bonferroni-ing loses power to the
    // correlation Cucconi models EXPLICITLY: U from Σ(pooled ranks)²,
    // V from Σ(contrary ranks)², ρ(N) their exact correlation, C =
    // (U²+V²−2ρUV)/(2(1−ρ²)). Exact on the SAME value census as
    // q_ansari_bradley (urgent/rest × totalprice cents): ΣS², ΣT² are
    // dec38 sums of c·midrank² cells (midranks ×2), the centered
    // numerators 6ΣS²−n(N+1)(2N+1) stay EXACT dec38 (the cancellation
    // that would shred doubles at 10¹⁰ rows), and only the
    // cancellation-free variance product B = mn(N+1)(2N+1)(8N+11)/5
    // (~N⁵ — past dec38 at 100-TB counts) drops to a pinned double
    // chain. Pooled midranks ride RangeRank prefix sums — never a
    // single-task window over the ~6·10⁷-value census.
    Q("q_cucconi",
      (s, dir) => cucconiFinish(Censuses.rankedAnsari(s, dir),
        preRanked = true),
      Some("""WITH census AS (
                SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS v,
                  CAST(SUM(CASE WHEN o_orderpriority IN
                    ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)
                    AS c1,
                  CAST(SUM(CASE WHEN o_orderpriority IN
                    ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT)
                    AS c2
                FROM orders GROUP BY 1),
              cum AS (
                SELECT c1, c2,
                  2 * COALESCE(SUM(c1 + c2) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    + c1 + c2 + 1 AS mr_x2
                FROM census),
              ns AS (
                SELECT CAST(SUM(c1) AS BIGINT) AS n1,
                  CAST(SUM(c2) AS BIGINT) AS n2,
                  CAST(SUM(c1) + SUM(c2) AS BIGINT) AS nn,
                  SUM(CAST(c1 AS HUGEINT) * mr_x2 * mr_x2) AS ss_x4
                FROM cum),
              ts AS (
                SELECT SUM(CAST(c1 AS HUGEINT)
                  * (2 * (nn + 1) - mr_x2) * (2 * (nn + 1) - mr_x2))
                  AS tt_x4
                FROM cum, ns),
              m AS (
                SELECT n1, n2, nn,
                  CAST(6 AS HUGEINT) * ss_x4
                    - CAST(4 AS HUGEINT) * n1 * (nn + 1) * (2 * nn + 1)
                    AS a4u,
                  CAST(6 AS HUGEINT) * tt_x4
                    - CAST(4 AS HUGEINT) * n1 * (nn + 1) * (2 * nn + 1)
                    AS a4v
                FROM ns, ts),
              uv AS (
                SELECT n1, n2,
                  CAST(a4u AS DOUBLE) / 4.0
                    / sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                      * (CAST(nn AS DOUBLE) + 1.0)
                      * (CAST(nn AS DOUBLE) * 2.0 + 1.0)
                      * (CAST(nn AS DOUBLE) * 8.0 + 11.0) / 5.0) AS u,
                  CAST(a4v AS DOUBLE) / 4.0
                    / sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                      * (CAST(nn AS DOUBLE) + 1.0)
                      * (CAST(nn AS DOUBLE) * 2.0 + 1.0)
                      * (CAST(nn AS DOUBLE) * 8.0 + 11.0) / 5.0) AS v,
                  CAST(CAST(nn AS HUGEINT) * nn - 4 AS DOUBLE) * 2.0
                    / CAST((CAST(2 AS HUGEINT) * nn + 1)
                      * (8 * nn + 11) AS DOUBLE) - 1.0 AS rho
                FROM m)
              SELECT n1, n2, u, v, rho,
                CASE WHEN rho * rho >= 1.0 THEN NULL
                  ELSE (u * u + v * v - rho * u * v * 2.0)
                    / (2.0 * (1.0 - rho * rho)) END AS c_stat
              FROM uv""")),

    // ── Welch's heteroscedastic one-way ANOVA across priorities ─────────
    // q_anova assumes equal variances; q_levene/q_conover test that
    // assumption — this is what to RUN when it fails: Welch's F* with
    // reciprocal-variance weights w = n/s² and the Satterthwaite-style
    // df₂. All moments from exact dec38 sums (one orders pass, 5-row
    // census); the Σ's over the ≤5 groups are priority-pinned folds of
    // 12-dec terms; every downstream op is a mirrored division chain.
    Q("q_welch_anova",
      (s, dir) => {
        val dec38 = DecimalType(38, 0)
        val g = Artifacts.persist(t(s, dir, "orders")
          .select(col("o_orderpriority").as("p"),
            (dec2(col("o_totalprice")) * 100).cast("long").as("c"))
          .groupBy("p")
          .agg(count(lit(1)).cast("long").as("n"),
            sum(col("c").cast(dec38)).as("s1"),
            sum(col("c").cast(dec38) * col("c")).as("s2"))
          .select(col("p"), col("n"),
            (col("s1").cast("double") / col("n").cast("double"))
              .as("m"),
            ((col("n").cast(dec38) * col("s2") - col("s1") * col("s1"))
              .cast("double")
              / (col("n").cast(dec38) * (col("n") - 1)).cast("double"))
              .as("v"))
          .select(col("p"), col("n"), col("m"), col("v"),
            (col("n").cast("double") / col("v")).as("w")))
        val k2 = g.select(col("p"), col("w"), (col("w") * col("m"))
          .as("wm")).agg(
          count(lit(1)).cast("long").as("k"),
          expr("""aggregate(array_sort(collect_list(struct(p, w))),
                  CAST(0 AS DOUBLE), (a, x) -> a + x.w)""").as("sw"),
          expr("""aggregate(array_sort(collect_list(struct(p, wm))),
                  CAST(0 AS DOUBLE), (a, x) -> a + x.wm)""").as("swm"))
          .withColumn("xbar", col("swm") / col("sw"))
          .localCheckpoint(true)
        val terms = g.crossJoin(broadcast(k2))
          .select(col("p"), col("n"), col("w"),
            round(col("w") * (col("m") - col("xbar"))
              * (col("m") - col("xbar")), 6).as("num_term"),
            round((lit(1.0) - col("w") / col("sw"))
              * (lit(1.0) - col("w") / col("sw"))
              / (col("n") - 1).cast("double"), 12).as("lam_term"))
        val folds = terms.agg(
          expr("""aggregate(array_sort(collect_list(struct(p, num_term))),
                  CAST(0 AS DOUBLE), (a, x) -> a + x.num_term)""")
            .as("snum"),
          expr("""aggregate(array_sort(collect_list(struct(p, lam_term))),
                  CAST(0 AS DOUBLE), (a, x) -> a + x.lam_term)""")
            .as("slam"))
        folds.crossJoin(broadcast(k2.select("k")))
          .select(col("k"),
            round(col("snum") / (col("k") - 1).cast("double")
              / (lit(1.0) + (col("k") - 2).cast("double") * 2.0
                / ((col("k") * col("k") - 1)).cast("double")
                * col("slam")), 6).as("welch_f"),
            (col("k") - 1).cast("long").as("df1"),
            round((col("k") * col("k") - 1).cast("double")
              / (col("slam") * 3.0), 6).as("df2"))
      },
      Some("""WITH g AS (
                SELECT o_orderpriority AS p,
                  CAST(count(*) AS BIGINT) AS n,
                  SUM(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS HUGEINT)) AS s1,
                  SUM(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS HUGEINT)
                    * CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                      AS BIGINT)) AS s2
                FROM orders GROUP BY 1),
              m AS (
                SELECT p, n,
                  CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS m,
                  CAST(CAST(n AS HUGEINT) * s2 - s1 * s1 AS DOUBLE)
                    / CAST(CAST(n AS HUGEINT) * (n - 1) AS DOUBLE) AS v
                FROM g),
              w AS (
                SELECT p, n, m, CAST(n AS DOUBLE) / v AS w FROM m),
              k2 AS (
                SELECT CAST(count(*) AS BIGINT) AS k,
                  list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(w ORDER BY p)), (a, x) -> a + x) AS sw,
                  list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(w * m ORDER BY p)), (a, x) -> a + x) AS swm
                FROM w),
              xb AS (SELECT k, sw, swm, swm / sw AS xbar FROM k2),
              terms AS (
                SELECT w.p, w.n, w.w,
                  round(w.w * (w.m - xb.xbar) * (w.m - xb.xbar), 6)
                    AS num_term,
                  round((1.0 - w.w / xb.sw) * (1.0 - w.w / xb.sw)
                    / CAST(w.n - 1 AS DOUBLE), 12) AS lam_term
                FROM w, xb),
              folds AS (
                SELECT
                  list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(num_term ORDER BY p)), (a, x) -> a + x) AS snum,
                  list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(lam_term ORDER BY p)), (a, x) -> a + x) AS slam
                FROM terms)
              SELECT xb.k,
                round(f.snum / CAST(xb.k - 1 AS DOUBLE)
                  / (1.0 + CAST(xb.k - 2 AS DOUBLE) * 2.0
                    / CAST(xb.k * xb.k - 1 AS DOUBLE) * f.slam), 6)
                  AS welch_f,
                CAST(xb.k - 1 AS BIGINT) AS df1,
                round(CAST(xb.k * xb.k - 1 AS DOUBLE) / (f.slam * 3.0),
                  6) AS df2
              FROM folds f, xb""")),

    // ── Bartlett's variance-homogeneity test across priorities ──────────
    // The normal-theory counterpart of q_levene (which is the robust
    // lens): T = Σᵢ(nᵢ−1)·ln(s_p²/sᵢ²) / C with the pooled s_p² and
    // C = 1 + (Σ1/(nᵢ−1) − 1/(N−k))/(3(k−1)) — the ANOVA-precondition
    // check a dashboard runs BEFORE trusting q_anova's F. Cross-engine
    // discipline: group variances come from exact DECIMAL(38,0) moment
    // sums (the covar_samp trap) so both engines hold identical
    // doubles; the only libm is ln of the O(1) ratio s_p²/sᵢ²
    // (rounded to 12 — safe at |x| ≲ 1), every Σ over the ≤k groups is
    // a priority-pinned fold, and C is assembled from exact counts.
    // Scale: one orders scan → k-row census; everything after is
    // census arithmetic.
    Q("q_bartlett",
      (s, dir) => {
        val dec38 = DecimalType(38, 0)
        val g = Artifacts.persist(t(s, dir, "orders")
          .select(col("o_orderpriority").as("p"),
            (dec2(col("o_totalprice")) * 100).cast("long").as("c"))
          .groupBy("p")
          .agg(count(lit(1)).cast("long").as("n"),
            sum(col("c").cast(dec38)).as("s1"),
            sum(col("c").cast(dec38) * col("c")).as("s2"))
          .select(col("p"), col("n"),
            ((col("n").cast(dec38) * col("s2") - col("s1") * col("s1"))
              .cast("double")
              / (col("n").cast(dec38) * (col("n") - 1)).cast("double"))
              .as("v")))
        val t1 = g.select(col("p"), col("n"), col("v"),
          ((col("n") - 1).cast("double") * col("v")).as("nv"),
          (lit(1.0) / (col("n") - 1).cast("double")).as("invdf"))
        val k2 = t1.agg(
          count(lit(1)).cast("long").as("k"),
          sum(col("n")).cast("long").as("nn"),
          expr("""aggregate(array_sort(collect_list(struct(p, nv))),
                  CAST(0 AS DOUBLE), (a, x) -> a + x.nv)""").as("snv"),
          expr("""aggregate(array_sort(collect_list(struct(p, invdf))),
                  CAST(0 AS DOUBLE), (a, x) -> a + x.invdf)""").as("sinv"))
          .withColumn("sp2",
            col("snv") / (col("nn") - col("k")).cast("double"))
          .withColumn("cfac", lit(1.0)
            + (col("sinv") - lit(1.0) / (col("nn") - col("k")).cast("double"))
              / (lit(3.0) * (col("k") - 1).cast("double")))
          .localCheckpoint(true)
        val lts = g.crossJoin(broadcast(k2))
          .select(col("p"),
            ((col("n") - 1).cast("double")
              * round(log(col("sp2") / col("v")), 12)).as("lt"))
        lts.agg(
            expr("""aggregate(array_sort(collect_list(struct(p, lt))),
                    CAST(0 AS DOUBLE), (a, x) -> a + x.lt)""").as("slt"))
          .crossJoin(broadcast(k2.select("k", "cfac")))
          .select(col("k"), (col("k") - 1).cast("long").as("df"),
            round(col("slt") / col("cfac"), 6).as("bartlett_t"),
            round(col("cfac"), 6).as("c_factor"))
      },
      Some("""WITH g AS (
                SELECT o_orderpriority AS p,
                  CAST(count(*) AS BIGINT) AS n,
                  SUM(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS HUGEINT)) AS s1,
                  SUM(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS HUGEINT)
                    * CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                      AS BIGINT)) AS s2
                FROM orders GROUP BY 1),
              m AS (
                SELECT p, n,
                  CAST(CAST(n AS HUGEINT) * s2 - s1 * s1 AS DOUBLE)
                    / CAST(CAST(n AS HUGEINT) * (n - 1) AS DOUBLE) AS v
                FROM g),
              t1 AS (
                SELECT p, n, v, CAST(n - 1 AS DOUBLE) * v AS nv,
                  1.0 / CAST(n - 1 AS DOUBLE) AS invdf
                FROM m),
              k2 AS (
                SELECT CAST(count(*) AS BIGINT) AS k,
                  CAST(SUM(n) AS BIGINT) AS nn,
                  list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(nv ORDER BY p)), (a, x) -> a + x) AS snv,
                  list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(invdf ORDER BY p)), (a, x) -> a + x) AS sinv
                FROM t1),
              s AS (
                SELECT k, nn, snv / CAST(nn - k AS DOUBLE) AS sp2,
                  1.0 + (sinv - 1.0 / CAST(nn - k AS DOUBLE))
                    / (3.0 * CAST(k - 1 AS DOUBLE)) AS cfac
                FROM k2),
              lts AS (
                SELECT m.p, CAST(m.n - 1 AS DOUBLE)
                  * round(ln(s.sp2 / m.v), 12) AS lt
                FROM m, s),
              f AS (
                SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
                  list(lt ORDER BY p)), (a, x) -> a + x) AS slt
                FROM lts)
              SELECT s.k, CAST(s.k - 1 AS BIGINT) AS df,
                round(f.slt / s.cfac, 6) AS bartlett_t,
                round(s.cfac, 6) AS c_factor
              FROM f, s""")),

    // ── Cochran's C + Hartley's Fmax: variance-OUTLIER screen ───────────
    // Completes the variance-homogeneity quartet (Levene = robust
    // omnibus, Bartlett = normal-theory omnibus, Conover = rank
    // dispersion): C = s²max/Σs²  and Fmax = s²max/s²min ask the
    // sharper question — is ONE group's variance the problem? Same
    // dec38 moment census as q_bartlett; each group variance is the
    // exact rational (n·ss−s²)/(n·(n−1)) surfaced by ONE pinned double
    // division (both factors dec38 — n(n−1) overflows int64 past
    // n~3·10⁹), the Σs² fold is type-pinned, max/min are
    // order-insensitive, and the argmax group is a deterministic
    // (v desc, type) pick over the ≤5-row frame.
    Q("q_cochran_c",
      (s, dir) => {
        val terms = anovaCensus(t(s, dir, "events"))
          .filter(col("n") > 1)
          .select(col("event_type"),
            ((col("n").cast(dec38) * col("ss") - col("s") * col("s"))
              .cast("double")
              / (col("n").cast(dec38) * (col("n") - 1)).cast("double"))
              .as("v"))
        val agg = terms.agg(count(lit(1)).cast("long").as("k"),
          max(col("v")).as("v_max"), min(col("v")).as("v_min"),
          expr("""aggregate(array_sort(collect_list(struct(event_type, v))),
                  CAST(0 AS DOUBLE), (a, x) -> a + x.v)""").as("v_sum"))
        val pick = terms
          .withColumn("rn", row_number().over(
            Window.orderBy(col("v").desc, col("event_type"))))
          .filter(col("rn") === 1)
          .select(col("event_type").as("type_max"))
        agg.crossJoin(broadcast(pick))
          .select(col("k"), col("type_max"),
            when(col("v_sum") <= 0, lit(null).cast("double"))
              .otherwise(col("v_max") / col("v_sum")).as("c_stat"),
            when(col("v_min") <= 0, lit(null).cast("double"))
              .otherwise(col("v_max") / col("v_min")).as("f_max"))
      },
      Some("""WITH c AS (
                SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                  SUM(CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS HUGEINT)) AS s,
                  SUM(CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100
                    AS BIGINT) * CAST(CAST(value AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS HUGEINT)) AS ss
                FROM events GROUP BY 1),
              terms AS (
                SELECT event_type,
                  CAST(CAST(n AS HUGEINT) * ss - s * s AS DOUBLE)
                    / CAST(CAST(n AS HUGEINT) * (n - 1) AS DOUBLE) AS v
                FROM c WHERE n > 1),
              agg AS (
                SELECT CAST(count(*) AS BIGINT) AS k,
                  MAX(v) AS v_max, MIN(v) AS v_min,
                  list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(v ORDER BY event_type)), (a, x) -> a + x)
                    AS v_sum
                FROM terms),
              pick AS (
                SELECT event_type AS type_max
                FROM (SELECT event_type,
                        row_number() OVER (ORDER BY v DESC, event_type)
                          AS rn
                      FROM terms) WHERE rn = 1)
              SELECT k, type_max,
                CASE WHEN v_sum <= 0 THEN NULL
                  ELSE v_max / v_sum END AS c_stat,
                CASE WHEN v_min <= 0 THEN NULL
                  ELSE v_max / v_min END AS f_max
              FROM agg, pick""")),

    // ── TOST equivalence test: urgent vs rest order values ──────────────
    // The inverted question every A/B readout here asks the wrong way
    // around: not "is there a difference" but "are the means
    // EQUIVALENT within ±$50"? Two one-sided Welch z's against the
    // pinned margin: t_lo = (d+δ)/se, t_hi = (d−δ)/se, equivalent iff
    // t_lo > z₀.₉₅ AND t_hi < −z₀.₉₅ (z pinned 1.644854; compared
    // against the ROUNDED statistics so the boolean cannot straddle an
    // ULP). Moments from exact DECIMAL(38,0) sums (the covar_samp
    // trap); variances via n·Σx²−(Σx)² in dec38, leaving the exact
    // domain only at the double casts — mirrored op-for-op, sqrt is
    // IEEE-exact. One orders scan → 2-group census.
    Q("q_tost_equivalence",
      (s, dir) => {
        val dec38 = DecimalType(38, 0)
        val g = t(s, dir, "orders")
          .select(
            when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
              .otherwise(0L).as("e"),
            (dec2(col("o_totalprice")) * 100).cast("long").as("cents"))
          .groupBy("e")
          .agg(count(lit(1)).cast("long").as("n"),
            sum(col("cents").cast(dec38)).as("s1"),
            sum(col("cents").cast(dec38) * col("cents")).as("s2"))
          .select(col("e"), col("n"),
            (col("s1").cast("double") / col("n").cast("double"))
              .as("mean"),
            ((col("n").cast(dec38) * col("s2") - col("s1") * col("s1"))
              .cast("double")
              / (col("n").cast(dec38) * (col("n") - 1)).cast("double"))
              .as("v"))
          // 2-row moment frame referenced by BOTH group branches —
          // materialized so the orders scan is paid exactly once
          .localCheckpoint(true)
        val wide = g.filter(col("e") === 1)
          .select(col("n").as("n1"), col("mean").as("m1"),
            col("v").as("v1"))
          .crossJoin(g.filter(col("e") === 0)
            .select(col("n").as("n2"), col("mean").as("m2"),
              col("v").as("v2")))
        wide.select(col("n1"), col("n2"),
            (col("m1") - col("m2")).as("diff_cents"),
            sqrt(col("v1") / col("n1").cast("double")
              + col("v2") / col("n2").cast("double")).as("se"))
          .select(col("n1"), col("n2"),
            round(col("diff_cents"), 6).as("diff_cents"),
            round(col("se"), 6).as("se"),
            round((col("diff_cents") + lit(5000.0)) / col("se"), 6)
              .as("t_lower"),
            round((col("diff_cents") - lit(5000.0)) / col("se"), 6)
              .as("t_upper"))
          .withColumn("equivalent",
            col("t_lower") > 1.644854 && col("t_upper") < -1.644854)
      },
      Some("""WITH base AS (
                SELECT CASE WHEN o_orderpriority IN
                    ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END AS e,
                  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS cents
                FROM orders),
              g AS (
                SELECT e, CAST(count(*) AS BIGINT) AS n,
                  SUM(CAST(cents AS HUGEINT)) AS s1,
                  SUM(CAST(cents AS HUGEINT) * cents) AS s2
                FROM base GROUP BY 1),
              m AS (
                SELECT e, n,
                  CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
                  CAST(CAST(n AS HUGEINT) * s2 - s1 * s1 AS DOUBLE)
                    / CAST(CAST(n AS HUGEINT) * (n - 1) AS DOUBLE) AS v
                FROM g),
              wide AS (
                SELECT a.n AS n1, a.mean AS m1, a.v AS v1,
                  b.n AS n2, b.mean AS m2, b.v AS v2
                FROM m a, m b WHERE a.e = 1 AND b.e = 0),
              stats AS (
                SELECT n1, n2, m1 - m2 AS diff_cents,
                  sqrt(v1 / CAST(n1 AS DOUBLE)
                    + v2 / CAST(n2 AS DOUBLE)) AS se
                FROM wide),
              res AS (
                SELECT n1, n2, round(diff_cents, 6) AS diff_cents,
                  round(se, 6) AS se,
                  round((diff_cents + 5000.0) / se, 6) AS t_lower,
                  round((diff_cents - 5000.0) / se, 6) AS t_upper
                FROM stats)
              SELECT n1, n2, diff_cents, se, t_lower, t_upper,
                (t_lower > 1.644854 AND t_upper < -1.644854)
                  AS equivalent
              FROM res""")),

    // ── covariate balance: standardized mean differences ────────────────
    // The causal-inference pre-check: before attributing anything to
    // "being a purchaser", how imbalanced are the treated (≥1
    // purchase) and control user populations on spend, activity and
    // span? SMD = (m̄_t − m̄_c)/√((v_t+v_c)/2) per covariate. ONE
    // per-user census (users collapse first), ONE partial+final agg
    // to per-arm exact moment sums, row-local IEEE finishers.
    // NULL-guarded degenerate variances.
    Q("q_covariate_balance",
      (s, dir) => {
        val users = t(s, dir, "events")
          .groupBy("user_id")
          .agg(
            max((col("event_type") === "purchase").cast("long"))
              .as("treated"),
            sum((dec2(col("value")) * 100).cast("long")
              .cast(dec38)).as("spend"),
            count(lit(1)).cast("long").as("activity"),
            countDistinct(col("ts").cast("date")).cast("long")
              .as("span"))
        val arms = users.groupBy("treated")
          .agg(count(lit(1)).cast("long").as("n"),
            sum(col("spend")).as("s1"),
            sum(col("spend") * col("spend")).as("s2"),
            sum(col("activity")).cast("long").as("a1"),
            sum(col("activity") * col("activity")).cast("long").as("a2"),
            sum(col("span")).cast("long").as("d1"),
            sum(col("span") * col("span")).cast("long").as("d2"))
        def mv(s1: Column, s2: Column, n: Column): (Column, Column) = {
          val m = s1.cast("double") / n.cast("double")
          (m, s2.cast("double") / n.cast("double") - m * m)
        }
        val wide = arms
          .select(
            sum(when(col("treated") === 1, col("n"))).as("n_t"),
            sum(when(col("treated") === 0, col("n"))).as("n_c"),
            sum(when(col("treated") === 1, col("s1"))).as("s1t"),
            sum(when(col("treated") === 0, col("s1"))).as("s1c"),
            sum(when(col("treated") === 1, col("s2"))).as("s2t"),
            sum(when(col("treated") === 0, col("s2"))).as("s2c"),
            sum(when(col("treated") === 1, col("a1"))).as("a1t"),
            sum(when(col("treated") === 0, col("a1"))).as("a1c"),
            sum(when(col("treated") === 1, col("a2"))).as("a2t"),
            sum(when(col("treated") === 0, col("a2"))).as("a2c"),
            sum(when(col("treated") === 1, col("d1"))).as("d1t"),
            sum(when(col("treated") === 0, col("d1"))).as("d1c"),
            sum(when(col("treated") === 1, col("d2"))).as("d2t"),
            sum(when(col("treated") === 0, col("d2"))).as("d2c"))
        def smd(s1t: String, s2t: String, s1c: String, s2c: String) = {
          val (mt, vt) = mv(col(s1t), col(s2t), col("n_t"))
          val (mc, vc) = mv(col(s1c), col(s2c), col("n_c"))
          when(col("n_t").isNull || col("n_c").isNull
            || col("n_t") === 0 || col("n_c") === 0
            || (vt + vc) <= 0, lit(null).cast("double"))
            .otherwise(round((mt - mc)
              / sqrt((vt + vc) / lit(2.0)), 12))
        }
        wide.select(
          col("n_t").cast("long").as("n_treated"),
          col("n_c").cast("long").as("n_control"),
          smd("s1t", "s2t", "s1c", "s2c").as("smd_spend"),
          smd("a1t", "a2t", "a1c", "a2c").as("smd_activity"),
          smd("d1t", "d2t", "d1c", "d2c").as("smd_span"))
      },
      Some("""WITH users AS (
                SELECT user_id,
                  MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                    END) AS treated,
                  SUM(CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS HUGEINT)) AS spend,
                  CAST(count(*) AS BIGINT) AS activity,
                  CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT)
                    AS span
                FROM events GROUP BY 1),
              arms AS (
                SELECT treated, CAST(count(*) AS BIGINT) AS n,
                  SUM(spend) AS s1, SUM(spend * spend) AS s2,
                  CAST(SUM(activity) AS BIGINT) AS a1,
                  CAST(SUM(activity * activity) AS BIGINT) AS a2,
                  CAST(SUM(span) AS BIGINT) AS d1,
                  CAST(SUM(span * span) AS BIGINT) AS d2
                FROM users GROUP BY 1),
              wide AS (
                SELECT
                  SUM(CASE WHEN treated = 1 THEN n END) AS n_t,
                  SUM(CASE WHEN treated = 0 THEN n END) AS n_c,
                  SUM(CASE WHEN treated = 1 THEN s1 END) AS s1t,
                  SUM(CASE WHEN treated = 0 THEN s1 END) AS s1c,
                  SUM(CASE WHEN treated = 1 THEN s2 END) AS s2t,
                  SUM(CASE WHEN treated = 0 THEN s2 END) AS s2c,
                  SUM(CASE WHEN treated = 1 THEN a1 END) AS a1t,
                  SUM(CASE WHEN treated = 0 THEN a1 END) AS a1c,
                  SUM(CASE WHEN treated = 1 THEN a2 END) AS a2t,
                  SUM(CASE WHEN treated = 0 THEN a2 END) AS a2c,
                  SUM(CASE WHEN treated = 1 THEN d1 END) AS d1t,
                  SUM(CASE WHEN treated = 0 THEN d1 END) AS d1c,
                  SUM(CASE WHEN treated = 1 THEN d2 END) AS d2t,
                  SUM(CASE WHEN treated = 0 THEN d2 END) AS d2c
                FROM arms)
              SELECT CAST(n_t AS BIGINT) AS n_treated,
                CAST(n_c AS BIGINT) AS n_control,
                CASE WHEN n_t IS NULL OR n_c IS NULL OR n_t = 0
                    OR n_c = 0
                    OR (CAST(s2t AS DOUBLE) / n_t
                      - (CAST(s1t AS DOUBLE) / n_t)
                        * (CAST(s1t AS DOUBLE) / n_t)
                      + CAST(s2c AS DOUBLE) / n_c
                      - (CAST(s1c AS DOUBLE) / n_c)
                        * (CAST(s1c AS DOUBLE) / n_c)) <= 0 THEN NULL
                  ELSE round((CAST(s1t AS DOUBLE) / n_t
                    - CAST(s1c AS DOUBLE) / n_c)
                    / sqrt((CAST(s2t AS DOUBLE) / n_t
                      - (CAST(s1t AS DOUBLE) / n_t)
                        * (CAST(s1t AS DOUBLE) / n_t)
                      + CAST(s2c AS DOUBLE) / n_c
                      - (CAST(s1c AS DOUBLE) / n_c)
                        * (CAST(s1c AS DOUBLE) / n_c)) / 2.0), 12) END
                  AS smd_spend,
                CASE WHEN n_t IS NULL OR n_c IS NULL OR n_t = 0
                    OR n_c = 0
                    OR (CAST(a2t AS DOUBLE) / n_t
                      - (CAST(a1t AS DOUBLE) / n_t)
                        * (CAST(a1t AS DOUBLE) / n_t)
                      + CAST(a2c AS DOUBLE) / n_c
                      - (CAST(a1c AS DOUBLE) / n_c)
                        * (CAST(a1c AS DOUBLE) / n_c)) <= 0 THEN NULL
                  ELSE round((CAST(a1t AS DOUBLE) / n_t
                    - CAST(a1c AS DOUBLE) / n_c)
                    / sqrt((CAST(a2t AS DOUBLE) / n_t
                      - (CAST(a1t AS DOUBLE) / n_t)
                        * (CAST(a1t AS DOUBLE) / n_t)
                      + CAST(a2c AS DOUBLE) / n_c
                      - (CAST(a1c AS DOUBLE) / n_c)
                        * (CAST(a1c AS DOUBLE) / n_c)) / 2.0), 12) END
                  AS smd_activity,
                CASE WHEN n_t IS NULL OR n_c IS NULL OR n_t = 0
                    OR n_c = 0
                    OR (CAST(d2t AS DOUBLE) / n_t
                      - (CAST(d1t AS DOUBLE) / n_t)
                        * (CAST(d1t AS DOUBLE) / n_t)
                      + CAST(d2c AS DOUBLE) / n_c
                      - (CAST(d1c AS DOUBLE) / n_c)
                        * (CAST(d1c AS DOUBLE) / n_c)) <= 0 THEN NULL
                  ELSE round((CAST(d1t AS DOUBLE) / n_t
                    - CAST(d1c AS DOUBLE) / n_c)
                    / sqrt((CAST(d2t AS DOUBLE) / n_t
                      - (CAST(d1t AS DOUBLE) / n_t)
                        * (CAST(d1t AS DOUBLE) / n_t)
                      + CAST(d2c AS DOUBLE) / n_c
                      - (CAST(d1c AS DOUBLE) / n_c)
                        * (CAST(d1c AS DOUBLE) / n_c)) / 2.0), 12) END
                  AS smd_span
              FROM wide""")),

    // ── McNemar's test: two classifiers on the same events ──────────────
    // Paired model comparison — the question A/B accuracy deltas can't
    // answer (the pairing matters). Classifier A thresholds the score
    // (value > 50), classifier B bets on time-of-day (hour ≥ 12);
    // label = purchase. ONE partial+final agg to the 2×2 agreement
    // census ([[mcnemarCensus]] — mergeable, the streaming twin's
    // Complete-mode state); the continuity-corrected χ² is one IEEE
    // expression of exact counts, NULL-guarded when there are no
    // discordant pairs.
    Q("q_mcnemar",
      (s, dir) => mcnemarFinish(mcnemarCensus(t(s, dir, "events"))),
      Some("""WITH p AS (
                SELECT event_type = 'purchase' AS label,
                  value > 50.0 AS pred_a,
                  hour(ts) >= 12 AS pred_b
                FROM events)
              SELECT count(*) AS n_pairs,
                CAST(SUM(CASE WHEN pred_a = label AND pred_b <> label
                  THEN 1 ELSE 0 END) AS BIGINT) AS b,
                CAST(SUM(CASE WHEN pred_a <> label AND pred_b = label
                  THEN 1 ELSE 0 END) AS BIGINT) AS c,
                CASE WHEN SUM(CASE WHEN pred_a = label AND pred_b <> label
                    THEN 1 ELSE 0 END)
                  + SUM(CASE WHEN pred_a <> label AND pred_b = label
                    THEN 1 ELSE 0 END) = 0 THEN NULL
                  ELSE (abs(CAST(SUM(CASE WHEN pred_a = label
                      AND pred_b <> label THEN 1 ELSE 0 END)
                    - SUM(CASE WHEN pred_a <> label AND pred_b = label
                      THEN 1 ELSE 0 END) AS DOUBLE)) - 1.0)
                    * (abs(CAST(SUM(CASE WHEN pred_a = label
                        AND pred_b <> label THEN 1 ELSE 0 END)
                      - SUM(CASE WHEN pred_a <> label AND pred_b = label
                        THEN 1 ELSE 0 END) AS DOUBLE)) - 1.0)
                    / CAST(SUM(CASE WHEN pred_a = label AND pred_b <> label
                        THEN 1 ELSE 0 END)
                      + SUM(CASE WHEN pred_a <> label AND pred_b = label
                        THEN 1 ELSE 0 END) AS DOUBLE) END AS chi2
              FROM p""")),

    // ── Brown–Forsythe Levene test: acctbal spread across segments ──────
    // Variance homogeneity — the assumption q_anova quietly makes,
    // tested with the robust median-centered variant. The corpus
    // collapses to the (segment, cents) value-domain census ONCE
    // (the median extraction and the deviation re-join both read it);
    // group medians come from a cumulative-count selection
    // (FP-free, exact half-cents carried ×2), absolute deviations stay
    // integers, and the F statistic is [[anovaFinish]] verbatim over
    // the exact (group, n, Σz, Σz²) moments.
    Q("q_levene",
      (s, dir) => {
        val wc = Window.partitionBy("seg").orderBy("cents")
        val census = t(s, dir, "customer")
          .select(col("c_mktsegment").as("seg"),
            (dec2(col("c_acctbal")) * 100).cast("long").as("cents"))
          .groupBy("seg", "cents")
          .agg(count(lit(1)).cast("long").as("cnt"))
        val tot = census.groupBy("seg")
          .agg(sum(col("cnt")).cast("long").as("n_g"))
        val med = census.join(broadcast(tot), "seg")
          .withColumn("cum", sum(col("cnt")).over(wc))
          .groupBy("seg")
          .agg((min(when(col("cum") >= expr("(n_g + 1) div 2"),
            col("cents")))
            + min(when(col("cum") >= expr("(n_g + 2) div 2"),
              col("cents")))).as("med_x2"))
        val zc = census.join(broadcast(med), "seg")
          .select(col("seg").as("event_type"), col("cnt"),
            abs(lit(2L) * col("cents") - col("med_x2")).as("z2"))
          .groupBy("event_type")
          .agg(sum(col("cnt")).cast("long").as("n"),
            sum(col("z2").cast(dec38) * col("cnt")).as("s"),
            sum(col("z2").cast(dec38) * col("z2") * col("cnt")).as("ss"))
        anovaFinish(zc)
      },
      Some("""WITH census AS (
                SELECT c_mktsegment AS seg,
                  CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
                    AS cents,
                  CAST(count(*) AS BIGINT) AS cnt
                FROM customer GROUP BY 1, 2),
              tot AS (SELECT seg, CAST(SUM(cnt) AS BIGINT) AS n_g
                      FROM census GROUP BY 1),
              cum AS (
                SELECT census.seg, cents, cnt, n_g,
                  SUM(cnt) OVER (PARTITION BY census.seg ORDER BY cents)
                    AS cum
                FROM census JOIN tot ON census.seg = tot.seg),
              med AS (
                SELECT seg,
                  MIN(CASE WHEN cum >= (n_g + 1) // 2 THEN cents END)
                    + MIN(CASE WHEN cum >= (n_g + 2) // 2 THEN cents END)
                    AS med_x2
                FROM cum GROUP BY 1),
              zc AS (
                SELECT census.seg AS event_type,
                  CAST(SUM(cnt) AS BIGINT) AS n,
                  SUM(CAST(abs(2 * cents - med_x2) AS HUGEINT) * cnt) AS s,
                  SUM(CAST(abs(2 * cents - med_x2) AS HUGEINT)
                    * abs(2 * cents - med_x2) * cnt) AS ss
                FROM census JOIN med ON census.seg = med.seg
                GROUP BY 1),
              tt AS (SELECT CAST(SUM(n) AS BIGINT) AS n_tot,
                       CAST(SUM(s) AS HUGEINT) AS s_tot FROM zc),
              terms AS (
                SELECT event_type, n, n_tot,
                  round(CAST(n AS DOUBLE)
                    * (CAST(s AS DOUBLE) / n
                      - CAST(s_tot AS DOUBLE) / n_tot)
                    * (CAST(s AS DOUBLE) / n
                      - CAST(s_tot AS DOUBLE) / n_tot), 6) AS ssb_term,
                  round(CAST(ss AS DOUBLE)
                    - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n, 6)
                    AS ssw_term
                FROM zc, tt),
              agg AS (
                SELECT CAST(count(*) AS BIGINT) AS k,
                  CAST(MAX(n_tot) AS BIGINT) AS n_tot,
                  list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(ssb_term ORDER BY event_type)),
                    (a, x) -> a + x) AS ssb,
                  list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(ssw_term ORDER BY event_type)),
                    (a, x) -> a + x) AS ssw
                FROM terms)
              SELECT k, n_tot AS n,
                round(ssb, 6) AS ssb, round(ssw, 6) AS ssw,
                (ssb / CAST(k - 1 AS DOUBLE))
                  / (ssw / CAST(n_tot - k AS DOUBLE)) AS f_stat
              FROM agg""")),

    // ── Tukey HSD post-hoc: which event-type value means differ? ────────
    // q_anova's natural companion: after the omnibus F, the pairwise
    // studentized-range statistic qᵢⱼ = |μᵢ−μⱼ| / √(MSW/2·(1/nᵢ+1/nⱼ))
    // for every type pair. Rides the SAME ≤5-row persisted moment
    // census as q_anova (one events scan); MSW folds the per-group
    // SSW terms type-pinned; the pair frame is census × census (≤10
    // rows) with a 1-row MSW broadcast — all row-local IEEE on exact
    // cent sums.
    Q("q_tukey_hsd",
      (s, dir) => tukeyFinish(anovaCensus(t(s, dir, "events"))),
      Some("""WITH c AS (
                SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                  SUM(CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS HUGEINT)) AS s,
                  SUM(CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS HUGEINT)
                    * CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100
                      AS BIGINT) AS HUGEINT)) AS ss
                FROM events GROUP BY 1),
              mswt AS (
                SELECT CAST(SUM(n) AS BIGINT) AS n_tot,
                  CAST(count(*) AS BIGINT) AS k,
                  list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(round(CAST(ss AS DOUBLE)
                      - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                        / CAST(n AS DOUBLE), 6) ORDER BY event_type)),
                    (a, x) -> a + x) AS ssw
                FROM c),
              msw AS (
                SELECT ssw / CAST(n_tot - k AS DOUBLE) AS msw FROM mswt)
              SELECT a.event_type AS type_a, b.event_type AS type_b,
                a.n AS n_a, b.n AS n_b,
                round((CAST(a.s AS DOUBLE) / a.n
                  - CAST(b.s AS DOUBLE) / b.n) / 100.0, 6) AS mean_diff,
                CASE WHEN msw <= 0 THEN NULL
                  ELSE round(abs(CAST(a.s AS DOUBLE) / a.n
                    - CAST(b.s AS DOUBLE) / b.n)
                    / sqrt(msw / 2.0 * (1.0 / a.n + 1.0 / b.n)), 6) END
                  AS q_stat
              FROM c a JOIN c b ON a.event_type < b.event_type, msw
              ORDER BY type_a, type_b""")),

    // ── log-rank test: do urgent orders fulfil on a different curve? ────
    // The two-group comparison q_survival_km's single curve can't make:
    // same duration/event definitions (order → first ship, event =
    // status F), groups = priority 1-2 vs rest. Per distinct duration
    // the at-risk counts are EXACT suffix sums over the dur census
    // (total − exclusive prefix, the KM idiom); O−E and variance terms
    // are row-local rationals of those integers, rounded 9 and folded
    // dur-pinned; χ² = (ΣO−ΣE)²/ΣV is the one final IEEE step. Two
    // fact scans (lineitem first-ship + orders), dur-census-bounded.
    Q("q_log_rank",
      (s, dir) => {
        val firstShip = t(s, dir, "lineitem")
          .groupBy("l_orderkey").agg(min(col("l_shipdate")).as("ship0"))
        val durs = t(s, dir, "orders")
          .join(firstShip, col("o_orderkey") === col("l_orderkey"))
          .select(
            datediff(to_date(col("ship0")), to_date(col("o_orderdate")))
              .cast("long").as("dur"),
            when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("ev"),
            when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
              .otherwise(0L).as("g"))
        val census = durs.groupBy("dur")
          .agg(sum(when(col("g") === 1, col("ev")).otherwise(lit(0L)))
              .cast("long").as("d1"),
            sum(when(col("g") === 1, lit(1L) - col("ev"))
              .otherwise(lit(0L))).cast("long").as("c1"),
            sum(when(col("g") === 0, col("ev")).otherwise(lit(0L)))
              .cast("long").as("d0"),
            sum(when(col("g") === 0, lit(1L) - col("ev"))
              .otherwise(lit(0L))).cast("long").as("c0"))
        val wAll = Window.partitionBy()
        val wPrev = Window.orderBy(col("dur"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val risk = census
          .select(col("dur"), col("d1"), col("d0"),
            (sum(col("d1") + col("c1")).over(wAll)
              - coalesce(sum(col("d1") + col("c1")).over(wPrev), lit(0L)))
              .cast("long").as("n1"),
            (sum(col("d1") + col("c1") + col("d0") + col("c0")).over(wAll)
              - coalesce(sum(col("d1") + col("c1") + col("d0") + col("c0"))
                  .over(wPrev), lit(0L)))
              .cast("long").as("nr"))
          .filter(col("d1") + col("d0") > 0 && col("nr") > 1)
          .select(col("dur"), col("d1"),
            round((col("d1") + col("d0")).cast("double")
              * col("n1").cast("double") / col("nr").cast("double"), 9)
              .as("e1"),
            round((col("d1") + col("d0")).cast("double")
              * (col("n1").cast("double") / col("nr").cast("double"))
              * (lit(1.0) - col("n1").cast("double")
                / col("nr").cast("double"))
              * (col("nr") - (col("d1") + col("d0"))).cast("double")
              / (col("nr") - 1).cast("double"), 9).as("v"))
        risk.agg(count(lit(1)).cast("long").as("n_times"),
            sum(col("d1")).cast("long").as("o1"),
            expr("""aggregate(array_sort(collect_list(struct(dur, e1))),
                    CAST(0 AS DOUBLE), (a, x) -> a + x.e1)""").as("se1"),
            expr("""aggregate(array_sort(collect_list(struct(dur, v))),
                    CAST(0 AS DOUBLE), (a, x) -> a + x.v)""").as("sv"))
          .select(col("n_times"), col("o1"),
            round(col("se1"), 6).as("e1_total"),
            when(col("sv") <= 0, lit(null).cast("double"))
              .otherwise(round(
                (col("o1").cast("double") - col("se1"))
                  * (col("o1").cast("double") - col("se1")) / col("sv"),
                6)).as("chi2"))
      },
      Some("""WITH firstship AS (
                SELECT l_orderkey, MIN(l_shipdate) AS ship0
                FROM lineitem GROUP BY 1),
              durs AS (
                SELECT CAST(date_diff('day', CAST(o_orderdate AS DATE),
                    CAST(ship0 AS DATE)) AS BIGINT) AS dur,
                  CASE WHEN o_orderstatus = 'F' THEN CAST(1 AS BIGINT)
                    ELSE CAST(0 AS BIGINT) END AS ev,
                  CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END AS g
                FROM orders JOIN firstship ON o_orderkey = l_orderkey),
              census AS (
                SELECT dur,
                  CAST(SUM(CASE WHEN g = 1 THEN ev ELSE 0 END)
                    AS BIGINT) AS d1,
                  CAST(SUM(CASE WHEN g = 1 THEN 1 - ev ELSE 0 END)
                    AS BIGINT) AS c1,
                  CAST(SUM(CASE WHEN g = 0 THEN ev ELSE 0 END)
                    AS BIGINT) AS d0,
                  CAST(SUM(CASE WHEN g = 0 THEN 1 - ev ELSE 0 END)
                    AS BIGINT) AS c0
                FROM durs GROUP BY 1),
              risk AS (
                SELECT dur, d1, d0,
                  CAST(SUM(d1 + c1) OVER ()
                    - COALESCE(SUM(d1 + c1) OVER (ORDER BY dur
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0) AS BIGINT) AS n1,
                  CAST(SUM(d1 + c1 + d0 + c0) OVER ()
                    - COALESCE(SUM(d1 + c1 + d0 + c0) OVER (ORDER BY dur
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0) AS BIGINT) AS nr
                FROM census),
              terms AS (
                SELECT dur, d1,
                  round(CAST(d1 + d0 AS DOUBLE)
                    * CAST(n1 AS DOUBLE) / CAST(nr AS DOUBLE), 9) AS e1,
                  round(CAST(d1 + d0 AS DOUBLE)
                    * (CAST(n1 AS DOUBLE) / CAST(nr AS DOUBLE))
                    * (1.0 - CAST(n1 AS DOUBLE) / CAST(nr AS DOUBLE))
                    * CAST(nr - (d1 + d0) AS DOUBLE)
                    / CAST(nr - 1 AS DOUBLE), 9) AS v
                FROM risk WHERE d1 + d0 > 0 AND nr > 1),
              agg AS (
                SELECT CAST(count(*) AS BIGINT) AS n_times,
                  CAST(SUM(d1) AS BIGINT) AS o1,
                  list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(e1 ORDER BY dur)), (a, x) -> a + x) AS se1,
                  list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(v ORDER BY dur)), (a, x) -> a + x) AS sv
                FROM terms)
              SELECT n_times, o1, round(se1, 6) AS e1_total,
                CASE WHEN sv <= 0 THEN NULL
                  ELSE round((CAST(o1 AS DOUBLE) - se1)
                    * (CAST(o1 AS DOUBLE) - se1) / sv, 6) END AS chi2
              FROM agg""")),

    // ── Gehan–Wilcoxon survival test (early-difference weighted) ────────
    // The log-rank's weighted sibling: weight each event time by the
    // RISK-SET size w_t = n_t, so early differences dominate — the
    // test that flags "urgent orders ship faster at the start even if
    // the tails converge", which q_log_rank's flat weights dilute.
    // SAME duration/risk censuses as q_log_rank; per-time terms
    // w·(d₁ − e₁) and w²·v are exact-int multiples of the 9-dec-pinned
    // e₁/v (identical doubles both engines), dur-pinned folds, one
    // final z = Σw·diff / √Σw²v.
    Q("q_gehan_wilcoxon",
      (s, dir) => {
        val firstShip = t(s, dir, "lineitem")
          .groupBy("l_orderkey").agg(min(col("l_shipdate")).as("ship0"))
        val durs = t(s, dir, "orders")
          .join(firstShip, col("o_orderkey") === col("l_orderkey"))
          .select(
            datediff(to_date(col("ship0")), to_date(col("o_orderdate")))
              .cast("long").as("dur"),
            when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("ev"),
            when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
              .otherwise(0L).as("g"))
        val census = durs.groupBy("dur")
          .agg(sum(when(col("g") === 1, col("ev")).otherwise(lit(0L)))
              .cast("long").as("d1"),
            sum(when(col("g") === 1, lit(1L) - col("ev"))
              .otherwise(lit(0L))).cast("long").as("c1"),
            sum(when(col("g") === 0, col("ev")).otherwise(lit(0L)))
              .cast("long").as("d0"),
            sum(when(col("g") === 0, lit(1L) - col("ev"))
              .otherwise(lit(0L))).cast("long").as("c0"))
        val wAll = Window.partitionBy()
        val wPrev = Window.orderBy(col("dur"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val risk = census
          .select(col("dur"), col("d1"), col("d0"),
            (sum(col("d1") + col("c1")).over(wAll)
              - coalesce(sum(col("d1") + col("c1")).over(wPrev), lit(0L)))
              .cast("long").as("n1"),
            (sum(col("d1") + col("c1") + col("d0") + col("c0")).over(wAll)
              - coalesce(sum(col("d1") + col("c1") + col("d0") + col("c0"))
                  .over(wPrev), lit(0L)))
              .cast("long").as("nr"))
          .filter(col("d1") + col("d0") > 0 && col("nr") > 1)
          .select(col("dur"),
            (col("nr").cast("double") * (col("d1").cast("double")
              - round((col("d1") + col("d0")).cast("double")
                * col("n1").cast("double") / col("nr").cast("double"),
                9))).as("wdiff"),
            ((col("nr").cast("double") * col("nr").cast("double"))
              * round((col("d1") + col("d0")).cast("double")
                * (col("n1").cast("double") / col("nr").cast("double"))
                * (lit(1.0) - col("n1").cast("double")
                  / col("nr").cast("double"))
                * (col("nr") - (col("d1") + col("d0"))).cast("double")
                / (col("nr") - 1).cast("double"), 9)).as("wv"))
        risk.agg(count(lit(1)).cast("long").as("n_times"),
            expr("""aggregate(array_sort(collect_list(struct(dur, wdiff))),
                    CAST(0 AS DOUBLE), (a, x) -> a + x.wdiff)""")
              .as("swd"),
            expr("""aggregate(array_sort(collect_list(struct(dur, wv))),
                    CAST(0 AS DOUBLE), (a, x) -> a + x.wv)""").as("swv"))
          .select(col("n_times"), round(col("swd"), 6).as("sum_w_diff"),
            when(col("swv") <= 0, lit(null).cast("double"))
              .otherwise(round(col("swd") / sqrt(col("swv")), 6))
              .as("z_gehan"))
      },
      Some("""WITH firstship AS (
                SELECT l_orderkey, MIN(l_shipdate) AS ship0
                FROM lineitem GROUP BY 1),
              durs AS (
                SELECT CAST(date_diff('day', CAST(o_orderdate AS DATE),
                    CAST(ship0 AS DATE)) AS BIGINT) AS dur,
                  CASE WHEN o_orderstatus = 'F' THEN CAST(1 AS BIGINT)
                    ELSE CAST(0 AS BIGINT) END AS ev,
                  CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END AS g
                FROM orders JOIN firstship ON o_orderkey = l_orderkey),
              census AS (
                SELECT dur,
                  CAST(SUM(CASE WHEN g = 1 THEN ev ELSE 0 END)
                    AS BIGINT) AS d1,
                  CAST(SUM(CASE WHEN g = 1 THEN 1 - ev ELSE 0 END)
                    AS BIGINT) AS c1,
                  CAST(SUM(CASE WHEN g = 0 THEN ev ELSE 0 END)
                    AS BIGINT) AS d0,
                  CAST(SUM(CASE WHEN g = 0 THEN 1 - ev ELSE 0 END)
                    AS BIGINT) AS c0
                FROM durs GROUP BY 1),
              risk AS (
                SELECT dur, d1, d0,
                  CAST(SUM(d1 + c1) OVER ()
                    - COALESCE(SUM(d1 + c1) OVER (ORDER BY dur
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0) AS BIGINT) AS n1,
                  CAST(SUM(d1 + c1 + d0 + c0) OVER ()
                    - COALESCE(SUM(d1 + c1 + d0 + c0) OVER (ORDER BY dur
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0) AS BIGINT) AS nr
                FROM census),
              terms AS (
                SELECT dur,
                  CAST(nr AS DOUBLE) * (CAST(d1 AS DOUBLE)
                    - round(CAST(d1 + d0 AS DOUBLE)
                      * CAST(n1 AS DOUBLE) / CAST(nr AS DOUBLE), 9))
                    AS wdiff,
                  CAST(nr AS DOUBLE) * CAST(nr AS DOUBLE)
                    * round(CAST(d1 + d0 AS DOUBLE)
                      * (CAST(n1 AS DOUBLE) / CAST(nr AS DOUBLE))
                      * (1.0 - CAST(n1 AS DOUBLE) / CAST(nr AS DOUBLE))
                      * CAST(nr - (d1 + d0) AS DOUBLE)
                      / CAST(nr - 1 AS DOUBLE), 9) AS wv
                FROM risk WHERE d1 + d0 > 0 AND nr > 1),
              agg AS (
                SELECT CAST(count(*) AS BIGINT) AS n_times,
                  list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(wdiff ORDER BY dur)), (a, x) -> a + x) AS swd,
                  list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(wv ORDER BY dur)), (a, x) -> a + x) AS swv
                FROM terms)
              SELECT n_times, round(swd, 6) AS sum_w_diff,
                CASE WHEN swv <= 0 THEN NULL
                  ELSE round(swd / sqrt(swv), 6) END AS z_gehan
              FROM agg""")),

    // ── Tarone–Ware survival test (√n̄-weighted middle ground) ──────────
    // Completes the weighted-log-rank triple: q_log_rank weights every
    // event time 1 (late differences count fully), q_gehan_wilcoxon
    // weights by the risk set n_t (early dominates), Tarone–Ware's
    // w_t = √n_t sits between — the recommended default when you don't
    // know WHERE the curves separate. SAME duration/risk censuses;
    // w = √nr is one sqrt of an identical long (bit-stable), w² = nr
    // EXACTLY — so the variance terms stay integer-weighted multiples
    // of the 9-dec-pinned v, never squaring a double. Dur-pinned
    // folds, one final z = Σ√n·diff / √Σn·v.
    Q("q_tarone_ware",
      (s, dir) => {
        val firstShip = t(s, dir, "lineitem")
          .groupBy("l_orderkey").agg(min(col("l_shipdate")).as("ship0"))
        val durs = t(s, dir, "orders")
          .join(firstShip, col("o_orderkey") === col("l_orderkey"))
          .select(
            datediff(to_date(col("ship0")), to_date(col("o_orderdate")))
              .cast("long").as("dur"),
            when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("ev"),
            when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
              .otherwise(0L).as("g"))
        val census = durs.groupBy("dur")
          .agg(sum(when(col("g") === 1, col("ev")).otherwise(lit(0L)))
              .cast("long").as("d1"),
            sum(when(col("g") === 1, lit(1L) - col("ev"))
              .otherwise(lit(0L))).cast("long").as("c1"),
            sum(when(col("g") === 0, col("ev")).otherwise(lit(0L)))
              .cast("long").as("d0"),
            sum(when(col("g") === 0, lit(1L) - col("ev"))
              .otherwise(lit(0L))).cast("long").as("c0"))
        val wAll = Window.partitionBy()
        val wPrev = Window.orderBy(col("dur"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val risk = census
          .select(col("dur"), col("d1"), col("d0"),
            (sum(col("d1") + col("c1")).over(wAll)
              - coalesce(sum(col("d1") + col("c1")).over(wPrev), lit(0L)))
              .cast("long").as("n1"),
            (sum(col("d1") + col("c1") + col("d0") + col("c0")).over(wAll)
              - coalesce(sum(col("d1") + col("c1") + col("d0") + col("c0"))
                  .over(wPrev), lit(0L)))
              .cast("long").as("nr"))
          .filter(col("d1") + col("d0") > 0 && col("nr") > 1)
          .select(col("dur"),
            (sqrt(col("nr").cast("double")) * (col("d1").cast("double")
              - round((col("d1") + col("d0")).cast("double")
                * col("n1").cast("double") / col("nr").cast("double"),
                9))).as("wdiff"),
            (col("nr").cast("double")
              * round((col("d1") + col("d0")).cast("double")
                * (col("n1").cast("double") / col("nr").cast("double"))
                * (lit(1.0) - col("n1").cast("double")
                  / col("nr").cast("double"))
                * (col("nr") - (col("d1") + col("d0"))).cast("double")
                / (col("nr") - 1).cast("double"), 9)).as("wv"))
        risk.agg(count(lit(1)).cast("long").as("n_times"),
            expr("""aggregate(array_sort(collect_list(struct(dur, wdiff))),
                    CAST(0 AS DOUBLE), (a, x) -> a + x.wdiff)""")
              .as("swd"),
            expr("""aggregate(array_sort(collect_list(struct(dur, wv))),
                    CAST(0 AS DOUBLE), (a, x) -> a + x.wv)""").as("swv"))
          .select(col("n_times"), round(col("swd"), 6).as("sum_w_diff"),
            when(col("swv") <= 0, lit(null).cast("double"))
              .otherwise(round(col("swd") / sqrt(col("swv")), 6))
              .as("z_tw"))
      },
      Some("""WITH firstship AS (
                SELECT l_orderkey, MIN(l_shipdate) AS ship0
                FROM lineitem GROUP BY 1),
              durs AS (
                SELECT CAST(date_diff('day', CAST(o_orderdate AS DATE),
                    CAST(ship0 AS DATE)) AS BIGINT) AS dur,
                  CASE WHEN o_orderstatus = 'F' THEN CAST(1 AS BIGINT)
                    ELSE CAST(0 AS BIGINT) END AS ev,
                  CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END AS g
                FROM orders JOIN firstship ON o_orderkey = l_orderkey),
              census AS (
                SELECT dur,
                  CAST(SUM(CASE WHEN g = 1 THEN ev ELSE 0 END)
                    AS BIGINT) AS d1,
                  CAST(SUM(CASE WHEN g = 1 THEN 1 - ev ELSE 0 END)
                    AS BIGINT) AS c1,
                  CAST(SUM(CASE WHEN g = 0 THEN ev ELSE 0 END)
                    AS BIGINT) AS d0,
                  CAST(SUM(CASE WHEN g = 0 THEN 1 - ev ELSE 0 END)
                    AS BIGINT) AS c0
                FROM durs GROUP BY 1),
              risk AS (
                SELECT dur, d1, d0,
                  CAST(SUM(d1 + c1) OVER ()
                    - COALESCE(SUM(d1 + c1) OVER (ORDER BY dur
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0) AS BIGINT) AS n1,
                  CAST(SUM(d1 + c1 + d0 + c0) OVER ()
                    - COALESCE(SUM(d1 + c1 + d0 + c0) OVER (ORDER BY dur
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0) AS BIGINT) AS nr
                FROM census),
              terms AS (
                SELECT dur,
                  sqrt(CAST(nr AS DOUBLE)) * (CAST(d1 AS DOUBLE)
                    - round(CAST(d1 + d0 AS DOUBLE)
                      * CAST(n1 AS DOUBLE) / CAST(nr AS DOUBLE), 9))
                    AS wdiff,
                  CAST(nr AS DOUBLE)
                    * round(CAST(d1 + d0 AS DOUBLE)
                      * (CAST(n1 AS DOUBLE) / CAST(nr AS DOUBLE))
                      * (1.0 - CAST(n1 AS DOUBLE) / CAST(nr AS DOUBLE))
                      * CAST(nr - (d1 + d0) AS DOUBLE)
                      / CAST(nr - 1 AS DOUBLE), 9) AS wv
                FROM risk WHERE d1 + d0 > 0 AND nr > 1),
              agg AS (
                SELECT CAST(count(*) AS BIGINT) AS n_times,
                  list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(wdiff ORDER BY dur)), (a, x) -> a + x) AS swd,
                  list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(wv ORDER BY dur)), (a, x) -> a + x) AS swv
                FROM terms)
              SELECT n_times, round(swd, 6) AS sum_w_diff,
                CASE WHEN swv <= 0 THEN NULL
                  ELSE round(swd / sqrt(swv), 6) END AS z_tw
              FROM agg""")),

    // ── Weibull fit of fulfilment times (median-rank regression) ────────
    // The reliability-engineering readout of the q_survival_km data:
    // completed orders' day-to-first-ship durations, grouped median
    // ranks F = (cum − 0.3)/(n + 0.4), then ln(−ln(1−F)) ~ ln(t) OLS —
    // shape < 1 means infant-mortality, > 1 wear-out. At-risk cum
    // counts are exact prefix sums on the dur census; both logs are
    // row-local IEEE and μ-integerized to 1e-9 so the OLS sums are
    // exact integers (the q_taylor_law discipline); scale is reported
    // as ln(η) = −intercept/shape (no exp — libm parity). Two fact
    // scans, dur-census-bounded.
    Q("q_weibull_fit",
      (s, dir) => {
        val firstShip = t(s, dir, "lineitem")
          .groupBy("l_orderkey").agg(min(col("l_shipdate")).as("ship0"))
        val census = t(s, dir, "orders")
          .filter(col("o_orderstatus") === "F")
          .join(firstShip, col("o_orderkey") === col("l_orderkey"))
          .select(
            datediff(to_date(col("ship0")), to_date(col("o_orderdate")))
              .cast("long").as("dur"))
          .filter(col("dur") >= 1)
          .groupBy("dur").agg(count(lit(1)).cast("long").as("cnt"))
        val wcum = Window.orderBy("dur")
          .rowsBetween(Window.unboundedPreceding, 0)
        val wAll = Window.partitionBy()
        val xy = census
          .select(col("dur"),
            sum(col("cnt")).over(wcum).cast("long").as("cum"),
            sum(col("cnt")).over(wAll).cast("long").as("n"))
          .select(col("dur"),
            ((col("cum").cast("double") - 0.3)
              / (col("n").cast("double") + 0.4)).as("f"))
          .select(
            floor(log(col("dur").cast("double")) * 1e9 + 0.5)
              .cast("long").as("x"),
            floor(log(-log(lit(1.0) - col("f"))) * 1e9 + 0.5)
              .cast("long").as("y"))
        xy.agg(count(lit(1)).cast("long").as("m"),
            sum(col("x").cast(dec38)).as("sx"),
            sum(col("y").cast(dec38)).as("sy"),
            sum(col("x").cast(dec38) * col("y")).as("sxy"),
            sum(col("x").cast(dec38) * col("x")).as("sxx"))
          .select(col("m").as("n_points"),
            when((col("m") * col("sxx") - col("sx") * col("sx"))
              .cast("double") <= 0, lit(null).cast("double"))
              .otherwise(round(
                (col("m") * col("sxy") - col("sx") * col("sy"))
                  .cast("double")
                / (col("m") * col("sxx") - col("sx") * col("sx"))
                  .cast("double"), 6)).as("shape"),
            when((col("m") * col("sxx") - col("sx") * col("sx"))
              .cast("double") <= 0
              || (col("m") * col("sxy") - col("sx") * col("sy"))
                .cast("double") === 0, lit(null).cast("double"))
              .otherwise(round(
                -((col("sy").cast("double") / col("m").cast("double")
                  - ((col("m") * col("sxy") - col("sx") * col("sy"))
                    .cast("double")
                    / (col("m") * col("sxx") - col("sx") * col("sx"))
                      .cast("double"))
                    * col("sx").cast("double") / col("m").cast("double"))
                  / 1e9)
                / ((col("m") * col("sxy") - col("sx") * col("sy"))
                  .cast("double")
                  / (col("m") * col("sxx") - col("sx") * col("sx"))
                    .cast("double")), 6)).as("ln_scale"))
      },
      Some("""WITH firstship AS (
                SELECT l_orderkey, MIN(l_shipdate) AS ship0
                FROM lineitem GROUP BY 1),
              census AS (
                SELECT CAST(date_diff('day', CAST(o_orderdate AS DATE),
                    CAST(ship0 AS DATE)) AS BIGINT) AS dur,
                  CAST(count(*) AS BIGINT) AS cnt
                FROM orders JOIN firstship ON o_orderkey = l_orderkey
                WHERE o_orderstatus = 'F'
                  AND date_diff('day', CAST(o_orderdate AS DATE),
                    CAST(ship0 AS DATE)) >= 1
                GROUP BY 1),
              ff AS (
                SELECT dur,
                  (CAST(SUM(cnt) OVER (ORDER BY dur
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS DOUBLE) - 0.3)
                    / (CAST(SUM(cnt) OVER () AS DOUBLE) + 0.4) AS f
                FROM census),
              xy AS (
                SELECT
                  CAST(floor(ln(CAST(dur AS DOUBLE)) * 1e9 + 0.5)
                    AS BIGINT) AS x,
                  CAST(floor(ln(-ln(1.0 - f)) * 1e9 + 0.5) AS BIGINT)
                    AS y
                FROM ff),
              m AS (
                SELECT CAST(count(*) AS BIGINT) AS m,
                  SUM(CAST(x AS HUGEINT)) AS sx,
                  SUM(CAST(y AS HUGEINT)) AS sy,
                  SUM(CAST(x AS HUGEINT) * y) AS sxy,
                  SUM(CAST(x AS HUGEINT) * x) AS sxx
                FROM xy)
              SELECT m AS n_points,
                CASE WHEN CAST(m * sxx - sx * sx AS DOUBLE) <= 0
                  THEN NULL
                  ELSE round(CAST(m * sxy - sx * sy AS DOUBLE)
                    / CAST(m * sxx - sx * sx AS DOUBLE), 6) END
                  AS shape,
                CASE WHEN CAST(m * sxx - sx * sx AS DOUBLE) <= 0
                    OR CAST(m * sxy - sx * sy AS DOUBLE) = 0 THEN NULL
                  ELSE round(-((CAST(sy AS DOUBLE) / CAST(m AS DOUBLE)
                    - (CAST(m * sxy - sx * sy AS DOUBLE)
                      / CAST(m * sxx - sx * sx AS DOUBLE))
                      * CAST(sx AS DOUBLE) / CAST(m AS DOUBLE)) / 1e9)
                    / (CAST(m * sxy - sx * sy AS DOUBLE)
                      / CAST(m * sxx - sx * sx AS DOUBLE)), 6) END
                  AS ln_scale
              FROM m""")),

    // ── effect sizes: BUILDING vs AUTOMOBILE balances ───────────────────
    // q_mann_whitney's significance companion answers "how BIG is the
    // difference": Cliff's δ from the EXACT integer 2U (the same
    // midrank-free prefix-count identity, 2U = Σ nₐ·(2·cumB + n_b)),
    // Cohen's d from exact cent moments, Hedges' g small-sample
    // correction. Everything derives from ONE persisted distinct-value
    // census (bounded by the acctbal DOMAIN, not the row count — the
    // [-999.99, 9999.99] grid is ≤1.1M cells at any SF); the value
    // walk is one window over that census.
    Q("q_effect_sizes",
      (s, dir) => effectFinish(effectCensus(t(s, dir, "customer"))),
      Some("""WITH census AS (
                SELECT CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS cents,
                  CAST(SUM(CASE WHEN c_mktsegment = 'BUILDING'
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                  CAST(SUM(CASE WHEN c_mktsegment = 'AUTOMOBILE'
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_b
                FROM customer
                WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE')
                GROUP BY 1),
              uu AS (
                SELECT CAST(SUM(CAST(n_a AS HUGEINT)
                  * (2 * cum_b + n_b)) AS HUGEINT) AS two_u
                FROM (
                  SELECT n_a, n_b,
                    COALESCE(SUM(n_b) OVER (ORDER BY cents
                      ROWS BETWEEN UNBOUNDED PRECEDING
                      AND 1 PRECEDING), 0) AS cum_b
                  FROM census)),
              mom AS (
                SELECT CAST(SUM(n_a) AS BIGINT) AS na,
                  CAST(SUM(n_b) AS BIGINT) AS nb,
                  SUM(CAST(cents AS HUGEINT) * n_a) AS sa,
                  SUM(CAST(cents AS HUGEINT) * cents * n_a) AS ssa,
                  SUM(CAST(cents AS HUGEINT) * n_b) AS sb,
                  SUM(CAST(cents AS HUGEINT) * cents * n_b) AS ssb
                FROM census),
              dd AS (
                SELECT na, nb, CAST(two_u AS BIGINT) AS two_u,
                  round((CAST(two_u AS DOUBLE)
                    - CAST(na * nb AS DOUBLE))
                    / CAST(na * nb AS DOUBLE), 12) AS cliffs_delta,
                  (CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)
                    - CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE))
                    / sqrt(((CAST(ssa AS DOUBLE)
                      - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)
                        / CAST(na AS DOUBLE))
                      + (CAST(ssb AS DOUBLE)
                        - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)
                          / CAST(nb AS DOUBLE)))
                      / CAST(na + nb - 2 AS DOUBLE)) AS d
                FROM mom, uu)
              SELECT na, nb, two_u, cliffs_delta,
                round(d, 6) AS cohen_d,
                round(d * (1.0 - 3.0
                  / (4.0 * CAST(na + nb AS DOUBLE) - 9.0)), 6)
                  AS hedges_g
              FROM dd""")),

    // ── DeLong standard error + CI for q_auc ────────────────────────────
    // The error bar the point-estimate AUC lacks: DeLong's variance
    // from placement values, computed EXACTLY — per distinct score,
    // t10 = 2·(negatives below) + (negatives tied) is an integer, so
    // ΣV10 and ΣV10² are exact DECIMAL sums (scaled by 2n₀), same for
    // V01 mirrored; the sample variances and SE are row-local IEEE at
    // the end. Rides the q_auc value census with RangeRank prefix
    // sums (the census grows with data — no single-task window).
    Q("q_auc_delong",
      (s, dir) => aucDelongFinish(Censuses.scoreCensus(s, dir)),
      Some("""WITH census AS (
                SELECT value, CAST(COUNT(*) AS BIGINT) AS cnt,
                  CAST(SUM(CASE WHEN event_type = 'purchase'
                    THEN 1 ELSE 0 END) AS BIGINT) AS p
                FROM events GROUP BY 1),
              r AS (
                SELECT cnt, p,
                  COALESCE(SUM(cnt - p) OVER (ORDER BY value
                    ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING), 0) AS cumq,
                  COALESCE(SUM(p) OVER (ORDER BY value
                    ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING), 0) AS cump
                FROM census),
              agg AS (
                SELECT CAST(SUM(p) AS BIGINT) AS n1,
                  CAST(SUM(cnt - p) AS BIGINT) AS n0,
                  SUM(CAST(p AS HUGEINT)
                    * (2 * cumq + (cnt - p))) AS s10,
                  SUM(CAST(p AS HUGEINT)
                    * (2 * cumq + (cnt - p))
                    * (2 * cumq + (cnt - p))) AS s10q,
                  SUM(CAST(cnt - p AS HUGEINT)
                    * (2 * cump + p)) AS s01r,
                  SUM(CAST(cnt - p AS HUGEINT)
                    * (2 * cump + p) * (2 * cump + p)) AS s01rq
                FROM r),
              vv AS (
                SELECT n1, n0,
                  CAST(s10 AS DOUBLE)
                    / (2.0 * CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE))
                    AS auc,
                  (CAST(s10q AS DOUBLE)
                    / (4.0 * CAST(n0 AS DOUBLE) * CAST(n0 AS DOUBLE))
                    - CAST(n1 AS DOUBLE)
                      * (CAST(s10 AS DOUBLE)
                        / (2.0 * CAST(n0 AS DOUBLE)
                          * CAST(n1 AS DOUBLE)))
                      * (CAST(s10 AS DOUBLE)
                        / (2.0 * CAST(n0 AS DOUBLE)
                          * CAST(n1 AS DOUBLE))))
                    / CAST(n1 - 1 AS DOUBLE) AS v10,
                  ((4.0 * CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE)
                      * CAST(n0 AS DOUBLE)
                    - 4.0 * CAST(n1 AS DOUBLE) * CAST(s01r AS DOUBLE)
                    + CAST(s01rq AS DOUBLE))
                    / (4.0 * CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE))
                    - CAST(n0 AS DOUBLE)
                      * (1.0 - CAST(s01r AS DOUBLE)
                        / (2.0 * CAST(n1 AS DOUBLE)
                          * CAST(n0 AS DOUBLE)))
                      * (1.0 - CAST(s01r AS DOUBLE)
                        / (2.0 * CAST(n1 AS DOUBLE)
                          * CAST(n0 AS DOUBLE))))
                    / CAST(n0 - 1 AS DOUBLE) AS v01
                FROM agg)
              SELECT n1 AS n_pos, n0 AS n_neg,
                round(auc, 12) AS auc,
                round(sqrt(v10 / CAST(n1 AS DOUBLE)
                  + v01 / CAST(n0 AS DOUBLE)), 6) AS se,
                round(auc - 1.96 * sqrt(v10 / CAST(n1 AS DOUBLE)
                  + v01 / CAST(n0 AS DOUBLE)), 6) AS ci_low,
                round(auc + 1.96 * sqrt(v10 / CAST(n1 AS DOUBLE)
                  + v01 / CAST(n0 AS DOUBLE)), 6) AS ci_high
              FROM vv""")),

    // ── Wilson score intervals: big-ticket share per event type ─────────
    // The binomial CI that stays sane at extreme rates (the naive ±z√pq
    // interval leaks outside [0,1]): per event type, the share of
    // events with value > $100, with the z=1.96 Wilson center and
    // half-width. Counts are exact integers from ONE partial+final
    // agg; the interval is row-local IEEE per ≤5 census rows.
    Q("q_ctr_wilson",
      (s, dir) => {
        val z2 = lit(1.96 * 1.96)
        t(s, dir, "events")
          .select(col("event_type"),
            when((dec2(col("value")) * 100).cast("long") > 10000L, 1L)
              .otherwise(0L).as("hit"))
          .groupBy("event_type")
          .agg(count(lit(1)).cast("long").as("n"),
            sum(col("hit")).cast("long").as("k"))
          .select(col("event_type"), col("n"), col("k"),
            round(col("k").cast("double") / col("n").cast("double"), 12)
              .as("p_hat"),
            round(((col("k").cast("double") / col("n").cast("double")
              + z2 / (lit(2.0) * col("n").cast("double")))
              - lit(1.96) * sqrt((col("k").cast("double")
                / col("n").cast("double"))
                * (lit(1.0) - col("k").cast("double")
                  / col("n").cast("double")) / col("n").cast("double")
                + z2 / (lit(4.0) * col("n").cast("double")
                  * col("n").cast("double"))))
              / (lit(1.0) + z2 / col("n").cast("double")), 6)
              .as("wilson_low"),
            round(((col("k").cast("double") / col("n").cast("double")
              + z2 / (lit(2.0) * col("n").cast("double")))
              + lit(1.96) * sqrt((col("k").cast("double")
                / col("n").cast("double"))
                * (lit(1.0) - col("k").cast("double")
                  / col("n").cast("double")) / col("n").cast("double")
                + z2 / (lit(4.0) * col("n").cast("double")
                  * col("n").cast("double"))))
              / (lit(1.0) + z2 / col("n").cast("double")), 6)
              .as("wilson_high"))
          .orderBy("event_type")
      },
      Some("""WITH c AS (
                SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                  CAST(SUM(CASE WHEN CAST(CAST(value AS DECIMAL(18,2))
                    * 100 AS BIGINT) > 10000 THEN 1 ELSE 0 END)
                    AS BIGINT) AS k
                FROM events GROUP BY 1)
              SELECT event_type, n, k,
                round(CAST(k AS DOUBLE) / CAST(n AS DOUBLE), 12)
                  AS p_hat,
                round(((CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
                  + 3.8415999999999997 / (2.0 * CAST(n AS DOUBLE)))
                  - 1.96 * sqrt((CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                    * (1.0 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                    / CAST(n AS DOUBLE)
                    + 3.8415999999999997 / (4.0 * CAST(n AS DOUBLE)
                      * CAST(n AS DOUBLE))))
                  / (1.0 + 3.8415999999999997 / CAST(n AS DOUBLE)), 6)
                  AS wilson_low,
                round(((CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
                  + 3.8415999999999997 / (2.0 * CAST(n AS DOUBLE)))
                  + 1.96 * sqrt((CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                    * (1.0 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                    / CAST(n AS DOUBLE)
                    + 3.8415999999999997 / (4.0 * CAST(n AS DOUBLE)
                      * CAST(n AS DOUBLE))))
                  / (1.0 + 3.8415999999999997 / CAST(n AS DOUBLE)), 6)
                  AS wilson_high
              FROM c ORDER BY event_type""")),

    // ── Youden-J optimal cutoff (FP-free argmax) ────────────────────────
    // The threshold q_auc ranks but never picks: classify positive when
    // value > v, J(v) = TPR − FPR. On the score census the confusion
    // counts are exact inclusive prefix sums, and the argmax orders by
    // the INTEGER tp·nn − fp·np (= J·np·nn — same ordering, no
    // division), tie-broken by cutoff. RangeRank carries the prefix
    // sums (the census grows with data); J itself is two divisions on
    // the one winning row.
    Q("q_youden_cutoff",
      (s, dir) => {
        val census = labeled(t(s, dir, "events"))
          .groupBy("value")
          .agg(count(lit(1)).cast("long").as("cnt"),
            sum(col("pos")).cast("long").as("p"))
        val ranked = RangeRank.ranked(
          census, Seq.empty, Seq(col("value")),
          rnName = "__rn", nName = None,
          prefixSums = Seq(
            RangeRank.PrefixSum(col("p"), "cump"),
            RangeRank.PrefixSum(col("cnt") - col("p"), "cumq")))
        val tot = census.agg(sum(col("p")).cast("long").as("np"),
          sum(col("cnt") - col("p")).cast("long").as("nn"))
        ranked.crossJoin(broadcast(tot))
          .select(col("value"), col("np"), col("nn"),
            (col("np") - (col("cump") + col("p"))).cast("long").as("tp"),
            (col("nn") - (col("cumq") + (col("cnt") - col("p"))))
              .cast("long").as("fp"))
          .select(col("value"), col("np"), col("nn"), col("tp"),
            col("fp"),
            (col("tp").cast(dec38) * col("nn")
              - col("fp").cast(dec38) * col("np")).as("score"))
          .orderBy(col("score").desc, col("value"))
          .limit(1)
          .select(col("value").as("cutoff"), col("tp"), col("fp"),
            (col("np") - col("tp")).as("fn"),
            (col("nn") - col("fp")).as("tn"),
            round(col("tp").cast("double") / col("np").cast("double")
              - col("fp").cast("double") / col("nn").cast("double"), 6)
              .as("youden_j"))
      },
      Some("""WITH census AS (
                SELECT value, CAST(COUNT(*) AS BIGINT) AS cnt,
                  CAST(SUM(CASE WHEN event_type = 'purchase'
                    THEN 1 ELSE 0 END) AS BIGINT) AS p
                FROM events GROUP BY 1),
              r AS (
                SELECT value, cnt, p,
                  COALESCE(SUM(p) OVER (ORDER BY value
                    ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING), 0) AS cump,
                  COALESCE(SUM(cnt - p) OVER (ORDER BY value
                    ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING), 0) AS cumq
                FROM census),
              tot AS (
                SELECT CAST(SUM(p) AS BIGINT) AS np,
                  CAST(SUM(cnt - p) AS BIGINT) AS nn
                FROM census),
              scored AS (
                SELECT value, np, nn,
                  CAST(np - (cump + p) AS BIGINT) AS tp,
                  CAST(nn - (cumq + (cnt - p)) AS BIGINT) AS fp,
                  CAST(np - (cump + p) AS HUGEINT) * nn
                    - CAST(nn - (cumq + (cnt - p)) AS HUGEINT) * np
                    AS score
                FROM r, tot)
              SELECT value AS cutoff, tp, fp,
                CAST(np - tp AS BIGINT) AS fn,
                CAST(nn - fp AS BIGINT) AS tn,
                round(CAST(tp AS DOUBLE) / CAST(np AS DOUBLE)
                  - CAST(fp AS DOUBLE) / CAST(nn AS DOUBLE), 6)
                  AS youden_j
              FROM scored
              ORDER BY score DESC, value LIMIT 1""")),

    // ── Spiegelhalter calibration z (exact carriers) ────────────────────
    // The calibration TEST the binned ECE can't give a p-value shape
    // for: with p = min(cents, 50000)/50000 (the q_brier probability
    // proxy), Z = Σ(y−p)(1−2p)/√(Σ(1−2p)²p(1−p)). Both sums expand to
    // INTEGER polynomials in m = min(cents, 50000) — (5·10⁴)² scale
    // factors cancel between numerator and √denominator — so the whole
    // statistic is two exact DECIMAL sums and one final division. One
    // events pass, 1-row result.
    Q("q_spiegelhalter_z",
      (s, dir) => {
        val m = labeled(t(s, dir, "events"))
          .select(least((dec2(col("value")) * 100).cast("long"),
            lit(50000L)).as("m"), col("pos"))
          .agg(count(lit(1)).cast("long").as("n"),
            sum(((lit(50000L) * col("pos") - col("m")).cast(dec38)
              * (lit(50000L) - lit(2L) * col("m"))))
              .as("num"),
            sum(((lit(50000L) - lit(2L) * col("m")).cast(dec38)
              * (lit(50000L) - lit(2L) * col("m"))
              * col("m") * (lit(50000L) - col("m"))))
              .as("den"))
        m.select(col("n"),
            when(col("den") <= 0, lit(null).cast("double"))
              .otherwise(round(col("num").cast("double")
                / sqrt(col("den").cast("double")), 6)).as("z"))
      },
      Some("""WITH b AS (
                SELECT LEAST(CAST(CAST(value AS DECIMAL(18,2)) * 100
                    AS BIGINT), 50000) AS m,
                  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                    AS y
                FROM events),
              agg AS (
                SELECT CAST(count(*) AS BIGINT) AS n,
                  SUM(CAST(50000 * y - m AS HUGEINT)
                    * (50000 - 2 * m)) AS num,
                  SUM(CAST(50000 - 2 * m AS HUGEINT)
                    * (50000 - 2 * m) * m * (50000 - m)) AS den
                FROM b)
              SELECT n,
                CASE WHEN den <= 0 THEN NULL
                  ELSE round(CAST(num AS DOUBLE)
                    / sqrt(CAST(den AS DOUBLE)), 6) END AS z
              FROM agg""")),

    // ── Hosmer–Lemeshow calibration chi-square over score deciles ───────
    // The grouped calibration test that complements q_spiegelhalter_z's
    // per-observation z: split by PREDICTED-probability decile (the
    // RangeRank total order lift_gain uses, ties broken by event_id),
    // then HL = Σ_g (O_g − E_g)² / (E_g·(1 − E_g/n_g)), dof = 10−2.
    // With p = m/50000 (m = min(cents, 5·10⁴), the q_brier proxy), the
    // per-decile term is fully rational in integer carriers:
    // D = 5·10⁴·O − Σm, term = D²·n_g / (Σm·(5·10⁴·n_g − Σm)) — exact
    // DECIMAL numerator/denominator, ONE IEEE division per decile, and
    // the 10-term total is a pinned sorted fold. Scale: one events scan
    // into RangeRank's range exchange; everything after is 10 rows.
    Q("q_hosmer_lemeshow",
      (s, dir) => {
        val ranked = RangeRank.ranked(
          labeled(t(s, dir, "events"))
            .select(col("event_id"), col("pos"),
              least((dec2(col("value")) * 100).cast("long"),
                lit(50000L)).as("m")),
          Seq.empty, Seq(col("m"), col("event_id")),
          rnName = "rn", nName = Some("n"))
        val byDec = ranked
          .select(expr("CAST((rn - 1) * 10 DIV n AS BIGINT) + 1")
            .as("decile"), col("pos"), col("m"))
          .groupBy("decile")
          .agg(count(lit(1)).cast("long").as("n_g"),
            sum(col("pos")).cast("long").as("o_g"),
            sum(col("m")).cast("long").as("em"))
          .select(col("decile"), col("n_g"), col("o_g"),
            round(col("em").cast("double") / 50000d, 6).as("e_g"),
            when(col("em") <= 0L || col("em") >= lit(50000L) * col("n_g"),
              lit(null).cast("double"))
              .otherwise(
                ((lit(50000L) * col("o_g") - col("em")).cast(dec38)
                  * (lit(50000L) * col("o_g") - col("em"))
                  * col("n_g")).cast("double")
                / (col("em").cast(dec38)
                  * (lit(50000L) * col("n_g") - col("em"))).cast("double"))
              .as("term"))
        val tot = byDec
          .agg(expr(
            """round(aggregate(array_sort(collect_list(struct(decile, term))),
                 CAST(0 AS DOUBLE),
                 (a, x) -> a + coalesce(x.term, CAST(0 AS DOUBLE))), 6)""")
            .as("hl"))
        byDec.crossJoin(broadcast(tot))
          .select(col("decile"), col("n_g"), col("o_g"), col("e_g"),
            round(col("term"), 6).as("term"), col("hl"),
            lit(8L).as("dof"))
          .orderBy("decile")
      },
      Some("""WITH b AS (
                SELECT event_id,
                  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                    AS pos,
                  LEAST(CAST(CAST(value AS DECIMAL(18,2)) * 100
                    AS BIGINT), 50000) AS m
                FROM events),
              ranked AS (
                SELECT pos, m,
                  row_number() OVER (ORDER BY m, event_id) AS rn,
                  COUNT(*) OVER () AS n
                FROM b),
              bydec AS (
                SELECT CAST((rn - 1) * 10 // n AS BIGINT) + 1 AS decile,
                  CAST(COUNT(*) AS BIGINT) AS n_g,
                  CAST(SUM(pos) AS BIGINT) AS o_g,
                  CAST(SUM(m) AS BIGINT) AS em
                FROM ranked GROUP BY 1),
              terms AS (
                SELECT decile, n_g, o_g,
                  round(CAST(em AS DOUBLE) / 50000, 6) AS e_g,
                  CASE WHEN em <= 0 OR em >= 50000 * n_g THEN NULL
                    ELSE CAST(CAST(50000 * o_g - em AS HUGEINT)
                        * (50000 * o_g - em) * n_g AS DOUBLE)
                      / CAST(CAST(em AS HUGEINT)
                        * (50000 * n_g - em) AS DOUBLE) END AS term
                FROM bydec),
              tot AS (
                SELECT round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(COALESCE(term, CAST(0 AS DOUBLE))
                      ORDER BY decile)),
                  (a, x) -> a + x), 6) AS hl
                FROM terms)
              SELECT t.decile, t.n_g, t.o_g, t.e_g,
                round(t.term, 6) AS term, tot.hl, CAST(8 AS BIGINT) AS dof
              FROM terms t, tot ORDER BY t.decile""")),

    // ── isotonic calibration (pool-adjacent-violators) ──────────────────
    // The production calibrator behind Platt-free score calibration:
    // project the 100-bin empirical purchase rate onto the monotone
    // cone. The engine runs PARALLEL PAV — each round merges every
    // leftmost-greedy violating adjacent block pair simultaneously
    // (violation = EXACT integer cross-product compare k·n' > k'·n);
    // merging is confluent, so any order reaches the unique isotonic
    // fit. Blocks are a ≤100-row frame; the driver loop is convergence
    // control only. The oracle computes the SAME unique fit by the
    // minimax identity ŷᵢ = max_{j≤i} min_{l≥i} avg(j..l) over prefix
    // sums (≤100³ bounded enumeration) — two different algorithms, one
    // answer, hash-matched.
    Q("q_isotonic_calibration",
      (s, dir) => {
        val census = Artifacts.persist(labeled(t(s, dir, "events"))
          .select((dec2(col("value")) * 100).cast("long").as("cents"),
            col("pos"))
          .select(expr("CAST(least(cents, 49999) div 500 AS BIGINT)")
            .as("b"), col("pos"))
          .groupBy("b")
          .agg(count(lit(1)).cast("long").as("n"),
            sum(col("pos")).cast("long").as("k")))
        val w = Window.orderBy("lo")
        // r14 job-count fold: checkpoints are LAZY and the per-round
        // convergence probe is the block COUNT of the next generation
        // (a merge removes exactly one row per merged pair, so
        // |next| < |blocks| ⇔ some pair merged) — the one count job
        // per round both materializes the lazy checkpoint and answers
        // convergence, down from the eager-checkpoint + mergeL-count
        // pair of jobs per round
        var blocks = census.select(col("b").as("lo"), col("b").as("hi"),
            col("k"), col("n")).localCheckpoint(false)
        var prevCnt = blocks.count()
        var merged = prevCnt > 0
        while (merged) {
          val f = blocks
            .withColumn("nk", lead(col("k"), 1).over(w))
            .withColumn("nn2", lead(col("n"), 1).over(w))
            .withColumn("nhi", lead(col("hi"), 1).over(w))
            .withColumn("viol", col("nk").isNotNull
              && col("k").cast(dec38) * col("nn2")
                > col("nk").cast(dec38) * col("n"))
            .withColumn("mergeL", col("viol")
              && !coalesce(lag(col("viol"), 1).over(w), lit(false)))
            .withColumn("dropR",
              coalesce(lag(col("mergeL"), 1).over(w), lit(false)))
          val next = f.filter(!col("dropR"))
            .select(col("lo"),
              when(col("mergeL"), col("nhi")).otherwise(col("hi"))
                .as("hi"),
              when(col("mergeL"), col("k") + col("nk"))
                .otherwise(col("k")).as("k"),
              when(col("mergeL"), col("n") + col("nn2"))
                .otherwise(col("n")).as("n"))
            .localCheckpoint(false)
          val cnt = next.count()
          merged = cnt < prevCnt
          prevCnt = cnt
          blocks = next
        }
        census.join(blocks,
            col("b") >= col("lo") && col("b") <= col("hi"))
          .select(col("b").as("bin"), census("n").as("n_bin"),
            census("k").as("k_bin"),
            round(blocks("k").cast("double")
              / blocks("n").cast("double"), 12).as("iso_rate"))
          .orderBy("bin")
      },
      Some("""WITH census AS (
                SELECT CAST(LEAST(CAST(CAST(value AS DECIMAL(18,2))
                    * 100 AS BIGINT), 49999) // 500 AS BIGINT) AS b,
                  CAST(count(*) AS BIGINT) AS n,
                  CAST(SUM(CASE WHEN event_type = 'purchase'
                    THEN 1 ELSE 0 END) AS BIGINT) AS k
                FROM events GROUP BY 1),
              pre AS (
                SELECT b, n, k,
                  CAST(SUM(n) OVER (ORDER BY b
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cn,
                  CAST(SUM(k) OVER (ORDER BY b
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS ck
                FROM census),
              pairs AS (
                SELECT a.b AS jb, z.b AS lb,
                  CAST(z.ck - (a.ck - a.k) AS DOUBLE)
                    / CAST(z.cn - (a.cn - a.n) AS DOUBLE) AS avgv
                FROM pre a JOIN pre z ON a.b <= z.b),
              inner_min AS (
                SELECT i.b AS bin, p.jb, MIN(p.avgv) AS mn
                FROM census i JOIN pairs p
                  ON p.jb <= i.b AND p.lb >= i.b
                GROUP BY 1, 2),
              iso AS (
                SELECT bin, MAX(mn) AS rate FROM inner_min GROUP BY 1)
              SELECT census.b AS bin, n AS n_bin, k AS k_bin,
                round(rate, 12) AS iso_rate
              FROM census JOIN iso ON census.b = iso.bin
              ORDER BY bin""")),

    // ── Cliff's delta: ordinal effect size, returned vs kept lines ──────
    // The nonparametric effect size q_mann_whitney's z cannot give:
    // δ = (#(x>y) − #(x<y)) / (n_a·n_b) over ALL cross-group pairs,
    // read directly as "probability a returned line outranks a kept
    // one, minus the reverse". Never pairwise: l_quantity lives on a
    // 1..50 VALUE-DOMAIN-BOUNDED census (the q_mann_whitney
    // discipline), so #gt/#lt collapse to census cumsums —
    // #(a>b) = Σ_v n_a(v)·cum_b(<v) — all exact DECIMAL(38,0)
    // integers, one IEEE division at the end. The ≤50-row window is
    // census-bounded at any SF.
    Q("q_cliffs_delta",
      (s, dir) => {
        val wv = Window.orderBy("q")
          .rowsBetween(Window.unboundedPreceding, -1)
        val census = t(s, dir, "lineitem")
          .select(col("l_quantity").cast("long").as("q"),
            when(col("l_returnflag") === "R", 1L).otherwise(0L)
              .as("is_r"))
          .groupBy("q")
          .agg(sum(col("is_r")).as("n_a"),
            sum(lit(1L) - col("is_r")).as("n_b"))
        val cum = census
          .withColumn("cb_a", coalesce(sum(col("n_a")).over(wv), lit(0L)))
          .withColumn("cb_b", coalesce(sum(col("n_b")).over(wv), lit(0L)))
        val agg = cum.agg(
          sum(col("n_a")).cast("long").as("na"),
          sum(col("n_b")).cast("long").as("nb"),
          sum(col("n_a").cast(dec38) * col("cb_b")).as("gt"),
          sum(col("n_b").cast(dec38) * col("cb_a")).as("lt"))
        agg.select(col("na"), col("nb"),
          col("gt").cast("long").as("n_gt"),
          col("lt").cast("long").as("n_lt"),
          when(col("na") === 0 || col("nb") === 0,
            lit(null).cast("double"))
            .otherwise(round((col("gt") - col("lt")).cast("double")
              / (col("na").cast("double") * col("nb").cast("double")), 12))
            .as("delta"))
      },
      Some("""WITH census AS (
                SELECT CAST(l_quantity AS BIGINT) AS q,
                  CAST(SUM(CASE WHEN l_returnflag = 'R'
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                  CAST(SUM(CASE WHEN l_returnflag = 'R'
                    THEN 0 ELSE 1 END) AS BIGINT) AS n_b
                FROM lineitem GROUP BY 1),
              cum AS (
                SELECT q, n_a, n_b,
                  COALESCE(SUM(n_a) OVER (ORDER BY q ROWS BETWEEN
                    UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb_a,
                  COALESCE(SUM(n_b) OVER (ORDER BY q ROWS BETWEEN
                    UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb_b
                FROM census),
              agg AS (
                SELECT CAST(SUM(n_a) AS BIGINT) AS na,
                  CAST(SUM(n_b) AS BIGINT) AS nb,
                  SUM(CAST(n_a AS HUGEINT) * cb_b) AS gt,
                  SUM(CAST(n_b AS HUGEINT) * cb_a) AS lt
                FROM cum)
              SELECT na, nb,
                CAST(gt AS BIGINT) AS n_gt,
                CAST(lt AS BIGINT) AS n_lt,
                CASE WHEN na = 0 OR nb = 0 THEN NULL
                  ELSE round(CAST(gt - lt AS DOUBLE)
                    / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 12)
                  END AS delta
              FROM agg""")),

    // ── Hodges–Lehmann shift estimator (returned vs kept quantity) ──────
    // The MAGNITUDE q_cliffs_delta's direction-only δ can't give: the
    // median of all nA·nB pairwise differences — the robust "how many
    // units more" answer, and the estimator the Mann–Whitney test
    // inverts to. Entirely EXACT: the 1..50 value-domain census makes
    // the pair grid ≤50² cells, per-difference mass is a dec38 product
    // sum, and the weighted median is an integer-rank pick over the
    // ≤99-row difference census (lower/upper medians via the parity
    // identities 2·cum ≥ T+odd(T) / ≥ T+2−odd(T); odd(nA·nB) =
    // odd(nA)·odd(nB) stays in the long domain). Half-integer HL is
    // the one division by 2. Corpus work = ONE lineitem census scan.
    Q("q_hodges_lehmann",
      (s, dir) => {
        val census = Artifacts.persist(t(s, dir, "lineitem")
          .select(col("l_quantity").cast("long").as("q"),
            when(col("l_returnflag") === "R", 1L).otherwise(0L)
              .as("is_r"))
          .groupBy("q")
          .agg(sum(col("is_r")).cast("long").as("n_a"),
            sum(lit(1L) - col("is_r")).cast("long").as("n_b")))
        val diffs = census.as("a").crossJoin(census.as("b"))
          .filter(col("a.n_a") > 0 && col("b.n_b") > 0)
          .groupBy((col("a.q") - col("b.q")).as("d"))
          .agg(sum(col("a.n_a").cast(dec38) * col("b.n_b")).as("w"))
        val wv = Window.orderBy("d")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cum = diffs.withColumn("cum", sum(col("w")).over(wv))
        val tot = census.agg(sum(col("n_a")).cast("long").as("na"),
            sum(col("n_b")).cast("long").as("nb"))
          .select(col("na"), col("nb"),
            (col("na").cast(dec38) * col("nb")).as("t"),
            ((col("na") % 2) * (col("nb") % 2)).as("todd"))
        cum.crossJoin(broadcast(tot))
          .agg(max(col("na")).as("na"), max(col("nb")).as("nb"),
            min(when(col("cum") * 2 >= col("t") + col("todd"),
              col("d"))).as("hl_lo"),
            min(when(col("cum") * 2 >= col("t") + lit(2) - col("todd"),
              col("d"))).as("hl_hi"))
          .select(col("na"), col("nb"),
            col("hl_lo").cast("long").as("hl_lo"),
            col("hl_hi").cast("long").as("hl_hi"),
            ((col("hl_lo") + col("hl_hi")).cast("double") / 2.0)
              .as("hl_shift"))
      },
      Some("""WITH census AS (
                SELECT CAST(l_quantity AS BIGINT) AS q,
                  CAST(SUM(CASE WHEN l_returnflag = 'R'
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                  CAST(SUM(CASE WHEN l_returnflag = 'R'
                    THEN 0 ELSE 1 END) AS BIGINT) AS n_b
                FROM lineitem GROUP BY 1),
              diffs AS (
                SELECT a.q - b.q AS d,
                  SUM(CAST(a.n_a AS HUGEINT) * b.n_b) AS w
                FROM census a, census b
                WHERE a.n_a > 0 AND b.n_b > 0
                GROUP BY 1),
              cum AS (
                SELECT d, SUM(w) OVER (ORDER BY d ROWS BETWEEN
                  UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
                FROM diffs),
              tot AS (
                SELECT CAST(SUM(n_a) AS BIGINT) AS na,
                  CAST(SUM(n_b) AS BIGINT) AS nb,
                  CAST(SUM(n_a) AS HUGEINT) * CAST(SUM(n_b) AS BIGINT)
                    AS t,
                  (CAST(SUM(n_a) AS BIGINT) % 2)
                    * (CAST(SUM(n_b) AS BIGINT) % 2) AS todd
                FROM census),
              agg AS (
                SELECT MAX(na) AS na, MAX(nb) AS nb,
                  MIN(CASE WHEN cum * 2 >= t + todd THEN d END) AS hl_lo,
                  MIN(CASE WHEN cum * 2 >= t + 2 - todd THEN d END)
                    AS hl_hi
                FROM cum, tot)
              SELECT na, nb, CAST(hl_lo AS BIGINT) AS hl_lo,
                CAST(hl_hi AS BIGINT) AS hl_hi,
                CAST(hl_lo + hl_hi AS DOUBLE) / 2.0 AS hl_shift
              FROM agg""")),

    // ── Jonckheere–Terpstra ordered-alternative trend test ──────────────
    // Does order value fall monotonically with priority class (1-URGENT
    // … 5-LOW)? J = Σ_{i<j} U_ij over the ORDERED groups — the test
    // Kruskal–Wallis can't run because H ignores group order. Never
    // pairwise: the (group, cents) census joins a dense value grid,
    // per-group exclusive cumulative counts ride [[RangeRank]] prefix
    // sums (5 groups × a scaling value census — exactly its few-group
    // shape), and 2J = Σ c_j·(2·cum_i(<v) + c_i(v)) folds the ×10
    // group-pair join in DECIMAL(38,0) (ties counted ½, carried ×2
    // exact). E[J] and the variance are group-size-census integers;
    // z is tie-uncorrected (ties in cents are rare; documented) and
    // one IEEE expression.
    Q("q_jonckheere_terpstra",
      (s, dir) => {
        // round 12 plan: the priority alphabet is bounded (5), so the
        // per-(group, value) cumulative counts the pairwise win mass
        // needs ride ONE census-sized RangeRank pass with 5 pivoted
        // prefix-sum columns — no dense g×v grid, no census self-join;
        // J2 collapses row-locally over the C(5,2) ordered group pairs.
        // Source: the SHARED pinned census ([[Censuses.priorityCents]]).
        // Hash-identical to the r10 grid+self-join plan: cum_i(v) =
        // exclusive prefix of c_i over the pooled value order = count
        // of group-i values < v, exactly the grid row's cum_ex.
        // alphabet guard (r12 ADVICE): the 5 pivoted prefix columns
        // assume g ∈ 1..5 — a priority class outside the range would
        // silently vanish from the J2 pair mass while still inflating
        // the size census, skewing z with no error. Fail loudly.
        val census = Censuses.priorityCents(s, dir)
          .select(substring(col("p"), 1, 1).cast("long").as("g"),
            col("v"), col("c"))
          .withColumn("__g_ok", assert_true(col("g").between(1L, 5L),
            lit("q_jonckheere_terpstra: priority class outside 1..5")))
          .filter(col("__g_ok").isNull)
          .drop("__g_ok")
        val pooled = census.groupBy("v")
          .agg((1 to 5).map(i =>
            sum(when(col("g") === i, col("c")).otherwise(0L))
              .cast("long").as(s"c$i")).head,
            (2 to 5).map(i =>
              sum(when(col("g") === i, col("c")).otherwise(0L))
                .cast("long").as(s"c$i")): _*)
        val cum = RangeRank.ranked(pooled, Seq.empty, Seq(col("v")),
          rnName = "__rn", nName = None,
          prefixSums = (1 to 5).map(i =>
            RangeRank.PrefixSum(col(s"c$i"), s"cum$i")))
        val pairTerm = (2 to 5).map { j =>
          (1 until j).map { i =>
            col(s"c$j").cast(dec38) *
              (col(s"cum$i").cast(dec38) * 2 + col(s"c$i"))
          }.reduce(_ + _)
        }.reduce(_ + _)
        val jx2 = cum.agg(sum(pairTerm).as("j2_raw"))
        val sizes = census.groupBy("g").agg(sum(col("c")).as("n_g"))
          .agg(count(lit(1)).cast("long").as("k_g"),
            sum(col("n_g")).cast(dec38).as("nn"),
            sum(col("n_g").cast(dec38) * col("n_g")).as("sn2"),
            sum(col("n_g").cast(dec38) * col("n_g")
              * (col("n_g") * 2 + 3)).as("sn23"))
        // z is computed from the exact DECIMAL(38,0) pair mass j2 (the
        // oracle's HUGEINT); the BIGINT casts are DISPLAY-only — a
        // premature cast wraps past ~9.2e18 pairs (ADVICE r7).
        // k_g guard: with < 2 groups the oracle's pair join is empty
        // (NULL j2) — mirror it, the pivoted sum would read 0
        jx2.crossJoin(sizes)
          .select(col("nn"),
            when(col("k_g") < 2, lit(null).cast(dec38))
              .otherwise(col("j2_raw")).as("j2"),
            (col("nn") * col("nn") - col("sn2")).as("e4"),
            (col("nn") * col("nn") * (col("nn") * 2 + 3) - col("sn23"))
              .as("v72"))
          .select(col("nn").cast("long").as("n"),
            col("j2").cast("long").as("j_x2"),
            (col("e4").cast("double") / 4.0).as("e_j"),
            when(col("v72") <= 0, lit(null).cast("double"))
              .otherwise(round(
                (col("j2") * 2 - col("e4")).cast("double") / 4.0
                  / sqrt(col("v72").cast("double") / 72.0), 6))
              .as("z"))
      },
      Some("""WITH census AS (
                SELECT CAST(substring(o_orderpriority, 1, 1) AS BIGINT)
                    AS g,
                  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS v,
                  CAST(count(*) AS BIGINT) AS c
                FROM orders GROUP BY 1, 2),
              grid0 AS (
                SELECT gg.g, vv.v
                FROM (SELECT DISTINCT g FROM census) gg
                CROSS JOIN (SELECT DISTINCT v FROM census) vv),
              grid AS (
                SELECT grid0.g, grid0.v, COALESCE(c.c, 0) AS c0
                FROM grid0 LEFT JOIN census c
                  ON c.g = grid0.g AND c.v = grid0.v),
              cum AS (
                SELECT g, v, c0,
                  COALESCE(SUM(c0) OVER (PARTITION BY g ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS cum_ex
                FROM grid),
              j2 AS (
                SELECT SUM(CAST(j.c0 AS HUGEINT)
                  * (2 * i.cum_ex + i.c0)) AS j2
                FROM cum j JOIN cum i ON j.v = i.v AND i.g < j.g
                WHERE j.c0 > 0),
              sizes AS (
                SELECT CAST(SUM(n_g) AS HUGEINT) AS nn,
                  SUM(CAST(n_g AS HUGEINT) * n_g) AS sn2,
                  SUM(CAST(n_g AS HUGEINT) * n_g * (2 * n_g + 3)) AS sn23
                FROM (SELECT g, SUM(c) AS n_g FROM census GROUP BY 1))
              SELECT CAST(nn AS BIGINT) AS n,
                CAST(j2 AS BIGINT) AS j_x2,
                CAST(nn * nn - sn2 AS DOUBLE) / 4.0 AS e_j,
                CASE WHEN nn * nn * (2 * nn + 3) - sn23 <= 0 THEN NULL
                  ELSE round(CAST(2 * j2 - (nn * nn - sn2) AS DOUBLE)
                    / 4.0
                    / sqrt(CAST(nn * nn * (2 * nn + 3) - sn23 AS DOUBLE)
                      / 72.0), 6) END AS z
              FROM j2, sizes""")),

    // ── Cuzick trend test: score-weighted rank sum across priorities ───
    // The Wilcoxon-type trend lens on the SAME ordered-priority frame
    // as q_jonckheere_terpstra: where J-T counts pairwise wins between
    // every group pair, Cuzick's T = Σ z_g·ΣR_g weights each group's
    // pooled-rank SUM by its ordinal score — linear in the census where
    // J-T is quadratic in groups, and the statistic regulators quote
    // for dose-response. Exact-integer end to end: midranks ride the
    // ×2 domain off ONE (cents, priority) census; the global value
    // order rides [[RangeRank]] (orders totalprice has up to ~6·10⁷
    // distinct cents — never a single-task window); T, E(T) = (n+1)/2
    // ·Σn_g z_g and the permutation variance Var(T) = Σ(R−R̄)²·Σn_g(z−z̄)²
    // /(n−1) (ties absorbed exactly by Σ(R−R̄)² = (n³−n−Σ(t³−t))/12)
    // are dec38 rationals; two pinned double divisions and one sqrt.
    Q("q_cuzick_trend",
      (s, dir) => {
        // SHARED pinned census (round 12): the leading-digit regroup is
        // census-sized; both consumers (cc, perG) read pinned blocks
        val cg = Censuses.priorityCents(s, dir)
          .select(substring(col("p"), 1, 1).cast("long").as("g"),
            col("v"), col("c"))
        val cc = cg.groupBy("v").agg(sum(col("c")).cast("long").as("n_c"))
        val ranked = RangeRank.ranked(cc, Seq.empty, Seq(col("v")),
            rnName = "__rn", nName = None,
            prefixSums = Seq(RangeRank.PrefixSum(col("n_c"), "cum")))
          .select(col("v"), col("n_c"),
            (lit(2L) * col("cum") + col("n_c") + 1L).cast("long")
              .as("midrank_x2"))
        val ties = ranked.agg(
          sum(col("n_c").cast(dec38) * col("n_c") * col("n_c")
            - col("n_c")).as("tie"),
          sum(col("n_c")).cast("long").as("n"))
        val perG = cg.join(ranked.select("v", "midrank_x2"), "v")
          .groupBy("g")
          .agg(sum(col("c")).cast("long").as("ng"),
            sum(col("c").cast(dec38) * col("midrank_x2")).as("rg_x2"))
        perG.crossJoin(broadcast(ties))
          .groupBy("n", "tie")
          .agg(count(lit(1)).cast("long").as("k"),
            sum(col("rg_x2") * col("g")).as("t_x2"),
            sum(col("ng") * col("g")).cast("long").as("sz"),
            sum(col("ng") * col("g") * col("g")).cast("long").as("sz2"))
          .select(col("k"), col("n"),
            col("t_x2").cast("double").as("t_x2"),
            ((col("n") + 1) * col("sz").cast(dec38)).cast("double")
              .as("e_x2"),
            (col("n").cast(dec38) * col("n") * col("n") - col("n")
              - col("tie")).cast("double").as("a4"),
            col("sz").cast("double").as("szd"),
            col("sz2").cast("double").as("sz2d"))
          .select(col("k"), col("n"), col("t_x2"), col("e_x2"),
            when(col("n") <= 1 || col("a4") <= 0,
              lit(null).cast("double"))
              .otherwise((col("t_x2") - col("e_x2"))
                / sqrt((col("a4")
                    / (lit(3.0) * (col("n").cast("double") - 1.0)))
                  * (col("sz2d") - col("szd") * col("szd")
                    / col("n").cast("double")))).as("z"))
      },
      Some("""WITH cg AS (
                SELECT CAST(substring(o_orderpriority, 1, 1) AS BIGINT)
                    AS g,
                  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS v,
                  CAST(count(*) AS BIGINT) AS c
                FROM orders GROUP BY 1, 2),
              cc AS (
                SELECT v, CAST(SUM(c) AS BIGINT) AS n_c
                FROM cg GROUP BY 1),
              vm AS (
                SELECT v, n_c,
                  2 * COALESCE(SUM(n_c) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    + n_c + 1 AS midrank_x2
                FROM cc),
              ts AS (
                SELECT SUM(CAST(n_c AS HUGEINT) * n_c * n_c - n_c)
                    AS tie,
                  CAST(SUM(n_c) AS BIGINT) AS n
                FROM vm),
              pg AS (
                SELECT g, CAST(SUM(c) AS BIGINT) AS ng,
                  SUM(CAST(c AS HUGEINT) * midrank_x2) AS rg_x2
                FROM cg JOIN vm USING (v) GROUP BY 1),
              agg AS (
                SELECT n, tie, CAST(count(*) AS BIGINT) AS k,
                  SUM(rg_x2 * g) AS t_x2,
                  CAST(SUM(ng * g) AS BIGINT) AS sz,
                  CAST(SUM(ng * g * g) AS BIGINT) AS sz2
                FROM pg, ts GROUP BY 1, 2),
              m AS (
                SELECT k, n, CAST(t_x2 AS DOUBLE) AS t_x2,
                  CAST((n + 1) * CAST(sz AS HUGEINT) AS DOUBLE) AS e_x2,
                  CAST(CAST(n AS HUGEINT) * n * n - n - tie AS DOUBLE)
                    AS a4,
                  CAST(sz AS DOUBLE) AS szd,
                  CAST(sz2 AS DOUBLE) AS sz2d
                FROM agg)
              SELECT k, n, t_x2, e_x2,
                CASE WHEN n <= 1 OR a4 <= 0 THEN NULL
                  ELSE (t_x2 - e_x2)
                    / sqrt((a4 / (3.0 * (CAST(n AS DOUBLE) - 1.0)))
                      * (sz2d - szd * szd / CAST(n AS DOUBLE))) END AS z
              FROM m""")),

    // ── Cochran's Q: repeated-measures binary agreement across years ────
    // Did the customer population's "active this year" flags shift
    // across 1995/1996/1997? Cochran's Q is the k-treatment extension
    // of McNemar over per-subject binary outcomes. The corpus collapses
    // to the distinct (customer, year) activity census ONCE
    // (persisted); row totals L_i and column totals G_j are censuses
    // over it; Q = (k−1)(k·ΣG² − T²)/(k·T − ΣL²) is exact
    // DECIMAL(38,0) integer arithmetic with ONE division.
    Q("q_cochran_q",
      (s, dir) => {
        val flags = Artifacts.persist(t(s, dir, "orders")
          .select(col("o_custkey"),
            year(col("o_orderdate")).cast("long").as("y"))
          .filter(col("y").isin(1995L, 1996L, 1997L))
          .distinct())
        val rows = flags.groupBy("o_custkey")
          .agg(count(lit(1)).as("l"))
          .agg(count(lit(1)).cast("long").as("n_subjects"),
            sum(col("l")).cast(dec38).as("t"),
            sum(col("l").cast(dec38) * col("l")).as("sl2"))
        val cols = flags.agg(
          sum(when(col("y") === 1995L, 1L).otherwise(0L)).cast("long")
            .as("g_1995"),
          sum(when(col("y") === 1996L, 1L).otherwise(0L)).cast("long")
            .as("g_1996"),
          sum(when(col("y") === 1997L, 1L).otherwise(0L)).cast("long")
            .as("g_1997"))
        rows.crossJoin(cols)
          .select(col("n_subjects"), col("g_1995"), col("g_1996"),
            col("g_1997"),
            (col("g_1995").cast(dec38) * col("g_1995")
              + col("g_1996").cast(dec38) * col("g_1996")
              + col("g_1997").cast(dec38) * col("g_1997")).as("sg2"),
            col("t"), col("sl2"))
          .select(col("n_subjects"), col("g_1995"), col("g_1996"),
            col("g_1997"),
            when(col("t") * 3 - col("sl2") === 0,
              lit(null).cast("double"))
              .otherwise(round(
                (lit(2) * (col("sg2") * 3 - col("t") * col("t")))
                  .cast("double")
                  / (col("t") * 3 - col("sl2")).cast("double"), 6))
              .as("q"))
      },
      Some("""WITH flags AS (
                SELECT DISTINCT o_custkey,
                  CAST(year(o_orderdate) AS BIGINT) AS y
                FROM orders
                WHERE year(o_orderdate) IN (1995, 1996, 1997)),
              r AS (
                SELECT CAST(count(*) AS BIGINT) AS n_subjects,
                  CAST(SUM(l) AS HUGEINT) AS t,
                  SUM(CAST(l AS HUGEINT) * l) AS sl2
                FROM (SELECT o_custkey, CAST(count(*) AS BIGINT) AS l
                      FROM flags GROUP BY 1)),
              g AS (
                SELECT CAST(SUM(CASE WHEN y = 1995 THEN 1 ELSE 0 END)
                    AS BIGINT) AS g_1995,
                  CAST(SUM(CASE WHEN y = 1996 THEN 1 ELSE 0 END)
                    AS BIGINT) AS g_1996,
                  CAST(SUM(CASE WHEN y = 1997 THEN 1 ELSE 0 END)
                    AS BIGINT) AS g_1997
                FROM flags)
              SELECT n_subjects, g_1995, g_1996, g_1997,
                CASE WHEN 3 * t - sl2 = 0 THEN NULL
                  ELSE round(CAST(2 * (3 * (CAST(g_1995 AS HUGEINT)
                        * g_1995 + CAST(g_1996 AS HUGEINT) * g_1996
                        + CAST(g_1997 AS HUGEINT) * g_1997)
                      - t * t) AS DOUBLE)
                    / CAST(3 * t - sl2 AS DOUBLE), 6) END AS q
              FROM r, g""")),

    // ── Murphy decomposition of the Brier score ─────────────────────────
    // Brier = reliability − resolution + uncertainty over the
    // q_calibration bin grid: REL says how far bin-mean forecasts sit
    // from bin outcome rates, RES how much the bins separate outcomes,
    // UNC the outcome base-rate variance. Per-bin numerators are exact
    // DECIMAL(38,0) cross-products — REL·N·5e4² = Σ(5e4·pos_k − Σc_k)²/n_k
    // and RES·N³ = Σ(pos_k·N − pos·n_k)²/n_k carry ONE IEEE division per
    // bin — folded bin-pinned (≤21 bins), normalized once outside.
    // brier_binned = REL − RES + UNC (exact for bin-mean forecasts).
    Q("q_brier_decomposition",
      (s, dir) => {
        val census = Artifacts.persist(labeled(t(s, dir, "events"))
          .select(floor(col("value") / 50).cast("long").as("bin"),
            (dec2(col("value")) * 100).cast("long").as("cents"),
            col("pos"))
          .groupBy("bin")
          .agg(count(lit(1)).as("n_k"),
            sum(col("pos")).as("pos_k"),
            sum(col("cents").cast(dec38)).as("sc_k")))
        val tot = census.agg(sum(col("n_k")).cast("long").as("n"),
          sum(col("pos_k")).cast("long").as("pos"))
        census.crossJoin(broadcast(tot))
          .select(col("n"), col("pos"),
            // per-bin terms stay UNROUNDED: they are IEEE quotients of
            // identical exact integers (magnitude ~1e14 — any rounding
            // there would sit past double precision), and the pinned
            // fold of identical doubles is itself identical
            struct(col("bin"),
              ((col("pos_k").cast(dec38) * 50000 - col("sc_k"))
                .cast("double")
                * (col("pos_k").cast(dec38) * 50000 - col("sc_k"))
                  .cast("double")
                / col("n_k").cast("double")).as("rel_t"),
              (((col("pos_k").cast(dec38) * col("n")
                - col("pos").cast(dec38) * col("n_k"))
                * (col("pos_k").cast(dec38) * col("n")
                  - col("pos").cast(dec38) * col("n_k"))).cast("double")
                / col("n_k").cast("double")).as("res_t")).as("t"))
          .groupBy("n", "pos")
          .agg(
            expr("""aggregate(array_sort(collect_list(t)),
                 CAST(0 AS DOUBLE), (a, x) -> a + x.rel_t)""").as("rel_s"),
            expr("""aggregate(array_sort(collect_list(t)),
                 CAST(0 AS DOUBLE), (a, x) -> a + x.res_t)""").as("res_s"))
          .select(col("n"),
            round(col("rel_s") / (col("n").cast("double") * 2.5e9), 12)
              .as("reliability"),
            round(col("res_s") / (col("n").cast("double")
              * col("n").cast("double") * col("n").cast("double")), 12)
              .as("resolution"),
            round(col("pos").cast("double") / col("n").cast("double")
              * (lit(1.0) - col("pos").cast("double")
                / col("n").cast("double")), 12).as("uncertainty"))
          .select(col("n"), col("reliability"), col("resolution"),
            col("uncertainty"),
            round(col("reliability") - col("resolution")
              + col("uncertainty"), 12).as("brier_binned"))
      },
      Some("""WITH census AS (
                SELECT CAST(floor(value / 50) AS BIGINT) AS bin,
                  CAST(count(*) AS BIGINT) AS n_k,
                  CAST(SUM(CASE WHEN event_type = 'purchase'
                    THEN 1 ELSE 0 END) AS BIGINT) AS pos_k,
                  SUM(CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS HUGEINT)) AS sc_k
                FROM events GROUP BY 1),
              tot AS (
                SELECT CAST(SUM(n_k) AS BIGINT) AS n,
                  CAST(SUM(pos_k) AS BIGINT) AS pos
                FROM census),
              terms AS (
                SELECT n, pos, bin,
                  CAST(CAST(pos_k AS HUGEINT) * 50000 - sc_k AS DOUBLE)
                    * CAST(CAST(pos_k AS HUGEINT) * 50000 - sc_k
                      AS DOUBLE)
                    / CAST(n_k AS DOUBLE) AS rel_t,
                  CAST((CAST(pos_k AS HUGEINT) * n
                      - CAST(pos AS HUGEINT) * n_k)
                    * (CAST(pos_k AS HUGEINT) * n
                      - CAST(pos AS HUGEINT) * n_k) AS DOUBLE)
                    / CAST(n_k AS DOUBLE) AS res_t
                FROM census, tot),
              folded AS (
                SELECT n, pos,
                  list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(rel_t ORDER BY bin)), (a, x) -> a + x) AS rel_s,
                  list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(res_t ORDER BY bin)), (a, x) -> a + x) AS res_s
                FROM terms GROUP BY 1, 2),
              outp AS (
                SELECT n,
                  round(rel_s / (CAST(n AS DOUBLE) * 2.5e9), 12)
                    AS reliability,
                  round(res_s / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                    * CAST(n AS DOUBLE)), 12) AS resolution,
                  round(CAST(pos AS DOUBLE) / CAST(n AS DOUBLE)
                    * (1.0 - CAST(pos AS DOUBLE) / CAST(n AS DOUBLE)), 12)
                    AS uncertainty
                FROM folded)
              SELECT n, reliability, resolution, uncertainty,
                round(reliability - resolution + uncertainty, 12)
                  AS brier_binned
              FROM outp""")),

    // ── Krippendorff's α (nominal, 3 raters, no missing) ────────────────
    // The agreement coefficient q_fleiss_kappa can't give: α corrects
    // by the PERMUTATION-based expected disagreement over all N = 3n
    // ratings (small-sample exact), so α and κ diverge whenever the
    // category split is lopsided. Same synthetic high-bit-mixed raters
    // as q_fleiss_kappa; per-item disagreement collapses to the ≤4-row
    // v-census (v = #positive ratings: 2v(3−v) discordant ordered
    // pairs); D_o and D_e are exact integer ratios — α is three IEEE
    // ops on identical integers.
    Q("q_krippendorff_alpha",
      (s, dir) => {
        def rater(shift: Int) = expr(
          s"pmod(((doc_id % 2147483648) * 2654435761) div ${1L << shift}, 2)")
        val census = t(s, dir, "documents")
          .select((rater(16) + rater(19) + rater(22)).as("v"))
          .groupBy("v").agg(count(lit(1)).as("cnt"))
        census
          .agg(sum(col("cnt")).cast("long").as("n_items"),
            sum(col("cnt") * col("v")).cast(dec38).as("n1"),
            sum(col("cnt").cast(dec38) * col("v") * (lit(3L) - col("v"))
              * 2).as("disc"))
          .select(col("n_items"), col("n1").cast("long").as("n_pos"),
            col("disc"),
            (col("n_items").cast(dec38) * 3).as("nr"))
          .select(col("n_items"), col("n_pos"),
            when(col("n_pos") === 0 || col("n_pos") === col("nr"),
              lit(null).cast("double"))
              .otherwise(round(lit(1.0)
                - col("disc").cast("double")
                  * (col("nr") - 1).cast("double")
                  / (lit(4.0) * col("n_pos").cast("double")
                    * (col("nr") - col("n_pos")).cast("double")), 12))
              .as("alpha"))
      },
      Some(s"""WITH v AS (
                SELECT
                  (((doc_id % 2147483648) * 2654435761 // ${1L << 16} % 2 + 2) % 2)
                  + (((doc_id % 2147483648) * 2654435761 // ${1L << 19} % 2 + 2) % 2)
                  + (((doc_id % 2147483648) * 2654435761 // ${1L << 22} % 2 + 2) % 2)
                    AS v
                FROM documents),
              c AS (SELECT v, CAST(count(*) AS BIGINT) AS cnt
                    FROM v GROUP BY 1),
              s AS (
                SELECT CAST(SUM(cnt) AS BIGINT) AS n_items,
                  CAST(SUM(cnt * v) AS BIGINT) AS n_pos,
                  SUM(CAST(cnt AS HUGEINT) * v * (3 - v) * 2) AS disc
                FROM c)
              SELECT n_items, n_pos,
                CASE WHEN n_pos = 0 OR n_pos = 3 * n_items THEN NULL
                  ELSE round(1.0
                    - CAST(disc AS DOUBLE)
                      * CAST(3 * n_items - 1 AS DOUBLE)
                      / (4.0 * CAST(n_pos AS DOUBLE)
                        * CAST(3 * n_items - n_pos AS DOUBLE)), 12)
                  END AS alpha
              FROM s""")),

    // ── Page's L trend test: monotone revenue trend across years ────────
    // The ordered-blocks twin of q_jonckheere_terpstra: within each
    // nation (block), the three years 1995-1997 get ranks 1..3 by
    // exact revenue cents (deterministic year tiebreak — exact-cent
    // ties are measure-zero and the tiebreak is identical in both
    // engines); L = Σ_year year_index · ΣR. The block census is
    // ≤ 25×3 rows at any SF (one scaling 3-join collapses to it);
    // E[L] = 12b and Var₀[L] = 2b are closed-form, z is one IEEE
    // expression of exact integers.
    Q("q_page_trend",
      (s, dir) => {
        val wB = Window.partitionBy("nation").orderBy("cents", "y")
        val cells = t(s, dir, "orders")
          .select(col("o_custkey"),
            year(col("o_orderdate")).cast("long").as("y"),
            (dec2(col("o_totalprice")) * 100).cast("long").as("cents"))
          .filter(col("y").isin(1995L, 1996L, 1997L))
          .join(t(s, dir, "customer")
            .select(col("c_custkey"), col("c_nationkey")),
            col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_nationkey").cast("long").as("nation"),
            col("y"))
          .agg(sum(col("cents").cast(dec38)).as("cents"))
        val ranked = cells
          .withColumn("r", row_number().over(wB).cast("long"))
        ranked
          .agg(countDistinct(col("nation")).cast("long").as("b"),
            sum((col("y") - 1994L) * col("r")).cast("long").as("l"))
          .select(col("b"), col("l"),
            (col("b") * 12L).as("e_l"),
            round((col("l") - col("b") * 12L).cast("double")
              / sqrt((col("b") * 2L).cast("double")), 6).as("z"))
      },
      Some("""WITH cells AS (
                SELECT CAST(c_nationkey AS BIGINT) AS nation,
                  CAST(year(o_orderdate) AS BIGINT) AS y,
                  SUM(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS HUGEINT)) AS cents
                FROM orders JOIN customer ON o_custkey = c_custkey
                WHERE year(o_orderdate) IN (1995, 1996, 1997)
                GROUP BY 1, 2),
              ranked AS (
                SELECT nation, y,
                  CAST(row_number() OVER (PARTITION BY nation
                    ORDER BY cents, y) AS BIGINT) AS r
                FROM cells),
              agg AS (
                SELECT CAST(COUNT(DISTINCT nation) AS BIGINT) AS b,
                  CAST(SUM((y - 1994) * r) AS BIGINT) AS l
                FROM ranked)
              SELECT b, l, CAST(b * 12 AS BIGINT) AS e_l,
                round(CAST(l - b * 12 AS DOUBLE)
                  / sqrt(CAST(b * 2 AS DOUBLE)), 6) AS z
              FROM agg""")),

    // ── Mood's median test: acctbal above/below the grand median ────────
    // The robust k-group location test that needs NO rank sums: count
    // each segment's customers above the GRAND median and χ²-test the
    // 5×2 table. The grand median is a census pick — acctbal lives on
    // a value-domain-bounded cents census (the q_mann_whitney
    // discipline), so the median value is the row where the cumulative
    // count brackets (N+1) div 2, found on the census, never by
    // sorting customers. Above-counts are exact ints off the same
    // persisted census; χ² terms are IEEE from identical integers,
    // segment-pinned fold.
    Q("q_moods_median",
      (s, dir) => {
        val wv = Window.orderBy("cents")
          .rowsBetween(Window.unboundedPreceding, -1)
        val census = Artifacts.persist(t(s, dir, "customer")
          .select((dec2(col("c_acctbal")) * 100).cast("long").as("cents"),
            col("c_mktsegment").as("seg"))
          .groupBy("cents", "seg").agg(count(lit(1)).as("c")))
        val byVal = census.groupBy("cents")
          .agg(sum(col("c")).as("cv"))
          .withColumn("cum_before", coalesce(sum(col("cv")).over(
            Window.orderBy("cents")
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        val tot = census.agg(sum(col("c")).cast("long").as("n"))
        val med = byVal.crossJoin(broadcast(tot))
          .filter(col("cum_before") < expr("(n + 1) div 2")
            && expr("(n + 1) div 2") <= col("cum_before") + col("cv"))
          .select(col("cents").as("med"), col("n"))
        val perSeg = census.crossJoin(broadcast(med))
          .groupBy("seg")
          .agg(sum(col("c")).cast("long").as("n_j"),
            sum(when(col("cents") > col("med"), col("c"))
              .otherwise(0L)).cast("long").as("a_j"),
            max(col("med")).as("med"), max(col("n")).as("n"))
        val withTot = perSeg
          .withColumn("a", sum(col("a_j")).over(Window.partitionBy()))
        withTot
          .select(col("med"), col("n"), col("a"),
            struct(col("seg"),
              (((col("a_j").cast(dec38) * col("n")
                - col("n_j").cast(dec38) * col("a"))
                * (col("a_j").cast(dec38) * col("n")
                  - col("n_j").cast(dec38) * col("a"))).cast("double")
                / (col("n_j").cast("double") * col("a").cast("double")
                  * (col("n") - col("a")).cast("double"))).as("term"))
              .as("t"))
          .groupBy("med", "n", "a")
          .agg(expr("""aggregate(array_sort(collect_list(t)),
               CAST(0 AS DOUBLE), (acc, x) -> acc + x.term)""").as("s"))
          .select(col("n"), col("a").cast("long").as("n_above"),
            round(col("med").cast("double") / 100.0, 2).as("median"),
            round(col("s"), 6).as("chi2"))
      },
      Some("""WITH census AS (
                SELECT CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS cents,
                  c_mktsegment AS seg, CAST(count(*) AS BIGINT) AS c
                FROM customer GROUP BY 1, 2),
              byval AS (
                SELECT cents, SUM(c) AS cv,
                  COALESCE(SUM(SUM(c)) OVER (ORDER BY cents
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS cum_before
                FROM census GROUP BY cents),
              tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM census),
              med AS (
                SELECT cents AS med, n FROM byval, tot
                WHERE cum_before < (n + 1) // 2
                  AND (n + 1) // 2 <= cum_before + cv),
              per AS (
                SELECT seg, CAST(SUM(c) AS BIGINT) AS n_j,
                  CAST(SUM(CASE WHEN cents > med THEN c ELSE 0 END)
                    AS BIGINT) AS a_j,
                  MAX(med) AS med, MAX(n) AS n
                FROM census, med GROUP BY 1),
              wt AS (
                SELECT *, CAST(SUM(a_j) OVER () AS BIGINT) AS a FROM per),
              terms AS (
                SELECT med, n, a, seg,
                  CAST((CAST(a_j AS HUGEINT) * n
                      - CAST(n_j AS HUGEINT) * a)
                    * (CAST(a_j AS HUGEINT) * n
                      - CAST(n_j AS HUGEINT) * a) AS DOUBLE)
                    / (CAST(n_j AS DOUBLE) * CAST(a AS DOUBLE)
                      * CAST(n - a AS DOUBLE)) AS term
                FROM wt)
              SELECT CAST(n AS BIGINT) AS n, a AS n_above,
                round(CAST(med AS DOUBLE) / 100.0, 2) AS median,
                round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list(term ORDER BY seg)), (acc, x) -> acc + x),
                  6) AS chi2
              FROM terms GROUP BY n, a, med""")),

    // ── Gwet's AC1 inter-rater agreement (2 raters) ─────────────────────
    // The paradox-resistant alternative to Cohen's κ: when the
    // category split is lopsided, κ collapses while AC1 stays
    // interpretable, because its chance term uses the MEAN category
    // prevalence π — p_e = 2π(1−π). Two synthetic high-bit-mixed
    // raters (the q_fleiss_kappa family); agreement and prevalence
    // are exact counts off ONE ≤4-cell census; AC1 is three IEEE ops.
    Q("q_gwet_ac1",
      (s, dir) => {
        def rater(shift: Int) = expr(
          s"pmod(((doc_id % 2147483648) * 2654435761) div ${1L << shift}, 2)")
        t(s, dir, "documents")
          .select(rater(16).as("r1"), rater(19).as("r2"))
          .agg(count(lit(1)).cast("long").as("n"),
            sum(when(col("r1") === col("r2"), 1L).otherwise(0L))
              .cast("long").as("agree"),
            sum(col("r1") + col("r2")).cast("long").as("pos2"))
          .select(col("n"), col("agree"),
            (col("agree").cast("double") / col("n").cast("double"))
              .as("p_a"),
            (col("pos2").cast("double")
              / (lit(2.0) * col("n").cast("double"))).as("pi"))
          .select(col("n"), col("agree"), round(col("p_a"), 12).as("p_a"),
            when(lit(1.0) - lit(2.0) * col("pi") * (lit(1.0) - col("pi"))
              === 0.0, lit(null).cast("double"))
              .otherwise(round((col("p_a")
                - lit(2.0) * col("pi") * (lit(1.0) - col("pi")))
                / (lit(1.0)
                  - lit(2.0) * col("pi") * (lit(1.0) - col("pi"))), 12))
              .as("ac1"))
      },
      Some(s"""WITH r AS (
                SELECT
                  ((doc_id % 2147483648) * 2654435761 // ${1L << 16} % 2 + 2) % 2
                    AS r1,
                  ((doc_id % 2147483648) * 2654435761 // ${1L << 19} % 2 + 2) % 2
                    AS r2
                FROM documents),
              a AS (
                SELECT CAST(count(*) AS BIGINT) AS n,
                  CAST(SUM(CASE WHEN r1 = r2 THEN 1 ELSE 0 END)
                    AS BIGINT) AS agree,
                  CAST(SUM(r1 + r2) AS BIGINT) AS pos2
                FROM r),
              m AS (
                SELECT n, agree,
                  CAST(agree AS DOUBLE) / CAST(n AS DOUBLE) AS p_a,
                  CAST(pos2 AS DOUBLE) / (2.0 * CAST(n AS DOUBLE)) AS pi
                FROM a)
              SELECT n, agree, round(p_a, 12) AS p_a,
                CASE WHEN 1.0 - 2.0 * pi * (1.0 - pi) = 0.0 THEN NULL
                  ELSE round((p_a - 2.0 * pi * (1.0 - pi))
                    / (1.0 - 2.0 * pi * (1.0 - pi)), 12) END AS ac1
              FROM m""")),

    // ── quadratic-weighted kappa (ordinal 3-category raters) ────────────
    // The ordinal-agreement coefficient Cohen's κ throws away: near
    // misses (|i−j| = 1) cost ¼ of a full miss under quadratic
    // weights. Two correlated synthetic ordinal raters (sums of the
    // q_fleiss_kappa bit-raters, sharing one bit so agreement is
    // structurally high); κ_w = 1 − N·ΣO_ij(i−j)² / Σrow_i·col_j(i−j)²
    // — the ≤9-cell census makes BOTH sums exact DECIMAL(38,0)
    // cross-products, so κ_w is ONE division of exact integers.
    Q("q_weighted_kappa",
      (s, dir) => {
        def rater(shift: Int) = expr(
          s"pmod(((doc_id % 2147483648) * 2654435761) div ${1L << shift}, 2)")
        val cells = Artifacts.persist(t(s, dir, "documents")
          .select((rater(16) + rater(19)).as("v1"),
            (rater(19) + rater(22)).as("v2"))
          .groupBy("v1", "v2").agg(count(lit(1)).as("c")))
        val obs = cells.agg(
          sum(col("c")).cast("long").as("n"),
          sum(col("c").cast(dec38) * (col("v1") - col("v2"))
            * (col("v1") - col("v2"))).as("o_d2"))
        val margins = cells.groupBy("v1").agg(sum(col("c")).as("row_c"))
          .crossJoin(cells.groupBy(col("v2").as("w2"))
            .agg(sum(col("c")).as("col_c")))
          .agg(sum(col("row_c").cast(dec38) * col("col_c")
            * (col("v1") - col("w2")) * (col("v1") - col("w2")))
            .as("e_d2"))
        obs.crossJoin(margins)
          .select(col("n"),
            col("o_d2").cast("long").as("obs_d2"),
            when(col("e_d2") === 0, lit(null).cast("double"))
              .otherwise(round(lit(1.0)
                - (col("o_d2") * col("n")).cast("double")
                  / col("e_d2").cast("double"), 12)).as("kappa_w"))
      },
      Some(s"""WITH r AS (
                SELECT
                  ((doc_id % 2147483648) * 2654435761 // ${1L << 16} % 2 + 2) % 2
                  + ((doc_id % 2147483648) * 2654435761 // ${1L << 19} % 2 + 2) % 2
                    AS v1,
                  ((doc_id % 2147483648) * 2654435761 // ${1L << 19} % 2 + 2) % 2
                  + ((doc_id % 2147483648) * 2654435761 // ${1L << 22} % 2 + 2) % 2
                    AS v2
                FROM documents),
              cells AS (
                SELECT v1, v2, CAST(count(*) AS BIGINT) AS c
                FROM r GROUP BY 1, 2),
              obs AS (
                SELECT CAST(SUM(c) AS BIGINT) AS n,
                  SUM(CAST(c AS HUGEINT) * (v1 - v2) * (v1 - v2)) AS o_d2
                FROM cells),
              m AS (
                SELECT SUM(CAST(rw.row_c AS HUGEINT) * cl.col_c
                  * (rw.v1 - cl.w2) * (rw.v1 - cl.w2)) AS e_d2
                FROM (SELECT v1, SUM(c) AS row_c FROM cells GROUP BY 1) rw
                CROSS JOIN (SELECT v2 AS w2, SUM(c) AS col_c
                            FROM cells GROUP BY 1) cl)
              SELECT n, CAST(o_d2 AS BIGINT) AS obs_d2,
                CASE WHEN e_d2 = 0 THEN NULL
                  ELSE round(1.0 - CAST(o_d2 * n AS DOUBLE)
                    / CAST(e_d2 AS DOUBLE), 12) END AS kappa_w
              FROM obs, m""")),

    // ── Qini / uplift deciles: does targeting-by-value find lift? ───────
    // The uplift-modeling readout q_lift_gain (outcome-only) cannot
    // give: with treatment = urgent/high priority and outcome =
    // fulfilled status, rank ALL units by the targeting score
    // (order value, desc) and read the CUMULATIVE treated-vs-control
    // response gap per decile. uplift(d) = Y̅_t − Y̅_c over the top d
    // deciles (two exact ratios), qini(d) = Y_t − Y_c·N_t/N_c in
    // response counts. Ranking rides RangeRank (cluster-wide, exact,
    // same tiebreak both engines); per-decile cells are a 10-row
    // census, cumulated with a 10-row window.
    Q("q_qini_uplift",
      (s, dir) => {
        val base = t(s, dir, "orders")
          .select(
            when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
              .otherwise(0L).as("tr"),
            when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("y"),
            (dec2(col("o_totalprice")) * 100).cast("long").as("cents"),
            col("o_orderkey"))
          .withColumn("g", lit(1L))
        val ranked = RangeRank.ranked(base, Seq("g"),
          Seq(col("cents").desc, col("o_orderkey")))
        val cells = ranked
          .select(expr("(rn - 1) * 10 div n + 1").as("decile"),
            col("tr"), col("y"))
          .groupBy("decile")
          .agg(sum(col("tr")).cast("long").as("nt"),
            sum(lit(1L) - col("tr")).cast("long").as("nc"),
            sum(col("y") * col("tr")).cast("long").as("yt"),
            sum(col("y") * (lit(1L) - col("tr"))).cast("long").as("yc"))
        val wCum = Window.orderBy("decile")
          .rowsBetween(Window.unboundedPreceding, 0)
        cells
          .select(col("decile"),
            sum(col("nt")).over(wCum).cast("long").as("cnt_t"),
            sum(col("nc")).over(wCum).cast("long").as("cnt_c"),
            sum(col("yt")).over(wCum).cast("long").as("cy_t"),
            sum(col("yc")).over(wCum).cast("long").as("cy_c"))
          .select(col("decile"), col("cnt_t"), col("cnt_c"),
            col("cy_t"), col("cy_c"),
            when(col("cnt_t") === 0 || col("cnt_c") === 0,
              lit(null).cast("double"))
              .otherwise(round(col("cy_t").cast("double")
                / col("cnt_t").cast("double")
                - col("cy_c").cast("double")
                  / col("cnt_c").cast("double"), 12)).as("uplift_cum"),
            when(col("cnt_c") === 0, lit(null).cast("double"))
              .otherwise(round(col("cy_t").cast("double")
                - col("cy_c").cast("double")
                  * col("cnt_t").cast("double")
                  / col("cnt_c").cast("double"), 6)).as("qini"))
          .orderBy("decile")
      },
      Some("""WITH base AS (
                SELECT CASE WHEN o_orderpriority
                    IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END AS tr,
                  CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y,
                  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS cents,
                  o_orderkey
                FROM orders),
              r AS (
                SELECT tr, y,
                  CAST(row_number() OVER (ORDER BY cents DESC,
                    o_orderkey) AS BIGINT) AS rn,
                  CAST(count(*) OVER () AS BIGINT) AS n
                FROM base),
              cells AS (
                SELECT (rn - 1) * 10 // n + 1 AS decile,
                  CAST(SUM(tr) AS BIGINT) AS nt,
                  CAST(SUM(1 - tr) AS BIGINT) AS nc,
                  CAST(SUM(y * tr) AS BIGINT) AS yt,
                  CAST(SUM(y * (1 - tr)) AS BIGINT) AS yc
                FROM r GROUP BY 1),
              cum AS (
                SELECT CAST(decile AS BIGINT) AS decile,
                  CAST(SUM(nt) OVER w AS BIGINT) AS cnt_t,
                  CAST(SUM(nc) OVER w AS BIGINT) AS cnt_c,
                  CAST(SUM(yt) OVER w AS BIGINT) AS cy_t,
                  CAST(SUM(yc) OVER w AS BIGINT) AS cy_c
                FROM cells
                WINDOW w AS (ORDER BY decile ROWS BETWEEN UNBOUNDED
                  PRECEDING AND CURRENT ROW))
              SELECT decile, cnt_t, cnt_c, cy_t, cy_c,
                CASE WHEN cnt_t = 0 OR cnt_c = 0 THEN NULL
                  ELSE round(CAST(cy_t AS DOUBLE) / CAST(cnt_t AS DOUBLE)
                    - CAST(cy_c AS DOUBLE) / CAST(cnt_c AS DOUBLE), 12)
                  END AS uplift_cum,
                CASE WHEN cnt_c = 0 THEN NULL
                  ELSE round(CAST(cy_t AS DOUBLE)
                    - CAST(cy_c AS DOUBLE) * CAST(cnt_t AS DOUBLE)
                      / CAST(cnt_c AS DOUBLE), 6) END AS qini
              FROM cum ORDER BY decile""")),

    // ── randomization (permutation) test for the treatment mean gap ─────
    // The deterministic-resampling sibling of q_bootstrap_ci: does the
    // urgent-vs-rest order-value gap survive re-randomization? B = 32
    // Fisher-style replicates reassign each order to pseudo-treatment
    // by a Knuth-hash draw AT THE OBSERVED TREATMENT RATE — the rate
    // test u·n < 2³²·n_t is exact integer arithmetic (no FP
    // probability), so draws are reproducible on any cluster. Per
    // replicate the mean gap is two exact-cents ratios; the two-sided
    // p is (1 + #{|d_b| ≥ |d_obs|})/(B+1). Shape: ×32 row-local
    // fan-out, map-side-combined replicate aggs (the q_bootstrap_ci
    // scale shape), 32-row finish.
    Q("q_permutation_test",
      (s, dir) => {
        val dec38 = DecimalType(38, 0)
        val base = Artifacts.persist(t(s, dir, "orders")
          .select(col("o_orderkey"),
            when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
              .otherwise(0L).as("tr"),
            (dec2(col("o_totalprice")) * 100).cast("long").as("cents")))
        val obs = base.agg(
          count(lit(1)).cast("long").as("n"),
          sum(col("tr")).cast("long").as("n_t"),
          sum(when(col("tr") === 1, col("cents")).otherwise(0L)
            .cast(dec38)).as("s_t"),
          sum(col("cents").cast(dec38)).as("s_all"))
          .select(col("n"), col("n_t"), (col("n") - col("n_t")).as("n_c"),
            (col("s_t").cast("double") / col("n_t").cast("double")
              - (col("s_all") - col("s_t")).cast("double")
                / (col("n") - col("n_t")).cast("double")).as("d_obs"))
          .localCheckpoint(true)
        // Knuth-hash u ∈ [0, 2³²); pseudo-treatment iff u·n < 2³²·n_t
        val u = expr("""pmod(pmod(o_orderkey * 64 + b, 2147483648)
                        * 2654435761, 4294967296)""")
        val reps = base
          .select(col("o_orderkey"), col("cents"),
            explode(expr("sequence(0, 31)")).as("b"))
          .crossJoin(broadcast(obs.select("n", "n_t")))
          .select(col("b"), col("cents"),
            // dec38 carriers: u·n tops int64 once n ≳ 2³¹ (u < 2³²)
            when(u.cast(dec38) * col("n")
              < lit(4294967296L).cast(dec38) * col("n_t"),
              1L).otherwise(0L).as("pt"))
          .groupBy("b")
          .agg(sum(col("pt")).cast("long").as("m_t"),
            count(lit(1)).cast("long").as("m"),
            sum(when(col("pt") === 1, col("cents")).otherwise(0L)
              .cast(dec38)).as("r_t"),
            sum(col("cents").cast(dec38)).as("r_all"))
          .select(col("b"), col("m_t"), col("m"),
            when(col("m_t") === 0 || col("m_t") === col("m"),
              lit(null).cast("double"))
              .otherwise(col("r_t").cast("double")
                / col("m_t").cast("double")
                - (col("r_all") - col("r_t")).cast("double")
                  / (col("m") - col("m_t")).cast("double")).as("d_b"))
        reps.crossJoin(broadcast(obs))
          .agg(max(col("n_t")).as("n_treat"),
            max(col("n_c")).as("n_ctrl"),
            round(max(col("d_obs")) / 100.0, 6).as("d_obs_dollars"),
            sum(when(abs(col("d_b")) >= abs(col("d_obs")), 1L)
              .otherwise(0L)).cast("long").as("n_extreme"))
          .select(col("n_treat"), col("n_ctrl"), col("d_obs_dollars"),
            col("n_extreme"),
            round((col("n_extreme") + 1).cast("double") / 33.0, 6)
              .as("p_value"))
      },
      Some("""WITH base AS (
                SELECT o_orderkey,
                  CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END AS tr,
                  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS cents
                FROM orders),
              obs AS (
                SELECT CAST(count(*) AS BIGINT) AS n,
                  CAST(SUM(tr) AS BIGINT) AS n_t,
                  CAST(count(*) - SUM(tr) AS BIGINT) AS n_c,
                  CAST(SUM(CASE WHEN tr = 1 THEN CAST(cents AS HUGEINT)
                    ELSE 0 END) AS HUGEINT) AS s_t,
                  SUM(CAST(cents AS HUGEINT)) AS s_all
                FROM base),
              obs2 AS (
                SELECT n, n_t, n_c,
                  CAST(s_t AS DOUBLE) / CAST(n_t AS DOUBLE)
                    - CAST(s_all - s_t AS DOUBLE)
                      / CAST(n - n_t AS DOUBLE) AS d_obs
                FROM obs),
              reps AS (
                SELECT b, cents,
                  CASE WHEN CAST(((((o_orderkey * 64 + b) % 2147483648
                        + 2147483648) % 2147483648 * 2654435761)
                        % 4294967296 + 4294967296) % 4294967296
                        AS HUGEINT)
                      * (SELECT n FROM obs2)
                    < CAST(4294967296 AS HUGEINT)
                      * (SELECT n_t FROM obs2)
                    THEN 1 ELSE 0 END AS pt
                FROM base, (SELECT unnest(generate_series(0, 31)) AS b)),
              agg AS (
                SELECT b, CAST(SUM(pt) AS BIGINT) AS m_t,
                  CAST(count(*) AS BIGINT) AS m,
                  CAST(SUM(CASE WHEN pt = 1 THEN CAST(cents AS HUGEINT)
                    ELSE 0 END) AS HUGEINT) AS r_t,
                  SUM(CAST(cents AS HUGEINT)) AS r_all
                FROM reps GROUP BY 1),
              db AS (
                SELECT b,
                  CASE WHEN m_t = 0 OR m_t = m THEN NULL
                    ELSE CAST(r_t AS DOUBLE) / CAST(m_t AS DOUBLE)
                      - CAST(r_all - r_t AS DOUBLE)
                        / CAST(m - m_t AS DOUBLE) END AS d_b
                FROM agg)
              SELECT (SELECT n_t FROM obs2) AS n_treat,
                (SELECT n_c FROM obs2) AS n_ctrl,
                round((SELECT d_obs FROM obs2) / 100.0, 6)
                  AS d_obs_dollars,
                CAST(SUM(CASE WHEN abs(d_b)
                  >= abs((SELECT d_obs FROM obs2)) THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_extreme,
                round((SUM(CASE WHEN abs(d_b)
                  >= abs((SELECT d_obs FROM obs2)) THEN 1 ELSE 0 END)
                  + 1) / 33.0, 6) AS p_value
              FROM db""")),

    // ── Brunner–Munzel test: urgent vs rest, unequal variances ──────────
    // The nonparametric two-sample test q_mann_whitney can't replace
    // when dispersions differ (the Behrens–Fisher analog of ranks).
    // EVERYTHING reduces to integer placement moments over the
    // (value → c₁, c₂) census: a group-1 observation at value v has
    // doubled placement D = 2·#{group-2 below v} + c₂(v) and doubled
    // pooled midrank 2R = 2·off(v) + c(v) + 1, both read off two
    // RangeRank prefix sums (the census grows with data — no
    // single-task window). The rank-variance ΣT² folds to the moment
    // identity Q − (2PS − P²)/n — P, S, Q exact DECIMAL(38,0) — and
    // p̂, W, and the Welch-type df are IEEE formulas on those integers.
    Q("q_brunner_munzel",
      (s, dir) => {
        val dec38 = DecimalType(38, 0)
        // round 13: midranks/placements read row-locally off the
        // pinned RANKED census — no per-query range shuffle
        val cum = ansariCum(Censuses.rankedAnsari(s, dir),
          preRanked = true)
        val tots = cum
          .select(col("c1"), col("c2"),
            // doubled pooled midrank at v (shared by both groups)
            (col("off1") * 2 + col("off2") * 2 + col("c1") + col("c2")
              + 1).as("r2"),
            // doubled placements: opponents below ×2 + tied opponents
            (col("off2") * 2 + col("c2")).as("d1"),
            (col("off1") * 2 + col("c1")).as("d2"))
          .agg(
            sum(col("c1")).cast("long").as("n1"),
            sum(col("c2")).cast("long").as("n2"),
            sum(col("c1").cast(dec38) * col("r2")).as("p1"),
            sum(col("c2").cast(dec38) * col("r2")).as("p2"),
            sum(col("c1").cast(dec38) * col("d1")).as("sd1"),
            sum(col("c2").cast(dec38) * col("d2")).as("sd2"),
            sum(col("c1").cast(dec38) * col("d1") * col("d1")).as("qd1"),
            sum(col("c2").cast(dec38) * col("d2") * col("d2")).as("qd2"))
        tots
          .select(col("n1"), col("n2"),
            // shift D by (n_i + 1): S = ΣD + n(n+1), Q = ΣD² + 2(n+1)ΣD
            //   + n(n+1)² — then ΣT² = Q − (2·P·S − P²)/n
            (col("sd1") + col("n1").cast(dec38) * (col("n1") + 1))
              .as("s1"),
            (col("sd2") + col("n2").cast(dec38) * (col("n2") + 1))
              .as("s2"),
            (col("qd1") + col("sd1") * 2 * (col("n1") + 1)
              + col("n1").cast(dec38) * (col("n1") + 1)
                * (col("n1") + 1)).as("q1"),
            (col("qd2") + col("sd2") * 2 * (col("n2") + 1)
              + col("n2").cast(dec38) * (col("n2") + 1)
                * (col("n2") + 1)).as("q2"),
            col("p1"), col("p2"))
          .select(col("n1"), col("n2"), col("p1"), col("p2"),
            // the /n division leaves the exact-decimal domain — do it
            // in doubles IDENTICALLY on both engines (decimal-division
            // scale rules differ across engines)
            ((col("q1").cast("double")
              - (col("p1") * 2 * col("s1") - col("p1") * col("p1"))
                .cast("double") / col("n1").cast("double"))
              / ((col("n1") - 1).cast("double") * 4.0)).as("v1"),
            ((col("q2").cast("double")
              - (col("p2") * 2 * col("s2") - col("p2") * col("p2"))
                .cast("double") / col("n2").cast("double"))
              / ((col("n2") - 1).cast("double") * 4.0)).as("v2"))
          .select(col("n1"), col("n2"),
            round((col("p2").cast("double")
              / (col("n2").cast("double") * 2.0)
              - (col("n2") + 1).cast("double") / 2.0)
              / col("n1").cast("double"), 12).as("p_hat"),
            when(col("n1") < 2 || col("n2") < 2
              || col("n1") * col("v1") + col("n2") * col("v2") <= 0.0,
              lit(null).cast("double"))
              .otherwise(round(
                col("n1").cast("double") * col("n2").cast("double")
                  * (col("p2").cast("double")
                      / (col("n2").cast("double") * 2.0)
                    - col("p1").cast("double")
                      / (col("n1").cast("double") * 2.0))
                / ((col("n1") + col("n2")).cast("double")
                  * sqrt(col("n1") * col("v1")
                    + col("n2") * col("v2"))), 6)).as("w_stat"),
            when(col("n1") < 2 || col("n2") < 2
              || col("n1") * col("v1") + col("n2") * col("v2") <= 0.0,
              lit(null).cast("double"))
              .otherwise(round(
                (col("n1") * col("v1") + col("n2") * col("v2"))
                  * (col("n1") * col("v1") + col("n2") * col("v2"))
                / ((col("n1") * col("v1")) * (col("n1") * col("v1"))
                    / (col("n1") - 1).cast("double")
                  + (col("n2") * col("v2")) * (col("n2") * col("v2"))
                    / (col("n2") - 1).cast("double")), 6)).as("df"))
      },
      Some("""WITH base AS (
                SELECT CASE WHEN o_orderpriority
                    IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END AS tr,
                  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS v
                FROM orders),
              census AS (
                SELECT v, CAST(SUM(tr) AS BIGINT) AS c1,
                  CAST(SUM(1 - tr) AS BIGINT) AS c2
                FROM base GROUP BY 1),
              cum AS (
                SELECT v, c1, c2,
                  CAST(COALESCE(SUM(c1) OVER (ORDER BY v ROWS BETWEEN
                    UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                    AS off1,
                  CAST(COALESCE(SUM(c2) OVER (ORDER BY v ROWS BETWEEN
                    UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                    AS off2
                FROM census),
              tots AS (
                SELECT CAST(SUM(c1) AS BIGINT) AS n1,
                  CAST(SUM(c2) AS BIGINT) AS n2,
                  SUM(CAST(c1 AS HUGEINT)
                    * (2 * off1 + 2 * off2 + c1 + c2 + 1)) AS p1,
                  SUM(CAST(c2 AS HUGEINT)
                    * (2 * off1 + 2 * off2 + c1 + c2 + 1)) AS p2,
                  SUM(CAST(c1 AS HUGEINT) * (2 * off2 + c2)) AS sd1,
                  SUM(CAST(c2 AS HUGEINT) * (2 * off1 + c1)) AS sd2,
                  SUM(CAST(c1 AS HUGEINT) * (2 * off2 + c2)
                    * (2 * off2 + c2)) AS qd1,
                  SUM(CAST(c2 AS HUGEINT) * (2 * off1 + c1)
                    * (2 * off1 + c1)) AS qd2
                FROM cum),
              sh AS (
                SELECT n1, n2, p1, p2,
                  sd1 + CAST(n1 AS HUGEINT) * (n1 + 1) AS s1,
                  sd2 + CAST(n2 AS HUGEINT) * (n2 + 1) AS s2,
                  qd1 + sd1 * 2 * (n1 + 1)
                    + CAST(n1 AS HUGEINT) * (n1 + 1) * (n1 + 1) AS q1,
                  qd2 + sd2 * 2 * (n2 + 1)
                    + CAST(n2 AS HUGEINT) * (n2 + 1) * (n2 + 1) AS q2
                FROM tots),
              vv AS (
                SELECT n1, n2, p1, p2,
                  (CAST(q1 AS DOUBLE)
                    - CAST(p1 * 2 * s1 - p1 * p1 AS DOUBLE)
                      / CAST(n1 AS DOUBLE))
                    / (4.0 * CAST(n1 - 1 AS DOUBLE)) AS v1,
                  (CAST(q2 AS DOUBLE)
                    - CAST(p2 * 2 * s2 - p2 * p2 AS DOUBLE)
                      / CAST(n2 AS DOUBLE))
                    / (4.0 * CAST(n2 - 1 AS DOUBLE)) AS v2
                FROM sh)
              SELECT n1, n2,
                round((CAST(p2 AS DOUBLE) / (2.0 * CAST(n2 AS DOUBLE))
                  - CAST(n2 + 1 AS DOUBLE) / 2.0)
                  / CAST(n1 AS DOUBLE), 12) AS p_hat,
                CASE WHEN n1 < 2 OR n2 < 2
                    OR n1 * v1 + n2 * v2 <= 0.0 THEN NULL
                  ELSE round(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                    * (CAST(p2 AS DOUBLE) / (2.0 * CAST(n2 AS DOUBLE))
                      - CAST(p1 AS DOUBLE) / (2.0 * CAST(n1 AS DOUBLE)))
                    / (CAST(n1 + n2 AS DOUBLE)
                      * sqrt(n1 * v1 + n2 * v2)), 6) END AS w_stat,
                CASE WHEN n1 < 2 OR n2 < 2
                    OR n1 * v1 + n2 * v2 <= 0.0 THEN NULL
                  ELSE round((n1 * v1 + n2 * v2) * (n1 * v1 + n2 * v2)
                    / ((n1 * v1) * (n1 * v1) / CAST(n1 - 1 AS DOUBLE)
                      + (n2 * v2) * (n2 * v2)
                        / CAST(n2 - 1 AS DOUBLE)), 6) END AS df
              FROM vv"""))
  )
}
