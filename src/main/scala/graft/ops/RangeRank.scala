package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scale-safe exact rank / prefix-sum over FEW-group windows.
  *
  * The problem shape: `row_number() OVER (PARTITION BY k ORDER BY s)` where
  * `k` has 3-25 distinct values but the input is a scaling fact table. A
  * plain window sorts each group on ONE task — parallelism is bounded by
  * group cardinality, not cluster size, so at 100 TB a third of the fact
  * table funnels through a single executor thread.
  *
  * The classic 2-pass fix (teradata-era "ordered analytics", same trick as
  * a distributed exact median):
  *
  *   1. `repartitionByRange(P, k ++ s)` — one range shuffle gives a GLOBAL
  *      sort order across P partitions (P = cluster parallelism, not |k|).
  *      Because `k` leads the range key, each group occupies a contiguous
  *      run of partitions, ordered by `s` across that run.
  *   2. Census pass: count rows (and partial-sum any value columns) per
  *      (physical partition, group) — a partial+final agg producing ≤ P·|k|
  *      rows.
  *   3. Offsets: an exclusive prefix sum of the census ordered by partition
  *      id WITHIN each group — driver-scale arithmetic on the tiny census,
  *      planned as a window over ≤ P·|k| rows.
  *   4. Broadcast the offsets back and rank LOCALLY per (partition, group):
  *      global_rn = offset + local_rn. The local window's partition key
  *      (pid, k) has cardinality ≥ P, so no task ever sorts more than one
  *      range's slice.
  *
  * Rank values are IDENTICAL to the single-task window's because the range
  * key is total (callers pass tie-broken sort columns), so every consumer
  * hash-matches byte-for-byte against the naive plan and the DuckDB oracle.
  *
  * The range-partitioned frame is `persist()`ed: the census subtree and
  * the rank subtree MUST observe the same physical partitioning, and each
  * physical range exchange samples its own bounds (the sampling seed
  * incorporates the RDD id), so two independently planned exchanges can
  * disagree — offsets computed under bounds A applied to local ranks under
  * bounds B are silently wrong. ReuseExchange collapses the two instances
  * only when column pruning leaves both with identical schemas — true for
  * payload-free inputs, false in general — so the cache is the correctness
  * mechanism, not an optimization. The cached slice is the projected
  * (group ++ sort ++ payload) columns only. It is an
  * [[Artifacts.persist]], owned by the innermost [[Artifacts.scoped]]
  * block: an artifact build, a finish helper, or the per-query scope
  * every in-repo run opens (`Harness`, `Verify`, `Probe explain`,
  * `PlanDump`), which unpersists it when the query's action ends. A
  * caller of the lazy `SparkEntry.queries` contract that opens no scope
  * gets a plain persist: the SQL cache holds it until `unpersist` or
  * `clearCache`.
  */
object RangeRank {

  /** Extra running-total columns: exclusive prefix sum of `value` in the
    * global (group, sort) order, surfaced as `outName`.
    */
  final case class PrefixSum(value: Column, outName: String)

  private final val Pid = "__rr_pid"
  private final val Off = "__rr_off"

  /** Returns `df` with:
    *   - `rnName`: exact global `row_number()` over (PARTITION BY groupCols
    *     ORDER BY sortCols) as BIGINT,
    *   - `nName` (when Some): the per-group total row count as BIGINT,
    *   - one BIGINT/aggregate column per requested [[PrefixSum]]: the
    *     exclusive running sum of its value column in the same order
    *     (rows-between unbounded-preceding and -1 semantics; first row of
    *     a group gets 0).
    *
    * `sortCols` MUST be a total order within each group (include a unique
    * tiebreaker) — that is what makes the result identical to the naive
    * single-task window.
    */
  /** Exact median-pair selection over ONE numeric column WITHOUT a
    * global sort: a 2¹⁶-bucket histogram brackets the two middle ranks
    * ((n+1) div 2 and (n+2) div 2), then a value census over ONLY the
    * bracketed buckets resolves the exact values — two passes over the
    * (caller-persisted) input plus census arithmetic, no range
    * exchange, no per-row rank materialization. Correct because the
    * median VALUES are invariant to tie order: the value at rank k is
    * the v with cum(<v) < k ≤ cum(≤v), which the bucket-offset +
    * within-bucket cumulative reads off exactly.
    *
    * The bucket boundaries are FP arithmetic but purely internal —
    * every returned value is an exact member of the input column, so
    * cross-engine parity never sees the bucketing.
    *
    * Returns a 1-row frame (nName, v1Name, v2Name). Input MUST be
    * persisted — the histogram and resolve passes both reread it.
    */
  def medianValues(
      df: DataFrame,
      valueCol: String,
      nName: String = "n",
      v1Name: String = "v1",
      v2Name: String = "v2"): DataFrame = {
    val v = col(valueCol)
    // localCheckpoint(true): the 1-row stats frame is referenced by the
    // histogram, the bracket filter AND the final pick — un-materialized
    // it would re-execute its full input pass per reference
    val stats = df.agg(min(v).as("__mn"), max(v).as("__mx"),
      count(lit(1)).cast("long").as(nName))
      .withColumn("__k1", expr(s"($nName + 1) div 2"))
      .withColumn("__k2", expr(s"($nName + 2) div 2"))
      .localCheckpoint(true)
    // histogram pass: 2^16 buckets over [mn, mx]; census-bounded
    val bucketed = df.crossJoin(broadcast(stats))
      .select(when(col("__mx") === col("__mn"), lit(0L))
        .otherwise(least(lit(65535L),
          floor((v.cast("double") - col("__mn").cast("double"))
            / (col("__mx").cast("double") - col("__mn").cast("double"))
            * 65536.0).cast("long"))).as("__b"), v.as("__v"))
    val hist = bucketed.groupBy("__b").agg(count(lit(1)).as("__c"))
    val wB = Window.orderBy("__b")
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = hist
      .withColumn("__off", coalesce(sum(col("__c")).over(wB), lit(0L)))
      .crossJoin(broadcast(stats.select("__k1", "__k2")))
      .filter((col("__off") < col("__k1")
          && col("__k1") <= col("__off") + col("__c"))
        || (col("__off") < col("__k2")
          && col("__k2") <= col("__off") + col("__c")))
      .select(col("__b"), col("__off"))
      // materialized: the resolve pass broadcasts this ≤2-row bracket —
      // lazy, it would re-run the whole histogram pass inside the join
      .localCheckpoint(true)
    // resolve pass: value census over the 1-2 bracketed buckets only
    val within = bucketed.join(broadcast(cum), "__b")
      .groupBy("__b", "__off", "__v")
      .agg(count(lit(1)).as("__c"))
      .withColumn("__voff", col("__off")
        + coalesce(sum(col("__c")).over(Window.partitionBy("__b")
            .orderBy("__v")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val picks = within
      .crossJoin(broadcast(stats.select(col(nName), col("__k1"),
        col("__k2"))))
      .select(col(nName),
        when(col("__voff") < col("__k1")
          && col("__k1") <= col("__voff") + col("__c"), col("__v"))
          .as("__p1"),
        when(col("__voff") < col("__k2")
          && col("__k2") <= col("__voff") + col("__c"), col("__v"))
          .as("__p2"))
      .groupBy(nName)
      .agg(max(col("__p1")).as(v1Name), max(col("__p2")).as(v2Name))
    picks
  }

  /** One requested per-group rank pick for [[groupValuesAtRanks]]:
    * `k` maps the group's row count column to the 1-based target rank
    * (e.g. `n => ceil(n * 0.5)`); the picked value surfaces as
    * `outName`. When `sumName` is set, the EXACT prefix sum of the k
    * smallest values (DECIMAL(38,0) — requires an integral valueCol)
    * also surfaces under that name: S(k) = Σ values at ranks 1..k,
    * the primitive exact trimmed/winsorized sums build on. A k of 0
    * yields NULL for both (callers coalesce S(0) to 0).
    */
  final case class RankPick(outName: String, k: Column => Column,
      sumName: Option[String] = None)

  /** Per-group exact value-at-rank selection — [[medianValues]]
    * generalized to grouped inputs and arbitrary rank targets. For each
    * group g (|groups| small, input a scaling fact table) and each
    * [[RankPick]], returns THE value at that rank of the group's value
    * order: one output row per group, `groupCols ++ nName ++ picks`.
    *
    * Same histogram-bracketed machinery as [[medianValues]], grouped:
    * a per-group 2¹⁶-bucket census brackets every requested rank, then
    * a value census over ONLY the bracketed (group, bucket) cells reads
    * the exact member values off cumulative counts. Three passes over
    * the (caller-persisted) input — per-group min/max/count, bucket
    * census, bracket resolve — each a partial+final agg with
    * cluster-wide parallelism; no range exchange, no per-row rank
    * materialization, no single-task group sort. Selection-by-value is
    * tie-order-invariant (the value at rank k is the v with
    * cum(<v) < k ≤ cum(≤v)), so results are byte-identical to a
    * row_number-over-any-total-order pick at the same rank.
    *
    * Contract: `valueCol` non-null; every k in [1, n] for non-empty
    * groups (ceil(n·q) and (n·d + 9) div 10 forms qualify); input
    * persisted by the caller (all three passes reread it).
    *
    * Skew guard (r8 ADVICE): an adversarial value distribution — one
    * extreme outlier stretching [min, max] — collapses nearly all rows
    * into a single bucket, so the resolve pass's per-(group, bucket)
    * value census would sort ~all distinct group values on one task.
    * When any bracketed cell holds more than `refineCellRows` rows, a
    * SECOND bracketing level re-buckets the hit cells (2¹⁶ sub-buckets
    * over each cell's analytic bounds — 32 bits of combined resolution)
    * before the value census, restoring 'no single-task group sort' at
    * one extra partial+final histogram pass over the bracketed cells.
    * The check itself is free: the bracket frame is already
    * materialized (localCheckpoint) and ≤ |picks|·|groups| rows.
    * Results are byte-identical either way — sub-bucketing is a
    * monotone partition of each cell's value order, and selection is
    * by cumulative count, never by bucket boundary.
    */
  /** [[groupValuesAtRanks]] over a pre-aggregated VALUE CENSUS —
    * `census` holds one row per (group, value) with its multiplicity in
    * `countCol`, and ranks are taken over the expanded multiset. The
    * round-12 artifact-sharing primitive: consumers of ONE shared
    * census ([[Censuses.priorityCents]] and friends) finish their rank
    * picks on census rows only, so the selection pass costs
    * O(|census|), never another corpus scan.
    *
    * Value-at-rank reads off the exclusive multiplicity prefix: the
    * value at rank k is the census row with off < k ≤ off + c —
    * tie-order-invariant by construction, byte-identical to the
    * raw-row machinery. Prefix-sum-at-rank is exact because every
    * member inside a value run equals the run's value:
    * S(k) = vsOff + (k − off)·v, all DECIMAL(38,0) (requires an
    * integral valueCol, same contract as [[RankPick.sumName]]). A k
    * of 0 (or > n) yields NULL for both (callers coalesce).
    *
    * The census order statistic rides [[ranked]] — a census can grow
    * with the value domain (~10⁷ distinct cents at 100 TB), so the
    * prefix pass keeps range-shuffle parallelism, never a single-task
    * window.
    */
  def censusValuesAtRanks(
      census: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      countCol: String,
      picks: Seq[RankPick],
      nName: String = "n"): DataFrame = {
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val needSums = picks.exists(_.sumName.isDefined)
    val g = groupCols.map(col)
    // rank targets: |groups| rows, materialized once (referenced by
    // every pick's bracket predicate)
    val targets0 = census.groupBy(g: _*)
      .agg(sum(col(countCol)).cast("long").as(nName))
    val targets = picks.zipWithIndex.foldLeft(targets0) {
      case (d, (p, i)) =>
        d.withColumn(s"__cv_k$i", p.k(col(nName)).cast("long"))
    }.coalesce(1).localCheckpoint(true)
    val pre = Seq(PrefixSum(col(countCol), "__cv_off")) ++
      (if (needSums)
        Seq(PrefixSum(col(valueCol).cast(dec38) * col(countCol),
          "__cv_vs"))
      else Nil)
    val cum = ranked(census, groupCols, Seq(col(valueCol)),
      rnName = "__cv_rn", nName = None, prefixSums = pre)
    val joined =
      if (groupCols.isEmpty) cum.crossJoin(broadcast(targets))
      else cum.join(broadcast(targets), groupCols)
    val c = col(countCol)
    val pickAggs = picks.zipWithIndex.flatMap { case (p, i) =>
      val k = col(s"__cv_k$i")
      val hit = col("__cv_off") < k && k <= col("__cv_off") + c
      Seq(max(when(hit, col(valueCol))).as(p.outName)) ++
        p.sumName.map(sn => max(when(hit,
          coalesce(col("__cv_vs").cast(dec38), lit(0).cast(dec38))
            + (k - col("__cv_off")).cast(dec38)
              * col(valueCol).cast(dec38))).as(sn)).toSeq
    }
    val aggs = max(col(nName)).as(nName) +: pickAggs
    if (groupCols.isEmpty) joined.agg(aggs.head, aggs.tail: _*)
    else joined.groupBy(g: _*).agg(aggs.head, aggs.tail: _*)
  }

  /** [[censusValuesAtRanks]] over a census whose exclusive prefixes are
    * ALREADY attached — a pinned RANKED artifact carrying `offCol` (the
    * exclusive multiplicity prefix in value order within the group),
    * `nCol` (the group's total multiplicity, constant per group), and
    * optionally `vsCol` (the exclusive Σ v·c DECIMAL(38,0) prefix, for
    * prefix-sum-at-rank picks). Zero ranking work remains: every pick
    * is a conditional aggregate over ONE scan of the artifact — the
    * round-13 fast path for the dispersion battery. Semantics are
    * byte-identical to [[censusValuesAtRanks]] by the same
    * selection-by-cumulative-count argument.
    *
    * `nCol` is exposed to the pick closures under the name `nName`
    * (expr-style picks like `n => expr("(n + 1) div 2")` reference it
    * literally), so the artifact's total column is renamed first.
    */
  def pinnedValuesAtRanks(
      art: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      countCol: String,
      offCol: String,
      nCol: String,
      picks: Seq[RankPick],
      nName: String = "n",
      vsCol: Option[String] = None): DataFrame = {
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val g = groupCols.map(col)
    val c = col(countCol)
    val base = art.withColumnRenamed(nCol, nName)
    val withK = picks.zipWithIndex.foldLeft(base) { case (d, (p, i)) =>
      d.withColumn(s"__pv_k$i", p.k(col(nName)).cast("long"))
    }
    val pickAggs = picks.zipWithIndex.flatMap { case (p, i) =>
      val k = col(s"__pv_k$i")
      val hit = col(offCol) < k && k <= col(offCol) + c
      Seq(max(when(hit, col(valueCol))).as(p.outName)) ++
        p.sumName.map(sn => max(when(hit,
          coalesce(col(vsCol.get).cast(dec38), lit(0).cast(dec38))
            + (k - col(offCol)).cast(dec38)
              * col(valueCol).cast(dec38))).as(sn)).toSeq
    }
    val aggs = max(col(nName)).cast("long").as(nName) +: pickAggs
    if (groupCols.isEmpty) withK.agg(aggs.head, aggs.tail: _*)
    else withK.groupBy(g: _*).agg(aggs.head, aggs.tail: _*)
  }

  def groupValuesAtRanks(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      picks: Seq[RankPick],
      nName: String = "n",
      refineCellRows: Long = 1L << 20,
      weightCol: Option[String] = None): DataFrame = {
    // weightCol (round 12): `df` is a pre-aggregated VALUE CENSUS and
    // ranks are taken over the expanded multiset — every count in the
    // machinery becomes Σweight and the prefix-sum mass becomes
    // Σ(v·weight). Byte-identical to feeding the raw rows (selection
    // is by cumulative count either way), but the passes cost
    // O(|census|): the shared-census artifact consumers' fast path.
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    // prefix-sum plumbing is gated on request so sum-free consumers'
    // plans carry zero extra aggregation columns
    val needSums = picks.exists(_.sumName.isDefined)
    val v = col(valueCol)
    val g = groupCols.map(col)
    // multiset count / value-mass aggregators: raw rows or weighted census
    val rowCnt: Column =
      weightCol.map(w => sum(col(w)).cast("long")).getOrElse(count(lit(1)))
    val hsAgg: Column = weightCol
      .map(w => sum(col("__v").cast(dec38) * col(w)))
      .getOrElse(sum(col("__v").cast(dec38)))
    val kCol = picks.indices.map(i => s"__gk$i")
    // per-group bounds + count + every rank target: |groups| rows,
    // localCheckpoint'd — referenced by the bucketing, the bracket
    // filter AND the final pick (lazy, each reference would re-execute
    // the full input pass)
    // coalesce(1) collapses only the FINAL-agg stage (the partial agg
    // over the fact table keeps full parallelism behind the shuffle
    // boundary); the checkpointed census then lives in ONE partition,
    // so every downstream reference — broadcast builds, the skew probe
    // — is a 1-task job instead of a shuffle.partitions-task sweep.
    // At ~25 census rows the single final task is trivially cheap.
    val stats = picks.zipWithIndex.foldLeft(
      df.groupBy(g: _*).agg(min(v).as("__mn"), max(v).as("__mx"),
        rowCnt.cast("long").as(nName))) {
      case (d, (p, i)) => d.withColumn(kCol(i), p.k(col(nName)).cast("long"))
    }.coalesce(1).localCheckpoint(true)
    // bucket pass: 2^16 buckets over each group's [mn, mx]; the bucket
    // boundaries are FP but purely internal — every returned value is
    // an exact member of the input column
    val bucketed = df
      .join(broadcast(stats.select((g :+ col("__mn") :+ col("__mx")): _*)),
        groupCols)
      .select(g ++ Seq(
        when(col("__mx") === col("__mn"), lit(0L))
          .otherwise(least(lit(65535L),
            floor((v.cast("double") - col("__mn").cast("double"))
              / (col("__mx").cast("double") - col("__mn").cast("double"))
              * 65536.0).cast("long"))).as("__b"),
        v.as("__v")) ++ weightCol.map(col).toSeq: _*)
    val histAggs = Seq(rowCnt.as("__c")) ++
      (if (needSums) Seq(hsAgg.as("__hs")) else Nil)
    val hist = bucketed.groupBy((g :+ col("__b")): _*)
      .agg(histAggs.head, histAggs.tail: _*)
    val wB = Window.partitionBy(g: _*).orderBy("__b")
      .rowsBetween(Window.unboundedPreceding, -1)
    // bracketed (group, bucket) cells: ≤ |picks| per group, checkpointed
    // so the resolve pass broadcasts rows, not the histogram subtree
    val hit = kCol.map(k => col("__off") < col(k)
      && col(k) <= col("__off") + col("__c")).reduce(_ || _)
    val offCols = Seq(col("__off")) ++
      (if (needSums) Seq(col("__soff")) else Nil)
    // level-1 brackets carry the cell row count (__bc, the skew probe)
    // and the cell's analytic bounds (__lo/__w, the level-2 re-bucket
    // basis): lo_b = mn + b·W, width W = (mx−mn)/2¹⁶ — computable
    // without another input pass
    val w1 = (col("__mx").cast("double") - col("__mn").cast("double")) / 65536.0
    val brackets1 = hist
      .withColumn("__off", coalesce(sum(col("__c")).over(wB), lit(0L)))
      .withColumn("__soff",
        if (needSums)
          coalesce(sum(col("__hs")).over(wB), lit(0).cast(dec38))
        else lit(0L))
      .join(broadcast(stats), groupCols)
      .filter(hit)
      .select((g :+ col("__b")) ++ offCols ++ Seq(col("__c").as("__bc"),
        (col("__mn").cast("double") + col("__b").cast("double") * w1)
          .as("__lo"), w1.as("__w")): _*)
      .coalesce(1).localCheckpoint(true)
    // skew probe on the materialized ≤|picks|·|groups|-row bracket
    // frame: a 1-task collect of the single checkpointed partition
    val maxCell = brackets1.select(col("__bc")).collect()
      .foldLeft(0L)((m, r) => math.max(m, r.getLong(0)))
    val (cellRows, brackets, cellKey) = if (maxCell <= refineCellRows) {
      (bucketed, brackets1.drop("__bc", "__lo", "__w"), Seq("__b"))
    } else {
      // level 2: re-bucket the hit cells' rows over each cell's analytic
      // bounds. greatest/least clamp FP boundary drift (v landed in cell
      // b under the level-1 formula but sits an ULP outside lo_b under
      // this one); clamping keeps the partition monotone in __v, which
      // is all selection-by-cumulative-count needs. __w = 0 (degenerate
      // single-value group) maps everything to sub-bucket 0.
      val sub = bucketed
        .join(broadcast(brackets1.select((g :+ col("__b") :+ col("__lo")
          :+ col("__w")): _*)), groupCols :+ "__b")
        .withColumn("__b2", when(col("__w") === 0.0, lit(0L))
          .otherwise(least(lit(65535L), greatest(lit(0L),
            floor((col("__v").cast("double") - col("__lo")) / col("__w")
              * 65536.0).cast("long")))))
      val hist2 = sub.groupBy((g :+ col("__b") :+ col("__b2")): _*)
        .agg(histAggs.head, histAggs.tail: _*)
      val wB2 = Window.partitionBy((g :+ col("__b")): _*).orderBy("__b2")
        .rowsBetween(Window.unboundedPreceding, -1)
      val parentOff = Seq(col("__off").as("__o1")) ++
        (if (needSums) Seq(col("__soff").as("__so1")) else Nil)
      val brackets2 = hist2
        .join(broadcast(brackets1.select((g :+ col("__b")) ++ parentOff: _*)),
          groupCols :+ "__b")
        .withColumn("__off", col("__o1")
          + coalesce(sum(col("__c")).over(wB2), lit(0L)))
        .withColumn("__soff",
          if (needSums) col("__so1")
            + coalesce(sum(col("__hs")).over(wB2), lit(0).cast(dec38))
          else lit(0L))
        .join(broadcast(stats.select((g ++ kCol.map(col)): _*)), groupCols)
        .filter(hit)
        .select((g :+ col("__b") :+ col("__b2")) ++ offCols: _*)
        .coalesce(1).localCheckpoint(true)
      (sub, brackets2, Seq("__b", "__b2"))
    }
    val brkCols = (g ++ cellKey.map(col)) ++ offCols
    // resolve pass: value census over the bracketed cells only
    val wV = Window.partitionBy((g ++ cellKey.map(col)): _*).orderBy("__v")
      .rowsBetween(Window.unboundedPreceding, -1)
    val within0 = cellRows
      .join(broadcast(brackets), groupCols ++ cellKey)
      .groupBy((brkCols :+ col("__v")): _*)
      .agg(rowCnt.as("__c"))
      .withColumn("__voff", col("__off")
        + coalesce(sum(col("__c")).over(wV), lit(0L)))
    val within = if (needSums) within0
      .withColumn("__vsoff", col("__soff")
        + coalesce(sum(col("__v").cast(dec38) * col("__c")).over(wV),
          lit(0).cast(dec38)))
    else within0
    val pickCols = picks.indices.flatMap { i =>
      val hitI = col("__voff") < col(kCol(i)) &&
        col(kCol(i)) <= col("__voff") + col("__c")
      Seq(when(hitI, col("__v")).as(s"__gp$i")) ++
        picks(i).sumName.map(_ => when(hitI,
          col("__vsoff")
            + (col(kCol(i)) - col("__voff")) * col("__v").cast(dec38))
          .as(s"__gs$i")).toSeq
    }
    val outAggs = picks.indices.flatMap { i =>
      Seq(max(col(s"__gp$i")).as(picks(i).outName)) ++
        picks(i).sumName.map(sn => max(col(s"__gs$i")).as(sn)).toSeq
    }
    within
      .join(broadcast(stats.select((g :+ col(nName)) ++ kCol.map(col): _*)),
        groupCols)
      .select((g :+ col(nName)) ++ pickCols: _*)
      .groupBy((g :+ col(nName)): _*)
      .agg(outAggs.head, outAggs.tail: _*)
  }

  def ranked(
      df: DataFrame,
      groupCols: Seq[String],
      sortCols: Seq[Column],
      rnName: String = "rn",
      nName: Option[String] = Some("n"),
      prefixSums: Seq[PrefixSum] = Nil): DataFrame = {
    val spark = df.sparkSession
    val p = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val gCols = groupCols.map(col)
    val rangeKey = gCols ++ sortCols

    // Pass 0: one range shuffle; pid tags each row with its range slot.
    // persist = both consumers see ONE set of sampled range bounds (see
    // class doc — this is load-bearing for correctness).
    val parted = Artifacts.persist(df
      .repartitionByRange(p, rangeKey: _*)
      .withColumn(Pid, spark_partition_id()))

    // Pass 1: per-(pid, group) census — partial+final agg, ≤ p·|groups| rows.
    val sumAggs = prefixSums.zipWithIndex.map { case (ps, i) =>
      sum(ps.value).as(s"__rr_s$i")
    }
    val census = parted
      .groupBy((col(Pid) +: gCols): _*)
      .agg(count(lit(1)).as("__rr_c"), sumAggs: _*)

    // Exclusive prefix offsets per group across pids, over the tiny census.
    val wOff = Window.partitionBy(gCols: _*).orderBy(col(Pid))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wTot = Window.partitionBy(gCols: _*)
    val offCols =
      Seq(coalesce(sum(col("__rr_c")).over(wOff), lit(0L)).cast("long").as(Off)) ++
        nName.map(n => sum(col("__rr_c")).over(wTot).cast("long").as(n)).toSeq ++
        prefixSums.zipWithIndex.map { case (ps, i) =>
          coalesce(sum(col(s"__rr_s$i")).over(wOff), lit(0)).as(s"__rr_off$i")
        }
    val offsets = census.select((col(Pid) +: gCols) ++ offCols: _*)

    // Pass 2: local rank within (pid, group) + broadcast offset = global.
    val joinKeys = Pid +: groupCols
    val wLocal = Window.partitionBy((col(Pid) +: gCols): _*).orderBy(sortCols: _*)
    val wLocalPrev = wLocal.rowsBetween(Window.unboundedPreceding, -1)
    var out = parted
      .join(broadcast(offsets), joinKeys)
      .withColumn(rnName,
        (col(Off) + row_number().over(wLocal)).cast("long"))
    for ((ps, i) <- prefixSums.zipWithIndex) {
      out = out.withColumn(ps.outName,
        col(s"__rr_off$i") + coalesce(sum(ps.value).over(wLocalPrev), lit(0)))
    }
    out.drop((Pid +: Off +: prefixSums.indices.map(i => s"__rr_off$i")): _*)
  }
}
