package graft.operators

import org.apache.spark.sql.{DataFrame, functions => F}

/** Robust outlier detection — median/MAD flagging, the data-cleaning
  * stage that survives the outliers it hunts (mean/stddev z-scores are
  * dragged by the very points they should flag).
  *
  * Exact medians come from the shared rank-select construction (one
  * range shuffle + targeted emit, no global window, O(#partitions)
  * driver traffic) with `quantile_disc` semantics — the value at
  * 1-based rank floor((n−1)·q)+1 — so an external SQL engine replays
  * every number. Two passes (median, then MAD over |x−median|), then a
  * map-side flag column; nothing but the two scalars leaves the
  * cluster.
  */
object Outliers {

  /** Exact discrete quantile (DuckDB `quantile_disc` convention);
    * None when the column has no finite values. */
  def quantileDiscOpt(df: DataFrame, column: String, q: Double): Option[Double] = Persisted { scope =>
    require(q >= 0.0 && q <= 1.0, "q must be in [0,1]")
    val (n, rows) = PlotData.rankSelectAt(scope, df, column,
      n => Array(math.floor((n - 1) * q).toLong + 1L))
    if (n == 0L) None else Some(rows.head().getDouble(1))
  }

  /** Exact discrete quantile; throws on a column with no finite values
    * (use [[quantileDiscOpt]] where empty input is a valid state). */
  def quantileDisc(df: DataFrame, column: String, q: Double): Double =
    quantileDiscOpt(df, column, q).getOrElse(
      throw new IllegalArgumentException(s"no finite values in '$column'"))

  /** (median, mad): exact quantile_disc medians of x and |x−median|. */
  def medianMad(df: DataFrame, column: String): (Double, Double) = {
    val med = quantileDisc(df, column, 0.5)
    val dev = df.select(
      F.abs(F.col(column).cast("double") - med).as("__d"))
    (med, quantileDisc(dev, "__d", 0.5))
  }

  /** Per-GROUP robust flagging — "which rows are anomalous FOR THEIR
    * tenant": group medians and MADs via Spark's exact interpolated
    * `percentile` (≡ SQL `quantile_cont`, unlike the whole-column path's
    * `quantile_disc` — each matches the replay surface it is checked
    * against), two group aggregations + two hash joins on the group
    * key, then the same map-side flag. Scales with group cardinality,
    * not data: aggregation state is per-group, nothing is collected.
    * Degenerate all-identical groups (MAD = 0) flag any deviation, like
    * the global path. */
  def flagByGroup(df: DataFrame, column: String, groupCols: Seq[String],
                  threshold: Double = 3.5): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    val c = F.col(column).cast("double")
    val valid = c.isNotNull && !F.isnan(c)
    val med = df.where(valid)
      .groupBy(groupCols.map(F.col): _*)
      .agg(F.percentile(c, F.lit(0.5)).as("__med"))
    val j1 = df.join(med, groupCols, "left")
    val mad = j1.where(valid)
      .groupBy(groupCols.map(F.col): _*)
      .agg(F.percentile(F.abs(c - F.col("__med")), F.lit(0.5)).as("__mad"))
    val z = F.when(F.col("__mad") > 0.0,
        F.abs(c - F.col("__med")) / (F.lit(1.4826) * F.col("__mad")))
      .otherwise(F.when(F.abs(c - F.col("__med")) > 0.0,
        Double.PositiveInfinity).otherwise(0.0))
    j1.join(mad, groupCols, "left")
      .withColumn("robust_z",
        F.when(valid && F.col("__med").isNotNull, F.round(z, 6)))
      .withColumn("is_outlier",
        F.when(valid && F.col("__med").isNotNull,
          F.col("robust_z") > threshold))
      .drop("__med", "__mad")
  }

  /** Exact trimmed mean per group: drop the lowest and highest ⌊αn⌋
    * values of each group and average the rest — the robust location
    * that (unlike the median) still uses 1−2α of the data, the standard
    * "metric mean without the whale accounts" aggregate.
    *
    * Exactness comes from integer cell algebra, not sampling: per
    * (group, value) counts, a per-GROUP cumulative window over the
    * cells, and each cell contributes
    * max(0, min(cum, n−⌊αn⌋) − max(cum−c, ⌊αn⌋)) copies — pure integer
    * clamps, so the kept multiset (and hence the mean) is deterministic
    * under ANY tie pattern and replays bit-exactly. One (group, value)
    * aggregation + per-group windows; groups trimmed to emptiness
    * (n ≤ 2⌊αn⌋) are omitted.
    *
    * @param trim fraction α ∈ [0, 0.5) trimmed from EACH side
    * @return one row per group: (groupCols..., n, n_kept, trimmed_mean
    *         rounded to 6) */
  def trimmedMeanByGroup(df: DataFrame, groupCols: Seq[String],
                         column: String,
                         trim: Double = 0.1): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    require(trim >= 0.0 && trim < 0.5, "trim must be in [0, 0.5)")
    import org.apache.spark.sql.expressions.Window
    val gCols = groupCols.map(F.col)
    val v = F.col(column).cast("double")
    val cells = df
      .where(v.isNotNull && !F.isnan(v))
      .groupBy(gCols :+ v.as("__v"): _*)
      .agg(F.count(F.lit(1)).as("__c"))
    val wg = Window.partitionBy(gCols: _*)
    val wCum = Window.partitionBy(gCols: _*).orderBy("__v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val lo = F.floor(F.col("__n") * trim)
    val hi = F.col("__n") - lo
    val kept = F.greatest(F.lit(0L),
      F.least(F.col("__cum"), hi) -
        F.greatest(F.col("__cum") - F.col("__c"), lo))
    cells
      .withColumn("__n", F.sum("__c").over(wg))
      .withColumn("__cum", F.sum("__c").over(wCum))
      .withColumn("__k", kept)
      .groupBy(gCols: _*)
      .agg(F.max("__n").as("n"),
        F.sum("__k").as("n_kept"),
        F.round(F.sum(F.col("__v") * F.col("__k")) /
          F.sum("__k").cast("double"), 6).as("trimmed_mean"))
      .where(F.col("n_kept") > 0L)
  }

  /** Winsorized mean per group — [[trimmedMeanByGroup]]'s sibling that
    * CLAMPS instead of drops: the ⌊αn⌋ smallest values are replaced by
    * the (⌊αn⌋+1)-th order statistic and the ⌊αn⌋ largest by the
    * (n−⌊αn⌋)-th, so every row still votes but the tails can't pull
    * (the robust mean when sample size itself is the signal). Same
    * exact integer cell algebra: the mid-mass clamp plus the two
    * boundary order statistics picked by cumulative cell counts —
    * deterministic under any ties, bit-exact replay.
    *
    * @param trim fraction α ∈ [0, 0.5) clamped on EACH side
    * @return one row per group: (groupCols..., n, winsorized_mean
    *         rounded to 6) */
  def winsorizedMeanByGroup(df: DataFrame, groupCols: Seq[String],
                            column: String,
                            trim: Double = 0.1): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    require(trim >= 0.0 && trim < 0.5, "trim must be in [0, 0.5)")
    import org.apache.spark.sql.expressions.Window
    val gCols = groupCols.map(F.col)
    val v = F.col(column).cast("double")
    val cells = df
      .where(v.isNotNull && !F.isnan(v))
      .groupBy(gCols :+ v.as("__v"): _*)
      .agg(F.count(F.lit(1)).as("__c"))
    val wg = Window.partitionBy(gCols: _*)
    val wCum = Window.partitionBy(gCols: _*).orderBy("__v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val lo = F.floor(F.col("__n") * trim)
    val hi = F.col("__n") - lo
    val keptMid = F.greatest(F.lit(0L),
      F.least(F.col("__cum"), hi) -
        F.greatest(F.col("__cum") - F.col("__c"), lo))
    cells
      .withColumn("__n", F.sum("__c").over(wg))
      .withColumn("__cum", F.sum("__c").over(wCum))
      .withColumn("__k", keptMid)
      .groupBy(gCols: _*)
      .agg(F.max("__n").as("n"),
        F.max(F.floor(F.col("__n") * trim)).as("__lo"),
        F.sum(F.col("__v") * F.col("__k")).as("__mid"),
        F.min(F.when(F.col("__cum") >=
          F.floor(F.col("__n") * trim) + 1L, F.col("__v"))).as("__vlo"),
        F.min(F.when(F.col("__cum") >=
          F.col("__n") - F.floor(F.col("__n") * trim), F.col("__v")))
          .as("__vhi"))
      .where(F.col("n") > F.lit(2L) * F.col("__lo"))
      .withColumn("winsorized_mean", F.round(
        (F.col("__mid") + F.col("__lo") * F.col("__vlo") +
          F.col("__lo") * F.col("__vhi")) / F.col("n").cast("double"),
        6))
      .select(gCols ++ Seq(F.col("n"), F.col("winsorized_mean")): _*)
  }

  /** Distribution-free median confidence interval per group from ORDER
    * STATISTICS: the binomial argument gives P(x₍r_lo₎ ≤ median ≤
    * x₍r_hi₎) ≥ 1−α with
    *
    *   r_lo = ⌊n/2 − z·√n/2⌋,  r_hi = ⌈n/2 + z·√n/2⌉ + 1 capped at n
    *
    * (normal approximation to Binomial(n, ½) ranks — the standard
    * nonparametric median CI; every bound is a value that actually
    * occurred). Same exact cumulative-cell machinery as the trimmed
    * mean: one (group, value) aggregation, per-group windows,
    * conditional-min order-statistic picks. Groups with n < 2 emit
    * null bounds.
    *
    * @return one row per group: (groupCols..., n, median, ci_lo,
    *         ci_hi) — median is the type-1 lower median */
  def medianCiByGroup(df: DataFrame, groupCols: Seq[String],
                      column: String,
                      z: Double = 1.959964): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    import org.apache.spark.sql.expressions.Window
    val gCols = groupCols.map(F.col)
    val v = F.col(column).cast("double")
    val cells = df
      .where(v.isNotNull && !F.isnan(v))
      .groupBy(gCols :+ v.as("__v"): _*)
      .agg(F.count(F.lit(1)).as("__c"))
    val wg = Window.partitionBy(gCols: _*)
    val wCum = Window.partitionBy(gCols: _*).orderBy("__v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val nD = F.col("__n").cast("double")
    val half = F.lit(z) * F.sqrt(nD) / 2.0
    val rMed = F.ceil(nD * 0.5)
    val rLo = F.greatest(F.lit(1L), F.floor(nD * 0.5 - half))
    val rHi = F.least(F.col("__n"), F.ceil(nD * 0.5 + half) + 1L)
    cells
      .withColumn("__n", F.sum("__c").over(wg))
      .withColumn("__cum", F.sum("__c").over(wCum))
      .groupBy(gCols: _*)
      .agg(F.max("__n").as("n"),
        F.min(F.when(F.col("__cum") >= rMed, F.col("__v")))
          .as("median"),
        F.min(F.when(F.col("__cum") >= rLo, F.col("__v"))).as("__lo"),
        F.min(F.when(F.col("__cum") >= rHi, F.col("__v"))).as("__hi"))
      .withColumn("ci_lo", F.when(F.col("n") >= 2L, F.col("__lo")))
      .withColumn("ci_hi", F.when(F.col("n") >= 2L, F.col("__hi")))
      .select(gCols ++ Seq(F.col("n"), F.col("median"), F.col("ci_lo"),
        F.col("ci_hi")): _*)
  }

  /** [[medianCiByGroup]] generalized to ANY quantile — the
    * distribution-free order-statistic CI for p50/p90/p99 latencies
    * and the like ("is this tenant's p99 really above SLO, or is it
    * three samples"): the rank half-width at quantile q is
    * z·√(n·q·(1−q)) (the binomial normal approximation), and both
    * bounds are EXACT order statistics selected by cumulative rank —
    * every output is a value that occurred.
    *
    * @return one row per group: (groupCols..., n, quantile (the
    *         ⌈nq⌉-th order statistic), ci_lo, ci_hi) */
  def quantileCiByGroup(df: DataFrame, groupCols: Seq[String],
                        column: String, q: Double,
                        z: Double = 1.959964): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    require(q > 0.0 && q < 1.0, "q must be in (0,1)")
    import org.apache.spark.sql.expressions.Window
    val gCols = groupCols.map(F.col)
    val v = F.col(column).cast("double")
    val cells = df
      .where(v.isNotNull && !F.isnan(v))
      .groupBy(gCols :+ v.as("__v"): _*)
      .agg(F.count(F.lit(1)).as("__c"))
    val wg = Window.partitionBy(gCols: _*)
    val wCum = Window.partitionBy(gCols: _*).orderBy("__v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val nD = F.col("__n").cast("double")
    val half = F.lit(z) * F.sqrt(nD * q * (1.0 - q))
    val rQ = F.ceil(nD * q)
    val rLo = F.greatest(F.lit(1L), F.floor(nD * q - half))
    val rHi = F.least(F.col("__n"), F.ceil(nD * q + half) + 1L)
    cells
      .withColumn("__n", F.sum("__c").over(wg))
      .withColumn("__cum", F.sum("__c").over(wCum))
      .groupBy(gCols: _*)
      .agg(F.max("__n").as("n"),
        F.min(F.when(F.col("__cum") >= rQ, F.col("__v")))
          .as("quantile"),
        F.min(F.when(F.col("__cum") >= rLo, F.col("__v"))).as("__lo"),
        F.min(F.when(F.col("__cum") >= rHi, F.col("__v"))).as("__hi"))
      .withColumn("ci_lo", F.when(F.col("n") >= 2L, F.col("__lo")))
      .withColumn("ci_hi", F.when(F.col("n") >= 2L, F.col("__hi")))
      .select(gCols ++ Seq(F.col("n"), F.col("quantile"),
        F.col("ci_lo"), F.col("ci_hi")): _*)
  }

  /** Flag rows whose robust z-score |x−median| / (1.4826·MAD) exceeds
    * `threshold` (3.5 is the conventional cut). Appends `robust_z`
    * (rounded to 6) and `is_outlier`; rows with null/NaN values get
    * null in both. A zero MAD (over half the values identical)
    * degenerates to flagging every value different from the median. */
  def flag(df: DataFrame, column: String, threshold: Double = 3.5): DataFrame = {
    val c = F.col(column).cast("double")
    // no finite values at all (empty frame or all null/NaN): pass every
    // row through with null scores, per the null contract above
    val medOpt = quantileDiscOpt(df, column, 0.5)
    if (medOpt.isEmpty)
      return df
        .withColumn("robust_z", F.lit(null).cast("double"))
        .withColumn("is_outlier", F.lit(null).cast("boolean"))
    val med = medOpt.get
    val mad = quantileDisc(
      df.select(F.abs(c - med).as("__d")), "__d", 0.5)
    val z =
      if (mad > 0.0) F.abs(c - med) / F.lit(1.4826 * mad)
      else F.when(F.abs(c - med) > 0.0, Double.PositiveInfinity).otherwise(0.0)
    df.withColumn("robust_z",
        F.when(c.isNotNull && !F.isnan(c), F.round(z, 6)))
      .withColumn("is_outlier",
        F.when(c.isNotNull && !F.isnan(c), F.col("robust_z") > threshold))
  }

  /** HBOS — histogram-based outlier score (Goldstein & Dengel 2012),
    * the linear-time anomaly sweep that needs no distance matrix and
    * no training: each feature gets a fixed-grid histogram, a row's
    * score is Σ_features −ln(density of its bin) — rare corners of
    * EVERY marginal score high. The standard first-pass screen at
    * data-pipeline scale (isolation-forest quality on independent-ish
    * features at a fraction of the cost).
    *
    * One min/max scan (broadcast back as a 1-row nested-loop side —
    * no driver round-trip), then one COLUMN-PRUNED bin-counting pass
    * per feature (aggregation state = bins rows each; k pruned passes
    * read the same bytes as one k-column pass), histogram joins are
    * broadcast, the score is codegen'd column arithmetic, and the
    * report is a rank-limited top-k take — never a global sort. A
    * constant feature contributes 0 to every
    * score. Bin edges are computed identically in any engine (same
    * doubles, same ops), so the whole report replays.
    *
    * @return topK rows by (score desc, idCol asc): (idCol, score,
    *         then one `bin_<col>` column per feature) */
  /** Value-at-Risk and Expected Shortfall per group, EXACT on the
    * value cells (the risk-tail readout [[ecodScore]] family doesn't
    * give): VaR_q is the type-1 empirical quantile — the smallest
    * value whose cumulative count reaches ⌈q·n⌉ — and
    * ES_q = mean of all values ≥ VaR_q (the tail the VaR number
    * hides; ES is coherent, VaR is not). Everything is exact integer
    * counts over per-value cells + one keyed cumulative window; ES is
    * a ratio of exact sums on integer-valued data.
    *
    * @return one row per group: (groupCols…, n, var_q, es_q, tail_n)
    *         — es rounded to 6 */
  def varEsByGroup(df: DataFrame, groupCols: Seq[String],
                   valueCol: String, q: Double): DataFrame = Persisted { scope =>
    require(groupCols.nonEmpty, "need at least one group column")
    require(q > 0.0 && q < 1.0, "q must be in (0,1)")
    import org.apache.spark.sql.expressions.Window
    val v = F.col(valueCol).cast("double")
    val gCols = groupCols.map(F.col)
    // cells feeds BOTH the VaR pick and the tail probe — without a
    // persist the aggregation executes twice inside the one job (no
    // common-subplan reuse); distinct-value-sized, released once the
    // ≤-groups result is checkpointed
    val cells = scope.cache(df
      .where(v.isNotNull && !F.isnan(v) &&
        groupCols.map(F.col(_).isNotNull).reduce(_ && _))
      .groupBy(gCols :+ v.as("__v"): _*)
      .agg(F.count(F.lit(1)).as("__c"), F.sum(v).as("__s")))
    val wg = Window.partitionBy(gCols: _*)
    val wCum = Window.partitionBy(gCols: _*).orderBy("__v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val scored = cells
      .withColumn("__n", F.sum("__c").over(wg))
      .withColumn("__cum", F.sum("__c").over(wCum))
      .withColumn("__tgt", F.ceil(F.col("__n") * q))
      .where(F.col("__cum") >= F.col("__tgt"))
    // the VaR row is the group's SMALLEST value at-or-past the target
    // rank: min(__v) picks exactly the row the former rank-1 filter
    // did ((group, __v) is unique), without a second sort; __n is a
    // per-group constant
    val varRow = scored.groupBy(gCols: _*)
      .agg(F.min("__v").as("__var"), F.max("__n").as("n"))
    val tail = cells.join(varRow, groupCols)
      .where(F.col("__v") >= F.col("__var"))
      .groupBy(gCols: _*)
      .agg(F.max("__var").as("var_q"), F.max("n").as("__n"),
        F.sum("__s").as("__ts"), F.sum("__c").as("tail_n"))
    scope.checkpoint(tail.select(gCols ++ Seq(F.col("__n").as("n"),
      F.col("var_q"),
      F.round(F.col("__ts") / F.col("tail_n"), 6).as("es_q"),
      F.col("tail_n")): _*))
  }

  /** Local Outlier Factor (Breunig et al. 2000), exact deterministic
    * variant over a BOUNDED point set — the density-RELATIVE outlier
    * score [[ecodScore]]/[[hbosScore]] can't express (a point is
    * anomalous relative to its NEIGHBORHOOD's density, so a tight
    * cluster inside a sparse cloud isn't mass-flagged):
    *
    *   reach_k(a,b) = max(d(a,b), kdist(b)),
    *   lrd(a) = k / Σ_{b∈kNN(a)} reach_k(a,b),
    *   LOF(a) = mean_{b∈kNN(a)} lrd(b) / lrd(a)
    *
    * Determinism contract: neighbors rank by (distance, id) so ties
    * never wobble, and kNN keeps EXACTLY k (the classic ties-extend
    * set is not replayable); quantize coordinates upstream so the
    * distances are cross-engine exact. The pair join is n² — loudly
    * bounded by `maxPoints`, the [[graft.operators.Ranks.kendallTauB]]
    * cell contract (aggregate to buckets first; the LSH kNN join is
    * the scale path for raw rows).
    *
    * @return one row per point: (id, k_dist, lrd, lof) rounded to 6 */
  def localOutlierFactor(df: DataFrame, idCol: String, xCol: String,
                         yCol: String, k: Int,
                         maxPoints: Int = 4096): DataFrame = Persisted { scope =>
    require(k >= 2 && k <= 64, "k must be in 2..64")
    require(maxPoints >= k + 1 && maxPoints <= 65536,
      "maxPoints must be in [k+1, 65536]")
    import org.apache.spark.sql.expressions.Window
    val x = F.col(xCol).cast("double")
    val y = F.col(yCol).cast("double")
    val pts = scope.checkpoint(df
      .where(F.col(idCol).isNotNull && x.isNotNull && !F.isnan(x) &&
        y.isNotNull && !F.isnan(y))
      .select(F.col(idCol).cast("long").as("id"), x.as("x"), y.as("y")))
    val n = pts.count()
    require(n <= maxPoints,
      s"$n points — localOutlierFactor is exact on BOUNDED point " +
        "sets (the pair join is n²); aggregate to buckets first")
    require(n > k, s"need more than k=$k points, got $n")
    val a = pts.select(F.col("id").as("ida"), F.col("x").as("xa"),
      F.col("y").as("ya"))
    val b = pts.select(F.col("id").as("idb"), F.col("x").as("xb"),
      F.col("y").as("yb"))
    val dx = F.col("xa") - F.col("xb")
    val dy = F.col("ya") - F.col("yb")
    val pairs = a.join(F.broadcast(b), F.col("ida") =!= F.col("idb"))
      .select(F.col("ida"), F.col("idb"),
        F.sqrt(dx * dx + dy * dy).as("dist"))
    val wNn = Window.partitionBy("ida")
      .orderBy(F.col("dist").asc, F.col("idb").asc)
    val knn = scope.checkpoint(pairs
      .withColumn("__rn", F.row_number().over(wNn))
      .where(F.col("__rn") <= k))
    val kdist = knn.groupBy("ida").agg(F.max("dist").as("kd"))
    // reach(a,b) = max(dist, kdist(b)); lrd = k / sum(reach)
    val reach = knn
      .join(kdist.select(F.col("ida").as("idb"), F.col("kd").as("kdb")),
        "idb")
      .groupBy("ida")
      .agg(F.sum(F.greatest(F.col("dist"), F.col("kdb"))).as("__sr"))
    val zeroReach = reach.where(F.col("__sr") <= 0.0).count()
    require(zeroReach == 0L,
      s"$zeroReach points have zero reachability sum — their k " +
        "nearest neighbors are all exact duplicates, so lrd/lof are " +
        "undefined; deduplicate the points (or raise k past the " +
        "duplicate multiplicity) first")
    val lrd = reach
      .select(F.col("ida"), (F.lit(k.toDouble) / F.col("__sr")).as("lrd"))
    val lof = knn
      .join(lrd.select(F.col("ida").as("idb"), F.col("lrd").as("lrdb")),
        "idb")
      .groupBy("ida").agg(F.avg("lrdb").as("__ml"))
      .join(lrd, "ida")
      .join(kdist, "ida")
      .select(F.col("ida").as("id"),
        F.round(F.col("kd"), 6).as("k_dist"),
        F.round(F.col("lrd"), 6).as("lrd"),
        F.round(F.col("__ml") / F.col("lrd"), 6).as("lof"))
    lof
  }

  def hbosScore(df: DataFrame, idCol: String, cols: Seq[String],
                bins: Int = 10, topK: Int = 20): DataFrame = {
    require(cols.nonEmpty, "need at least one feature column")
    require(bins >= 2, "need at least two bins")
    require(topK >= 1, "need topK >= 1")
    val vs = cols.map(c => F.col(c).cast("double"))
    val ok = vs.map(v => v.isNotNull && !F.isnan(v)).reduce(_ && _) &&
      F.col(idCol).isNotNull
    val clean = df.where(ok)
      .select(F.col(idCol).as("__id") +:
        cols.zipWithIndex.map { case (c, i) =>
          F.col(c).cast("double").as(s"__x$i")
        }: _*)
    // One stats pass → LITERAL bin specs → one exploded (feature, bin)
    // histogram pass → driver-folded count literals → one scoring pass.
    // The former shape re-derived the binned frame under every
    // per-feature histogram aggregation and joined each histogram back
    // (k full re-scans + a crossJoin + k broadcast joins; measured
    // round 14: 1.55 s exec at sf0.1). Counts are identical integers
    // (same bins over the same clean rows), the score reduces in the
    // same column order, and the histogram table is bounded at
    // k·bins rows — a bounded driver fold, never row-scale.
    val statCols = cols.indices.flatMap(i => Seq(
      F.min(F.col(s"__x$i")).as(s"mn$i"),
      F.max(F.col(s"__x$i")).as(s"mx$i"))) :+
      F.count(F.lit(1)).as("__n")
    val statRow = clean.agg(statCols.head, statCols.tail: _*).head()
    val nL = statRow.getLong(2 * cols.length)
    val outCols = F.col("__id").as(idCol) +: F.col("score") +:
      cols.map(c => F.col(s"bin_$c"))
    def binExpr(i: Int): org.apache.spark.sql.Column =
      if (nL == 0L) F.lit(0L)
      else {
        val mn = statRow.getDouble(2 * i)
        val mx = statRow.getDouble(2 * i + 1)
        // same arithmetic as the former Column form: width is the
        // double (mx − mn)/bins, bin = min(bins−1, floor((x − mn)/w))
        if (mx > mn) {
          val width = (mx - mn) / bins
          F.least(F.lit(bins - 1L),
            F.floor((F.col(s"__x$i") - F.lit(mn)) / F.lit(width)))
        } else F.lit(0L)
      }
    val binned = clean.select(F.col("__id") +:
      cols.indices.map(i => binExpr(i).as(s"bin_${cols(i)}")): _*)
    if (nL == 0L)
      return binned.withColumn("score", F.lit(0.0)).select(outCols: _*)
        .limit(0)
    val entries = F.array(cols.indices.map(i =>
      F.struct(F.lit(i).as("ci"), F.col(s"bin_${cols(i)}").as("bin"))): _*)
    val counts: Map[(Int, Long), Long] = binned
      .select(F.explode(entries).as("e"))
      .groupBy(F.col("e.ci").as("ci"), F.col("e.bin").as("bin"))
      .agg(F.count(F.lit(1)).as("c"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val n = F.lit(nL).cast("double")
    // per-feature count lookup: one map literal over the ≤ bins
    // observed cells (every data row's own bin is present), so the
    // expression size does not grow with `bins`
    def countOf(i: Int): org.apache.spark.sql.Column = {
      val cells = counts.collect { case ((ci, b), c) if ci == i => b -> c }
      F.try_element_at(F.typedLit(cells), F.col(s"bin_${cols(i)}"))
    }
    val score = cols.indices.map(i =>
      -F.log(countOf(i).cast("double") / n)).reduce(_ + _)
    binned
      .withColumn("score", F.round(score, 6))
      .orderBy(F.col("score").desc, F.col("__id").asc)
      .limit(topK)
      .select(outCols: _*)
  }

  /** ECOD outlier screen (Li et al. 2022, "ECOD: Unsupervised Outlier
    * Detection Using Empirical Cumulative Distribution Functions") —
    * the rank-based sibling of [[hbosScore]]: no bins to tune, a row
    * scores high when it sits in an extreme TAIL of every marginal.
    * Per feature j the empirical tail probabilities are the exact
    * integer ratios
    *
    *   F̂_le(x) = #{rows ≤ x}/n,   F̂_ge(x) = #{rows ≥ x}/n,
    *
    * aggregated as s_left = Σⱼ −ln F̂_le, s_right = Σⱼ −ln F̂_ge, and
    * the (symmetric-variant) score = max(s_left, s_right).
    *
    * No global window: the per-feature ≤-counts come from the
    * [[Ranks.minRanks]] prefix-sum construction over DISTINCT values
    * (#{≤x} = minrank + ties − 1, #{≥x} = n − minrank + 1), joined
    * back by value — k value-keyed joins, rank tables are
    * distinct-values-sized, and the report is a rank-limited top-k
    * take, never a global sort. Listwise-complete rows only.
    *
    * @return topK rows by (score desc, idCol asc): (idCol, s_left,
    *         s_right, score), floats rounded to 6 */
  def ecodScore(df: DataFrame, idCol: String, cols: Seq[String],
                topK: Int = 20): DataFrame = Persisted { scope =>
    require(cols.nonEmpty, "need at least one feature column")
    require(topK >= 1, "need topK >= 1")
    val vs = cols.map(c => F.col(c).cast("double"))
    val ok = vs.map(v => v.isNotNull && !F.isnan(v)).reduce(_ && _) &&
      F.col(idCol).isNotNull
    // cached: every per-feature rank construction scans this projection
    // (k aggregations), and the scored join scans it once more
    val clean = scope.cache(df.where(ok)
      .select(F.col(idCol).as("__id") +:
        cols.zipWithIndex.map { case (c, i) =>
          F.col(c).cast("double").as(s"__x$i")
        }: _*))
    var joined = clean
    var n = 0L
    // rank AND tie count ride ONE prefix-sum table — one aggregation
    // and one value join per feature where the round-12 shape paid two
    // of each (the counts the old separate groupBy recomputed already
    // exist inside the rank construction). The k constructions are
    // independent, so they run as concurrent driver-thread jobs and
    // their scans overlap (opt guide §2.6); Await in index order keeps
    // the join order deterministic.
    val rankFs = cols.indices.map { i =>
      scala.concurrent.Future(
        Ranks.minRanksWithCounts(clean, s"__x$i", s"__r$i", s"__c$i"))(
        scala.concurrent.ExecutionContext.global)
    }
    cols.indices.foreach { i =>
      val (total, ranks) = scala.concurrent.Await.result(rankFs(i),
        scala.concurrent.duration.Duration.Inf)
      n = total
      joined = joined.join(ranks, s"__x$i")
    }
    val nD = F.lit(n.toDouble)
    val sLeft = cols.indices.map { i =>
      -F.log((F.col(s"__r$i") + F.col(s"__c$i") - 1.0) / nD)
    }.reduce(_ + _)
    val sRight = cols.indices.map { i =>
      -F.log((nD - F.col(s"__r$i") + 1.0) / nD)
    }.reduce(_ + _)
    // topK rows; the checkpoint frees the projection cache
    scope.checkpoint(joined
      .withColumn("s_left", F.round(sLeft, 6))
      .withColumn("s_right", F.round(sRight, 6))
      .withColumn("score", F.greatest(F.col("s_left"), F.col("s_right")))
      .orderBy(F.col("score").desc, F.col("__id").asc)
      .limit(topK)
      .select(F.col("__id").as(idCol), F.col("s_left"),
        F.col("s_right"), F.col("score")))
  }

  /** Bivariate Mahalanobis outlier report per group — joint outliers
    * that neither marginal flags ("price AND quantity each plausible,
    * the combination absurd"): d² = δᵀ Σ⁻¹ δ against the χ²₂ cut,
    * whose quantile is CLOSED FORM at 2 dof (−2·ln α), so the whole
    * operator stays in-plan for any group count — the per-group 2×2
    * covariance inverse is just column arithmetic on the explicit
    * Σxy/n − x̄ȳ moments (the [[Experiments.covariateBalance]]
    * algebra), no driver solve, no collect.
    *
    * ONE moment aggregation per group, a broadcast-sized group-moments
    * join back, a map-side d², then ONE report aggregation. Degenerate
    * groups (|Σ| ≤ 0: constant or collinear columns) are omitted.
    *
    * @param alpha flag tail mass: d² > −2·ln(alpha)
    * @return one row per group: (groupCols..., n, n_flagged,
    *         flag_share, max_d2, det) — doubles rounded to 6 */
  def mahalanobis2ByGroup(df: DataFrame, groupCols: Seq[String],
                          xCol: String, yCol: String,
                          alpha: Double = 0.001): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    require(alpha > 0.0 && alpha < 1.0, "alpha must be in (0,1)")
    val x = F.col(xCol).cast("double")
    val y = F.col(yCol).cast("double")
    val g = groupCols.map(F.col)
    val clean = df
      .where(x.isNotNull && !F.isnan(x) && y.isNotNull && !F.isnan(y) &&
        groupCols.map(F.col(_).isNotNull).reduce(_ && _))
      .select(g :+ x.as("__x") :+ y.as("__y"): _*)
    val mom = clean.groupBy(g: _*).agg(
      F.count(F.lit(1)).as("__n"),
      F.avg("__x").as("__mx"), F.avg("__y").as("__my"),
      (F.sum(F.col("__x") * F.col("__x")) / F.count(F.lit(1))).as("__sxx"),
      (F.sum(F.col("__y") * F.col("__y")) / F.count(F.lit(1))).as("__syy"),
      (F.sum(F.col("__x") * F.col("__y")) / F.count(F.lit(1))).as("__sxy"))
      .withColumn("__vx", F.col("__sxx") - F.col("__mx") * F.col("__mx"))
      .withColumn("__vy", F.col("__syy") - F.col("__my") * F.col("__my"))
      .withColumn("__cxy", F.col("__sxy") - F.col("__mx") * F.col("__my"))
      .withColumn("__det",
        F.col("__vx") * F.col("__vy") - F.col("__cxy") * F.col("__cxy"))
      .where(F.col("__det") > 0.0 && F.col("__n") > 2L)
    val joined = clean.join(F.broadcast(mom), groupCols)
    val dx = F.col("__x") - F.col("__mx")
    val dy = F.col("__y") - F.col("__my")
    val d2 = (dx * (F.col("__vy") * dx - F.col("__cxy") * dy) +
      dy * (F.col("__vx") * dy - F.col("__cxy") * dx)) / F.col("__det")
    val thr = -2.0 * math.log(alpha)
    joined
      .withColumn("__d2", d2)
      .groupBy(g: _*)
      .agg(
        F.count(F.lit(1)).as("n"),
        F.sum(F.when(F.col("__d2") > thr, 1L).otherwise(0L))
          .as("n_flagged"),
        F.max("__d2").as("__mx2"),
        F.max("__det").as("__dt"))
      .select(g ++ Seq(F.col("n"), F.col("n_flagged"),
        F.round(F.col("n_flagged").cast("double") / F.col("n"), 6)
          .as("flag_share"),
        F.round(F.col("__mx2"), 6).as("max_d2"),
        F.round(F.col("__dt"), 6).as("det")): _*)
  }
}
