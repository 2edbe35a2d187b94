package graft.operators

import org.apache.spark.sql.{DataFrame, functions => F}
import graft.functions.SpecialMath

/** Model-evaluation operators — the measurement layer for classifiers
  * trained ON the cluster ([[Regression.logisticIrls]]'s quality-filter
  * shape): does the score actually rank positives above negatives, and
  * do predicted probabilities mean what they say? Both operators follow
  * the repo's scale rules: the data-sized work is one aggregation (or
  * one aggregation + the O(#partitions) prefix-sum fold), no global
  * windows, no row ever collected.
  */
object Evaluation {

  /** Off-policy evaluation by inverse propensity scoring — "what would
    * the NEW policy's reward have been, from the OLD policy's logs"
    * (the counterfactual readout that decides a ranking/routing change
    * without an online experiment):
    *
    *   IPS   = mean( 1{a = π(x)} · r / p ),
    *   SNIPS = Σ w·r / Σ w   (the self-normalized form — biased but
    *           far lower variance when propensities are noisy),
    *   ESS   = (Σw)² / Σw²  (how many effective rows back the number)
    *
    * with the weight clipped at `clipMax` (the standard
    * variance/bias knob — the clipped mass is reported, not hidden).
    * ONE aggregation; everything is explicit ratio arithmetic.
    *
    * @param targetActionCol the action the CANDIDATE policy takes for
    *        the row (deterministic policies; for stochastic ones pass
    *        its propensity in as the indicator already multiplied)
    * @return one row: (n, match_rate, ips, snips, ess, clip_share) */
  def ipsOffPolicy(df: DataFrame, actionCol: String,
                   propensityCol: String, rewardCol: String,
                   targetActionCol: String,
                   clipMax: Double = 10.0): DataFrame = {
    require(clipMax > 0.0, "clipMax must be positive")
    val p = F.col(propensityCol).cast("double")
    val r = F.col(rewardCol).cast("double")
    val matches = F.col(actionCol).cast("string") ===
      F.col(targetActionCol).cast("string")
    val clean = df.where(p.isNotNull && !F.isnan(p) && p > 0.0 &&
      r.isNotNull && !F.isnan(r) &&
      F.col(actionCol).isNotNull && F.col(targetActionCol).isNotNull)
    val wRaw = F.when(matches, F.lit(1.0) / p).otherwise(0.0)
    val w = F.least(wRaw, F.lit(clipMax))
    val agged = clean.agg(
      F.count(F.lit(1)).as("n"),
      F.sum(F.when(matches, 1L).otherwise(0L)).as("__nm"),
      F.sum(w * r).as("__swr"),
      F.sum(w).as("__sw"),
      F.sum(w * w).as("__sww"),
      F.sum(F.when(wRaw > F.lit(clipMax), 1L).otherwise(0L))
        .as("__nclip"))
    val n = F.col("n").cast("double")
    agged.where(F.col("n") > 0L)
      .select(F.col("n"),
        F.round(F.col("__nm").cast("double") / n, 6).as("match_rate"),
        F.round(F.col("__swr") / n, 6).as("ips"),
        F.when(F.col("__sw") > 0.0,
          F.round(F.col("__swr") / F.col("__sw"), 6)).as("snips"),
        F.when(F.col("__sww") > 0.0,
          F.round(F.col("__sw") * F.col("__sw") / F.col("__sww"), 6))
          .as("ess"),
        F.round(F.col("__nclip").cast("double") / n, 6)
          .as("clip_share"))
  }

  /** Doubly-robust off-policy estimator — [[ipsOffPolicy]] with a
    * reward model as the control variate: unbiased if EITHER the
    * propensities or the reward model is right, and far lower
    * variance than raw IPS when the model is even roughly calibrated:
    *
    *   DR = mean( q̂(x, π(x)) + w · (r − q̂(x, a)) ),
    *   w  = min(clipMax, 1{a = π(x)}/p)
    *
    * The caller supplies the model's predicted reward for the
    * candidate action (`qHatTargetCol`) and for the logged action
    * (`qHatLoggedCol`) — model scoring composes upstream (e.g.
    * [[graft.operators.Regression.GammaModel.predictMean]]). ONE
    * aggregation; also reports the plain model value (direct method)
    * and the IPS correction term so the diagnosis is visible.
    *
    * @return one row: (n, dr, dm, correction, match_rate,
    *         clip_share) */
  def drOffPolicy(df: DataFrame, actionCol: String,
                  propensityCol: String, rewardCol: String,
                  targetActionCol: String, qHatTargetCol: String,
                  qHatLoggedCol: String,
                  clipMax: Double = 10.0): DataFrame = {
    require(clipMax > 0.0, "clipMax must be positive")
    val p = F.col(propensityCol).cast("double")
    val r = F.col(rewardCol).cast("double")
    val qt = F.col(qHatTargetCol).cast("double")
    val ql = F.col(qHatLoggedCol).cast("double")
    val matches = F.col(actionCol).cast("string") ===
      F.col(targetActionCol).cast("string")
    val clean = df.where(p.isNotNull && !F.isnan(p) && p > 0.0 &&
      r.isNotNull && !F.isnan(r) && qt.isNotNull && !F.isnan(qt) &&
      ql.isNotNull && !F.isnan(ql) &&
      F.col(actionCol).isNotNull && F.col(targetActionCol).isNotNull)
    val wRaw = F.when(matches, F.lit(1.0) / p).otherwise(0.0)
    val w = F.least(wRaw, F.lit(clipMax))
    val agged = clean.agg(
      F.count(F.lit(1)).as("n"),
      F.sum(qt + w * (r - ql)).as("__sdr"),
      F.sum(qt).as("__sdm"),
      F.sum(w * (r - ql)).as("__scorr"),
      F.sum(F.when(matches, 1L).otherwise(0L)).as("__nm"),
      F.sum(F.when(wRaw > F.lit(clipMax), 1L).otherwise(0L))
        .as("__nclip"))
    val n = F.col("n").cast("double")
    agged.where(F.col("n") > 0L)
      .select(F.col("n"),
        F.round(F.col("__sdr") / n, 6).as("dr"),
        F.round(F.col("__sdm") / n, 6).as("dm"),
        F.round(F.col("__scorr") / n, 6).as("correction"),
        F.round(F.col("__nm").cast("double") / n, 6).as("match_rate"),
        F.round(F.col("__nclip").cast("double") / n, 6)
          .as("clip_share"))
  }

  /** Kolmogorov–Smirnov separation of a score against a binary label —
    * the credit-scoring "KS": max_v |F⁺(v) − F⁻(v)|, the single best
    * cut's captured separation (AUC integrates ranking quality; KS
    * reports the PEAK, which is what a hard threshold actually gets).
    *
    * The argmax is decided on the EXACT integer cross-product
    * |cp·n⁻ − cn·n⁺| (equal to the ECDF gap times n⁺n⁻), so the
    * located threshold is deterministic on any engine — ties take the
    * smallest score. One (group, score) aggregation + group-
    * partitioned cumulative windows; group cardinality bounds the
    * window partitions, scores bound their width.
    *
    * @param labelCol boolean-ish: true = positive
    * @return one row per group: (groupCols..., ks, ks_score, n_pos,
    *         n_neg) with ks = gap at the argmax rounded to 6 */
  def ksSeparation(df: DataFrame, labelCol: String, scoreCol: String,
                   groupCols: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = F.col(scoreCol).cast("double")
    val y = F.col(labelCol).cast("boolean")
    val g = groupCols.map(F.col)
    val scope = if (groupCols.isEmpty) Seq(F.lit("all").as("scope")) else g
    val cells = df
      .where(s.isNotNull && !F.isnan(s) && y.isNotNull &&
        groupCols.map(F.col(_).isNotNull).foldLeft(F.lit(true))(_ && _))
      .groupBy(scope :+ s.as("__v"): _*)
      .agg(F.sum(F.when(y, 1L).otherwise(0L)).as("__cp"),
        F.sum(F.when(!y, 1L).otherwise(0L)).as("__cn"))
    val keys = if (groupCols.isEmpty) Seq(F.col("scope")) else g
    val wOrd = Window.partitionBy(keys: _*).orderBy(F.col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(keys: _*)
    val cum = cells
      .withColumn("__fp", F.sum("__cp").over(wOrd))
      .withColumn("__fn", F.sum("__cn").over(wOrd))
      .withColumn("n_pos", F.sum("__cp").over(wAll))
      .withColumn("n_neg", F.sum("__cn").over(wAll))
      .where(F.col("n_pos") > 0L && F.col("n_neg") > 0L)
      // exact integer gap numerator: |F⁺ − F⁻|·n⁺·n⁻
      .withColumn("__num", F.abs(
        F.col("__fp") * F.col("n_neg") - F.col("__fn") * F.col("n_pos")))
    // argmax by (gap desc, score asc) as ONE hash aggregation instead of
    // a second full sort of the cells frame (the former row_number
    // window re-sorted every cell by __num): max of the struct
    // (__num, −__v) maximizes the integer gap and, within a gap tie,
    // minimizes the score — (scope, __v) is unique so the pick is the
    // exact row the rank-1 filter chose. n_pos/n_neg are per-group
    // constants, so max() reads them back unchanged.
    cum
      .groupBy(keys: _*)
      .agg(F.max(F.struct(F.col("__num"), (-F.col("__v")).as("__nv")))
          .as("__best"),
        F.max("n_pos").as("n_pos"), F.max("n_neg").as("n_neg"))
      .select(keys ++ Seq(
        F.round(F.col("__best.__num").cast("double") /
          (F.col("n_pos").cast("double") * F.col("n_neg")), 6).as("ks"),
        (-F.col("__best.__nv")).as("ks_score"),
        F.col("n_pos"), F.col("n_neg")): _*)
  }

  /** Weight-of-evidence / information-value table over a binned
    * feature — the credit-scoring screening standard ("how much does
    * this binned feature separate, bin by bin"); run it on
    * [[Ranks.quantileBuckets]] output for continuous features.
    *
    *   WoE_b = ln( (pos_b/P) / (neg_b/N) ),
    *   IV    = Σ_b (pos_b/P − neg_b/N) · WoE_b
    *
    * with the SAS-convention 0.5 substitution in a zero cell (totals
    * stay raw). Every share is an exact integer ratio; ln is the only
    * transcendental and both woe and iv round to 6 — replayable. ONE
    * (bin) aggregation + a window over the bin frame.
    *
    * @param labelCol boolean-ish: true = positive/event
    * @return one row per bin: (binCol, n_pos, n_neg, pos_share,
    *         neg_share, woe, iv_term, iv_total) */
  def woeTable(df: DataFrame, binCol: String, labelCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val y = F.col(labelCol).cast("boolean")
    val cells = df
      .where(F.col(binCol).isNotNull && y.isNotNull)
      .groupBy(F.col(binCol))
      .agg(F.sum(F.when(y, 1L).otherwise(0L)).as("n_pos"),
        F.sum(F.when(!y, 1L).otherwise(0L)).as("n_neg"))
    val w = Window.partitionBy()
    val tp = F.sum("n_pos").over(w)
    val tn = F.sum("n_neg").over(w)
    val posA = F.when(F.col("n_pos") === 0L, 0.5)
      .otherwise(F.col("n_pos").cast("double"))
    val negA = F.when(F.col("n_neg") === 0L, 0.5)
      .otherwise(F.col("n_neg").cast("double"))
    val woe = F.log((posA / tp) / (negA / tn))
    val ivTerm = (posA / tp - negA / tn) * woe
    cells
      .withColumn("__tp", tp).withColumn("__tn", tn)
      .withColumn("pos_share",
        F.round(F.col("n_pos").cast("double") / tp, 6))
      .withColumn("neg_share",
        F.round(F.col("n_neg").cast("double") / tn, 6))
      .withColumn("woe", F.round(woe, 6))
      .withColumn("iv_term", F.round(ivTerm, 6))
      .withColumn("iv_total",
        F.round(F.sum(ivTerm).over(w), 6))
      .where(F.col("__tp") > 0L && F.col("__tn") > 0L)
      .drop("__tp", "__tn")
  }

  /** Monotone supervised binning — "optimal binning" in the
    * credit-scoring sense: quantile pre-bins whose event rates are
    * then POOLED to the isotonic (monotone nondecreasing) fit, so the
    * final bins have provably ordered rates and [[woeTable]] WoE that
    * can't zigzag. The isotonic fit uses the exact MINIMAX formula
    *
    *   fitted_j = max_{a≤j} min_{b≥j} rate(a..b)
    *
    * over the ≤ `bins`-row bucket frame — no sequential PAV loop; the
    * fit runs on the driver over the collected pre-bins and replays in
    * any engine (interval rates are exact integer ratios, so pooled
    * buckets share bit-identical fitted values and the merge is an
    * exact equality). For a DECREASING trend, negate the label
    * upstream (isotonic in 1−rate). Data is touched once: the pre-bins
    * are one [[Ranks.bucketTable]].
    *
    * @return one row per pre-bin: (bucket, n, n_pos, rate, fitted,
    *         merged_bin) — merged_bin is the 1-based pooled-bin id */
  def monotoneWoeBins(df: DataFrame, xCol: String, labelCol: String,
                      bins: Int = 10): DataFrame = {
    require(bins >= 2 && bins <= 64, "bins must be in 2..64")
    val spark = df.sparkSession
    import spark.implicits._
    val y = F.col(labelCol).cast("boolean")
    val (_, cells) = Ranks.bucketTable(df.where(y.isNotNull), F.col(xCol),
      bins, "n_pos" -> F.when(y, 1L).otherwise(0L))
    val pre = cells.select(F.col("__b") + 1L, F.col("__c"), F.col("n_pos"))
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    // rate(a..b) over pre-bins a..b from the prefix sums: an exact
    // integer ratio, the same double division the SQL replay runs
    val cn = pre.scanLeft(0L)(_ + _._2)
    val cp = pre.scanLeft(0L)(_ + _._3)
    def rate(a: Int, b: Int): Double =
      (cp(b + 1) - cp(a)).toDouble / (cn(b + 1) - cn(a)).toDouble
    val fitted = pre.indices.map(j => (0 to j).map(a =>
      (j until pre.length).map(rate(a, _)).reduce[Double](math.min))
      .reduce[Double](math.max))
    val levels = fitted.distinct.sorted(Ordering.Double.TotalOrdering)
    pre.indices.map { j =>
      (pre(j)._1, pre(j)._2, pre(j)._3, fitted(j),
        levels.indexOf(fitted(j)) + 1L)
    }.toDF("bucket", "n", "n_pos", "__fit", "merged_bin")
      .select(F.col("bucket"), F.col("n"), F.col("n_pos"),
        F.round(F.col("n_pos").cast("double") / F.col("n"), 6)
          .as("rate"),
        F.round(F.col("__fit"), 6).as("fitted"),
        F.col("merged_bin"))
  }

  /** Decision-stump split scan: for each feature, the gini-impurity
    * gain of every candidate threshold "x ≤ v" against a binary label
    * — the screening pass behind supervised binning and stump/tree
    * induction ("which features carry signal, and where does it cut").
    * Intended for discrete or pre-quantized features (each feature's
    * candidate count = its distinct values; quantize continuous
    * columns first — [[Ranks.quantileBuckets]]).
    *
    *   gain(v) = gini(all) − [n_L·gini(L) + n_R·gini(R)]/n,
    *   gini(S) = 1 − (pos_S/n_S)² − (neg_S/n_S)²
    *
    * Every count is exact; the gain is rounded to 6 and the whole
    * candidate TABLE is emitted (rank-limited to `topK` per feature by
    * (rounded gain desc, threshold asc)) — emitting the curve rather
    * than a bare argmax keeps the result deterministic and lets the
    * caller see near-optimal cuts. Features stack long-form, so
    * one (feature, value) aggregation + feature-partitioned windows
    * serve any number of features in one pass.
    *
    * @return top-k rows per feature: (feature, threshold, n_left,
    *         n_right, pos_left, pos_right, gain, rank) */
  def splitGains(df: DataFrame, featureCols: Seq[String],
                 labelCol: String, topK: Int = 5): DataFrame = {
    require(featureCols.nonEmpty, "need at least one feature")
    require(topK >= 1, "need topK >= 1")
    import org.apache.spark.sql.expressions.Window
    val y = F.col(labelCol).cast("boolean")
    val stacked = featureCols.map { fc =>
      val v = F.col(fc).cast("double")
      df.where(v.isNotNull && !F.isnan(v) && y.isNotNull)
        .select(F.lit(fc).as("feature"), v.as("__v"),
          F.when(y, 1L).otherwise(0L).as("__y"))
    }.reduce(_ unionAll _)
    val cells = stacked.groupBy("feature", "__v")
      .agg(F.count(F.lit(1)).as("__c"), F.sum("__y").as("__p"))
    val wOrd = Window.partitionBy("feature").orderBy(F.col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("feature")
    val withCum = cells
      .withColumn("n_left", F.sum("__c").over(wOrd))
      .withColumn("pos_left", F.sum("__p").over(wOrd))
      .withColumn("__n", F.sum("__c").over(wAll))
      .withColumn("__tp", F.sum("__p").over(wAll))
      .where(F.col("n_left") < F.col("__n")) // x <= max splits nothing
    val nL = F.col("n_left").cast("double")
    val nR = (F.col("__n") - F.col("n_left")).cast("double")
    val pL = F.col("pos_left").cast("double")
    val pR = (F.col("__tp") - F.col("pos_left")).cast("double")
    val n = F.col("__n").cast("double")
    val tp = F.col("__tp").cast("double")
    def gini(p: org.apache.spark.sql.Column, c: org.apache.spark.sql.Column) =
      F.lit(1.0) - (p / c) * (p / c) - ((c - p) / c) * ((c - p) / c)
    val gain = gini(tp, n) - (nL * gini(pL, nL) + nR * gini(pR, nR)) / n
    val scored = withCum.withColumn("gain", F.round(gain, 6))
    val wRank = Window.partitionBy("feature")
      .orderBy(F.col("gain").desc, F.col("__v").asc)
    scored.withColumn("rank", F.row_number().over(wRank).cast("long"))
      .where(F.col("rank") <= topK)
      .select(F.col("feature"), F.col("__v").as("threshold"),
        F.col("n_left"), (F.col("__n") - F.col("n_left")).as("n_right"),
        F.col("pos_left"), (F.col("__tp") - F.col("pos_left")).as("pos_right"),
        F.col("gain"), F.col("rank"))
  }

  /** ROC AUC by the rank statistic (exactly the Mann–Whitney identity
    * AUC = U/(n⁺·n⁻), ties counted half): the probability a random
    * positive outscores a random negative. Computed like
    * [[StatTests.mannWhitneyU]]: ONE conditional-count aggregate per
    * distinct score, range-partitioned ascending, then a partition-local
    * prefix-sum walk accumulates U — driver traffic O(#partitions). U is
    * a half-integer (exact, bit-replayable); AUC is one division rounded
    * to 6. Also emits the Gini coefficient 2·AUC − 1 and the
    * Hanley–McNeil standard error (the exponential approximation —
    * the standard large-sample CI width for an AUC point estimate).
    *
    * @param labelCol boolean-ish: true/nonzero = positive
    * @return one row: (auc, gini, se, u_stat, n_pos, n_neg) */
  def aucRoc(df: DataFrame, labelCol: String, scoreCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val s = F.col(scoreCol).cast("double")
    val y = F.col(labelCol).cast("boolean")
    val cells = df
      .where(s.isNotNull && !F.isnan(s) && y.isNotNull)
      .groupBy(s.as("v")).agg(
        F.sum(F.when(y, 1L).otherwise(0L)).as("cp"),
        F.sum(F.when(!y, 1L).otherwise(0L)).as("cn"))
    PrefixSum(cells.as[(Double, Long, Long)], F.col("v")) { ps =>
      val off = ps.offsets(2) { (s, r) => s(0) += r._2; s(1) += r._3 }
      val nPos = off.last(0); val nNeg = off.last(1)
      require(nPos > 0 && nNeg > 0, "need both positives and negatives")
      // ascending over scores: every positive at score v beats the
      // negatives strictly below v, half-credits the ties at v
      val u = ps.walk(off) { (o, it) =>
        var cumN = o(1)
        var acc = 0.0
        it.foreach { case (_, cp, cn) =>
          acc += cp * (cumN + 0.5 * cn)
          cumN += cn
        }
        Iterator(acc)
      }.collect().sum
      val auc = math.rint(u / (nPos.toDouble * nNeg) * 1e6) / 1e6
      val gini = math.rint((2.0 * auc - 1.0) * 1e6) / 1e6
      // Hanley–McNeil SE at the ROUNDED auc — deterministic replay
      val q1 = auc / (2.0 - auc)
      val q2 = 2.0 * auc * auc / (1.0 + auc)
      val se = math.rint(math.sqrt(
        (auc * (1.0 - auc) + (nPos - 1) * (q1 - auc * auc) +
          (nNeg - 1) * (q2 - auc * auc)) / (nPos.toDouble * nNeg)) *
        1e6) / 1e6
      Seq((auc, gini, se, u, nPos, nNeg))
        .toDF("auc", "gini", "se", "u_stat", "n_pos", "n_neg")
    }
  }

  /** Average precision (area under the precision–recall curve, step
    * interpolation — the sklearn AP definition): the metric that stays
    * honest when positives are RARE, where [[aucRoc]] saturates (a
    * 1-in-1000 classifier can hold AUC 0.95 with useless precision).
    * AP = Σ_v Δrecall(v)·precision(v) over distinct score thresholds
    * descending.
    *
    * Same scale shape as [[aucRoc]]: per-distinct-score cells, a
    * range-partition prefix walk (suffix counts via total − prefix, so
    * the walk still runs ascending), driver traffic O(#partitions).
    * Reported with the prevalence baseline (a random ranker's AP).
    *
    * @return one row: (ap, baseline, n_pos, n_neg) */
  def averagePrecision(df: DataFrame, labelCol: String,
                       scoreCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val s = F.col(scoreCol).cast("double")
    val y = F.col(labelCol).cast("boolean")
    val cells = df
      .where(s.isNotNull && !F.isnan(s) && y.isNotNull)
      .groupBy(s.as("v")).agg(
        F.sum(F.when(y, 1L).otherwise(0L)).as("cp"),
        F.count(F.lit(1)).as("ct"))
    PrefixSum(cells.as[(Double, Long, Long)], F.col("v")) { ps =>
      val off = ps.offsets(2) { (s, r) => s(0) += r._2; s(1) += r._3 }
      val nPos = off.last(0); val nTot = off.last(1)
      require(nPos > 0 && nTot > nPos, "need both classes")
      val ap = ps.walk(off) { (o, it) =>
        var cumP = o(0); var cumT = o(1)
        var acc = 0.0
        it.foreach { case (_, cp, ct) =>
          // at threshold = this score: TP = positives at or above,
          // predicted-positive = rows at or above (suffix counts)
          acc += cp.toDouble / nPos *
            ((nPos - cumP).toDouble / (nTot - cumT))
          cumP += cp; cumT += ct
        }
        Iterator(acc)
      }.collect().sum
      def r6(v: Double) = math.rint(v * 1e6) / 1e6
      Seq((r6(ap), r6(nPos.toDouble / nTot), nPos, nTot - nPos))
        .toDF("ap", "baseline", "n_pos", "n_neg")
    }
  }

  /** ROC AUC per group — "which tenant's classifier degraded": the same
    * Mann–Whitney rank identity as [[aucRoc]], but the prefix sum rides
    * a window PARTITIONED BY GROUP over the per-(group, distinct score)
    * cells frame — no global window, no fold; a million groups cost one
    * shuffle on the group key. Groups missing a class are omitted.
    *
    * @return one row per group: (groupCols..., auc, u_stat, n_pos,
    *         n_neg), auc rounded to 6 */
  def aucByGroup(df: DataFrame, groupCols: Seq[String], labelCol: String,
                 scoreCol: String): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    require(!groupCols.exists(_.startsWith("__")),
      "group columns must not use the __ internal prefix")
    import org.apache.spark.sql.expressions.Window
    val gCols = groupCols.map(F.col)
    val s = F.col(scoreCol).cast("double")
    val y = F.col(labelCol).cast("boolean")
    val cells = df
      .where(s.isNotNull && !F.isnan(s) && y.isNotNull)
      .groupBy(gCols :+ s.as("__v"): _*)
      .agg(F.sum(F.when(y, 1L).otherwise(0L)).as("__cp"),
        F.sum(F.when(!y, 1L).otherwise(0L)).as("__cn"))
    val wPrev = Window.partitionBy(gCols: _*).orderBy("__v")
      .rowsBetween(Window.unboundedPreceding, -1)
    cells
      .withColumn("__cumn",
        F.coalesce(F.sum("__cn").over(wPrev), F.lit(0L)))
      .groupBy(gCols: _*)
      .agg(F.sum(F.col("__cp") *
          (F.col("__cumn") + F.lit(0.5) * F.col("__cn"))).as("u_stat"),
        F.sum("__cp").as("n_pos"), F.sum("__cn").as("n_neg"))
      .where(F.col("n_pos") > 0L && F.col("n_neg") > 0L)
      .withColumn("auc", F.round(F.col("u_stat") /
        (F.col("n_pos").cast("double") * F.col("n_neg")), 6))
      .select(gCols ++ Seq(F.col("auc"), F.col("u_stat"),
        F.col("n_pos"), F.col("n_neg")): _*)
  }

  /** Per-segment fairness report: base rate, mean score, and ROC AUC
    * per group plus each group's AUC gap against the OVERALL AUC — the
    * model-governance table ("does the quality filter rank one
    * language's documents worse"). Rides [[aucByGroup]] (per-group
    * prefix windows) + [[aucRoc]] (one global fold for the scalar
    * baseline) + one rate aggregation; joins happen on the group key,
    * data is scanned twice (once ranked, once for moments), never
    * collected.
    *
    * @return one row per group with both classes present:
    *         (groupCols..., n, base_rate, mean_score, auc, auc_overall,
    *         auc_gap), floats rounded to 6 */
  def fairnessReport(df: DataFrame, groupCols: Seq[String],
                     labelCol: String, scoreCol: String): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    val s = F.col(scoreCol).cast("double")
    val y = F.col(labelCol).cast("boolean")
    val clean = df.where(s.isNotNull && !F.isnan(s) && y.isNotNull)
    val overallAuc = aucRoc(clean, labelCol, scoreCol)
      .head().getAs[Double]("auc")
    val byGroup = aucByGroup(clean, groupCols, labelCol, scoreCol)
    val rates = clean.groupBy(groupCols.map(F.col): _*)
      .agg(F.count(F.lit(1)).as("n"),
        F.round(F.avg(F.when(y, 1.0).otherwise(0.0)), 6).as("base_rate"),
        F.round(F.avg(s), 6).as("mean_score"))
    byGroup.join(rates, groupCols)
      .withColumn("auc_overall", F.lit(overallAuc))
      .withColumn("auc_gap",
        F.round(F.col("auc") - F.lit(overallAuc), 6))
      .select(groupCols.map(F.col) ++ Seq(F.col("n"),
        F.col("base_rate"), F.col("mean_score"), F.col("auc"),
        F.col("auc_overall"), F.col("auc_gap")): _*)
  }

  /** Mutual information between two categorical columns (nats) — the
    * feature-selection association measure ("how much does domain tell
    * you about quality-pass"); bin numerics upstream with
    * [[Ranks.quantileBuckets]] or [[calibrationBins]]' floor rule and
    * this composes to binned MI. ONE (a, b) aggregation reduces the
    * data to the contingency cells; the marginals and the
    * Σ p·ln(p/(p_a·p_b)) fold ride windows over that tiny frame.
    *
    * @return one row: (mi, n, n_a, n_b) — MI in nats rounded to 6,
    *         distinct-level counts per side */
  def mutualInformation(df: DataFrame, aCol: String,
                        bCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val a = F.col(aCol).cast("string")
    val b = F.col(bCol).cast("string")
    val cells = df
      .where(a.isNotNull && b.isNotNull)
      .groupBy(a.as("__a"), b.as("__b"))
      .agg(F.count(F.lit(1)).as("__n"))
    val wa = Window.partitionBy("__a")
    val wb = Window.partitionBy("__b")
    val wAll = Window.partitionBy()
    // the cells frame is |A|·|B| rows — the whole-frame window is a
    // single exchange over contingency cells, never over data rows
    cells
      .withColumn("__na", F.sum("__n").over(wa))
      .withColumn("__nb", F.sum("__n").over(wb))
      .withColumn("__nt", F.sum("__n").over(wAll))
      .agg(
        F.round(F.sum((F.col("__n") / F.col("__nt")) *
          F.log((F.col("__n").cast("double") * F.col("__nt")) /
            (F.col("__na").cast("double") * F.col("__nb")))), 6).as("mi"),
        F.max("__nt").as("n"),
        F.countDistinct("__a").as("n_a"),
        F.countDistinct("__b").as("n_b"))
  }

  /** Mutual information between two CONTINUOUS columns via tie-stable
    * quantile binning — the screening number for nonlinear dependence
    * that correlation misses entirely (a U-shape has r ≈ 0 and high
    * MI). Both columns bucket through [[graft.operators.Ranks
    * .quantileBuckets]] (equal values → equal buckets, deterministic
    * under any layout), then [[mutualInformation]] runs on the
    * bins² contingency frame. Rows with a null in either column are
    * excluded BEFORE ranking so both margins see the same row set.
    *
    * @return one row: (mi, n, n_a, n_b) — mi in nats at the chosen
    *         bin resolution */
  def miContinuous(df: DataFrame, xCol: String, yCol: String,
                   bins: Int = 10): DataFrame = {
    require(bins >= 2, "need at least two bins")
    val x = F.col(xCol).cast("double")
    val y = F.col(yCol).cast("double")
    val clean = df
      .where(x.isNotNull && !F.isnan(x) && y.isNotNull && !F.isnan(y))
      .select(x.as("__x"), y.as("__y"))
    // the two rank-table constructions are independent (both read only
    // `clean`) — build __y's on a driver thread while __x's is
    // submitted so their scans overlap (opt guide §2.6; the
    // Ranks.spearman discipline). Bucket expressions and join shape are
    // exactly quantileBuckets' — same ranks, same floor algebra — so
    // the contingency frame and the MI are unchanged.
    val ryF = scala.concurrent.Future(
      Ranks.minRanksWithN(clean, "__y", "__rky"))(
      scala.concurrent.ExecutionContext.global)
    val (nx, rxT) = Ranks.minRanksWithN(clean, "__x", "__rkx")
    val (ny, ryT) = scala.concurrent.Await.result(ryF,
      scala.concurrent.duration.Duration.Inf)
    if (nx == 0L || ny == 0L)
      return mutualInformation(clean
        .withColumn("__bx", F.lit(null).cast("long"))
        .withColumn("__by", F.lit(null).cast("long")), "__bx", "__by")
    val bx = clean
      .join(rxT.withColumnRenamed("__x", "__vx"),
        F.col("__x") === F.col("__vx"), "left")
      .withColumn("__bx",
        (F.floor((F.col("__rkx") - 1) * bins / nx) + 1).cast("long"))
      .drop("__vx", "__rkx")
    val bxy = bx
      .join(ryT.withColumnRenamed("__y", "__vy"),
        F.col("__y") === F.col("__vy"), "left")
      .withColumn("__by",
        (F.floor((F.col("__rky") - 1) * bins / ny) + 1).cast("long"))
      .drop("__vy", "__rky")
    mutualInformation(bxy, "__bx", "__by")
  }

  /** Theil's uncertainty coefficient (asymmetric association):
    * U(A|B) = I(A;B)/H(A) — "what fraction of A's entropy does knowing
    * B remove" — the DIRECTED companion to [[mutualInformation]]
    * (Cramér's V and MI are symmetric; a pipeline asking "does source
    * predict language or the other way round" needs both directions).
    *
    * Every entropy folds from the SAME |A|·|B| contingency frame:
    * H(A) = −Σ_cells (n/N)·ln(na/N) (each cell carries its share of
    * its row margin), so one cells aggregation + margin windows serves
    * I, H(A), H(B) and both coefficients. ln is the only
    * transcendental; everything rounds to 6.
    *
    * @return one row: (mi, h_a, h_b, u_a_given_b, u_b_given_a, n,
    *         n_a, n_b) — U columns null when the entropy is 0
    *         (a constant column is "fully explained" vacuously) */
  def theilsU(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val a = F.col(aCol).cast("string")
    val b = F.col(bCol).cast("string")
    val cells = df
      .where(a.isNotNull && b.isNotNull)
      .groupBy(a.as("__a"), b.as("__b"))
      .agg(F.count(F.lit(1)).as("__n"))
    val wa = Window.partitionBy("__a")
    val wb = Window.partitionBy("__b")
    val wAll = Window.partitionBy()
    val nt = F.col("__nt").cast("double")
    val share = F.col("__n") / nt
    val agged = cells
      .withColumn("__na", F.sum("__n").over(wa))
      .withColumn("__nb", F.sum("__n").over(wb))
      .withColumn("__nt", F.sum("__n").over(wAll))
      .agg(
        F.sum(share * F.log((F.col("__n").cast("double") * nt) /
          (F.col("__na").cast("double") * F.col("__nb")))).as("__mi"),
        F.sum(-share * F.log(F.col("__na") / nt)).as("__ha"),
        F.sum(-share * F.log(F.col("__nb") / nt)).as("__hb"),
        F.max("__nt").as("n"),
        F.countDistinct("__a").as("n_a"),
        F.countDistinct("__b").as("n_b"))
    agged.select(
      F.round(F.col("__mi"), 6).as("mi"),
      F.round(F.col("__ha"), 6).as("h_a"),
      F.round(F.col("__hb"), 6).as("h_b"),
      F.when(F.col("__ha") > 0.0,
        F.round(F.col("__mi") / F.col("__ha"), 6)).as("u_a_given_b"),
      F.when(F.col("__hb") > 0.0,
        F.round(F.col("__mi") / F.col("__hb"), 6)).as("u_b_given_a"),
      F.col("n"), F.col("n_a"), F.col("n_b"))
  }

  /** [[mutualInformation]] per group — "does domain predict quality
    * differently per language": the same contingency construction with
    * every window additionally PARTITIONED BY GROUP, so a million
    * segments cost one shuffle of (group, a, b) cells.
    *
    * @return one row per group: (groupCols..., mi, n, n_a, n_b) */
  def mutualInfoByGroup(df: DataFrame, groupCols: Seq[String],
                        aCol: String, bCol: String): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    require(!groupCols.exists(_.startsWith("__")),
      "group columns must not use the __ internal prefix")
    import org.apache.spark.sql.expressions.Window
    val gCols = groupCols.map(F.col)
    val a = F.col(aCol).cast("string")
    val b = F.col(bCol).cast("string")
    val cells = df
      .where(a.isNotNull && b.isNotNull)
      .groupBy(gCols :+ a.as("__a") :+ b.as("__b"): _*)
      .agg(F.count(F.lit(1)).as("__n"))
    val wa = Window.partitionBy(gCols :+ F.col("__a"): _*)
    val wb = Window.partitionBy(gCols :+ F.col("__b"): _*)
    val wg = Window.partitionBy(gCols: _*)
    cells
      .withColumn("__na", F.sum("__n").over(wa))
      .withColumn("__nb", F.sum("__n").over(wb))
      .withColumn("__nt", F.sum("__n").over(wg))
      .groupBy(gCols: _*)
      .agg(
        F.round(F.sum((F.col("__n") / F.col("__nt")) *
          F.log((F.col("__n").cast("double") * F.col("__nt")) /
            (F.col("__na").cast("double") * F.col("__nb")))), 6).as("mi"),
        F.max("__nt").as("n"),
        F.countDistinct("__a").as("n_a"),
        F.countDistinct("__b").as("n_b"))
  }

  /** Percentage crosstab, long form: every (a, b) cell with its count
    * and row/column/total percentages — the table every contingency
    * discussion actually reads ([[contingencyEffects]] says IF the
    * association is real; this shows WHERE it lives). Marginals ride
    * windows over the cells frame; missing combinations are simply
    * absent (a 0-row says the same thing).
    *
    * @return one row per observed cell: (a, b, n, row_pct, col_pct,
    *         total_pct), percentages rounded to 6 */
  def crosstab(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val a = F.col(aCol).cast("string")
    val b = F.col(bCol).cast("string")
    val cells = df
      .where(a.isNotNull && b.isNotNull)
      .groupBy(a.as("a"), b.as("b"))
      .agg(F.count(F.lit(1)).as("n"))
    val nD = F.col("n").cast("double")
    cells
      .withColumn("row_pct", F.round(
        nD / F.sum("n").over(Window.partitionBy("a")), 6))
      .withColumn("col_pct", F.round(
        nD / F.sum("n").over(Window.partitionBy("b")), 6))
      .withColumn("total_pct", F.round(
        nD / F.sum("n").over(Window.partitionBy()), 6))
      .select("a", "b", "n", "row_pct", "col_pct", "total_pct")
  }

  /** χ² test of independence + Cramér's V effect size for two
    * categoricals — [[mutualInformation]]'s calibrated twin: MI says
    * "how much information", this says "is the association beyond
    * sampling noise (p) and how strong on a [0,1] scale (V)". Expected
    * counts e = n_a·n_b/n ride windows over the contingency cells, and
    * missing cells fold in algebraically (Σ_all (o−e)²/e =
    * Σ_obs((o−e)²/e − e) + n — Σ_all e is exactly n), so sparse
    * supports never need a pivot. p = P(χ²_dof > chi2) at the
    * 6-rounded statistic; V = √(chi2/(n·min(r−1, c−1))) from the same
    * rounded value.
    *
    * @return one row: (n, n_a, n_b, chi2, dof, p_value, cramers_v) */
  def contingencyEffects(df: DataFrame, aCol: String,
                         bCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val a = F.col(aCol).cast("string")
    val b = F.col(bCol).cast("string")
    val cells = df
      .where(a.isNotNull && b.isNotNull)
      .groupBy(a.as("__a"), b.as("__b"))
      .agg(F.count(F.lit(1)).as("__o"))
    val wa = Window.partitionBy("__a")
    val wb = Window.partitionBy("__b")
    val wAll = Window.partitionBy()
    val n = F.col("__n").cast("double")
    val e = F.col("__na").cast("double") * F.col("__nb") / n
    val o = F.col("__o").cast("double")
    val pUdf = F.udf((chi2: Double, dof: Double) =>
      math.rint(SpecialMath.gammaIncC(dof / 2.0, chi2 / 2.0) * 1e6) / 1e6)
    cells
      .withColumn("__na", F.sum("__o").over(wa))
      .withColumn("__nb", F.sum("__o").over(wb))
      .withColumn("__n", F.sum("__o").over(wAll))
      .agg(
        F.max("__n").as("n"),
        F.countDistinct("__a").as("n_a"),
        F.countDistinct("__b").as("n_b"),
        F.round(F.sum((o - e) * (o - e) / e - e) +
          F.max("__n").cast("double"), 6).as("chi2"))
      .withColumn("dof",
        ((F.col("n_a") - 1L) * (F.col("n_b") - 1L)).cast("long"))
      .where(F.col("dof") > 0L)
      .withColumn("p_value",
        pUdf(F.col("chi2"), F.col("dof").cast("double")))
      .withColumn("cramers_v", F.round(F.sqrt(F.col("chi2") /
        (F.col("n").cast("double") *
          F.least(F.col("n_a") - 1L, F.col("n_b") - 1L)
            .cast("double"))), 6))
      .select("n", "n_a", "n_b", "chi2", "dof", "p_value", "cramers_v")
  }

  /** Reciprocal-rank fusion of two retrieval tables:
    *
    *   rrf(q, id) = Σ_sources 1/(kConst + rank)
    *
    * (Cormack et al. 2009; kConst = 60 is the standard constant) — the
    * score-free way to combine a lexical and a vector retrieval, which
    * is exactly the hybrid-search step an embedding pipeline needs next
    * to its ANN operators. FULL OUTER join on (query, id) — an item
    * ranked by only one source still scores — then a per-query window
    * picks the top `topK` with a deterministic (score desc, id) order.
    * Each score is a sum of two exact IEEE divisions, so the fusion
    * replays bit-exactly.
    *
    * @param a,b retrieval tables carrying (queryCol, idCol, rankCol),
    *            rank 1-based
    * @return (queryCol, idCol, rrf, fused_rank) rows, topK per query */
  def rrfFuse(a: DataFrame, b: DataFrame, queryCol: String,
              idCol: String, rankCol: String, kConst: Int = 60,
              topK: Int = 10): DataFrame = {
    require(kConst >= 0, "kConst must be >= 0")
    require(topK >= 1, "topK must be >= 1")
    import org.apache.spark.sql.expressions.Window
    def side(df: DataFrame, tag: String) = df
      .where(F.col(queryCol).isNotNull && F.col(idCol).isNotNull &&
        F.col(rankCol).isNotNull)
      .select(F.col(queryCol).as("__q"), F.col(idCol).as("__id"),
        (F.lit(1.0) / (F.lit(kConst.toDouble) +
          F.col(rankCol).cast("double"))).as(s"__s$tag"))
    val fused = side(a, "a")
      .join(side(b, "b"), Seq("__q", "__id"), "full_outer")
      .withColumn("rrf", F.coalesce(F.col("__sa"), F.lit(0.0)) +
        F.coalesce(F.col("__sb"), F.lit(0.0)))
    val w = Window.partitionBy("__q")
      .orderBy(F.col("rrf").desc, F.col("__id").asc)
    fused
      .withColumn("fused_rank", F.row_number().over(w).cast("long"))
      .where(F.col("fused_rank") <= topK)
      .select(F.col("__q").as(queryCol), F.col("__id").as(idCol),
        F.col("rrf"), F.col("fused_rank"))
  }

  /** Feature ranking by mutual information with a label: every feature
    * goes long-form through one `stack` and rides [[mutualInfoByGroup]]
    * with feature-name as the group — so ranking ANY number of
    * candidate features costs ONE shuffle of (feature, value, label)
    * cells, not one pass per feature. The standard filter-method
    * feature-selection table; bucket continuous features first (MI on
    * raw continuous values degenerates toward ln n).
    *
    * @return one row per feature: (feature, mi, n, n_a, n_b) */
  def miRanking(df: DataFrame, features: Seq[String],
                labelCol: String): DataFrame = {
    require(features.nonEmpty, "need at least one feature")
    require(features.forall(!_.contains("'")),
      "feature names must not contain quotes")
    val long = df.selectExpr(
      s"stack(${features.size}, " + features.map(f =>
        s"'$f', CAST(`$f` AS STRING)").mkString(", ") +
        ") AS (feature, __fv)",
      s"`$labelCol` AS __lbl")
    mutualInfoByGroup(long, Seq("feature"), "__fv", "__lbl")
  }

  /** Recall@k of an approximate top-k retrieval against the exact one
    * — the acceptance metric for every ANN/IVF/LSH configuration
    * decision ("is nProbe = 1 good enough?"). Per query:
    * |approx ∩ exact| / |exact|. Two id-only frames join on
    * (query, id) — payloads never move; queries the approx run missed
    * entirely still appear (hits 0) via the exact side's left join.
    *
    * @return one row per query: (queryCol, hits, k_exact, recall) */
  def recallAtK(approx: DataFrame, exact: DataFrame, queryCol: String,
                idCol: String): DataFrame = {
    val hits = approx.select(F.col(queryCol), F.col(idCol))
      .join(exact.select(F.col(queryCol), F.col(idCol)),
        Seq(queryCol, idCol))
      .groupBy(F.col(queryCol)).agg(F.count(F.lit(1)).as("hits"))
    exact.groupBy(F.col(queryCol)).agg(F.count(F.lit(1)).as("k_exact"))
      .join(hits, Seq(queryCol), "left")
      .withColumn("hits", F.coalesce(F.col("hits"), F.lit(0L)))
      .withColumn("recall", F.round(
        F.col("hits").cast("double") / F.col("k_exact"), 6))
  }

  /** Categorical concentration profile per group — the data-card
    * summary of a label/domain/source column within each segment:
    *
    *   entropy      = −Σ p·ln p   (nats),
    *   norm_entropy = entropy / ln(k)   (null when k = 1),
    *   hhi          = Σ p²   (Herfindahl concentration, 1/k..1),
    *   top_share    = max p.
    *
    * ONE (group, value) aggregation reduces the data to category
    * cells; the profile folds per GROUP over that tiny frame — a
    * million segments cost one shuffle.
    *
    * @return one row per group: (groupCols..., n, k, entropy,
    *         norm_entropy, hhi, top_share), floats rounded to 6 */
  def categoricalProfile(df: DataFrame, groupCols: Seq[String],
                         valueCol: String): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    require(!groupCols.exists(_.startsWith("__")),
      "group columns must not use the __ internal prefix")
    val v = F.col(valueCol).cast("string")
    val cells = df.where(v.isNotNull)
      .groupBy(groupCols.map(F.col) :+ v.as("__v"): _*)
      .agg(F.count(F.lit(1)).as("__c"))
    cells.groupBy(groupCols.map(F.col): _*)
      .agg(F.sum("__c").as("n"), F.count(F.lit(1)).as("k"),
        F.sum(F.col("__c") * F.log(F.col("__c"))).as("__clc"),
        // doubles BEFORE the product: Σc² in long overflows once a
        // single category nears 3×10⁹ rows
        F.sum(F.col("__c").cast("double") * F.col("__c")).as("__ssq"),
        F.max("__c").as("__top"))
      // −Σ(c/n)ln(c/n) = ln n − Σ c·ln c / n — exact algebra over the
      // three sufficient statistics, no second pass over cells
      .withColumn("entropy", F.round(
        F.log(F.col("n")) - F.col("__clc") / F.col("n"), 6))
      .withColumn("norm_entropy",
        F.when(F.col("k") > 1L, F.round(
          (F.log(F.col("n")) - F.col("__clc") / F.col("n")) /
            F.log(F.col("k").cast("double")), 6)))
      .withColumn("hhi", F.round(
        F.col("__ssq") / (F.col("n").cast("double") * F.col("n")), 6))
      .withColumn("top_share", F.round(
        F.col("__top") / F.col("n").cast("double"), 6))
      .select(groupCols.map(F.col) ++ Seq(F.col("n"), F.col("k"),
        F.col("entropy"), F.col("norm_entropy"), F.col("hhi"),
        F.col("top_share")): _*)
  }

  /** Isotonic (monotone) calibration of a score against a binary label
    * via pool-adjacent-violators on equal-width score bins — the
    * monotone upgrade of [[calibrationBins]]: the fitted `iso_rate` is
    * the closest non-decreasing curve (weighted L2) to the per-bin
    * positive rates, the standard post-hoc calibrator when Platt's
    * sigmoid shape is wrong.
    *
    * Scale shape: ONE aggregation reduces the data to ≤ `bins`
    * (n, positives) integer cells; PAV runs on the driver over that
    * bounded frame with INTEGER block accumulators, so each fitted
    * value is an exact positives/count ratio — which is also what the
    * minimax characterization max_{j≤i} min_{k≥i} mean(y[j..k])
    * evaluates to, making the fit exactly SQL-replayable.
    *
    * @return one row per non-empty bin: (bin, n, pos, rate, iso_rate),
    *         rates as exact ratios rounded to 6 */
  def isotonicCalibrate(df: DataFrame, labelCol: String, scoreCol: String,
                        bins: Int = 20): DataFrame = {
    require(bins >= 2 && bins <= 10000, "bins must be in 2..10000")
    val spark = df.sparkSession
    import spark.implicits._
    val s = F.col(scoreCol).cast("double")
    val y = F.col(labelCol).cast("boolean")
    val bin = F.least(F.lit(bins - 1), F.greatest(F.lit(0),
      F.floor(s * bins).cast("int")))
    val cells = df.where(s.isNotNull && !F.isnan(s) && y.isNotNull)
      .groupBy(bin.as("bin")).agg(
        F.count(F.lit(1)).as("n"),
        F.sum(F.when(y, 1L).otherwise(0L)).as("pos"))
      .orderBy("bin")
      .as[(Int, Long, Long)].collect()
    // PAV with integer block accumulators: pool while the previous
    // block's rate is >= the current's (cross-multiplied as BigInt —
    // exact at any count magnitude, no FP rate comparisons)
    final case class Block(bin: Int, n: Long, pos: Long)
    val stack = scala.collection.mutable.ArrayBuffer.empty[Block]
    cells.foreach { case (b, n, pos) =>
      var cur = Block(b, n, pos)
      while (stack.nonEmpty &&
        BigInt(stack.last.pos) * cur.n >= BigInt(cur.pos) * stack.last.n) {
        val prev = stack.remove(stack.length - 1)
        cur = Block(prev.bin, prev.n + cur.n, prev.pos + cur.pos)
      }
      stack += cur
    }
    // expand blocks back to bins: walk the cells, advancing through
    // blocks as their member counts are consumed; each bin's iso value
    // is its block's exact pos/n ratio
    val iso = new Array[Double](cells.length)
    var bi = 0
    var consumedN = 0L
    var ci = 0
    while (ci < cells.length) {
      val blk = stack(bi)
      iso(ci) = blk.pos.toDouble / blk.n
      consumedN += cells(ci)._2
      if (consumedN == blk.n) { bi += 1; consumedN = 0L }
      ci += 1
    }
    cells.zipWithIndex.map { case ((b, n, pos), i) =>
      (b, n, pos, math.rint(pos.toDouble / n * 1e6) / 1e6,
        math.rint(iso(i) * 1e6) / 1e6)
    }.toSeq.toDF("bin", "n", "pos", "rate", "iso_rate")
  }

  /** [[isotonicCalibrate]] PER GROUP — "calibrate each language's /
    * tenant's scores on its own data": the same integer-block PAV, but
    * run INSIDE executors via `flatMapGroups` over the (group, bin)
    * cells — the driver never sees a cell, so a million segments
    * calibrate in one shuffle (per-group state is ≤ `bins` blocks, the
    * SemDeDup executor-side-training discipline). Cross-multiplied
    * BigInt pooling keeps the fit exact at any count magnitude.
    *
    * @return one row per (group, non-empty bin): (groupCol, bin, n,
    *         pos, rate, iso_rate), rates rounded to 6 */
  def isotonicByGroup(df: DataFrame, groupCol: String, labelCol: String,
                      scoreCol: String, bins: Int = 10): DataFrame = {
    require(bins >= 2, "need at least 2 bins")
    val spark = df.sparkSession
    import spark.implicits._
    val s = F.col(scoreCol).cast("double")
    val y = F.col(labelCol).cast("boolean")
    val g = F.col(groupCol).cast("string")
    val bin = F.least(F.lit(bins - 1), F.greatest(F.lit(0),
      F.floor(s * bins).cast("int")))
    val cells = df
      .where(s.isNotNull && !F.isnan(s) && y.isNotNull && g.isNotNull)
      .groupBy(g.as("__g"), bin.as("__bin"))
      .agg(F.count(F.lit(1)).as("__n"),
        F.sum(F.when(y, 1L).otherwise(0L)).as("__pos"))
      .as[(String, Int, Long, Long)]
    cells.groupByKey(_._1).flatMapGroups { (grp, it) =>
      val arr = it.toArray.sortBy(_._2)
      val stack = scala.collection.mutable
        .ArrayBuffer.empty[(Int, Long, Long)]
      arr.foreach { case (_, b, n, pos) =>
        var cur = (b, n, pos)
        while (stack.nonEmpty &&
          BigInt(stack.last._3) * cur._2 >= BigInt(cur._3) * stack.last._2) {
          val prev = stack.remove(stack.length - 1)
          cur = (prev._1, prev._2 + cur._2, prev._3 + cur._3)
        }
        stack += cur
      }
      val iso = new Array[Double](arr.length)
      var bi = 0
      var consumedN = 0L
      var ci = 0
      while (ci < arr.length) {
        val blk = stack(bi)
        iso(ci) = blk._3.toDouble / blk._2
        consumedN += arr(ci)._3
        if (consumedN == blk._2) { bi += 1; consumedN = 0L }
        ci += 1
      }
      arr.zipWithIndex.iterator.map { case ((_, b, n, pos), i) =>
        (grp, b, n, pos, math.rint(pos.toDouble / n * 1e6) / 1e6,
          math.rint(iso(i) * 1e6) / 1e6)
      }
    }.toDF(groupCol, "bin", "n", "pos", "rate", "iso_rate")
  }

  /** Split-conformal prediction interval width per group: from a
    * CALIBRATION frame carrying a prediction and the realized value,
    * the exact ⌈(n+1)(1−α)⌉-th smallest absolute residual q̂ — the
    * half-width that makes [pred − q̂, pred + q̂] a distribution-free
    * ≥(1−α) coverage interval for exchangeable future rows (the
    * split-conformal guarantee; no model or noise assumptions).
    *
    * Scale shape: ONE (group, |residual|) cell aggregation; the rank
    * walk rides windows PARTITIONED BY GROUP over the cells frame —
    * q̂ is an exact order statistic picked by cumulative count, never a
    * sort of raw rows. Groups too small for the level (k > n) emit a
    * null q̂ — the honest "collect more calibration data" answer.
    *
    * @return one row per group: (groupCols..., n, q_rank, qhat) */
  def conformalByGroup(df: DataFrame, groupCols: Seq[String],
                       actualCol: String, predCol: String,
                       alpha: Double): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    require(!groupCols.exists(_.startsWith("__")),
      "group columns must not use the __ internal prefix")
    require(alpha > 0.0 && alpha < 1.0, "alpha must be in (0,1)")
    import org.apache.spark.sql.expressions.Window
    val a = F.col(actualCol).cast("double")
    val p = F.col(predCol).cast("double")
    val cells = df
      .where(a.isNotNull && !F.isnan(a) && p.isNotNull && !F.isnan(p))
      .groupBy(groupCols.map(F.col) :+ F.abs(a - p).as("__r"): _*)
      .agg(F.count(F.lit(1)).as("__c"))
    val wAll = Window.partitionBy(groupCols.map(F.col): _*)
    val wOrd = Window.partitionBy(groupCols.map(F.col): _*)
      .orderBy("__r")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells
      .withColumn("__n", F.sum("__c").over(wAll))
      .withColumn("__k", F.ceil((F.col("__n") + 1L) *
        F.lit(1.0 - alpha)).cast("long"))
      .withColumn("__cum", F.sum("__c").over(wOrd))
      .groupBy(groupCols.map(F.col): _*)
      .agg(F.max("__n").as("n"), F.max("__k").as("q_rank"),
        F.min(F.when(F.col("__cum") >= F.col("__k"), F.col("__r")))
          .as("qhat"))
  }

  /** Cohen's kappa between two label columns — inter-rater agreement
    * corrected for chance, the acceptance test for LLM-judge /
    * heuristic-labeler agreement ("do the two quality raters agree
    * beyond what their marginal label rates force?"):
    *
    *   κ = (p_o − p_e) / (1 − p_e),   p_o = Σ p_ii,
    *   p_e = Σ_l p_{l·}·p_{·l}.
    *
    * ONE (a, b) contingency aggregation; marginals reduce from the
    * cells frame and meet in a 1-row cross join — the data is touched
    * once. All inputs to the ratio are integer-valued (exact to 2^53),
    * so κ replays bit-stably. κ is null when p_e = 1 (both raters
    * constant and equal — agreement is undefined, not perfect).
    *
    * @return one row: (kappa, po, pe, n), floats rounded to 6 */
  def cohenKappa(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val a = F.col(aCol).cast("string")
    val b = F.col(bCol).cast("string")
    val cells = df.where(a.isNotNull && b.isNotNull)
      .groupBy(a.as("__a"), b.as("__b"))
      .agg(F.count(F.lit(1)).as("__n"))
    val tot = cells.agg(
      F.sum("__n").as("n"),
      F.sum(F.when(F.col("__a") === F.col("__b"), F.col("__n"))
        .otherwise(0L)).as("__diag"))
    val ra = cells.groupBy(F.col("__a").as("__l"))
      .agg(F.sum("__n").as("__na"))
    val rb = cells.groupBy(F.col("__b").as("__l"))
      .agg(F.sum("__n").as("__nb"))
    val peNum = ra.join(rb, "__l")
      .agg(F.coalesce(F.sum(F.col("__na").cast("double") * F.col("__nb")),
        F.lit(0.0)).as("__pn"))
    val nD = F.col("n").cast("double")
    val po = F.col("__diag") / nD
    val pe = F.col("__pn") / (nD * nD)
    tot.crossJoin(peNum).select(
      F.when(pe < 1.0, F.round((po - pe) / (F.lit(1.0) - pe), 6))
        .as("kappa"),
      F.round(po, 6).as("po"), F.round(pe, 6).as("pe"), F.col("n"))
  }

  /** Rogan–Gladen prevalence correction — the true positive rate
    * behind a NOISY classifier/test ("30% of documents flag as toxic,
    * but the flagger has 85% sensitivity and 95% specificity — what is
    * the real rate?"):
    *
    *   π̂ = (p_obs + spec − 1) / (sens + spec − 1),
    *   SE = √(p_obs(1−p_obs)/n) / (sens + spec − 1)
    *
    * with π̂ and the normal CI clamped to [0,1] (the estimator can
    * stray outside on sampling noise). One count aggregation; requires
    * an informative test (sens + spec > 1) loudly.
    *
    * @return one row: (n, p_obs, p_true, se, lo95, hi95) rounded 6 */
  def roganGladen(df: DataFrame, flaggedCol: String, sens: Double,
                  spec: Double): DataFrame = {
    require(sens > 0.0 && sens <= 1.0, "sens must be in (0,1]")
    require(spec > 0.0 && spec <= 1.0, "spec must be in (0,1]")
    require(sens + spec > 1.0,
      "sens + spec must exceed 1 (an uninformative test cannot be " +
        "inverted)")
    val spark = df.sparkSession
    import spark.implicits._
    val y = F.col(flaggedCol).cast("boolean")
    val r = df.where(y.isNotNull)
      .agg(F.count(F.lit(1)).as("n"),
        F.sum(F.when(y, 1L).otherwise(0L)).as("pos"))
      .head()
    val n = r.getAs[Long]("n")
    require(n > 0L, "no rows")
    val pObs = r.getAs[Long]("pos").toDouble / n
    val j = sens + spec - 1.0
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    def clamp(x: Double) = math.min(1.0, math.max(0.0, x))
    val pTrue = (pObs + spec - 1.0) / j
    val se = math.sqrt(pObs * (1.0 - pObs) / n) / j
    Seq((n, r6(pObs), r6(clamp(pTrue)), r6(se),
        r6(clamp(pTrue - 1.96 * se)), r6(clamp(pTrue + 1.96 * se))))
      .toDF("n", "p_obs", "p_true", "se", "lo95", "hi95")
  }

  /** Youden-J optimal threshold from the ROC cells — WHERE to cut a
    * score so that sensitivity + specificity is maximal (the
    * operating point [[aucRoc]]'s area number doesn't give you):
    * score ≥ t predicts positive, J(t) = TPR(t) − FPR(t), and the
    * distinct score values are the only candidate thresholds. Ties in
    * J break toward the HIGHEST threshold (fewest flags). One
    * (score) cell aggregation + a cumulative window over the
    * support-bounded cells frame.
    *
    * @return one row: (threshold, j, tpr, fpr, n_pos, n_neg) */
  def youdenThreshold(df: DataFrame, scoreCol: String,
                      labelCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = F.col(scoreCol).cast("double")
    val y = F.col(labelCol).cast("boolean")
    val cells = df
      .where(s.isNotNull && !F.isnan(s) && y.isNotNull)
      .groupBy(s.as("__s"))
      .agg(F.sum(F.when(y, 1L).otherwise(0L)).as("__p"),
        F.sum(F.when(y, 0L).otherwise(1L)).as("__q"))
    val wCum = Window.orderBy(F.col("__s").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy()
    val scored = cells
      .withColumn("__np", F.sum("__p").over(wAll))
      .withColumn("__nq", F.sum("__q").over(wAll))
      .withColumn("__tp", F.sum("__p").over(wCum))
      .withColumn("__fp", F.sum("__q").over(wCum))
      .where(F.col("__np") > 0L && F.col("__nq") > 0L)
      .withColumn("tpr", F.round(
        F.col("__tp").cast("double") / F.col("__np"), 6))
      .withColumn("fpr", F.round(
        F.col("__fp").cast("double") / F.col("__nq"), 6))
      .withColumn("j", F.round(F.col("tpr") - F.col("fpr"), 6))
    scored
      .orderBy(F.col("j").desc, F.col("__s").desc)
      .limit(1)
      .select(F.col("__s").as("threshold"), F.col("j"), F.col("tpr"),
        F.col("fpr"), F.col("__np").as("n_pos"),
        F.col("__nq").as("n_neg"))
  }

  /** Spiegelhalter's z-test of calibration — the binless companion to
    * [[hosmerLemeshow]] (no binning choice to argue about): under
    * perfect calibration the Brier score's conditional mean and
    * variance are known, giving
    *
    *   Z = Σ (y−p)(1−2p) / √(Σ (1−2p)²·p(1−p))
    *
    * — positive Z means the scores are under-confident-shaped
    * miscalibration, |Z| large means the Brier score is incompatible
    * with calibrated probabilities. ONE aggregation; two-sided normal
    * p at the 6-rounded Z. Rows with p ∈ {0,1} contribute zero
    * variance and are excluded (their calibration is untestable).
    *
    * @return one row: (n, z, p_value) */
  def spiegelhalterZ(df: DataFrame, probCol: String,
                     labelCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val p = F.col(probCol).cast("double")
    val y = F.col(labelCol).cast("boolean").cast("double")
    val r = df
      .where(p.isNotNull && !F.isnan(p) && p > 0.0 && p < 1.0 &&
        F.col(labelCol).cast("boolean").isNotNull)
      .agg(F.count(F.lit(1)).as("n"),
        F.sum((y - p) * (F.lit(1.0) - F.lit(2.0) * p)).as("num"),
        F.sum((F.lit(1.0) - F.lit(2.0) * p) *
          (F.lit(1.0) - F.lit(2.0) * p) * p * (F.lit(1.0) - p))
          .as("den"))
      .head()
    val n = r.getAs[Long]("n")
    require(n > 0L, "no testable rows (every p is 0 or 1)")
    val den = r.getAs[Double]("den")
    require(den > 0.0, "zero calibration variance")
    def r6(v: Double) = math.rint(v * 1e6) / 1e6
    val z = r6(r.getAs[Double]("num") / math.sqrt(den))
    val pv = r6(SpecialMath.erfc(math.abs(z) / math.sqrt(2.0)))
    Seq((n, z, pv)).toDF("n", "z", "p_value")
  }

  /** Winkler interval score per group — the proper scoring rule for
    * (1−α) prediction intervals (Gneiting & Raftery 2007): per row
    *
    *   IS = (u−l) + (2/α)(l−x)·𝟙[x<l] + (2/α)(x−u)·𝟙[x>u]
    *
    * so narrow AND honest intervals win; reported with the empirical
    * coverage and mean width so the decomposition is visible. A
    * reversed interval (l > u) fails the job loudly. ONE aggregation.
    *
    * @return one row per group: (groupCols…, n, coverage, mean_width,
    *         mean_interval_score) rounded to 6 */
  def intervalScoreByGroup(df: DataFrame, groupCols: Seq[String],
                           actualCol: String, loCol: String,
                           hiCol: String, alpha: Double): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    require(alpha > 0.0 && alpha < 1.0, "alpha must be in (0,1)")
    val x = F.col(actualCol).cast("double")
    val lo = F.col(loCol).cast("double")
    val hi = F.col(hiCol).cast("double")
    val ok = Seq(x, lo, hi).map(c => c.isNotNull && !F.isnan(c))
      .reduce(_ && _) && groupCols.map(F.col(_).isNotNull).reduce(_ && _)
    val w = F.when(lo > hi,
        F.raise_error(F.concat(
          F.lit(s"reversed interval ($loCol > $hiCol): lo="),
          lo.cast("string"), F.lit(" hi="), hi.cast("string")))
          .cast("double"))
      .otherwise(hi - lo)
    val pen = F.lit(2.0 / alpha)
    val is = w +
      F.when(x < lo, pen * (lo - x)).otherwise(0.0) +
      F.when(x > hi, pen * (x - hi)).otherwise(0.0)
    df.where(ok)
      .groupBy(groupCols.map(F.col): _*)
      .agg(F.count(F.lit(1)).as("n"),
        F.round(F.avg((x >= lo && x <= hi).cast("double")), 6)
          .as("coverage"),
        F.round(F.avg(w), 6).as("mean_width"),
        F.round(F.avg(is), 6).as("mean_interval_score"))
  }

  /** Hosmer–Lemeshow goodness-of-calibration test, classic 10-bin
    * form: partition predictions into fixed-width risk bins, compare
    * observed vs expected event counts per bin,
    *
    *   H = Σ_b [ (O₁−E₁)²/E₁ + (O₀−E₀)²/E₀ ]  ~ χ²(8)
    *
    * (fixed-width bins rather than sample deciles — deterministic and
    * sort-free at any scale; the statistic tests the same calibration
    * hypothesis). Bins must all be populated with 0 < E₁ < n_b — the
    * test is undefined otherwise and this fails LOUDLY rather than
    * silently merging. p = exp(−H/2)·Σ_{k≤3}(H/2)^k/k! (the even-df
    * χ²(8) closed form, at the 6-rounded H). One bin aggregation; the
    * 10-row stats collect to the driver.
    *
    * @return one row: (n, bins, chi2, df, p_value) */
  def hosmerLemeshow(df: DataFrame, probCol: String,
                     labelCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val bins = 10
    val p = F.col(probCol).cast("double")
    val y = F.col(labelCol).cast("boolean")
    val rows = df
      .where(p.isNotNull && !F.isnan(p) && p >= 0.0 && p <= 1.0 &&
        y.isNotNull)
      .groupBy(F.least(F.floor(p * bins), F.lit(bins - 1).cast("long"))
        .as("__b"))
      .agg(F.count(F.lit(1)).as("nb"),
        F.sum(F.when(y, 1L).otherwise(0L)).as("o1"),
        F.sum(p).as("e1"))
      .collect()
      .map(r => r.getAs[Long]("__b") ->
        (r.getAs[Long]("nb"), r.getAs[Long]("o1"),
          r.getAs[Double]("e1"))).toMap
    (0 until bins).foreach { b =>
      require(rows.contains(b.toLong),
        s"risk bin $b is empty — Hosmer–Lemeshow needs every bin " +
          "populated; rescale the score or use a calibration curve")
      val (nb, _, e1) = rows(b.toLong)
      require(e1 > 0.0 && e1 < nb,
        s"risk bin $b has degenerate expected counts (E1=$e1 of " +
          s"$nb) — the chi-square term divides by zero")
    }
    val n = rows.values.map(_._1).sum
    val chi2 = (0 until bins).map { b =>
      val (nb, o1, e1) = rows(b.toLong)
      val d1 = o1 - e1
      val e0 = nb - e1
      d1 * d1 / e1 + d1 * d1 / e0
    }.sum
    def r6(v: Double) = math.rint(v * 1e6) / 1e6
    val h = r6(chi2)
    val h2 = h / 2.0
    val pv = r6(math.exp(-h2) *
      (1.0 + h2 + h2 * h2 / 2.0 + h2 * h2 * h2 / 6.0))
    Seq((n, bins, h, bins - 2, pv))
      .toDF("n", "bins", "chi2", "df", "p_value")
  }

  /** Fleiss' κ for a FIXED panel of `raters` raters over many items —
    * the many-rater generalization of [[cohenKappa]] (Fleiss 1971):
    * with n_ij the count of raters placing item i in category j,
    *
    *   P_i = (Σ_j n_ij² − r) / (r(r−1)),   P̄ = mean_i P_i,
    *   p_j = Σ_i n_ij / (N·r),   P_e = Σ_j p_j²,
    *   κ = (P̄ − P_e) / (1 − P_e)
    *
    * Items that did not receive EXACTLY `raters` ratings are dropped
    * (Fleiss assumes a constant panel; use [[krippendorffAlpha]] for
    * ragged panels). Every sufficient statistic is an exact integer
    * sum — two cell aggregations, no row collected.
    *
    * @return one row: (n_items, n_raters, kappa, p_bar, p_e) */
  def fleissKappa(df: DataFrame, itemCol: String, categoryCol: String,
                  raters: Int): DataFrame = {
    require(raters >= 2, "need at least two raters")
    val item = F.col(itemCol).cast("string")
    val cat = F.col(categoryCol).cast("string")
    val cells = df.where(item.isNotNull && cat.isNotNull)
      .groupBy(item.as("__i"), cat.as("__c"))
      .agg(F.count(F.lit(1)).as("__n"))
    val kept = cells.groupBy("__i")
      .agg(F.sum("__n").as("__m"),
        F.sum(F.col("__n") * F.col("__n")).as("__sq"))
      .where(F.col("__m") === raters.toLong)
    val itemAgg = kept.agg(F.count(F.lit(1)).as("n_items"),
      F.sum("__sq").as("__ssq"))
    val catAgg = cells.join(kept.select("__i"), "__i")
      .groupBy("__c").agg(F.sum("__n").as("__nc"))
      .agg(F.sum(F.col("__nc").cast("double") * F.col("__nc"))
        .as("__ncsq"))
    val r = raters.toDouble
    val nI = F.col("n_items").cast("double")
    val pBar = (F.col("__ssq") - F.col("n_items") * raters.toLong)
      .cast("double") / (nI * r * (r - 1.0))
    val pE = F.col("__ncsq") / (nI * r * (nI * r))
    itemAgg.crossJoin(catAgg)
      .where(F.col("n_items") > 0L)
      .select(F.col("n_items"), F.lit(raters).cast("int").as("n_raters"),
        F.when(pE < 1.0, F.round((pBar - pE) / (F.lit(1.0) - pE), 6))
          .as("kappa"),
        F.round(pBar, 6).as("p_bar"), F.round(pE, 6).as("p_e"))
  }

  /** Krippendorff's α, nominal metric — chance-corrected agreement for
    * RAGGED rater panels (any number of raters per item ≥ 2, the case
    * Fleiss can't handle): from the coincidence-matrix identities,
    *
    *   D_o = Σ_i (m_i² − Σ_c n_ic²) / (m_i − 1),
    *   D_e = (n² − Σ_c n_c²) / (n − 1),   α = 1 − D_o / D_e
    *
    * with m_i the ratings on item i (items with m_i < 2 contribute no
    * pairable ratings and are dropped) and n = Σ m_i. Exact
    * integer-ratio sums over two cell aggregations.
    *
    * @return one row: (n_items, n_ratings, d_o, d_e, alpha) */
  def krippendorffAlpha(df: DataFrame, itemCol: String,
                        categoryCol: String): DataFrame = {
    val item = F.col(itemCol).cast("string")
    val cat = F.col(categoryCol).cast("string")
    val cells = df.where(item.isNotNull && cat.isNotNull)
      .groupBy(item.as("__i"), cat.as("__c"))
      .agg(F.count(F.lit(1)).as("__n"))
    val kept = cells.groupBy("__i")
      .agg(F.sum("__n").as("__m"),
        F.sum(F.col("__n") * F.col("__n")).as("__sq"))
      .where(F.col("__m") >= 2L)
    val doAgg = kept.agg(F.count(F.lit(1)).as("n_items"),
      F.sum("__m").as("n_ratings"),
      F.sum((F.col("__m") * F.col("__m") - F.col("__sq")).cast("double")
        / (F.col("__m") - 1L)).as("__do"))
    val catAgg = cells.join(kept.select("__i"), "__i")
      .groupBy("__c").agg(F.sum("__n").as("__nc"))
      .agg(F.sum(F.col("__nc").cast("double") * F.col("__nc"))
        .as("__ncsq"))
    val n = F.col("n_ratings").cast("double")
    val dE = (n * n - F.col("__ncsq")) / (n - 1.0)
    doAgg.crossJoin(catAgg)
      .where(F.col("n_ratings") > 1L && dE > 0.0)
      .select(F.col("n_items"), F.col("n_ratings"),
        F.round(F.col("__do"), 6).as("d_o"),
        F.round(dE, 6).as("d_e"),
        F.round(F.lit(1.0) - F.col("__do") / dE, 6).as("alpha"))
  }

  /** Goodman–Kruskal γ and λ over an ordinal×ordinal crosstab — the
    * pair-concordance association (γ, ties dropped: (C−D)/(C+D)) plus
    * the proportional-reduction-in-error measure for predicting y from
    * x (λ_y|x = (Σ_x max_y n_xy − max_y n_•y)/(n − max_y n_•y)). Both
    * columns must be orderable numerics (bucket upstream). The n² pair
    * sum collapses to a |cells|² broadcast cell join with the
    * [[graft.operators.Survival.concordanceIndex]] loud-cardinality
    * contract; C, D and every λ term are exact integers.
    *
    * @return one row: (n, concordant, discordant, gamma, lambda_yx) */
  def gkAssociation(df: DataFrame, xCol: String, yCol: String,
                    maxCells: Int = 16384): DataFrame = Persisted { scope =>
    val x = F.col(xCol).cast("double")
    val y = F.col(yCol).cast("double")
    val cells = scope.checkpoint(df.where(x.isNotNull && !F.isnan(x) &&
        y.isNotNull && !F.isnan(y))
      .groupBy(x.as("__x"), y.as("__y"))
      .agg(F.count(F.lit(1)).as("__n")))
    val meta = cells.agg(F.sum("__n").as("n"),
      F.count(F.lit(1)).as("cells")).head()
    val nTot = meta.getAs[Long]("n")
    require(meta.getAs[Long]("cells") <= maxCells,
      s"${meta.getAs[Long]("cells")} (x, y) cells — gkAssociation is " +
        "exact on LOW-CARDINALITY crosstabs; bucket the columns first")
    require(nTot >= 2L, "need at least two rows")
    val a = cells.select(F.col("__x").as("x1"), F.col("__y").as("y1"),
      F.col("__n").as("n1"))
    val b = cells.select(F.col("__x").as("x2"), F.col("__y").as("y2"),
      F.col("__n").as("n2"))
    val pairs = a.join(F.broadcast(b), F.col("x1") < F.col("x2"))
    val cd = pairs.agg(
      F.coalesce(F.sum(F.when(F.col("y1") < F.col("y2"),
        F.col("n1") * F.col("n2")).otherwise(0L)), F.lit(0L)).as("c"),
      F.coalesce(F.sum(F.when(F.col("y1") > F.col("y2"),
        F.col("n1") * F.col("n2")).otherwise(0L)), F.lit(0L)).as("d"))
    val lamNum = cells.groupBy("__x").agg(F.max("__n").as("__mx"))
      .agg(F.sum("__mx").as("__srow"))
    val lamDen = cells.groupBy("__y").agg(F.sum("__n").as("__ny"))
      .agg(F.max("__ny").as("__mcol"))
    cd.crossJoin(lamNum).crossJoin(lamDen)
      .select(F.lit(nTot).as("n"), F.col("c").as("concordant"),
        F.col("d").as("discordant"),
        F.when(F.col("c") + F.col("d") > 0L,
          F.round((F.col("c") - F.col("d")).cast("double") /
            (F.col("c") + F.col("d")), 6)).as("gamma"),
        F.when(F.lit(nTot) - F.col("__mcol") > 0L,
          F.round((F.col("__srow") - F.col("__mcol")).cast("double") /
            (F.lit(nTot) - F.col("__mcol")), 6)).as("lambda_yx"))
  }

  /** Stuart–Maxwell test of marginal homogeneity for PAIRED 3-category
    * labels — the k = 3 generalization of McNemar (did the category
    * MIX shift between the two readings, beyond symmetric noise?):
    * with d_c = n_c• − n_•c for the first two categories (the third is
    * the reference) and the covariance
    * S_cc = n_c• + n_•c − 2n_cc, S_12 = −(n_12 + n_21),
    *
    *   χ² = (S₂₂d₁² − 2S₁₂d₁d₂ + S₁₁d₂²) / (S₁₁S₂₂ − S₁₂²) ~ χ²(2)
    *
    * so p = exp(−χ²/2) exactly. Categories order lexicographically;
    * requires EXACTLY 3 distinct labels (k = 2 is [[mcnemar]]'s job;
    * larger k needs a general solve). One k×k cell aggregation, all
    * cells exact integers, a 2×2 Cramer on the driver.
    *
    * @return one row: (n, d1, d2, chi2, p_value) */
  def stuartMaxwell(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val a = F.col(aCol).cast("string")
    val b = F.col(bCol).cast("string")
    val cells = df.where(a.isNotNull && b.isNotNull)
      .groupBy(a.as("__a"), b.as("__b"))
      .agg(F.count(F.lit(1)).as("__n"))
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2)))
    val labels = (cells.map(_._1) ++ cells.map(_._2)).distinct.sorted
    require(labels.length == 3,
      s"stuartMaxwell needs exactly 3 categories, got " +
        s"${labels.length} (${labels.take(5).mkString(", ")}); use " +
        "mcnemar for 2")
    def cell(i: Int, j: Int): Long = cells
      .filter(c => c._1 == labels(i) && c._2 == labels(j))
      .map(_._3).sum
    def rowSum(i: Int): Long = (0 until 3).map(cell(i, _)).sum
    def colSum(j: Int): Long = (0 until 3).map(cell(_, j)).sum
    val n = (0 until 3).map(rowSum).sum
    val d1 = rowSum(0) - colSum(0)
    val d2 = rowSum(1) - colSum(1)
    val s11 = (rowSum(0) + colSum(0) - 2L * cell(0, 0)).toDouble
    val s22 = (rowSum(1) + colSum(1) - 2L * cell(1, 1)).toDouble
    val s12 = -(cell(0, 1) + cell(1, 0)).toDouble
    val det = s11 * s22 - s12 * s12
    require(det > 0.0, "singular covariance (an off-diagonal pair of " +
      "categories never disagrees); collapse categories")
    def r6(v: Double) = math.rint(v * 1e6) / 1e6
    val chi2 = r6((s22 * d1 * d1 - 2.0 * s12 * d1 * d2 +
      s11 * d2 * d2) / det)
    val p = r6(math.exp(-chi2 / 2.0))
    Seq((n, d1, d2, chi2, p)).toDF("n", "d1", "d2", "chi2", "p_value")
  }

  /** Quadratic-weighted Cohen's κ for ORDINAL labels — [[cohenKappa]]
    * treats a 1-vs-5 disagreement the same as 1-vs-2; with ordered
    * categories the standard quadratic weights
    * w(i,j) = 1 − ((i−j)/(k−1))² credit near misses:
    *
    *   κ_w = (Σ w·f_ij/n − Σ w·r_i·c_j/n²) / (1 − Σ w·r_i·c_j/n²)
    *
    * (the agreement metric behind essay-scoring and medical-rating
    * benchmarks). Levels map to their position in `categories`; rows
    * outside the list are excluded. One k×k cell aggregation + margin
    * folds — every term is an exact integer ratio.
    *
    * @param categories the ordinal levels in ascending order
    * @return one row: (kappa_w, po_w, pe_w, n) */
  def weightedKappa(df: DataFrame, aCol: String, bCol: String,
                    categories: Seq[String]): DataFrame = {
    val k = categories.length
    require(k >= 2, "need at least two ordered categories")
    val a = F.col(aCol).cast("string")
    val b = F.col(bCol).cast("string")
    val toIdx = (c: org.apache.spark.sql.Column) =>
      categories.zipWithIndex.foldLeft(F.lit(-1)) {
        case (acc, (l, i)) => F.when(c === l, i).otherwise(acc)
      }
    val cells = df
      .where(a.isin(categories: _*) && b.isin(categories: _*))
      .groupBy(toIdx(a).as("__i"), toIdx(b).as("__j"))
      .agg(F.count(F.lit(1)).as("__n"))
    val km1 = (k - 1).toDouble
    val w = F.lit(1.0) -
      ((F.col("__i") - F.col("__j")).cast("double") / km1) *
        ((F.col("__i") - F.col("__j")).cast("double") / km1)
    val tot = cells.agg(F.sum("__n").as("n"),
      F.sum(w * F.col("__n")).as("__wo"))
    val ra = cells.groupBy(F.col("__i"))
      .agg(F.sum("__n").as("__ni"))
    val rb = cells.groupBy(F.col("__j"))
      .agg(F.sum("__n").as("__nj"))
    val wE = F.lit(1.0) -
      ((F.col("__i") - F.col("__j")).cast("double") / km1) *
        ((F.col("__i") - F.col("__j")).cast("double") / km1)
    val peNum = ra.crossJoin(rb)
      .agg(F.sum(wE * F.col("__ni").cast("double") * F.col("__nj"))
        .as("__we"))
    val nD = F.col("n").cast("double")
    val po = F.col("__wo") / nD
    val pe = F.col("__we") / (nD * nD)
    tot.crossJoin(peNum).select(
      F.when(pe < 1.0, F.round((po - pe) / (F.lit(1.0) - pe), 6))
        .as("kappa_w"),
      F.round(po, 6).as("po_w"), F.round(pe, 6).as("pe_w"), F.col("n"))
  }

  /** Per-query ranking metrics for a retrieval / recommendation run —
    * the acceptance layer for the ANN and text-search operators: given
    * (query, item, graded relevance, score) rows, how well does the
    * score order the items?
    *
    *   rr      = 1 / rank of the first relevant item (MRR averaged),
    *   ap      = mean of precision@r over relevant ranks r (MAP averaged),
    *   ndcg_k  = DCG@k / IDCG@k with gains (2^rel − 1)/log₂(rank+1).
    *
    * Ties in score are broken by `idCol` ascending, and duplicate
    * (score, id) pairs by relevance ASCENDING (the conservative read:
    * at an unresolvable tie the irrelevant item ranks first), so the
    * ranking — and therefore every metric — is deterministic and
    * SQL-replayable even when `idCol` is not unique. The precision
    * prefix sum runs over the materialized rank (a total order), never
    * a second sort of the raw keys, so its pairing with the rank can
    * never cross on ties. Scale shape: both rankings ride windows
    * PARTITIONED BY QUERY (one shuffle on the query key; per-query
    * lists are candidate lists, bounded by construction), then ONE
    * aggregation per query. No global window, nothing collected.
    *
    * @param relCol graded relevance (0 = irrelevant); binary metrics
    *               (rr, ap) treat rel > 0 as relevant
    * @return one row per query: (queryCol, n, n_rel, rr, ap, dcg_k,
    *         idcg_k, ndcg_k), floats rounded to 6; rr/ap/ndcg_k null
    *         when the query has no relevant item */
  def rankingMetrics(df: DataFrame, queryCol: String, idCol: String,
                     relCol: String, scoreCol: String,
                     k: Int = 10): DataFrame = {
    require(k >= 1, "need k >= 1")
    import org.apache.spark.sql.expressions.Window
    val s = F.col(scoreCol).cast("double")
    val rel = F.col(relCol).cast("double")
    val base = df
      .where(F.col(queryCol).isNotNull && F.col(idCol).isNotNull &&
        s.isNotNull && !F.isnan(s) && rel.isNotNull && !F.isnan(rel))
      .select(F.col(queryCol).as("__q"), F.col(idCol).as("__id"),
        rel.as("__rel"), s.as("__s"))
    val byScore = Window.partitionBy("__q")
      .orderBy(F.col("__s").desc, F.col("__id").asc, F.col("__rel").asc)
    val byIdeal = Window.partitionBy("__q")
      .orderBy(F.col("__rel").desc, F.col("__id").asc)
    // same partitioning for every window → ONE exchange on __q, the
    // orderings are local sorts; __cumrel orders by the materialized
    // rank so its frame agrees with __r row-for-row by construction
    val byRank = Window.partitionBy("__q").orderBy("__r")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = base
      .withColumn("__r", F.row_number().over(byScore).cast("long"))
      .withColumn("__ri", F.row_number().over(byIdeal).cast("long"))
      .withColumn("__cumrel", F.sum(F.when(F.col("__rel") > 0.0, 1L)
        .otherwise(0L)).over(byRank))
    val gain = F.pow(F.lit(2.0), F.col("__rel")) - 1.0
    ranked.groupBy(F.col("__q").as(queryCol)).agg(
      F.count(F.lit(1)).as("n"),
      F.sum(F.when(F.col("__rel") > 0.0, 1L).otherwise(0L)).as("n_rel"),
      F.min(F.when(F.col("__rel") > 0.0, F.col("__r"))).as("__first"),
      F.sum(F.when(F.col("__rel") > 0.0,
        F.col("__cumrel").cast("double") / F.col("__r"))).as("__apsum"),
      F.sum(F.when(F.col("__r") <= k,
        gain / F.log2(F.col("__r") + 1.0)).otherwise(0.0)).as("__dcg"),
      F.sum(F.when(F.col("__ri") <= k,
        gain / F.log2(F.col("__ri") + 1.0)).otherwise(0.0)).as("__idcg"))
      .withColumn("rr", F.round(F.lit(1.0) / F.col("__first"), 6))
      .withColumn("ap", F.when(F.col("n_rel") > 0L,
        F.round(F.col("__apsum") / F.col("n_rel"), 6)))
      .withColumn("dcg_k", F.round(F.col("__dcg"), 6))
      .withColumn("idcg_k", F.round(F.col("__idcg"), 6))
      .withColumn("ndcg_k", F.when(F.col("__idcg") > 0.0,
        F.round(F.col("__dcg") / F.col("__idcg"), 6)))
      .select(F.col(queryCol), F.col("n"), F.col("n_rel"), F.col("rr"),
        F.col("ap"), F.col("dcg_k"), F.col("idcg_k"), F.col("ndcg_k"))
  }

  /** Lift / gains table: rows ranked by score DESCENDING into k
    * equal-count buckets (bucket 1 = top scores); per bucket the
    * positive rate, and cumulatively the capture fraction (share of all
    * positives reached by bucket ≤ b) and the lift of the cumulative
    * rate over the base rate — "how many conversions does calling the
    * top two deciles get us", the targeting-budget curve.
    *
    * Bucketing is the deterministic tie-stable form: every row with the
    * same score lands in the same bucket (bucket = k − ⌊(rank−1)·k/n⌋
    * on the ascending min-rank), unlike SQL NTILE whose within-tie
    * assignment is arbitrary. Scale shape: one [[Ranks.bucketTable]]
    * over the distinct scores (no global window, no join back to the
    * rows); the cumulative window runs over ≤ k bucket rows.
    *
    * @return one row per non-empty bucket: (bucket, n, n_pos, rate,
    *         cum_n, cum_pos, capture, lift), floats rounded to 6;
    *         capture/lift null when the table has no positives */
  def liftTable(df: DataFrame, labelCol: String, scoreCol: String,
                k: Int = 10): DataFrame = {
    require(k >= 2, "need at least 2 buckets")
    import org.apache.spark.sql.expressions.Window
    val y = F.col(labelCol).cast("boolean")
    val (n, cells) = Ranks.bucketTable(df.where(y.isNotNull),
      F.col(scoreCol), k, "n_pos" -> F.when(y, 1L).otherwise(0L))
    require(n > 0L, "no complete rows")
    val agged = cells.select((F.lit(k.toLong) - F.col("__b")).as("bucket"),
      F.col("__c").as("n"), F.col("n_pos"))
    val wCum = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cumN = F.col("cum_n").cast("double")
    val cumP = F.col("cum_pos").cast("double")
    val totN = F.col("__tn").cast("double")
    val totP = F.col("__tp").cast("double")
    agged
      .withColumn("cum_n", F.sum("n").over(wCum))
      .withColumn("cum_pos", F.sum("n_pos").over(wCum))
      .withColumn("__tn", F.sum("n").over(wAll))
      .withColumn("__tp", F.sum("n_pos").over(wAll))
      .withColumn("rate",
        F.round(F.col("n_pos").cast("double") / F.col("n"), 6))
      .withColumn("capture",
        F.when(F.col("__tp") > 0L, F.round(cumP / totP, 6)))
      .withColumn("lift", F.when(F.col("__tp") > 0L,
        F.round((cumP / cumN) / (totP / totN), 6)))
      .select("bucket", "n", "n_pos", "rate", "cum_n", "cum_pos",
        "capture", "lift")
  }

  /** Murphy decomposition of the Brier score over the
    * [[calibrationBins]] partition:
    *
    *   brier       = mean (s − y)²               (exact, per-row),
    *   reliability = Σ n_k/N · (s̄_k − ȳ_k)²     (calibration error),
    *   resolution  = Σ n_k/N · (ȳ_k − ȳ)²       (discrimination),
    *   uncertainty = ȳ(1 − ȳ)
    *
    * — brier ≈ reliability − resolution + uncertainty (exact when
    * scores are constant within bins). This is the number pair a model
    * card wants next to AUC: is the error miscalibration (fixable by
    * [[isotonicCalibrate]]) or lack of resolution (not fixable by any
    * recalibration). ONE row-level aggregation into ≤ `bins` cells;
    * the folds ride windows over the cells.
    *
    * @return one row: (n, brier, reliability, resolution, uncertainty),
    *         rounded to 6 */
  def brierDecomposition(df: DataFrame, labelCol: String,
                         scoreCol: String, bins: Int = 10): DataFrame = {
    require(bins >= 2, "need at least 2 bins")
    val s = F.col(scoreCol).cast("double")
    val y = F.when(F.col(labelCol).cast("boolean"), 1.0).otherwise(0.0)
    val bin = F.least(F.lit(bins - 1), F.greatest(F.lit(0),
      F.floor(s * bins).cast("int")))
    val cells = df
      .where(s.isNotNull && !F.isnan(s) &&
        F.col(labelCol).cast("boolean").isNotNull)
      .groupBy(bin.as("__bin"))
      .agg(F.count(F.lit(1)).as("__nk"), F.sum(s).as("__ss"),
        F.sum(y).as("__sy"),
        F.sum((s - y) * (s - y)).as("__sq"))
    val nD = F.col("__n").cast("double")
    val nk = F.col("__nk").cast("double")
    val ybar = F.col("__ty") / nD
    val mk = F.col("__ss") / nk
    val yk = F.col("__sy") / nk
    import org.apache.spark.sql.expressions.Window
    val wAll = Window.partitionBy()
    cells
      .withColumn("__n", F.sum("__nk").over(wAll))
      .withColumn("__ty", F.sum("__sy").over(wAll))
      .agg(
        F.max("__n").as("n"),
        F.round(F.sum("__sq") / F.max(nD), 6).as("brier"),
        F.round(F.sum(nk * (mk - yk) * (mk - yk)) / F.max(nD), 6)
          .as("reliability"),
        F.round(F.sum(nk * (yk - ybar) * (yk - ybar)) / F.max(nD), 6)
          .as("resolution"),
        F.round(F.max(ybar * (F.lit(1.0) - ybar)), 6).as("uncertainty"))
  }

  /** Calibration table: scores bucketed into `bins` equal-width bins on
    * [0, 1]; per bin the observed positive rate vs the mean predicted
    * score — the reliability-diagram data. ONE aggregation; scores
    * outside [0, 1] are clamped into the end bins (a probability model
    * should not produce them, but a margin-based score can).
    *
    * @return one row per non-empty bin: (bin, n, mean_score, frac_pos),
    *         floats rounded to 6 */
  def calibrationBins(df: DataFrame, labelCol: String, scoreCol: String,
                      bins: Int = 10): DataFrame = {
    require(bins >= 2, "need at least 2 bins")
    val s = F.col(scoreCol).cast("double")
    val y = F.col(labelCol).cast("boolean")
    val bin = F.least(F.lit(bins - 1), F.greatest(F.lit(0),
      F.floor(s * bins).cast("int")))
    df.where(s.isNotNull && !F.isnan(s) && y.isNotNull)
      .groupBy(bin.as("bin")).agg(
        F.count(F.lit(1)).as("n"),
        F.round(F.avg(s), 6).as("mean_score"),
        F.round(F.avg(F.when(y, 1.0).otherwise(0.0)), 6).as("frac_pos"))
  }

  /** Expected calibration error — ONE number for "can I read this
    * score as a probability": the bin-count-weighted mean |observed
    * rate − mean score| over the [[calibrationBins]] grid, plus the
    * worst bin (MCE) and the signed mean gap (net over/under-
    * confidence). Exact integer bin counts; per-bin means fold from
    * the same aggregation as calibrationBins, so the cost is one pass.
    *
    * @return one row: (n, bins_used, ece, mce, signed_gap) */
  def expectedCalibrationError(df: DataFrame, labelCol: String,
                               scoreCol: String,
                               bins: Int = 10): DataFrame = {
    val cells = calibrationBins(df, labelCol, scoreCol, bins)
    val nTot = F.sum(F.col("n")).over(
      org.apache.spark.sql.expressions.Window.partitionBy())
    val w = F.col("n").cast("double") / nTot
    val gap = F.col("frac_pos") - F.col("mean_score")
    cells
      .withColumn("__w", w)
      .withColumn("__gap", gap)
      .agg(F.sum("n").as("n"),
        F.count(F.lit(1)).as("bins_used"),
        F.round(F.sum(F.col("__w") * F.abs(F.col("__gap"))), 6)
          .as("ece"),
        F.round(F.max(F.abs(F.col("__gap"))), 6).as("mce"),
        F.round(F.sum(F.col("__w") * F.col("__gap")), 6)
          .as("signed_gap"))
  }

  /** Average precision (area under the precision–recall curve, step
    * interpolation) per group — the metric that matters where
    * [[aucByGroup]] lies: under heavy class imbalance ROC AUC stays
    * flatteringly high while precision collapses; AP weights exactly
    * the head of the ranking a filter actually acts on.
    *
    * Threshold semantics match scikit-learn's average_precision_score:
    * thresholds at each DISTINCT score, AP = Σ_t ΔRecall_t ·
    * Precision_t with precision taken at the threshold INCLUSIVE of
    * its tie block (ties enter together — no arbitrary intra-tie
    * order, deterministic across engines). Same execution shape as
    * [[aucByGroup]]: per-(group, score) cells, one descending prefix
    * window PARTITIONED by group, one fold.
    *
    * @return one row per group with both classes present:
    *         (groupCols..., avg_precision, n_pos, n_neg)
    */
  def averagePrecisionByGroup(df: DataFrame, groupCols: Seq[String],
                              labelCol: String,
                              scoreCol: String): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    require(!groupCols.exists(_.startsWith("__")),
      "group columns must not use the __ internal prefix")
    import org.apache.spark.sql.expressions.Window
    val gCols = groupCols.map(F.col)
    val s = F.col(scoreCol).cast("double")
    val y = F.col(labelCol).cast("boolean")
    val cells = df
      .where(s.isNotNull && !F.isnan(s) && y.isNotNull)
      .groupBy(gCols :+ s.as("__v"): _*)
      .agg(F.sum(F.when(y, 1L).otherwise(0L)).as("__cp"),
        F.sum(F.when(!y, 1L).otherwise(0L)).as("__cn"))
    val wDesc = Window.partitionBy(gCols: _*).orderBy(F.desc("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells
      .withColumn("__tp", F.sum("__cp").over(wDesc))
      .withColumn("__pred",
        F.sum(F.col("__cp") + F.col("__cn")).over(wDesc))
      .groupBy(gCols: _*)
      .agg(F.sum(F.col("__cp").cast("double") * F.col("__tp") /
          F.col("__pred")).as("__ap_num"),
        F.sum("__cp").as("n_pos"), F.sum("__cn").as("n_neg"))
      .where(F.col("n_pos") > 0L && F.col("n_neg") > 0L)
      .withColumn("avg_precision",
        F.round(F.col("__ap_num") / F.col("n_pos"), 6))
      .select(gCols ++ Seq(F.col("avg_precision"), F.col("n_pos"),
        F.col("n_neg")): _*)
  }

  /** External cluster-agreement scorecard between two label columns —
    * "did the clustering recover the known slices" (kmeans vs lang,
    * near-dup clusters vs source, two snapshot labelings against each
    * other): adjusted Rand index, normalized mutual information and
    * majority-vote purity, all EXACT from the integer contingency
    * cells,
    *
    *   ARI = (Σ C(n_ij,2) − E) / (½[Σ C(a_i,2) + Σ C(b_j,2)] − E),
    *   E   = Σ C(a_i,2)·Σ C(b_j,2) / C(n,2),
    *   NMI = I(A;B) / √(H(A)·H(B)),  purity = Σ_j max_i n_ij / n.
    *
    * Scale shape: ONE (a, b) count aggregation; the cell frame is
    * label-vocabulary-bounded and guarded LOUDLY, then collected and
    * folded driver-side in sorted (a, b) order so every ln-sum
    * replays (the oracle mirrors with ordered list folds). Pair
    * counts stay exact Longs.
    *
    * @return one row: (n, n_cells, ari, nmi, purity) — ari null when
    *         the index degenerates (single cluster both sides), nmi
    *         null when either marginal entropy is zero */
  def clusterAgreement(df: DataFrame, labelColA: String,
                       labelColB: String): DataFrame = Persisted { scope =>
    val spark = df.sparkSession
    import spark.implicits._
    val a = F.col(labelColA).cast("string")
    val b = F.col(labelColB).cast("string")
    val cellsDf = scope.checkpoint(df.where(a.isNotNull && b.isNotNull)
      .groupBy(a.as("__a"), b.as("__b"))
      .agg(F.count(F.lit(1)).as("__c")))
    val nCells = cellsDf.count()
    require(nCells >= 1L, "no doubly-labeled rows")
    // loud guard, not a silent cap: the cells collect to the driver
    require(nCells <= 65536L,
      s"$nCells joint label cells — clusterAgreement is exact on " +
        "bounded label vocabularies; bucket or coarsen the labels " +
        "first")
    val cells = cellsDf.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2))
    val n = cells.map(_._3).sum
    val aM = cells.groupBy(_._1).map { case (k, v) =>
      k -> v.map(_._3).sum }
    val bM = cells.groupBy(_._2).map { case (k, v) =>
      k -> v.map(_._3).sum }
    def c2(x: Long): Long = x * (x - 1L) / 2L
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    val sumC2 = cells.foldLeft(0L)((acc, t) => acc + c2(t._3))
    val a2 = aM.keys.toSeq.sorted.foldLeft(0L)((acc, k) =>
      acc + c2(aM(k)))
    val b2 = bM.keys.toSeq.sorted.foldLeft(0L)((acc, k) =>
      acc + c2(bM(k)))
    val nPairs = c2(n)
    val nD = n.toDouble
    val expected = a2.toDouble * b2 / nPairs
    val maxIdx = (a2.toDouble + b2) / 2.0
    val ari =
      if (maxIdx - expected != 0.0)
        Some(r6((sumC2.toDouble - expected) / (maxIdx - expected)))
      else None
    def entropy(m: Map[String, Long]): Double =
      m.keys.toSeq.sorted.foldLeft(0.0) { (acc, k) =>
        val q = m(k).toDouble / nD
        acc + -q * math.log(q)
      }
    val ha = entropy(aM); val hb = entropy(bM)
    val mi = cells.foldLeft(0.0) { (acc, t) =>
      acc + (t._3.toDouble / nD) *
        math.log(t._3.toDouble * nD / (aM(t._1).toDouble * bM(t._2)))
    }
    val nmi =
      if (ha > 0.0 && hb > 0.0) Some(r6(mi / math.sqrt(ha * hb)))
      else None
    // one grouping pass over the cells (max per b-label), then an ordered
    // fold over the maxima — linear in |cells| instead of |B|×|cells|
    val maxPerB = cells.groupBy(_._2).map { case (k, ts) => k -> ts.map(_._3).max }
    val ps = bM.keys.toSeq.sorted.foldLeft(0L)((acc, k) => acc + maxPerB(k))
    Seq((n, nCells, ari, nmi, r6(ps.toDouble / nD)))
      .toDF("n", "n_cells", "ari", "nmi", "purity")
  }

  /** Mincer–Zarnowitz forecast-calibration regression — "are these
    * forecasts USABLE AS-IS": regress actual on forecast and jointly
    * test (intercept, slope) = (0, 1),
    *
    *   F = ((RSS_r − RSS_u)/2) / (RSS_u/(n−2)),   RSS_r = Σ(y − f)²
    *
    * ~ F(2, n−2) under calibration — d₁ = 2, so the p-value is the
    * closed form (1 + 2F/d₂)^(−d₂/2), no betainc. Rejection says
    * re-scale before consuming (the regression IS the fix: a + b·f).
    * ONE moment aggregation; everything a ratio of the six sums.
    *
    * @return one row: (n, icept, slope, f_stat, p_value, rmse_raw) —
    *         rmse_raw the uncorrected forecast RMSE, 6-rounded */
  def mincerZarnowitz(df: DataFrame, actualCol: String,
                      forecastCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val y = F.col(actualCol).cast("double")
    val f = F.col(forecastCol).cast("double")
    val r = df
      .where(y.isNotNull && !F.isnan(y) && f.isNotNull && !F.isnan(f))
      .agg(F.count(F.lit(1)).as("n"), F.sum(f).as("sx"),
        F.sum(y).as("sy"), F.sum(f * f).as("sxx"),
        F.sum(y * y).as("syy"), F.sum(f * y).as("sxy"))
      .head()
    val n = r.getAs[Long]("n")
    require(n >= 5L, s"need n >= 5 pairs, got $n")
    val nD = n.toDouble
    val sx = r.getAs[Double]("sx"); val sy = r.getAs[Double]("sy")
    val sxx = r.getAs[Double]("sxx"); val syy = r.getAs[Double]("syy")
    val sxy = r.getAs[Double]("sxy")
    val det = nD * sxx - sx * sx
    require(det > 0.0, "constant forecast — no calibration line")
    val b1 = (nD * sxy - sx * sy) / det
    val b0 = (sy * sxx - sx * sxy) / det
    val rssU = syy - (b0 * sy + b1 * sxy)
    // restricted model y = f: RSS_r = sum (y - f)^2
    val rssR = syy - 2.0 * sxy + sxx
    require(rssU > 0.0, "exact fit — F undefined")
    val d2 = nD - 2.0
    val fStat = math.rint(((rssR - rssU) / 2.0) / (rssU / d2) * 1e6) /
      1e6 + 0.0
    val p = math.rint(math.pow(1.0 + 2.0 * math.max(fStat, 0.0) / d2,
      -d2 / 2.0) * 1e6) / 1e6
    def r6(q: Double) = math.rint(q * 1e6) / 1e6 + 0.0
    Seq((n, r6(b0), r6(b1), fStat, p,
      r6(math.sqrt(rssR / nD))))
      .toDF("n", "icept", "slope", "f_stat", "p_value", "rmse_raw")
  }

  /** Rank-biased overlap (Webber et al. 2010) between two ranked
    * retrieval lists per query — compare two RANKERS with no
    * relevance labels (the A/B question [[rankingMetrics]]'s
    * label-based nDCG can't ask): with geometric top-weight p,
    *
    *   RBO@k = (1−p) Σ_{d=1..k} p^{d−1} · |A_{1..d} ∩ B_{1..d}| / d
    *
    * (truncated base form — a lower bound on full RBO; the residual
    * mass beyond k is the caller's tolerance). Computed WITHOUT a
    * depth fan-out: an item first counts at depth m = max(rank_A,
    * rank_B), so its total contribution is the pinned weight
    * W(m) = (1−p)·Σ_{d=m..k} p^{d−1}/d — a k-entry table quantized
    * to 1e−12 and summed as DECIMAL(38,12), bit-replayable. Ranks
    * must be 1-based and dense per query; k ≤ 1000 loud guard.
    *
    * @return one row per query: (queryCol, n_common, overlap_at_k,
    *         rbo) — overlap_at_k = |A_k ∩ B_k|/k, rbo 6-rounded */
  def rboOverlap(dfA: DataFrame, dfB: DataFrame, queryCol: String,
                 idCol: String, rankCol: String, p: Double = 0.9,
                 k: Int = 20): DataFrame = {
    require(p > 0.0 && p < 1.0, "p must be in (0, 1)")
    require(k >= 1 && k <= 1000, "k must be in 1..1000")
    val spark = dfA.sparkSession
    import spark.implicits._
    def side(df: DataFrame, rk: String) = df
      .select(F.col(queryCol).cast("string").as("__q"),
        F.col(idCol).cast("string").as("__id"),
        F.col(rankCol).cast("long").as(rk))
      .where(F.col("__q").isNotNull && F.col("__id").isNotNull &&
        F.col(rk).isNotNull && F.col(rk) >= 1L && F.col(rk) <= k.toLong)
    // pinned weight table: W(m) = (1-p) * sum_{d=m..k} p^(d-1)/d,
    // built from 1e-12-quantized terms, exact-summed high-to-low
    val terms = Array.tabulate(k + 1) { d =>
      if (d == 0) java.math.BigDecimal.ZERO
      else java.math.BigDecimal.valueOf(
        math.rint(math.pow(p, d - 1.0) / d * 1e12) / 1e12)
        .setScale(12, java.math.RoundingMode.HALF_UP)
    }
    val wTable = new Array[Double](k + 2)
    var acc = java.math.BigDecimal.ZERO
    var d = k
    while (d >= 1) {
      acc = acc.add(terms(d))
      wTable(d) = acc.doubleValue()
      d -= 1
    }
    val wDf = (1 to k).map(m => (m.toLong, wTable(m)))
      .toDF("__m", "__w")
    val joined = side(dfA, "__ra").join(side(dfB, "__rb"),
        Seq("__q", "__id"))
      .withColumn("__m", F.greatest(F.col("__ra"), F.col("__rb")))
      .join(F.broadcast(wDf), Seq("__m"))
    joined.groupBy("__q").agg(
      F.count(F.lit(1)).as("n_common"),
      F.round(F.count(F.lit(1)).cast("double") / F.lit(k.toDouble), 6)
        .as("overlap_at_k"),
      F.round(F.lit(1.0 - p) *
        F.sum(F.col("__w").cast("decimal(38,12)")).cast("double"), 6)
        .as("rbo"))
      .select(F.col("__q").as(queryCol), F.col("n_common"),
        F.col("overlap_at_k"), F.col("rbo"))
  }

  /** Lin's concordance correlation coefficient — "do two measurement
    * methods AGREE", not merely correlate (Pearson r is blind to a
    * constant bias or a slope ≠ 1; CCC punishes both):
    *
    *   ρ_c = 2·s_xy / (s_x² + s_y² + (x̄ − ȳ)²)
    *
    * with population moments, plus the decomposition ρ_c = r · C_b
    * (precision × accuracy): C_b < 1 quantifies pure location/scale
    * bias. The acceptance gate when replacing one scoring pipeline
    * with another. ONE moment aggregation, everything a closed form
    * of six sums — bit-replayable.
    *
    * @return one row: (n, ccc, pearson_r, c_b, mean_x, mean_y),
    *         6-rounded */
  def concordanceCcc(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val x = F.col(xCol).cast("double")
    val y = F.col(yCol).cast("double")
    val r = df
      .where(x.isNotNull && !F.isnan(x) && y.isNotNull && !F.isnan(y))
      .agg(F.count(F.lit(1)).as("n"), F.sum(x).as("sx"),
        F.sum(y).as("sy"), F.sum(x * x).as("sxx"),
        F.sum(y * y).as("syy"), F.sum(x * y).as("sxy"))
      .head()
    val n = r.getAs[Long]("n")
    require(n >= 3L, s"need n >= 3 complete pairs, got $n")
    val nD = n.toDouble
    val mx = r.getAs[Double]("sx") / nD
    val my = r.getAs[Double]("sy") / nD
    val vx = r.getAs[Double]("sxx") / nD - mx * mx
    val vy = r.getAs[Double]("syy") / nD - my * my
    val cxy = r.getAs[Double]("sxy") / nD - mx * my
    require(vx > 0.0 && vy > 0.0, "a method is constant — no agreement")
    val ccc = 2.0 * cxy / (vx + vy + (mx - my) * (mx - my))
    val pr = cxy / math.sqrt(vx * vy)
    def r6(v: Double) = math.rint(v * 1e6) / 1e6 + 0.0
    val cb = if (pr == 0.0) Double.NaN else ccc / pr
    require(!cb.isNaN, "zero correlation — C_b undefined")
    Seq((n, r6(ccc), r6(pr), r6(cb), r6(mx), r6(my)))
      .toDF("n", "ccc", "pearson_r", "c_b", "mean_x", "mean_y")
  }

  /** Bland–Altman agreement limits — the clinical-agreement
    * companion to [[concordanceCcc]]: mean difference (bias) and the
    * 95% limits of agreement d̄ ± 1.96·s_d, with the standard
    * SE = s_d·√(3/n) half-widths for the limit estimates. Answers
    * "when the two methods disagree, by HOW MUCH" in the units of
    * the measurement. ONE moment aggregation on d = x − y.
    *
    * @return one row: (n, mean_diff, sd_diff, loa_lo, loa_hi,
    *         loa_halfwidth), 6-rounded */
  def blandAltman(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val x = F.col(xCol).cast("double")
    val y = F.col(yCol).cast("double")
    val d = x - y
    val r = df
      .where(x.isNotNull && !F.isnan(x) && y.isNotNull && !F.isnan(y))
      .agg(F.count(F.lit(1)).as("n"), F.sum(d).as("sd"),
        F.sum(d * d).as("sdd"))
      .head()
    val n = r.getAs[Long]("n")
    require(n >= 3L, s"need n >= 3 complete pairs, got $n")
    val nD = n.toDouble
    val md = r.getAs[Double]("sd") / nD
    val v = (r.getAs[Double]("sdd") - nD * md * md) / (nD - 1.0)
    require(v > 0.0, "identical methods (zero difference variance)")
    val s = math.sqrt(v)
    def r6(q: Double) = math.rint(q * 1e6) / 1e6 + 0.0
    Seq((n, r6(md), r6(s), r6(md - 1.96 * s), r6(md + 1.96 * s),
      r6(1.96 * (s * math.sqrt(3.0 / nD)))))
      .toDF("n", "mean_diff", "sd_diff", "loa_lo", "loa_hi",
        "loa_halfwidth")
  }
}
