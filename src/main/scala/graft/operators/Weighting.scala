package graft.operators

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.expressions.Window

/** Survey-style reweighting for training-data curation: iterative
  * proportional fitting (raking) of a two-way cell table to target
  * marginals — "weight my corpus so the (language, source) mix matches
  * the mix I actually want to train on", the standard post-
  * stratification tool when the joint target is unknown but the
  * margins are policy.
  *
  * Scale shape: ONE (row, col) counting aggregation reduces the data
  * to a cell table bounded by the category cardinalities; the IPF
  * rounds then run as window sums over that tiny frame — the data is
  * touched exactly once regardless of the iteration count, and the
  * fixed-iteration trajectory replays engine-for-engine as chained
  * CTEs (the PageRank/k-means replay pattern).
  */
object Weighting {

  /** Iterative proportional fitting over the (rowCol, colCol) cells:
    * starting from w = 1, each round rescales w to match the row
    * target shares, then the column target shares:
    *
    *   w ← w · tr_r / Σ_c (p·w),   then   w ← w · tc_c / Σ_r (p·w)
    *
    * with p = n_cell / N over the target-covered cells. Fixed `iters`
    * rounds (IPF converges geometrically when every margin is
    * reachable; 8 rounds is plenty for reporting-grade weights).
    * Cells whose row or column value is absent from the targets are
    * EXCLUDED (and excluded from N) — the caller's targets define the
    * population. Weights are rounded to 6 only at the end, so the
    * whole trajectory is plain double arithmetic any engine replays.
    *
    * @param rowTargets (value, share) for rowCol; shares must be
    *        positive and sum to 1 (±1e-6). Same for colTargets.
    * @return one row per observed covered cell: (rowCol, colCol, n,
    *         weight) — multiply a row's example weight by `weight` to
    *         hit the target margins.
    */
  def ipfWeights(df: DataFrame, rowCol: String, colCol: String,
                 rowTargets: Seq[(String, Double)],
                 colTargets: Seq[(String, Double)],
                 iters: Int = 8): DataFrame = {
    require(iters >= 1, "need at least one IPF round")
    def check(t: Seq[(String, Double)], which: String): Unit = {
      require(t.nonEmpty, s"$which targets must be non-empty")
      require(t.forall(_._2 > 0.0), s"$which shares must be positive")
      require(t.map(_._1).distinct.length == t.length,
        s"$which target values must be distinct")
      require(math.abs(t.map(_._2).sum - 1.0) <= 1e-6,
        s"$which shares must sum to 1")
    }
    check(rowTargets, "row"); check(colTargets, "column")
    val spark = df.sparkSession
    import spark.implicits._
    val tr = rowTargets.toDF("__r", "tr")
    val tc = colTargets.toDF("__c", "tc")
    val cells = df
      .where(F.col(rowCol).isNotNull && F.col(colCol).isNotNull)
      .groupBy(F.col(rowCol).cast("string").as("__r"),
        F.col(colCol).cast("string").as("__c"))
      .agg(F.count(F.lit(1)).as("n"))
      .join(F.broadcast(tr), "__r")
      .join(F.broadcast(tc), "__c")
    val wr = Window.partitionBy("__r")
    val wc = Window.partitionBy("__c")
    val nTot = F.sum("n").over(Window.partitionBy())
    var cur = cells
      .withColumn("__p", F.col("n").cast("double") / nTot)
      .withColumn("__w", F.lit(1.0))
    var it = 0
    while (it < iters) {
      cur = cur.withColumn("__w",
        F.col("__w") * F.col("tr") /
          F.sum(F.col("__p") * F.col("__w")).over(wr))
      cur = cur.withColumn("__w",
        F.col("__w") * F.col("tc") /
          F.sum(F.col("__p") * F.col("__w")).over(wc))
      it += 1
    }
    cur.select(F.col("__r").as(rowCol), F.col("__c").as(colCol),
      F.col("n"), F.round(F.col("__w"), 6).as("weight"))
  }

  /** Kish weight diagnostics per group — the acceptance screen for ANY
    * weight column (IPF/raking output, importance weights, inverse-
    * propensity weights): effective sample size and design effect,
    *
    *   ESS = (Σw)² / Σw²,   deff = n / ESS
    *
    * (Kish 1965) plus the weight CV and max/min spread — a deff of 2
    * means the weights threw away half the sample, and a huge spread
    * says a handful of rows dominate every downstream estimate. ONE
    * aggregation; positive weights only (zero/negative weights are
    * excluded and counted separately).
    *
    * @return one row per group: (groupCols…, n, n_nonpos, ess, deff,
    *         cv, max_over_min), doubles 6-rounded */
  def weightDiagnostics(df: DataFrame, groupCols: Seq[String],
                        weightCol: String): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    val w = F.col(weightCol).cast("double")
    val okRow = w.isNotNull && !F.isnan(w) &&
      groupCols.map(F.col(_).isNotNull).reduce(_ && _)
    val pos = w > 0.0
    val agg = df.where(okRow)
      .groupBy(groupCols.map(F.col): _*)
      .agg(F.sum(F.when(pos, 1L).otherwise(0L)).as("n"),
        F.sum(F.when(!pos, 1L).otherwise(0L)).as("n_nonpos"),
        F.sum(F.when(pos, w)).as("__sw"),
        F.sum(F.when(pos, w * w)).as("__sww"),
        F.max(F.when(pos, w)).as("__wmax"),
        F.min(F.when(pos, w)).as("__wmin"))
      .where(F.col("n") >= 1L)
    val ess = F.col("__sw") * F.col("__sw") / F.col("__sww")
    agg.select(groupCols.map(F.col) ++ Seq(F.col("n"),
      F.col("n_nonpos"),
      F.round(ess, 6).as("ess"),
      F.round(F.col("n").cast("double") / ess, 6).as("deff"),
      F.round(F.sqrt(F.greatest(F.col("__sww") / F.col("n") -
        (F.col("__sw") / F.col("n")) * (F.col("__sw") / F.col("n")),
        F.lit(0.0))) /
        (F.col("__sw") / F.col("n")), 6).as("cv"),
      F.round(F.col("__wmax") / F.col("__wmin"), 6).as("max_over_min")): _*)
  }

  /** Entropy balancing (Hainmueller 2012) — exact-moment reweighting
    * of the CONTROL group to the treated group's covariate means: the
    * minimum-KL weights w_i ∝ exp(λ₁x₁ᵢ + λ₂x₂ᵢ) whose weighted
    * control means HIT the treated means exactly, the deterministic
    * alternative to propensity matching (no model, no trimming — one
    * λ per balanced moment). Newton on λ: per round ONE aggregation
    * over controls at the previous 6-ROUNDED λ gives the weighted
    * means m and covariance H, and λ ← λ + H⁻¹(target − m) by the
    * 2×2 Cramer — the [[graft.operators.Regression]] IRLS replay
    * discipline. Degenerate rounds (non-PD H, non-finite sums) raise
    * loudly — standardize wild covariates first.
    *
    * Scale shape: iters+1 full-scan aggregations of codegen'd
    * exp/products — no shuffle beyond a scalar collect per round.
    *
    * @return one row: (n_treat, n_ctrl, lambda1, lambda2, target1,
    *         target2, mean1, mean2, ess) — mean1/mean2 the achieved
    *         weighted control means (≈ targets at convergence), ess
    *         the Kish effective sample size of the weights */
  def entropyBalance(df: DataFrame, treatCol: String, x1Col: String,
                     x2Col: String, iters: Int = 4): DataFrame = Persisted { scope =>
    require(iters >= 1 && iters <= 12, "iters must be in 1..12")
    val spark = df.sparkSession
    import spark.implicits._
    val tr = F.col(treatCol).cast("boolean")
    val x1 = F.col(x1Col).cast("double")
    val x2 = F.col(x2Col).cast("double")
    val clean = scope.cache(df
      .where(tr.isNotNull && x1.isNotNull && !F.isnan(x1) &&
        x2.isNotNull && !F.isnan(x2))
      // the treated-means pass + `iters` Newton rounds + the final ESS
      // pass all aggregate this 3-column projection
      .select(tr.as("__t"), x1.as("__x1"), x2.as("__x2")))
    def r6(v: Double) = math.rint(v * 1e6) / 1e6 + 0.0
    val tRow = clean.where(F.col("__t"))
      .agg(F.count(F.lit(1)).as("n"), F.avg("__x1").as("m1"),
        F.avg("__x2").as("m2")).head()
    val nT = tRow.getAs[Long]("n")
    require(nT >= 2L, s"need >= 2 treated rows, got $nT")
    val t1 = r6(tRow.getAs[Double]("m1"))
    val t2 = r6(tRow.getAs[Double]("m2"))
    val ctrl = clean.where(!F.col("__t"))
    var l1 = 0.0; var l2 = 0.0
    var nC = 0L
    var it = 0
    while (it < iters) {
      val e = F.exp(F.lit(l1) * F.col("__x1") + F.lit(l2) * F.col("__x2"))
      val r = ctrl.agg(
        F.count(F.lit(1)).as("n"),
        F.sum(e).as("se"),
        F.sum(e * F.col("__x1")).as("s1"),
        F.sum(e * F.col("__x2")).as("s2"),
        F.sum(e * F.col("__x1") * F.col("__x1")).as("s11"),
        F.sum(e * F.col("__x2") * F.col("__x2")).as("s22"),
        F.sum(e * F.col("__x1") * F.col("__x2")).as("s12")).head()
      nC = r.getAs[Long]("n")
      require(nC >= 2L, s"need >= 2 control rows, got $nC")
      val se = r.getAs[Double]("se")
      val m1 = r.getAs[Double]("s1") / se
      val m2 = r.getAs[Double]("s2") / se
      val h11 = r.getAs[Double]("s11") / se - m1 * m1
      val h22 = r.getAs[Double]("s22") / se - m2 * m2
      val h12 = r.getAs[Double]("s12") / se - m1 * m2
      val det = h11 * h22 - h12 * h12
      require(java.lang.Double.isFinite(det) && det > 0.0 &&
        java.lang.Double.isFinite(m1) && java.lang.Double.isFinite(m2),
        s"entropy-balance Newton round ${it + 1} degenerate " +
          s"(det=$det) — collinear or wild covariates; standardize " +
          "them first")
      val g1 = t1 - m1
      val g2 = t2 - m2
      l1 = r6(l1 + (h22 * g1 - h12 * g2) / det)
      l2 = r6(l2 + (h11 * g2 - h12 * g1) / det)
      it += 1
    }
    val eF = F.exp(F.lit(l1) * F.col("__x1") + F.lit(l2) * F.col("__x2"))
    val fin = ctrl.agg(
      F.sum(eF).as("se"), F.sum(eF * eF).as("see"),
      F.sum(eF * F.col("__x1")).as("s1"),
      F.sum(eF * F.col("__x2")).as("s2")).head()
    val se = fin.getAs[Double]("se")
    Seq((nT, nC, l1, l2, t1, t2,
      r6(fin.getAs[Double]("s1") / se),
      r6(fin.getAs[Double]("s2") / se),
      r6(se * se / fin.getAs[Double]("see"))))
      .toDF("n_treat", "n_ctrl", "lambda1", "lambda2", "target1",
        "target2", "mean1", "mean2", "ess")
  }
}
