package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, functions => F}
import graft.functions.SpecialMath

/** Distributed regression over sufficient statistics — the modeling
  * complement to [[GroupedFit]]'s distribution fitting.
  *
  * Three shapes, all built on the same principle: the data-sized part of
  * the computation is ONE codegen'd aggregation (or a fixed small number
  * of them), and the only thing that ever reaches the driver is a
  * k×k Gram matrix — never rows.
  *
  *   - [[olsByGroup]]: simple linear regression per group. Slope,
  *     intercept, R², residual variance and the slope's t-statistic are
  *     all exact functions of {n, mean, var_pop, covar_pop}, so a
  *     million groups cost one shuffle on the group key — the "fit a
  *     trend per tenant / per domain / per feature-bucket" workload.
  *   - [[olsFit]]: multiple linear regression (optionally ridge) for a
  *     fixed small feature set. XᵀX and Xᵀy accumulate as k(k+1)/2 + k
  *     plain `sum` columns in one pass; the (k+1)×(k+1) normal-equation
  *     solve happens once on the driver. Exact (not SGD), deterministic,
  *     and the per-row cost is codegen'd column arithmetic.
  *   - [[logisticIrls]]: logistic regression by iteratively reweighted
  *     least squares. Each Newton step is one aggregation producing the
  *     gradient Xᵀ(y−p) and Hessian XᵀWX (W = diag p(1−p)); the driver
  *     solves k×k and broadcasts the updated β inside the next
  *     iteration's column expressions. A fixed iteration count keeps the
  *     result deterministic and the pass count bounded — the standard
  *     distributed-GLM shape (finite passes, no row ever collected),
  *     which is how a quality classifier gets trained ON the cluster at
  *     corpus scale.
  *
  * Reference analogue: the reference stops at distribution fitting; a
  * training-data pipeline also needs conditional models ("does quality
  * predict retention", "score documents by a trained filter") — this is
  * that layer, built scale-first.
  */
object Regression {

  /** Simple (one-regressor) OLS per group in one aggregation.
    *
    * Output: one row per group with n, slope, intercept, r2, resid_var
    * (unbiased, df = n−2), slope_se, t_stat. Groups with n < 3 or zero
    * x-variance are omitted (per-group absence over sentinels, the
    * [[GroupedFit]] convention). Rows where either column is null/NaN
    * are excluded pairwise.
    */
  def olsByGroup(df: DataFrame, yCol: String, xCol: String,
                 groupCols: Seq[String]): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    val x = F.col(xCol).cast("double")
    val y = F.col(yCol).cast("double")
    val clean = df
      .where(x.isNotNull && y.isNotNull && !F.isnan(x) && !F.isnan(y))
      .select(groupCols.map(F.col) :+ x.as("__x") :+ y.as("__y"): _*)
    val agged = clean.groupBy(groupCols.map(F.col): _*).agg(
      F.count(F.lit(1)).as("n"),
      F.avg("__x").as("mx"),
      F.avg("__y").as("my"),
      F.var_pop("__x").as("vx"),
      F.var_pop("__y").as("vy"),
      F.covar_pop("__x", "__y").as("cxy"))
    val n = F.col("n").cast("double")
    val vx = F.col("vx"); val vy = F.col("vy"); val cxy = F.col("cxy")
    val slope = cxy / vx
    val intercept = F.col("my") - slope * F.col("mx")
    // r² = ρ² = c²/(vx·vy); residual SS = n·vy·(1−r²); σ̂² uses df n−2
    val r2 = (cxy * cxy) / (vx * vy)
    val residVar = n * vy * (F.lit(1.0) - r2) / (n - 2.0)
    val slopeSe = F.sqrt(residVar / (n * vx))
    agged
      .where(F.col("n") >= 3 && vx > 0.0 && vy > 0.0)
      .select(groupCols.map(F.col) :+ F.col("n") :+
        slope.as("slope") :+ intercept.as("intercept") :+ r2.as("r2") :+
        residVar.as("resid_var") :+ slopeSe.as("slope_se") :+
        (slope / slopeSe).as("t_stat"): _*)
  }

  /** Weighted OLS per group — [[olsByGroup]] under row weights, the
    * fit that belongs downstream of [[graft.operators.Weighting
    * .ipfWeights]]/[[graft.operators.Features.targetEncode]]-style
    * reweighting ("the trend in the corpus AS IF it matched the
    * target mix"). Weighted central moments from explicit Σw, Σwx,
    * Σwxy sums (ONE aggregation, any group count):
    *
    *   β₁ = Σw(x−x̄w)(y−ȳw) / Σw(x−x̄w)²,  β₀ = ȳw − β₁·x̄w
    *
    * Frequency-weight convention for r² (the same ratio algebra on
    * weighted moments). Rows with null/NaN/negative weight are
    * excluded; zero-weight rows contribute nothing.
    *
    * @return one row per group: (groupCols..., n, w_sum, slope,
    *         intercept, r2) */
  def olsByGroupWeighted(df: DataFrame, yCol: String, xCol: String,
                         weightCol: String,
                         groupCols: Seq[String]): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    val x = F.col(xCol).cast("double")
    val y = F.col(yCol).cast("double")
    val w = F.col(weightCol).cast("double")
    val clean = df
      .where(x.isNotNull && !F.isnan(x) && y.isNotNull && !F.isnan(y) &&
        w.isNotNull && !F.isnan(w) && w >= 0.0)
      .select(groupCols.map(F.col) :+ x.as("__x") :+ y.as("__y") :+
        w.as("__w"): _*)
    val agged = clean.groupBy(groupCols.map(F.col): _*).agg(
      F.count(F.lit(1)).as("n"),
      F.sum("__w").as("sw"),
      F.sum(F.col("__w") * F.col("__x")).as("swx"),
      F.sum(F.col("__w") * F.col("__y")).as("swy"),
      F.sum(F.col("__w") * F.col("__x") * F.col("__x")).as("swxx"),
      F.sum(F.col("__w") * F.col("__y") * F.col("__y")).as("swyy"),
      F.sum(F.col("__w") * F.col("__x") * F.col("__y")).as("swxy"))
    val sw = F.col("sw")
    val mx = F.col("swx") / sw; val my = F.col("swy") / sw
    val vx = F.col("swxx") / sw - mx * mx
    val vy = F.col("swyy") / sw - my * my
    val cxy = F.col("swxy") / sw - mx * my
    val slope = cxy / vx
    val r2 = (cxy * cxy) / (vx * vy)
    agged
      .where(F.col("n") >= 3L && sw > 0.0 && vx > 0.0 && vy > 0.0)
      .select(groupCols.map(F.col) ++ Seq(F.col("n"),
        F.round(sw, 6).as("w_sum"), F.round(slope, 6).as("slope"),
        F.round(my - slope * mx, 6).as("intercept"),
        F.round(r2, 6).as("r2")): _*)
  }

  /** TWO-feature OLS per group, still ONE aggregation: with centered
    * moments the 3×3 normal equations collapse to a 2×2 Cramer solve in
    * plain column arithmetic —
    *
    *   [vx1 c12; c12 vx2]·(β₁,β₂) = (c1y, c2y),  β₀ = ȳ − β₁x̄₁ − β₂x̄₂
    *
    * so "regress y on two drivers per tenant" scales to 10⁶ groups like
    * [[olsByGroup]]. Groups with n < 4, a zero-variance feature, zero
    * y-variance, or (near-)collinear features (1−ρ² ≤ 1e−12) are
    * omitted. R² = (β₁·c1y + β₂·c2y)/vy; resid_var uses df = n−3.
    */
  def olsByGroup2(df: DataFrame, yCol: String, x1Col: String,
                  x2Col: String, groupCols: Seq[String]): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    val x1 = F.col(x1Col).cast("double")
    val x2 = F.col(x2Col).cast("double")
    val y = F.col(yCol).cast("double")
    val ok = Seq(x1, x2, y).map(c => c.isNotNull && !F.isnan(c)).reduce(_ && _)
    val clean = df.where(ok).select(
      groupCols.map(F.col) :+ x1.as("__x1") :+ x2.as("__x2") :+ y.as("__y"): _*)
    val agged = clean.groupBy(groupCols.map(F.col): _*).agg(
      F.count(F.lit(1)).as("n"),
      F.avg("__x1").as("m1"), F.avg("__x2").as("m2"), F.avg("__y").as("my"),
      F.var_pop("__x1").as("v1"), F.var_pop("__x2").as("v2"),
      F.var_pop("__y").as("vy"),
      F.covar_pop("__x1", "__x2").as("c12"),
      F.covar_pop("__x1", "__y").as("c1y"),
      F.covar_pop("__x2", "__y").as("c2y"))
    val n = F.col("n").cast("double")
    val v1 = F.col("v1"); val v2 = F.col("v2"); val vy = F.col("vy")
    val c12 = F.col("c12"); val c1y = F.col("c1y"); val c2y = F.col("c2y")
    val det = v1 * v2 - c12 * c12
    val b1 = (v2 * c1y - c12 * c2y) / det
    val b2 = (v1 * c2y - c12 * c1y) / det
    val b0 = F.col("my") - b1 * F.col("m1") - b2 * F.col("m2")
    val r2 = (b1 * c1y + b2 * c2y) / vy
    val residVar = n * vy * (F.lit(1.0) - r2) / (n - 3.0)
    agged
      .where(F.col("n") >= 4 && v1 > 0.0 && v2 > 0.0 && vy > 0.0 &&
        det > v1 * v2 * 1e-12)
      .select(groupCols.map(F.col) :+ F.col("n") :+ b0.as("intercept") :+
        b1.as("b1") :+ b2.as("b2") :+ r2.as("r2") :+
        residVar.as("resid_var"): _*)
  }

  /** Pearson correlation matrix per group, long form — the EDA
    * companion to [[olsByGroup]]: all k(k−1)/2 pairwise correlations of
    * a fixed column list in ONE aggregation (a covar_pop column per
    * pair + a stddev_pop per column; r assembled in the projection so a
    * zero-variance column yields an OMITTED pair, not ANSI-mode's
    * divide-by-zero). Rows are completed LISTWISE (any null/NaN value
    * column drops the row) so every pair sees the same population.
    * Scales to 10⁶ groups on one group-key shuffle.
    *
    * @return one row per (group, i<j pair): (groupCols..., col_a,
    *         col_b, r, n), r rounded to 6 */
  def corrByGroup(df: DataFrame, groupCols: Seq[String],
                  valueCols: Seq[String]): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    require(valueCols.length >= 2, "need at least two value columns")
    val vals = valueCols.map(c => F.col(c).cast("double"))
    val complete = vals.map(c => c.isNotNull && !F.isnan(c)).reduce(_ && _)
    val clean = df.where(complete)
    val pairs = for {
      i <- valueCols.indices; j <- (i + 1) until valueCols.length
    } yield (i, j)
    val aggCols =
      pairs.map { case (i, j) =>
        F.covar_pop(vals(i), vals(j)).as(s"__c${i}_$j")
      } ++ valueCols.indices.map(i => F.stddev_pop(vals(i)).as(s"__s$i")) :+
      F.count(F.lit(1)).as("__n")
    val agged = clean.groupBy(groupCols.map(F.col): _*)
      .agg(aggCols.head, aggCols.tail: _*)
    val longForm = pairs.map { case (i, j) =>
      val r = F.when(F.col(s"__s$i") > 0.0 && F.col(s"__s$j") > 0.0,
        F.round(F.col(s"__c${i}_$j") /
          (F.col(s"__s$i") * F.col(s"__s$j")), 6))
      F.struct(F.lit(valueCols(i)).as("col_a"),
        F.lit(valueCols(j)).as("col_b"), r.as("r"))
    }
    agged
      .select(groupCols.map(F.col) :+ F.col("__n") :+
        F.explode(F.array(longForm: _*)).as("__p"): _*)
      .where(F.col("__p.r").isNotNull)
      .select(groupCols.map(F.col) :+ F.col("__p.col_a").as("col_a") :+
        F.col("__p.col_b").as("col_b") :+ F.col("__p.r").as("r") :+
        F.col("__n").as("n"): _*)
  }

  /** Pearson correlation with the Fisher-z confidence band per group —
    * [[corrByGroup]] gives the point estimate; this answers "is that
    * r = 0.3 real, given this segment has 40 rows":
    *
    *   z_r = atanh(r),  CI = tanh(z_r ± z/√(n−3)),
    *   p   = erfc(|z_r|·√(n−3)/√2)   (two-sided, r = 0 null)
    *
    * atanh/tanh expand to their ln/exp forms so any engine replays
    * them; r comes from explicit raw moments (ONE aggregation), p is
    * evaluated at the 6-rounded test statistic. Groups with n ≤ 3 or
    * zero variance (or |r| = 1, where the band degenerates) are
    * omitted.
    *
    * @return one row per group: (groupCols..., n, r, ci_lo, ci_hi,
    *         p_value) */
  def corrCiByGroup(df: DataFrame, groupCols: Seq[String],
                    xCol: String, yCol: String,
                    z: Double = 1.959964): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    val x = F.col(xCol).cast("double")
    val y = F.col(yCol).cast("double")
    val clean = df.where(x.isNotNull && !F.isnan(x) &&
      y.isNotNull && !F.isnan(y))
    val agged = clean.groupBy(groupCols.map(F.col): _*).agg(
      F.count(F.lit(1)).as("n"),
      F.sum(x).as("sx"), F.sum(y).as("sy"),
      F.sum(x * x).as("sxx"), F.sum(y * y).as("syy"),
      F.sum(x * y).as("sxy"))
    val n = F.col("n").cast("double")
    val mx = F.col("sx") / n; val my = F.col("sy") / n
    val vx = F.col("sxx") / n - mx * mx
    val vy = F.col("syy") / n - my * my
    val cxy = F.col("sxy") / n - mx * my
    val r = cxy / F.sqrt(vx * vy)
    val zr = F.lit(0.5) * F.log((F.lit(1.0) + r) / (F.lit(1.0) - r))
    val se = F.lit(1.0) / F.sqrt(n - 3.0)
    def tanh(u: org.apache.spark.sql.Column) = {
      val e = F.exp(u * 2.0)
      (e - 1.0) / (e + 1.0)
    }
    val stat = F.round(F.abs(zr) * F.sqrt(n - 3.0), 6)
    val pUdf = F.udf((s: Double) => math.rint(graft.functions
      .SpecialMath.erfc(s / math.sqrt(2.0)) * 1e6) / 1e6)
    agged
      .where(F.col("n") > 3L && vx > 0.0 && vy > 0.0 &&
        F.abs(r) < 1.0)
      .select(groupCols.map(F.col) ++ Seq(F.col("n"),
        F.round(r, 6).as("r"),
        F.round(tanh(zr - F.lit(z) * se), 6).as("ci_lo"),
        F.round(tanh(zr + F.lit(z) * se), 6).as("ci_hi"),
        pUdf(stat).as("p_value")): _*)
  }

  /** Partial correlation per group — the confound killer: r_xy·z is
    * what's left of corr(x, y) after linearly removing a control z
    * from both ("do price and discount still correlate within a
    * quantity level?"):
    *
    *   r_xy·z = (r_xy − r_xz·r_yz) / √((1 − r_xz²)(1 − r_yz²))
    *
    * All three pairwise correlations come from ONE aggregation of
    * explicit raw moments (Σx, Σx², Σxy... — listwise-complete rows),
    * so a million groups cost one shuffle and an external engine
    * replays the algebra exactly. Groups where any variance is zero or
    * a control correlation is ±1 are omitted (the partial is undefined
    * there).
    *
    * @return one row per group: (groupCols..., n, r_xy, r_xy_z),
    *         rounded to 6 */
  def partialCorrByGroup(df: DataFrame, groupCols: Seq[String],
                         xCol: String, yCol: String,
                         zCol: String): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    val x = F.col(xCol).cast("double")
    val y = F.col(yCol).cast("double")
    val z = F.col(zCol).cast("double")
    val complete = Seq(x, y, z)
      .map(c => c.isNotNull && !F.isnan(c)).reduce(_ && _)
    val agged = df.where(complete)
      .groupBy(groupCols.map(F.col): _*)
      .agg(F.count(F.lit(1)).as("n"),
        F.sum(x).as("__sx"), F.sum(y).as("__sy"), F.sum(z).as("__sz"),
        F.sum(x * x).as("__sxx"), F.sum(y * y).as("__syy"),
        F.sum(z * z).as("__szz"), F.sum(x * y).as("__sxy"),
        F.sum(x * z).as("__sxz"), F.sum(y * z).as("__syz"))
    val nD = F.col("n").cast("double")
    def varOf(s: String, ss: String) =
      nD * F.col(ss) - F.col(s) * F.col(s)
    def covOf(sa: String, sb: String, sab: String) =
      nD * F.col(sab) - F.col(sa) * F.col(sb)
    val (vx, vy, vz) = (varOf("__sx", "__sxx"), varOf("__sy", "__syy"),
      varOf("__sz", "__szz"))
    val rxy = covOf("__sx", "__sy", "__sxy") / F.sqrt(vx * vy)
    val rxz = covOf("__sx", "__sz", "__sxz") / F.sqrt(vx * vz)
    val ryz = covOf("__sy", "__sz", "__syz") / F.sqrt(vy * vz)
    val denom = (F.lit(1.0) - rxz * rxz) * (F.lit(1.0) - ryz * ryz)
    agged
      .where(vx > 0.0 && vy > 0.0 && vz > 0.0)
      .withColumn("__den", denom)
      .where(F.col("__den") > 0.0)
      .withColumn("r_xy", F.round(rxy, 6))
      .withColumn("r_xy_z",
        F.round((rxy - rxz * ryz) / F.sqrt(F.col("__den")), 6))
      .select(groupCols.map(F.col) ++ Seq(F.col("n"), F.col("r_xy"),
        F.col("r_xy_z")): _*)
  }

  /** A fitted model's linear predictor β₀ + Σ xᵢ·βᵢ₊₁ as a codegen'd
    * column, β aligned to `"intercept" +: xCols`. */
  private[operators] def linearPredictor(xCols: Seq[String],
                                         beta: Array[Double]): Column =
    xCols.zipWithIndex.foldLeft(F.lit(beta(0))) { case (acc, (c, i)) =>
      acc + F.col(c).cast("double") * beta(i + 1)
    }

  private def valid(c: Column): Column = c.isNotNull && !F.isnan(c)

  /** The fixed-step Newton substrate of the GLM fits. A fit is a loan
    * over its design: rows with a null/NaN feature or response, or a
    * response outside `domain`, are dropped listwise; the projection
    * onto the feature and response columns is cached ([[Persisted]]),
    * because every step re-aggregates it (each pass after the first
    * reads the columnar cache instead of re-running the scan and any
    * upstream exchange).
    *
    * Each Newton step is ONE aggregation (`Design.step`): the upper
    * triangle of the weighted Gram Σ w·fᵢ·fⱼ and the k gradient sums
    * Σ grad(fᵢ), with the current β folded into `w` and `grad` as plan
    * literals (a block-diagonal fit passes one (w, grad) block per
    * class), plus any extra aggregates. The driver unpacks the
    * symmetric matrix and solves k×k (`newton`). So a fit costs a
    * fixed number of Spark jobs, independent of data size, and no row
    * reaches the driver. `yType = "string"` keeps a class label as is. */
  private def withDesign[A](df: DataFrame, yCol: String, xCols: Seq[String],
                            domain: Column => Column = _ => F.lit(true),
                            yType: String = "double")
                           (body: Design => A): A = {
    val y = F.col(yCol).cast(yType)
    val ok = xCols.map(c => valid(F.col(c).cast("double"))).reduce(_ && _) &&
      (if (yType == "double") valid(y) else y.isNotNull) && domain(y)
    Persisted { scope =>
      body(new Design(scope.cache(df.where(ok)
        .select((xCols :+ yCol).distinct.map(F.col): _*)), y, xCols))
    }
  }

  /** The design a fixed-step GLM fit iterates over: the persisted clean
    * projection, the response `y`, and `feats` = intercept +: features. */
  private final class Design(val clean: DataFrame, val y: Column,
                             xCols: Seq[String]) {
    val feats: Seq[Column] =
      F.lit(1.0) +: xCols.map(c => F.col(c).cast("double"))
    val k: Int = feats.length

    /** β with `b0` as the intercept and zero slopes. */
    def start(b0: Double): Array[Double] =
      Array.tabulate(k)(i => if (i == 0) b0 else 0.0)

    /** The linear predictor Σ fᵢ·βᵢ, β folded in as plan literals. */
    def eta(beta: Array[Double]): Column =
      feats.zipWithIndex.foldLeft(F.lit(0.0)) {
        case (acc, (f, i)) => acc + f * beta(i)
      }

    /** One aggregation of the clean projection. */
    def agg(cols: Column*): Row = clean.agg(cols.head, cols.tail: _*).head()

    /** One Newton step's aggregation: Σ w·fᵢ·fⱼ and Σ grad(fᵢ). */
    def step(w: Column, grad: Column => Column,
             extra: Column*): (Array[Array[Double]], Array[Double], Row) = {
      val (hs, gs, r) = steps(Seq(w), Seq(grad), extra: _*)
      (hs.head, gs.head, r)
    }

    /** Several weights and gradient summands in that one aggregation. */
    def steps(ws: Seq[Column], grads: Seq[Column => Column], extra: Column*)
        : (Seq[Array[Array[Double]]], Seq[Array[Double]], Row) =
      gramStep(clean, feats, ws, grads, extra)
  }

  /** One aggregation of `frame`: for each weight w the upper triangle of
    * Σ w·fᵢ·fⱼ, for each gradient summand the k sums Σ grad(fᵢ), then
    * `extra`. Returns the symmetric matrices, the vectors and the row. */
  private def gramStep(frame: DataFrame, feats: Seq[Column], ws: Seq[Column],
                       grads: Seq[Column => Column], extra: Seq[Column])
      : (Seq[Array[Array[Double]]], Seq[Array[Double]], Row) = {
    val k = feats.length
    val cols = ws.indices.flatMap { b =>
      for { i <- 0 until k; j <- i until k }
        yield F.sum(ws(b) * feats(i) * feats(j)).as(s"h_${b}_${i}_$j")
    } ++ grads.indices.flatMap { b =>
      (0 until k).map(i => F.sum(grads(b)(feats(i))).as(s"g_${b}_$i"))
    } ++ extra
    val r = frame.agg(cols.head, cols.tail: _*).head()
    val hs = ws.indices.map { b =>
      val h = Array.ofDim[Double](k, k)
      for { i <- 0 until k; j <- i until k } {
        h(i)(j) = r.getAs[Double](s"h_${b}_${i}_$j"); h(j)(i) = h(i)(j)
      }
      h
    }
    (hs, grads.indices.map(b =>
      Array.tabulate(k)(i => r.getAs[Double](s"g_${b}_$i"))), r)
  }

  /** The Newton update β + h⁻¹g. */
  private def newton(beta: Array[Double], h: Array[Array[Double]],
                     g: Array[Double]): Array[Double] = {
    val delta = solve(h, g)
    Array.tabulate(beta.length)(i => beta(i) + delta(i))
  }

  /** A fitted linear model: coefficient vector aligned to
    * `"intercept" +: features`, plus fit diagnostics. */
  final case class LinearModel(features: Seq[String], beta: Array[Double],
                               n: Long, r2: Double) {
    /** The model's prediction as a codegen'd column over `df`'s columns. */
    def predict: Column = linearPredictor(features, beta)
    def toDf(spark: org.apache.spark.sql.SparkSession): DataFrame = {
      import spark.implicits._
      ("intercept" +: features).zip(beta.toSeq).toDF("feature", "coef")
    }
  }

  /** Multiple linear regression (ridge when `lambda > 0`) via one
    * Gram-matrix aggregation + a driver-side (k+1)×(k+1) solve.
    *
    * The intercept is always included and never penalized. Rows with any
    * null/NaN feature or label are excluded listwise. Exact normal
    * equations — deterministic up to float summation order.
    */
  def olsFit(df: DataFrame, yCol: String, xCols: Seq[String],
             lambda: Double = 0.0): LinearModel = {
    require(xCols.nonEmpty, "need at least one feature")
    val k = xCols.length + 1 // + intercept
    val feats = F.lit(1.0) +: xCols.map(c => F.col(c).cast("double"))
    val y = F.col(yCol).cast("double")
    val ok = (xCols.map(F.col(_).cast("double")) :+ y).map(valid)
      .reduce(_ && _)
    // XᵀX and Xᵀy, then Σy, Σy², n
    val (Seq(xtx), Seq(xty), r) = gramStep(df.where(ok), feats,
      Seq(F.lit(1.0)), Seq(f => f * y), Seq(F.sum(y).as("sy"),
        F.sum(y * y).as("syy"), F.count(F.lit(1)).as("n")))
    val n = r.getAs[Long]("n")
    require(n > k, s"need more than $k rows, got $n")
    val a = xtx.map(_.clone)
    if (lambda > 0.0) (1 until k).foreach(i => a(i)(i) += lambda)
    val beta = solve(a, xty)
    // R² from the same pass: SSR = Σy² − 2βᵀXᵀy + βᵀXᵀXβ, SST = Σy² − n·ȳ²
    val ssr = r.getAs[Double]("syy") -
      2.0 * dot(beta, xty) + dot(beta, matVec(xtx, beta))
    val sy = r.getAs[Double]("sy")
    val sst = r.getAs[Double]("syy") - sy * sy / n
    LinearModel(xCols, beta, n, if (sst > 0) 1.0 - ssr / sst else 0.0)
  }

  /** A fitted logistic model: β aligned to `"intercept" +: features`,
    * final-β log-likelihood, row count, and the fixed iteration count. */
  final case class LogisticModel(features: Seq[String], beta: Array[Double],
                                 logLik: Double, n: Long, iterations: Int) {
    /** P(y=1 | x) as a codegen'd column (the quality-scorer surface). */
    def score: Column =
      F.lit(1.0) / (F.lit(1.0) + F.exp(-linearPredictor(features, beta)))
  }

  /** Logistic regression by IRLS / Newton with a FIXED iteration count.
    *
    * β starts at 0 (so pass 1 sees p = ½ exactly); each of the `iters`
    * passes aggregates gradient and Hessian as plain sums with the
    * current β folded into the column expressions (broadcast by value —
    * it is just literals in the plan), and one final pass evaluates the
    * log-likelihood at the final β. Total jobs: iters + 1, independent
    * of data size; no row data ever reaches the driver.
    *
    * `lambda` adds an L2 penalty (intercept exempt) to the Hessian and
    * gradient — the standard stabilizer for separable data. Fixed
    * `iters` (Newton converges quadratically; 4–8 is plenty for k ≤ 10)
    * keeps the output deterministic and SQL-replayable.
    */
  def logisticIrls(df: DataFrame, labelCol: String, xCols: Seq[String],
                   iters: Int = 6, lambda: Double = 0.0): LogisticModel = {
    require(xCols.nonEmpty, "need at least one feature")
    require(iters >= 1, "need at least one IRLS iteration")
    withDesign(df, labelCol, xCols) { d =>
      val (beta, n) = (0 until iters).foldLeft((d.start(0.0), 0L)) {
        case ((beta, _), _) =>
          val p = F.lit(1.0) / (F.lit(1.0) + F.exp(-d.eta(beta)))
          val (h, g, r) = d.step(p * (F.lit(1.0) - p), f => (d.y - p) * f,
            F.count(F.lit(1)).as("n"))
          if (lambda > 0.0) (1 until d.k).foreach { i =>
            h(i)(i) += lambda; g(i) -= lambda * beta(i)
          }
          (newton(beta, h, g), r.getAs[Long]("n"))
      }
      // final log-likelihood at the FINAL β: ll = Σ [y·z − ln(1+eᶻ)],
      // written with log1p-style guard via the stable two-branch form
      val zF = d.eta(beta)
      // ln(1+e^z) = max(z,0) + ln(1+e^{−|z|}) — no overflow either side
      val softplus = F.greatest(zF, F.lit(0.0)) +
        F.log(F.lit(1.0) + F.exp(-F.abs(zF)))
      val ll = d.agg(F.sum(d.y * zF - softplus).as("ll")).getAs[Double]("ll")
      LogisticModel(xCols, beta, ll, n, iters)
    }
  }

  /** A fitted multinomial (softmax) logistic model: `classes` sorted
    * ascending with the LAST as the zero-β reference; `beta(c)` aligned
    * to `"intercept" +: features` for class `classes(c)`, c < K−1. */
  final case class SoftmaxModel(features: Seq[String], classes: Seq[String],
                                beta: Array[Array[Double]], logLik: Double,
                                n: Long, iterations: Int) {
    private def z(c: Int): Column = linearPredictor(features, beta(c))
    /** P(y = classes(c) | x) as a codegen'd column. */
    def score(c: Int): Column = {
      val denom = (0 until classes.length - 1)
        .foldLeft(F.lit(1.0))((acc, j) => acc + F.exp(z(j)))
      if (c == classes.length - 1) F.lit(1.0) / denom
      else F.exp(z(c)) / denom
    }
    /** argmax class as a codegen'd column; ties break toward the
      * earliest class in ascending order (the reference class last) —
      * the exact ladder the SQL replay uses. */
    def predictClass: Column = {
      val zs = (0 until classes.length - 1).map(z) :+ F.lit(0.0)
      val m = F.greatest(zs: _*)
      (0 until classes.length - 1)
        .foldLeft(Option.empty[Column]) { (acc, c) =>
          val w = F.when(zs(c) === m, F.lit(classes(c)))
          Some(acc.fold(w)(a => a.when(zs(c) === m, F.lit(classes(c)))))
        }.get.otherwise(F.lit(classes.last))
    }
  }

  /** Multinomial (softmax) logistic regression by BLOCK-DIAGONAL Newton
    * with a FIXED iteration count — [[logisticIrls]] generalized to K
    * classes, the multi-class quality/domain/language router shape.
    *
    * The last class (ascending order) is the reference with β ≡ 0; each
    * of the `iters` passes aggregates, for every non-reference class c,
    * the class-block gradient Xᵀ(y_c − p_c) and the DIAGONAL Hessian
    * block Xᵀ diag(p_c(1−p_c)) X as ONE aggregation with the current β
    * folded in as plan literals, then solves K−1 independent (k+1)×(k+1)
    * systems on the driver. Dropping the cross-class blocks is the
    * standard bounded-curvature step (each diagonal block dominates its
    * row in the exact Hessian, cf. Böhning 1992's multinomial lower
    * bound), so the iteration is a convergent ascent — slightly slower
    * per step than full Newton but identical fixed point, and each
    * block update replays as a closed-form solve in SQL.
    *
    * β is 6-ROUNDED after every step: that is the replay contract — the
    * oracle's chained CTEs propagate exactly the same rounded trajectory,
    * so cross-engine exp/sum ULP wobble is clipped every pass instead of
    * compounding. Total jobs: 1 (class discovery) + iters + 1 (final
    * log-likelihood), independent of data size; no row data reaches the
    * driver. `lambda` adds an L2 penalty (intercept exempt).
    *
    * Features should be standardized/bounded upstream — the linear
    * predictors go through a plain exp (no max-shift), which is exact
    * for the bounded-feature regime this targets and keeps the SQL
    * replay one expression. */
  def softmaxIrls(df: DataFrame, labelCol: String, xCols: Seq[String],
                  iters: Int = 4, lambda: Double = 0.0): SoftmaxModel = {
    require(xCols.nonEmpty, "need at least one feature")
    require(iters >= 1, "need at least one Newton iteration")
    withDesign(df, labelCol, xCols, yType = "string") { d =>
      val classes = d.clean.select(d.y.as("__y")).distinct()
        .orderBy("__y").collect().map(_.getString(0)).toSeq
      require(classes.length >= 2, "need at least two classes")
      require(classes.length <= 16,
        s"${classes.length} classes: softmaxIrls is a small-K router " +
          "(<= 16); bucket the label upstream")
      val kc = classes.length - 1 // non-reference class count
      def r6(x: Double) = math.rint(x * 1e6) / 1e6
      def finite(v: Double) = !v.isNaN && !v.isInfinite
      def denomOf(zs: Seq[Column]) =
        zs.foldLeft(F.lit(1.0))((acc, z) => acc + F.exp(z))
      val (beta, n) =
        (0 until iters).foldLeft((Array.fill(kc)(d.start(0.0)), 0L)) {
          case ((beta, _), it) =>
            val zs = beta.toSeq.map(d.eta)
            val denom = denomOf(zs)
            val ps = zs.map(z => F.exp(z) / denom)
            val (hs, gs, r) = d.steps(ps.map(p => p * (F.lit(1.0) - p)),
              (0 until kc).map { c =>
                val yc = (d.y === classes(c)).cast("double")
                (f: Column) => (yc - ps(c)) * f
              }, F.count(F.lit(1)).as("n"))
            (Array.tabulate(kc) { c =>
              val (h, g) = (hs(c), gs(c))
              if (lambda > 0.0) (1 until d.k).foreach { i =>
                h(i)(i) += lambda; g(i) -= lambda * beta(c)(i)
              }
              // enforce the bounded-feature contract loudly:
              // unstandardized features overflow exp()/x² → Inf/NaN
              // sufficient statistics → NaN β that would otherwise ride
              // silently through the remaining fixed Newton steps
              require(h.forall(_.forall(finite)) && g.forall(finite),
                s"softmaxIrls hit a non-finite Gram/gradient for class " +
                  s"'${classes(c)}' at iteration ${it + 1} — the linear " +
                  "predictor overflowed exp() (or x² overflowed); " +
                  "standardize or bound the features upstream (the " +
                  "documented contract)")
              val nb = newton(beta(c), h, g).map(r6)
              require(nb.forall(finite),
                s"softmaxIrls produced a non-finite beta for class " +
                  s"'${classes(c)}' at iteration ${it + 1}; standardize " +
                  "or bound the features upstream (the documented " +
                  "contract)")
              nb
            }, r.getAs[Long]("n"))
        }
      // final multinomial log-likelihood at the final rounded β:
      // ll = Σ [z_y − ln(1 + Σ_c exp(z_c))], z_ref ≡ 0
      val zsF = beta.toSeq.map(d.eta)
      val zy = (0 until kc).foldLeft(F.lit(0.0))((acc, c) =>
        acc + F.when(d.y === classes(c), zsF(c)).otherwise(F.lit(0.0)))
      val ll = d.agg(F.sum(zy - F.log(denomOf(zsF))).as("ll"))
        .getAs[Double]("ll")
      SoftmaxModel(xCols, classes, beta, ll, n, iters)
    }
  }

  /** PRESS and leave-one-out cross-validation for simple regression —
    * honest generalization error WITHOUT refitting n models: with
    * leverage hᵢ = 1/n + (xᵢ−x̄)²/Sxx the LOO residual is eᵢ/(1−hᵢ)
    * exactly, so
    *
    *   PRESS = Σ (eᵢ/(1−hᵢ))²,   R²_pred = 1 − PRESS/SST
    *
    * — the overfitting readout next to in-sample R² (R²_pred ≪ R²
    * means the fit memorizes). Two aggregations (moments, then the
    * leverage-weighted residual pass at the 6-rounded β); no row
    * collected. The raw PRESS sum is scale-cubed and reduce-order
    * noisy, so the SCALE-STABLE derived metrics report instead
    * (rmse_loocv, the two R²s).
    *
    * @return one row: (n, beta0, beta1, rmse_loocv, r2, r2_pred)
    *         rounded to 6 */
  def pressStatistic(df: DataFrame, yCol: String,
                     xCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val x = F.col(xCol).cast("double")
    val y = F.col(yCol).cast("double")
    val ok = Seq(x, y).map(c => c.isNotNull && !F.isnan(c))
      .reduce(_ && _)
    val m = df.where(ok).agg(
      F.count(F.lit(1)).as("n"), F.sum(x).as("sx"),
      F.sum(x * x).as("sxx"), F.sum(y).as("sy"),
      F.sum(y * y).as("syy"), F.sum(x * y).as("sxy")).head()
    val n = m.getAs[Long]("n")
    require(n > 3L, "need more than 3 rows")
    val nD = n.toDouble
    val sx = m.getAs[Double]("sx"); val sxx = m.getAs[Double]("sxx")
    val sy = m.getAs[Double]("sy"); val syy = m.getAs[Double]("syy")
    val sxy = m.getAs[Double]("sxy")
    val sxxC = sxx - sx * sx / nD
    require(sxxC > 0.0, "constant feature")
    def r6(v: Double) = math.rint(v * 1e6) / 1e6
    val b1 = r6((nD * sxy - sx * sy) / (nD * sxx - sx * sx))
    val b0 = r6((sy * sxx - sx * sxy) / (nD * sxx - sx * sx))
    val xbar = sx / nD
    val e = y - (F.lit(b0) + F.lit(b1) * x)
    val h = F.lit(1.0 / nD) +
      (x - xbar) * (x - xbar) / F.lit(sxxC)
    val p2 = df.where(ok).agg(
      F.sum((e / (F.lit(1.0) - h)) * (e / (F.lit(1.0) - h)))
        .as("press"),
      F.sum(e * e).as("sse")).head()
    val press = p2.getAs[Double]("press")
    val sst = syy - nD * (sy / nD) * (sy / nD)
    require(sst > 0.0, "constant response")
    Seq((n, b0, b1, r6(math.sqrt(press / nD)),
        r6(1.0 - p2.getAs[Double]("sse") / sst),
        r6(1.0 - press / sst)))
      .toDF("n", "beta0", "beta1", "rmse_loocv", "r2", "r2_pred")
  }

  /** A fitted Huber robust linear model: β aligned to
    * `"intercept" +: features`, the Huber threshold used, row count and
    * fixed iteration count. */
  final case class HuberModel(features: Seq[String], beta: Array[Double],
                              n: Long, iterations: Int, delta: Double) {
    /** The model's prediction as a codegen'd column over `df`'s columns. */
    def predict: Column = linearPredictor(features, beta)
  }

  /** Huber robust linear regression by IRLS with a FIXED iteration
    * count — the outlier-tolerant replacement for [[olsFit]] when the
    * response carries heavy-tailed noise (a single corrupt row can move
    * an OLS slope arbitrarily; under Huber weights its influence caps
    * at `delta`).
    *
    * Iteration 1 is plain OLS (all weights 1); each further pass
    * reweights rows by w = min(1, δ/|residual|) at the PREVIOUS β —
    * the β is folded into the column expressions as literals, so every
    * pass is ONE weighted Gram aggregation + a driver (k+1)×(k+1)
    * solve. Total jobs = `iters`, independent of data size; fixed
    * iterations keep the output deterministic and SQL-replayable
    * (the q_logistic_quality chained-CTE pattern).
    *
    * `delta` is in RESPONSE units (standardize upstream if you want the
    * textbook 1.345σ tuning — a data-dependent scale estimate per pass
    * would break replay determinism).
    */
  def huberIrls(df: DataFrame, yCol: String, xCols: Seq[String],
                delta: Double, iters: Int = 3): HuberModel = {
    require(xCols.nonEmpty, "need at least one feature")
    require(delta > 0.0, "delta must be positive")
    require(iters >= 1, "need at least one iteration")
    val (beta, n) = reweighted(df, yCol, xCols, iters, identity) { res =>
      val r = F.abs(res)
      F.when(r <= delta, F.lit(1.0)).otherwise(F.lit(delta) / r)
    }
    HuberModel(xCols, beta, n, iters, delta)
  }

  /** Iteratively reweighted least squares with `iters` fixed passes:
    * pass 1 is OLS, each further pass solves the weighted normal
    * equations Σ w·fᵢ·fⱼ · β = Σ w·fᵢ·y with w = `weight(y − η)` at the
    * previous β, and `round`s the solution. Returns β and n. */
  private def reweighted(df: DataFrame, yCol: String, xCols: Seq[String],
                         iters: Int, round: Double => Double)
                        (weight: Column => Column): (Array[Double], Long) =
    withDesign(df, yCol, xCols) { d =>
      val (beta, n) = (0 until iters)
        .foldLeft((Option.empty[Array[Double]], 0L)) { case ((prev, _), _) =>
          val w = prev.fold(F.lit(1.0))(b => weight(d.y - d.eta(b)))
          val (a, xy, r) = d.step(w, f => w * f * d.y,
            F.count(F.lit(1)).as("n"))
          val n = r.getAs[Long]("n")
          require(n > d.k, s"need more than ${d.k} rows, got $n")
          (Some(solve(a, xy).map(round)), n)
        }
      (beta.get, n)
    }

  /** A fitted quantile (pinball-loss) linear model: β aligned to
    * `"intercept" +: features`, the target quantile, row count, fixed
    * iteration count and the smoothing floor used. */
  final case class QuantileModel(features: Seq[String], beta: Array[Double],
                                 tau: Double, n: Long, iterations: Int,
                                 eps: Double) {
    /** The conditional-quantile prediction as a codegen'd column. */
    def predict: Column = linearPredictor(features, beta)
  }

  /** TRUE quantile regression over continuous covariates — pinball
    * (check) loss ρ_τ(r) = r·(τ − 𝟙[r<0]) minimized by smoothed IRLS
    * with a FIXED iteration count, the τ-twin of [[huberIrls]] (and the
    * continuous-x upgrade of `quantileTrend`, which needs binnable x).
    *
    * Iteration 1 is plain OLS; each further pass reweights rows by the
    * standard check-loss majorizer at the PREVIOUS β,
    *
    *   w = (τ if r ≥ 0 else 1−τ) / max(|r|, ε)
    *
    * (ε floors the weight so zero-residual rows can't blow up the Gram —
    * the usual smoothed-check device), then solves ONE weighted Gram
    * aggregation + a driver (k+1)×(k+1) system. β is 6-ROUNDED after
    * every solve — the replay contract: the oracle's chained CTEs
    * propagate the identical rounded trajectory, so ULP wobble is
    * clipped per pass instead of compounding. Total jobs = `iters`,
    * independent of data size; fixed iterations keep the trajectory
    * deterministic and SQL-replayable.
    *
    * `eps` is in RESPONSE units, like huberIrls's `delta`. */
  def quantileIrls(df: DataFrame, yCol: String, xCols: Seq[String],
                   tau: Double, iters: Int = 3,
                   eps: Double = 0.001): QuantileModel = {
    require(xCols.nonEmpty, "need at least one feature")
    require(tau > 0.0 && tau < 1.0, "tau must be in (0,1)")
    require(eps > 0.0, "eps must be positive")
    require(iters >= 1, "need at least one iteration")
    val (beta, n) = reweighted(df, yCol, xCols, iters,
        x => math.rint(x * 1e6) / 1e6) { r =>
      F.when(r >= 0.0, F.lit(tau)).otherwise(F.lit(1.0 - tau)) /
        F.greatest(F.abs(r), F.lit(eps))
    }
    QuantileModel(xCols, beta, tau, n, iters, eps)
  }

  /** Per-GROUP pinball quantile regression (y ~ b0 + b1·x within every
    * group) — [[quantileIrls]] scaled out: the single-model IRLS holds
    * β on the driver, which caps it at one model; here each pass is ONE
    * weighted Gram aggregation for ALL groups at once, the 2×2 solve is
    * Cramer's rule as COLUMN arithmetic (6-rounded), and the next
    * pass's weights come from a broadcast join of the (small) per-group
    * β frame — so a million groups fit in the same three jobs as one.
    * Same smoothed-check majorizer and OLS seed as quantileIrls.
    *
    * Ceiling: the forced broadcast holds each pass's β frame (~40 B per
    * group) on every executor — fine through ~10⁷ groups, and Spark
    * fails loudly at its 8 GB broadcast cap well before memory is at
    * risk. For a 10⁸-group regime, drop the `F.broadcast` hints below
    * and let AQE pick the join strategy (the passes then shuffle on the
    * group key they are already partitioned by).
    *
    * Groups with n ≤ 2 or a singular Gram (constant x) drop out at the
    * pass where it happens — the surviving frame is what joins forward.
    *
    * @return one row per group: (groupCols…, b0, b1, n, tau), β rounded
    *         to 6 */
  def quantileFitByGroup(df: DataFrame, groupCols: Seq[String],
                         yCol: String, xCol: String, tau: Double,
                         iters: Int = 3,
                         eps: Double = 0.001): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    require(tau > 0.0 && tau < 1.0, "tau must be in (0,1)")
    require(eps > 0.0, "eps must be positive")
    require(iters >= 1 && iters <= 8, "iters must be in 1..8")
    val x = F.col(xCol).cast("double")
    val y = F.col(yCol).cast("double")
    val ok = Seq(x, y).map(c => c.isNotNull && !F.isnan(c))
      .reduce(_ && _) && groupCols.map(F.col(_).isNotNull).reduce(_ && _)
    val clean = df.where(ok)
      .select(groupCols.map(F.col) ++ Seq(x.as("__x"), y.as("__y")): _*)
    def gram(src: DataFrame, w: Column): DataFrame =
      src.groupBy(groupCols.map(F.col): _*)
        .agg(F.sum(w).as("g00"),
          F.sum(w * F.col("__x")).as("g01"),
          F.sum(w * F.col("__x") * F.col("__x")).as("g11"),
          F.sum(w * F.col("__y")).as("xy0"),
          F.sum(w * F.col("__x") * F.col("__y")).as("xy1"),
          F.count(F.lit(1)).as("n"))
    def cramer(g: DataFrame): DataFrame = {
      val det = F.col("g00") * F.col("g11") - F.col("g01") * F.col("g01")
      g.where(F.col("n") > 2L && det > 0.0)
        .select(groupCols.map(F.col) ++ Seq(
          F.round((F.col("g11") * F.col("xy0") -
            F.col("g01") * F.col("xy1")) / det, 6).as("b0"),
          F.round((F.col("g00") * F.col("xy1") -
            F.col("g01") * F.col("xy0")) / det, 6).as("b1"),
          F.col("n")): _*)
    }
    var betas = cramer(gram(clean, F.lit(1.0)))
    var it = 1
    while (it < iters) {
      val joined = clean.join(
        F.broadcast(betas.select(groupCols.map(F.col) ++
          Seq(F.col("b0"), F.col("b1")): _*)), groupCols)
      val r = F.col("__y") - (F.col("b0") + F.col("__x") * F.col("b1"))
      val w = (F.when(r >= 0.0, F.lit(tau)).otherwise(F.lit(1.0 - tau))) /
        F.greatest(F.abs(r), F.lit(eps))
      betas = cramer(gram(joined, w))
      it += 1
    }
    betas.select(groupCols.map(F.col) ++ Seq(F.col("b0"), F.col("b1"),
      F.col("n"), F.lit(tau).as("tau")): _*)
  }

  /** A fitted Poisson model: β aligned to `"intercept" +: features`,
    * final-β log-likelihood (including the −ln y! data term), row count
    * and the fixed iteration count. */
  final case class PoissonModel(features: Seq[String], beta: Array[Double],
                                logLik: Double, n: Long, iterations: Int) {
    /** Expected count E[y|x] = exp(xᵀβ) as a codegen'd column. */
    def predictRate: Column = F.exp(linearPredictor(features, beta))
  }

  /** Poisson regression (log link) by Newton/IRLS with a FIXED
    * iteration count — the count-response rung of the GLM ladder
    * ([[olsFit]] gaussian, [[logisticIrls]] binomial, this one
    * Poisson: "how does event RATE move with the covariates").
    *
    * The intercept warm-starts at ln ȳ (slopes 0) — the canonical GLM
    * initialization; a β = 0 start diverges whenever E[y] ≫ 1 because
    * the first Newton step lands at β₀ ≈ E[y] and exp overflows. From
    * ln ȳ the first pass sees the CONSTANT rate μ = ȳ; each pass aggregates
    * the gradient Xᵀ(y−μ) and Hessian XᵀWX (W = diag μ) as plain sums
    * with the current β folded in as literals, the driver solves k×k,
    * and one final pass evaluates ℓ = Σ[y·z − eᶻ − ln Γ(y+1)]. Total
    * jobs: iters + 1, independent of data size; no row ever collected.
    * Fixed iterations keep the trajectory deterministic and
    * SQL-replayable (the q_logistic_quality chained-CTE pattern —
    * DuckDB carries ln Γ via lgamma).
    *
    * Rows with null/NaN features or null/NaN/negative response are
    * excluded (y is a COUNT; fractional y is accepted quasi-style).
    */
  def poissonIrls(df: DataFrame, countCol: String, xCols: Seq[String],
                  iters: Int = 4): PoissonModel = {
    require(xCols.nonEmpty, "need at least one feature")
    require(iters >= 1, "need at least one Newton iteration")
    withDesign(df, countCol, xCols, _ >= 0.0) { d =>
      val (beta, n) = poissonSteps(d, iters)
      val zF = d.eta(beta)
      // lgamma(y+1) = ln y! — finite for any y ≥ 0 (fractional
      // included); same JVM-lgamma-per-ROW convention as GroupedFit's
      // Poisson loglik (the UDF touches the data once, in the single
      // final pass)
      val lgUdf = F.udf((v: Double) => graft.functions.SpecialMath.lgamma(v))
      val ll = d.agg(F.sum(d.y * zF - F.exp(zF) -
        lgUdf(d.y + F.lit(1.0))).as("ll")).getAs[Double]("ll")
      PoissonModel(xCols, beta, ll, n, iters)
    }
  }

  /** `iters` Poisson Newton steps (W = diag μ) from the ln ȳ warm start;
    * returns β and n. */
  private def poissonSteps(d: Design, iters: Int): (Array[Double], Long) = {
    val meanY = d.agg(F.avg(d.y)).getDouble(0)
    require(meanY > 0.0, "mean response must be positive for a log link")
    (0 until iters).foldLeft((d.start(math.log(meanY)), 0L)) {
      case ((beta, _), _) =>
        val mu = F.exp(d.eta(beta))
        val (h, g, r) = d.step(mu, f => (d.y - mu) * f,
          F.count(F.lit(1)).as("n"))
        (newton(beta, h, g), r.getAs[Long]("n"))
    }
  }

  /** A fitted gamma GLM (log link): β aligned to
    * `"intercept" +: features`, final-β deviance and Pearson
    * dispersion, row count and the fixed iteration count. */
  final case class GammaModel(features: Seq[String], beta: Array[Double],
                              deviance: Double, dispersion: Double,
                              n: Long, iterations: Int) {
    /** Expected response E[y|x] = exp(xᵀβ) as a codegen'd column. */
    def predictMean: Column = F.exp(linearPredictor(features, beta))
  }

  /** Gamma regression (log link) by Fisher scoring with a FIXED
    * iteration count — the positive-continuous rung of the GLM ladder
    * (spend, latency, price: right-skewed, variance ∝ mean², where
    * OLS-on-ln(y) estimates the median and a gaussian GLM gets the
    * variance wrong). With the log link the gamma weights cancel:
    * the expected information is the CONSTANT Gram XᵀX (one
    * aggregation, reused every step) and each scoring step needs only
    * the k gradient sums Xᵀ(y/μ − 1) — cheaper per iteration than any
    * other family on this ladder. The shape/dispersion parameter
    * cancels from the direction entirely and is estimated once at the
    * end (Pearson φ̂ = Σ((y−μ)/μ)²/(n−k)), alongside the deviance
    * D = 2Σ[−ln(y/μ) + (y−μ)/μ].
    *
    * Intercept warm-starts at ln ȳ (pass 1 sees the constant mean);
    * fixed iterations keep the trajectory deterministic and
    * SQL-replayable (the q_poisson_glm chained-CTE pattern, with the
    * Gram hoisted out of the iteration). Total jobs: iters + 2,
    * independent of data size; no row ever collected. Rows with
    * null/NaN features or y ≤ 0 (outside the gamma support) are
    * excluded.
    */
  def gammaIrls(df: DataFrame, yCol: String, xCols: Seq[String],
                iters: Int = 4): GammaModel = {
    require(xCols.nonEmpty, "need at least one feature")
    require(iters >= 1, "need at least one scoring iteration")
    withDesign(df, yCol, xCols, _ > 0.0) { d =>
      val (k, y) = (d.k, d.y)
      // constant Gram + the warm start in ONE pass
      val (Seq(h), _, gr) = d.steps(Seq(F.lit(1.0)), Nil,
        F.avg(y).as("ybar"), F.count(F.lit(1)).as("n"))
      val n = gr.getAs[Long]("n")
      val meanY = gr.getAs[Double]("ybar")
      require(n > k && meanY > 0.0, "need n > k positive responses")
      val beta = (0 until iters).foldLeft(d.start(math.log(meanY))) {
        (beta, _) =>
          val mu = F.exp(d.eta(beta))
          val gCols = (0 until k).map(i =>
            F.sum((y / mu - 1.0) * d.feats(i)).as(s"g_$i"))
          val r = d.agg(gCols: _*)
          newton(beta, h, Array.tabulate(k)(i => r.getAs[Double](s"g_$i")))
      }
      val muF = F.exp(d.eta(beta))
      val fin = d.agg(
        F.sum(F.lit(2.0) * (-F.log(y / muF) + (y - muF) / muF)).as("dev"),
        F.sum(((y - muF) / muF) * ((y - muF) / muF)).as("pearson"))
      GammaModel(xCols, beta, fin.getAs[Double]("dev"),
        fin.getAs[Double]("pearson") / (n - k), n, iters)
    }
  }

  /** A fitted negative-binomial (NB2) GLM: β aligned to
    * `"intercept" +: features`, the fixed overdispersion α, final-β
    * log-likelihood, row count and the two fixed iteration counts. */
  final case class NbinomModel(features: Seq[String], beta: Array[Double],
                               alpha: Double, logLik: Double, n: Long,
                               poissonIters: Int, iterations: Int) {
    /** Expected response E[y|x] = exp(xᵀβ) as a codegen'd column. */
    def predictMean: Column = F.exp(linearPredictor(features, beta))
  }

  /** Negative-binomial (NB2) regression with log link — the rung the
    * overdispersion router (dispersionByGroup / nbinomMomentsByGroup)
    * points at when the Poisson variance assumption fails: Var(y|x) =
    * μ + α·μ² instead of μ, so Poisson-GLM standard errors on
    * overdispersed counts are too small and its IRLS over-weights the
    * high-μ rows. Three deterministic stages, all fixed-iteration so
    * the whole trajectory replays as a chained CTE (the q_poisson_glm
    * pattern, reference: spark_bestfit has no GLM layer — this is
    * engine-side adjacency):
    *
    *   1. `poissonIters` Poisson Newton steps from β₀ = ln ȳ (the
    *      α → 0 limit is the natural warm start — identical arithmetic
    *      to [[poissonIrls]]);
    *   2. α by method of moments at the Poisson fit — the NB2 moment
    *      identity E[(y−μ)² − μ] = α·μ² gives
    *      α̂ = Σ((y−μ)² − μ) / Σ μ², floored at 1e−6 (an
    *      UNDER-dispersed sample would otherwise send α negative and
    *      the likelihood out of the family); ONE aggregation, then α
    *      is FIXED — profiling α per step would make the trajectory
    *      non-replayable and is statistically second-order here;
    *   3. `iters` Fisher-scoring steps on β with the NB2 working
    *      weights w = μ/(1+αμ): gradient Xᵀ((y−μ)/(1+αμ)), expected
    *      information XᵀWX, driver k×k solve.
    *
    * Final pass evaluates ℓ = Σ[lnΓ(y+r) − lnΓ(r) − lnΓ(y+1)
    * + r(ln r − ln(r+μ)) + y(ln μ − ln(r+μ))], r = 1/α. Total jobs:
    * poissonIters + iters + 3, independent of data size; no row ever
    * collected. Rows with null/NaN features or null/NaN/negative
    * response are excluded (y is a count).
    */
  def nbinomIrls(df: DataFrame, countCol: String, xCols: Seq[String],
                 poissonIters: Int = 2, iters: Int = 3): NbinomModel = {
    require(xCols.nonEmpty, "need at least one feature")
    require(poissonIters >= 1 && iters >= 1,
      "need at least one iteration in each stage")
    withDesign(df, countCol, xCols, _ >= 0.0) { d =>
      val y = d.y
      // stage 1: Poisson warm start (W = μ)
      val (betaP, n) = poissonSteps(d, poissonIters)
      // stage 2: α by MoM at the Poisson fit, then FIXED
      val muP = F.exp(d.eta(betaP))
      val ar = d.agg(
        F.sum((y - muP) * (y - muP) - muP).as("num"),
        F.sum(muP * muP).as("den"))
      val alpha = math.max(ar.getAs[Double]("num") /
        ar.getAs[Double]("den"), 1e-6)
      // stage 3: NB2 Fisher scoring, w = μ/(1+αμ)
      val beta = (0 until iters).foldLeft(betaP) { (beta, _) =>
        val mu = F.exp(d.eta(beta))
        val gw = (y - mu) / (F.lit(1.0) + F.lit(alpha) * mu)
        val (h, g, _) = d.step(mu / (F.lit(1.0) + F.lit(alpha) * mu),
          f => gw * f)
        newton(beta, h, g)
      }
      // final pass: NB2 log-likelihood at (β, α); lgamma per ROW via the
      // shared JVM kernel (the poissonIrls convention), constants folded
      val rPar = 1.0 / alpha
      val lgR = graft.functions.SpecialMath.lgamma(rPar)
      val lgUdf = F.udf((v: Double) => graft.functions.SpecialMath.lgamma(v))
      val muF = F.exp(d.eta(beta))
      val ll = d.agg(F.sum(
        lgUdf(y + F.lit(rPar)) - F.lit(lgR) - lgUdf(y + F.lit(1.0)) +
          F.lit(rPar) * (F.lit(math.log(rPar)) - F.log(F.lit(rPar) + muF)) +
          y * (F.log(muF) - F.log(F.lit(rPar) + muF))).as("ll"))
        .getAs[Double]("ll")
      NbinomModel(xCols, beta, alpha, ll, n, poissonIters, iters)
    }
  }

  /** Conditional-quantile trend ("p90 latency vs load") — the
    * quantile-regression reading that [[theilSenByGroup]]'s robust
    * MEAN-trend can't give: bin x into `nBins` equal-width bins, take
    * the EXACT τ-quantile of y per bin (the ⌈n·τ⌉-th order statistic
    * via the cumulative-cell machinery — every emitted quantile is a
    * value that occurred), then fit the count-weighted least-squares
    * line through the (bin center, q_τ) points. The binned exact form
    * trades the O(n²) exact simplex solution for one (bin, value)
    * aggregation + per-bin windows + a bins-sized fold — the shape
    * that survives 100 TB; the trend line answers the monitoring
    * question directly.
    *
    * @param tau   quantile in (0,1), e.g. 0.9 for the p90 trend
    * @param nBins equal-width x bins (empty bins simply don't appear)
    * @return one row per non-empty bin: (bin, x_center, n, q_y,
    *         slope, intercept) — slope/intercept are the weighted
    *         trend over ALL bins, repeated per row (rounded to 6);
    *         q_y is the exact order statistic, unrounded */
  def quantileTrend(df: DataFrame, xCol: String, yCol: String,
                    tau: Double, nBins: Int = 20): DataFrame = {
    require(tau > 0.0 && tau < 1.0, "tau must be in (0,1)")
    require(nBins >= 2 && nBins <= 10000, "nBins must be in 2..10000")
    import org.apache.spark.sql.expressions.Window
    val x = F.col(xCol).cast("double")
    val y = F.col(yCol).cast("double")
    val base = df
      .where(x.isNotNull && !F.isnan(x) && y.isNotNull && !F.isnan(y))
      .select(x.as("__x"), y.as("__y"))
    val mm = base.agg(F.min("__x").as("lo"), F.max("__x").as("hi")).head()
    val lo = mm.getDouble(0); val hi = mm.getDouble(1)
    require(hi > lo, "x must have positive range")
    val binCol = F.least(F.lit((nBins - 1).toLong),
      F.greatest(F.lit(0L),
        F.floor((F.col("__x") - lo) / (hi - lo) * nBins)))
    val cells = base.select(binCol.as("__b"), F.col("__y"))
      .groupBy("__b", "__y").agg(F.count(F.lit(1)).as("__c"))
    val wg = Window.partitionBy("__b")
    val wCum = Window.partitionBy("__b").orderBy("__y")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bins = cells
      .withColumn("__n", F.sum("__c").over(wg))
      .withColumn("__cum", F.sum("__c").over(wCum))
      .groupBy("__b")
      .agg(F.max("__n").as("n"),
        F.min(F.when(F.col("__cum") >=
          F.ceil(F.col("__n").cast("double") * tau), F.col("__y")))
          .as("q_y"))
      .withColumn("x_center",
        F.lit(lo) + (F.col("__b").cast("double") + 0.5) *
          F.lit((hi - lo) / nBins))
    val w = F.col("n").cast("double")
    val fit = bins.agg(
      F.sum(w).as("__sw"),
      F.sum(w * F.col("x_center")).as("__swx"),
      F.sum(w * F.col("q_y")).as("__swy"),
      F.sum(w * F.col("x_center") * F.col("x_center")).as("__swxx"),
      F.sum(w * F.col("x_center") * F.col("q_y")).as("__swxy"))
    val det = F.col("__sw") * F.col("__swxx") -
      F.col("__swx") * F.col("__swx")
    val slope = (F.col("__sw") * F.col("__swxy") -
      F.col("__swx") * F.col("__swy")) / det
    val line = fit.select(
      F.round(slope, 6).as("slope"),
      F.round((F.col("__swy") - slope * F.col("__swx")) / F.col("__sw"),
        6).as("intercept"))
    bins.crossJoin(F.broadcast(line))
      .select(F.col("__b").as("bin"), F.col("x_center"), F.col("n"),
        F.col("q_y"), F.col("slope"), F.col("intercept"))
  }

  /** Interrupted time series (segmented regression at a KNOWN break)
    * — the deploy/policy-change readout when there is no control
    * group: fit the trend separately before and after `breakTs` and
    * report the level jump and slope change AT the break:
    *
    *   level_change = (β₀ᵖᵒˢᵗ + β₁ᵖᵒˢᵗ·t_b) − (β₀ᵖʳᵉ + β₁ᵖʳᵉ·t_b),
    *   slope_change = β₁ᵖᵒˢᵗ − β₁ᵖʳᵉ
    *
    * (the unconstrained segmented form — algebraically the full ITS
    * interaction model). The series aggregates to DECIMAL-exact
    * period means first, both segment fits come from one conditional
    * moment aggregation over the period frame, and everything is the
    * [[olsByGroup]] ratio algebra — engine-replayable end to end.
    *
    * @param breakTs in tsCol units; the break period t_b =
    *        breakTs DIV periodUnit belongs to the POST segment
    * @return one row: (n_pre, n_post, slope_pre, slope_post,
    *         slope_change, level_change), doubles rounded to 6 */
  def itsEstimate(df: DataFrame, tsCol: String, yCol: String,
                  periodUnit: Long, breakTs: Long): DataFrame = {
    require(periodUnit > 0L, "periodUnit must be positive")
    val y = F.col(yCol).cast("double")
    val t = F.col(tsCol).cast("long")
    val bp = breakTs / periodUnit
    val cells = df
      .where(t.isNotNull && y.isNotNull && !F.isnan(y))
      .groupBy(F.expr(s"CAST(`$tsCol` AS BIGINT) DIV $periodUnit")
        .as("__p"))
      .agg((F.sum(y.cast("decimal(38,6)")).cast("double") /
        F.count(F.lit(1))).as("__y"))
      .withColumn("__seg",
        F.when(F.col("__p") < bp, "pre").otherwise("post"))
    val x = F.col("__p").cast("double")
    val agged = cells.groupBy("__seg").agg(
      F.count(F.lit(1)).as("m"),
      F.sum(x).as("sx"), F.sum(F.col("__y")).as("sy"),
      F.sum(x * x).as("sxx"),
      F.sum(x * F.col("__y")).as("sxy"))
    val rows = agged.collect().map { r =>
      r.getAs[String]("__seg") -> (r.getAs[Long]("m"),
        r.getAs[Double]("sx"), r.getAs[Double]("sy"),
        r.getAs[Double]("sxx"), r.getAs[Double]("sxy"))
    }.toMap
    require(rows.get("pre").exists(_._1 >= 3L) &&
      rows.get("post").exists(_._1 >= 3L),
      "need >= 3 periods on each side of the break")
    def fit(seg: String): (Long, Double, Double) = {
      val (m, sx, sy, sxx, sxy) = rows(seg)
      val n = m.toDouble
      val mx = sx / n; val my = sy / n
      val vx = sxx / n - mx * mx
      val cxy = sxy / n - mx * my
      require(vx > 0.0, s"segment $seg has no time variance")
      val slope = cxy / vx
      (m, slope, my - slope * mx)
    }
    val (nPre, sPre, iPre) = fit("pre")
    val (nPost, sPost, iPost) = fit("post")
    val tb = bp.toDouble
    val level = (iPost + sPost * tb) - (iPre + sPre * tb)
    val spark = df.sparkSession
    import spark.implicits._
    Seq((nPre, nPost,
      math.rint(sPre * 1e6) / 1e6, math.rint(sPost * 1e6) / 1e6,
      math.rint((sPost - sPre) * 1e6) / 1e6,
      math.rint(level * 1e6) / 1e6))
      .toDF("n_pre", "n_post", "slope_pre", "slope_post",
        "slope_change", "level_change")
  }

  /** Granger "causality" test per key (one lag): does yesterday's x
    * help predict today's y beyond yesterday's y — the lead/lag
    * screening question ("does marketing spend LEAD signups, per
    * region") as the classic nested-OLS F test:
    *
    *   restricted: y_t ~ y_{t−1};   full: y_t ~ y_{t−1} + x_{t−1}
    *   F = (SSE_r − SSE_f) / (SSE_f / (n−3))  ~  F(1, n−3)
    *
    * Both series aggregate to DECIMAL-exact period means first
    * ([[graft.operators.Features.mannKendallByKey]]'s determinism
    * trick), the lag rides one ordered window (consecutive OBSERVED
    * periods — gaps lag to the previous observation), and both SSEs
    * come from the same explicit central-moment algebra as
    * [[olsByGroup2]] — ONE aggregation per key, everything
    * engine-replayable. p = 1 − F-CDF at the 6-rounded statistic.
    *
    * @return one row per key: (keyCol, m, b_ylag, b_xlag, f_stat,
    *         p_value) — m = scored periods; degenerate keys omitted */
  def grangerByKey(df: DataFrame, keyCol: String, tsCol: String,
                   yCol: String, xCol: String,
                   periodUnit: Long): DataFrame = {
    require(periodUnit > 0L, "periodUnit must be positive")
    import org.apache.spark.sql.expressions.Window
    val y = F.col(yCol).cast("double")
    val x = F.col(xCol).cast("double")
    val t = F.col(tsCol).cast("long")
    val cells = df
      .where(F.col(keyCol).isNotNull && t.isNotNull &&
        y.isNotNull && !F.isnan(y) && x.isNotNull && !F.isnan(x))
      .groupBy(F.col(keyCol).as("__k"),
        F.expr(s"CAST(`$tsCol` AS BIGINT) DIV $periodUnit").as("__p"))
      .agg((F.sum(y.cast("decimal(38,6)")).cast("double") /
        F.count(F.lit(1))).as("__y"),
        (F.sum(x.cast("decimal(38,6)")).cast("double") /
          F.count(F.lit(1))).as("__x"))
    val w = Window.partitionBy("__k").orderBy(F.col("__p"))
    val lagged = cells
      .withColumn("__a", F.lag("__y", 1).over(w))
      .withColumn("__b", F.lag("__x", 1).over(w))
      .where(F.col("__a").isNotNull && F.col("__b").isNotNull)
    val agged = lagged.groupBy("__k").agg(
      F.count(F.lit(1)).as("m"),
      F.sum("__y").as("sy"), F.sum("__a").as("sa"),
      F.sum("__b").as("sb"),
      F.sum(F.col("__y") * F.col("__y")).as("syy"),
      F.sum(F.col("__a") * F.col("__a")).as("saa"),
      F.sum(F.col("__b") * F.col("__b")).as("sbb"),
      F.sum(F.col("__a") * F.col("__y")).as("say"),
      F.sum(F.col("__b") * F.col("__y")).as("sby"),
      F.sum(F.col("__a") * F.col("__b")).as("sab"))
    val n = F.col("m").cast("double")
    val my = F.col("sy") / n; val ma = F.col("sa") / n
    val mb = F.col("sb") / n
    val vy = F.col("syy") / n - my * my
    val va = F.col("saa") / n - ma * ma
    val vb = F.col("sbb") / n - mb * mb
    val cay = F.col("say") / n - ma * my
    val cby = F.col("sby") / n - mb * my
    val cab = F.col("sab") / n - ma * mb
    val det = va * vb - cab * cab
    val b1 = (vb * cay - cab * cby) / det
    val b2 = (va * cby - cab * cay) / det
    val r2r = cay * cay / (va * vy)
    val r2f = (b1 * cay + b2 * cby) / vy
    val sseR = n * vy * (F.lit(1.0) - r2r)
    val sseF = n * vy * (F.lit(1.0) - r2f)
    val fStat = F.round((sseR - sseF) / (sseF / (n - 3.0)), 6)
    val pUdf = F.udf((d2: Long, f: Double) =>
      math.rint((1.0 - graft.functions.SpecialMath
        .fCdf(1.0, (d2 - 3L).toDouble, f)) * 1e6) / 1e6)
    agged
      .where(F.col("m") >= 5L && va > 0.0 && vb > 0.0 && vy > 0.0 &&
        det > va * vb * 1e-12 && sseF > 0.0)
      .select(F.col("__k").as(keyCol), F.col("m"),
        F.round(b1, 6).as("b_ylag"), F.round(b2, 6).as("b_xlag"),
        fStat.as("f_stat"),
        pUdf(F.col("m"), fStat).as("p_value"))
  }

  /** Theil–Sen robust trend per group: the MEDIAN of all pairwise
    * slopes (yⱼ−yᵢ)/(xⱼ−xᵢ) — ~29% breakdown point vs OLS's zero; the
    * standard "trend that one bad day can't move" estimator.
    *
    * Exact all-pairs is O(n²) per group, so the group is first capped
    * at `maxN` rows chosen DETERMINISTICALLY (md5 content order — same
    * subset on any engine/layout); groups over the cap are fitted on
    * the capped subset, with the drop observed + warn-logged
    * ([[Observability.observeDropped]] — no silent caps). Pairs form
    * via a rank self-join WITHIN each group (shuffle on the group key
    * only), and both the slope and the intercept median are the exact
    * LOWER median (element ⌈m/2⌉ of the sorted multiset) so the result
    * replays bit-for-bit as an order-statistic select — no averaging
    * convention to drift across engines.
    *
    * @return one row per group: (groupCols..., n_used, n_pairs,
    *         slope, intercept) — groups with < 2 usable distinct-x
    *         pairs are omitted.
    */
  def theilSenByGroup(df: DataFrame, yCol: String, xCol: String,
                      groupCols: Seq[String], maxN: Int = 1000): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    require(maxN >= 2, "maxN must allow at least one pair")
    val x = F.col(xCol).cast("double")
    val y = F.col(yCol).cast("double")
    val clean = df
      .where(x.isNotNull && y.isNotNull && !F.isnan(x) && !F.isnan(y))
      .select(groupCols.map(F.col) :+ x.as("__x") :+ y.as("__y"): _*)
    val g = groupCols.map(F.col)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(g: _*)
      .orderBy(F.md5(F.concat_ws("\u0000",
        (groupCols.map(F.col(_).cast("string")) :+
          F.col("__x").cast("string") :+
          F.col("__y").cast("string")): _*)))
    val ranked = clean.withColumn("__rn", F.row_number().over(w))
    // over-cap groups are fitted on the capped subset, never silently:
    // the group-size frame carries the observed-drop metrics
    // (Dedup.containmentPairs convention) and rides back in as a
    // broadcast semi-join that keeps every group
    val counts = clean.groupBy(g: _*).agg(F.count(F.lit(1)).as("__cnt"))
    val obsGroups = Observability.observeDropped(counts,
        "theilSenByGroup", F.col("__cnt"), maxN)
      .select(g: _*)
    val capped = ranked.where(F.col("__rn") <= maxN)
      .join(F.broadcast(obsGroups), groupCols, "left_semi")
    val a = capped.select(g :+ F.col("__x").as("xi") :+
      F.col("__y").as("yi") :+ F.col("__rn").as("ri"): _*)
    val b = capped.select(g :+ F.col("__x").as("xj") :+
      F.col("__y").as("yj") :+ F.col("__rn").as("rj"): _*)
    val pairs = a.join(b, groupCols)
      .where(F.col("ri") < F.col("rj") && F.col("xi") =!= F.col("xj"))
      .select(g :+
        ((F.col("yj") - F.col("yi")) / (F.col("xj") - F.col("xi")))
          .as("__s"): _*)
    val ws = org.apache.spark.sql.expressions.Window
      .partitionBy(g: _*).orderBy(F.col("__s"))
    val slope = pairs
      .withColumn("__sr", F.row_number().over(ws))
      .withColumn("__sm", F.count(F.lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(g: _*)))
      .where(F.col("__sr") === ((F.col("__sm") + F.lit(1)) / F.lit(2))
        .cast("int"))
      .select(g :+ F.col("__s").as("slope") :+
        F.col("__sm").cast("long").as("n_pairs"): _*)
    val resid = capped.join(F.broadcast(slope), groupCols)
      .select(g :+ F.col("slope") :+ F.col("n_pairs") :+
        (F.col("__y") - F.col("slope") * F.col("__x")).as("__r"): _*)
    val wr = org.apache.spark.sql.expressions.Window
      .partitionBy(g: _*).orderBy(F.col("__r"))
    resid
      .withColumn("__rr", F.row_number().over(wr))
      .withColumn("__rm", F.count(F.lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(g: _*)))
      .where(F.col("__rr") === ((F.col("__rm") + F.lit(1)) / F.lit(2))
        .cast("int"))
      .select(g :+ F.col("__rm").cast("long").as("n_used") :+
        F.col("n_pairs") :+ F.col("slope") :+
        F.col("__r").as("intercept"): _*)
  }

  /** Durbin–Watson first-order autocorrelation diagnostic per group:
    * DW = Σₜ(eₜ−eₜ₋₁)² / Σₜeₜ² over the OLS residuals of y on x taken
    * in `orderCol` order — the "is my per-tenant trend fit hiding
    * serial correlation" check that belongs next to [[olsByGroup]].
    * DW ≈ 2(1−ρ̂₁): 2 = independent, →0 positive, →4 negative serial
    * correlation.
    *
    * Two aggregations + one per-group window: the OLS coefficients
    * come from the same sufficient statistics as [[olsByGroup]]
    * (closed form, no driver solve), broadcast back as a tiny
    * per-group frame, residuals difference under a window PARTITIONED
    * by group (never global). Groups with n < 3 or zero x-variance are
    * omitted.
    *
    * @return one row per group: (groupCols..., n, slope, intercept, dw)
    */
  def durbinWatsonByGroup(df: DataFrame, yCol: String, xCol: String,
                          orderCol: String,
                          groupCols: Seq[String]): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    val x = F.col(xCol).cast("double")
    val y = F.col(yCol).cast("double")
    val t = F.col(orderCol)
    val clean = df
      .where(x.isNotNull && y.isNotNull && !F.isnan(x) && !F.isnan(y) &&
        t.isNotNull)
      .select(groupCols.map(F.col) :+ x.as("__x") :+ y.as("__y") :+
        t.as("__t"): _*)
    val g = groupCols.map(F.col)
    val fit = clean.groupBy(g: _*).agg(
        F.count(F.lit(1)).as("n"),
        F.avg("__x").as("mx"), F.avg("__y").as("my"),
        F.var_pop("__x").as("vx"), F.covar_pop("__x", "__y").as("cxy"))
      .where(F.col("n") >= 3 && F.col("vx") > 0.0)
      .select(g :+ F.col("n") :+
        (F.col("cxy") / F.col("vx")).as("slope") :+
        (F.col("my") - F.col("cxy") / F.col("vx") * F.col("mx"))
          .as("intercept"): _*)
    val wd = org.apache.spark.sql.expressions.Window
      .partitionBy(g: _*).orderBy(F.col("__t"))
    val resid = clean.join(F.broadcast(fit), groupCols)
      .withColumn("__e",
        F.col("__y") - F.col("intercept") - F.col("slope") * F.col("__x"))
      .withColumn("__d", F.col("__e") - F.lag("__e", 1).over(wd))
    resid.groupBy(g: _*).agg(
        F.max("n").as("__n"),
        F.max("slope").as("__sl"), F.max("intercept").as("__ic"),
        F.sum(F.col("__d") * F.col("__d")).as("num"),
        F.sum(F.col("__e") * F.col("__e")).as("den"))
      .where(F.col("den") > 0.0)
      .select(g :+ F.col("__n").as("n") :+ F.col("__sl").as("slope") :+
        F.col("__ic").as("intercept") :+
        (F.col("num") / F.col("den")).as("dw"): _*)
  }

  /** Fisher linear discriminant for two classes over two features —
    * the closed-form "which direction separates the classes" answer
    * that [[logisticIrls]] approaches iteratively: with pooled
    * within-class covariance S and class-mean gap Δμ = μ₁ − μ₀,
    *
    *   w ∝ S⁻¹ Δμ   (2×2 inverse, plain algebra),
    *   threshold = w·(μ₀+μ₁)/2   (the midpoint rule),
    *   J = Δμᵀ S⁻¹ Δμ            (squared Mahalanobis gap — the
    *                              separation the direction achieves)
    *
    * ONE aggregation of per-class raw moments (n, Σx, Σy, Σxx, Σyy,
    * Σxy per class = 12 codegen'd sum columns); everything after is
    * column arithmetic on the one-row frame — no driver solve, no
    * iteration, any data size. Degenerate inputs (a class with < 2
    * rows, singular pooled covariance) are omitted.
    *
    * @param labelCol boolean/0-1 class indicator
    * @return one row: (n0, n1, w1, w2, threshold, j_stat) with w
    *         scaled so ‖w‖₂ = 1 and w·Δμ ≥ 0, rounded to 6 */
  def fisherLda(df: DataFrame, labelCol: String, x1Col: String,
                x2Col: String): DataFrame = {
    val x = F.col(x1Col).cast("double")
    val y = F.col(x2Col).cast("double")
    val lbl = F.col(labelCol).cast("boolean")
    val clean = df
      .where(x.isNotNull && !F.isnan(x) && y.isNotNull && !F.isnan(y) &&
        lbl.isNotNull)
      .select(lbl.as("__c"), x.as("__x"), y.as("__y"))
    def side(c: Boolean, col: org.apache.spark.sql.Column) =
      F.sum(F.when(F.col("__c") === c, col).otherwise(F.lit(0.0)))
    def cnt(c: Boolean) =
      F.sum(F.when(F.col("__c") === c, 1L).otherwise(0L))
    val agged = clean.agg(
      cnt(false).as("n0"), cnt(true).as("n1"),
      side(false, F.col("__x")).as("sx0"),
      side(false, F.col("__y")).as("sy0"),
      side(false, F.col("__x") * F.col("__x")).as("sxx0"),
      side(false, F.col("__y") * F.col("__y")).as("syy0"),
      side(false, F.col("__x") * F.col("__y")).as("sxy0"),
      side(true, F.col("__x")).as("sx1"),
      side(true, F.col("__y")).as("sy1"),
      side(true, F.col("__x") * F.col("__x")).as("sxx1"),
      side(true, F.col("__y") * F.col("__y")).as("syy1"),
      side(true, F.col("__x") * F.col("__y")).as("sxy1"))
    val n0 = F.col("n0").cast("double")
    val n1 = F.col("n1").cast("double")
    val mx0 = F.col("sx0") / n0; val my0 = F.col("sy0") / n0
    val mx1 = F.col("sx1") / n1; val my1 = F.col("sy1") / n1
    // pooled covariance: (scatter0 + scatter1) / (n0 + n1 − 2)
    val dfree = n0 + n1 - 2.0
    val sxx = (F.col("sxx0") - n0 * mx0 * mx0 +
      F.col("sxx1") - n1 * mx1 * mx1) / dfree
    val syy = (F.col("syy0") - n0 * my0 * my0 +
      F.col("syy1") - n1 * my1 * my1) / dfree
    val sxy = (F.col("sxy0") - n0 * mx0 * my0 +
      F.col("sxy1") - n1 * mx1 * my1) / dfree
    val det = sxx * syy - sxy * sxy
    val dx = mx1 - mx0
    val dy = my1 - my0
    // w = S⁻¹ Δμ via the adjugate; J = Δμ·w
    val wxRaw = (syy * dx - sxy * dy) / det
    val wyRaw = (sxx * dy - sxy * dx) / det
    val jStat = dx * wxRaw + dy * wyRaw
    val norm = F.sqrt(wxRaw * wxRaw + wyRaw * wyRaw)
    val wx = wxRaw / norm
    val wy = wyRaw / norm
    val thr = wx * (mx0 + mx1) / 2.0 + wy * (my0 + my1) / 2.0
    agged
      .where(F.col("n0") >= 2L && F.col("n1") >= 2L && det > 0.0 &&
        norm > 0.0)
      .select(F.col("n0"), F.col("n1"),
        F.round(wx, 6).as("w1"), F.round(wy, 6).as("w2"),
        F.round(thr, 6).as("threshold"),
        F.round(jStat, 6).as("j_stat"))
  }

  /** Deming (errors-in-both-variables) regression — OLS assumes x is
    * measured EXACTLY, so regressing one noisy instrument on another
    * attenuates the slope toward 0; Deming splits the error between
    * the axes by the known variance ratio δ = Var(ε_y)/Var(ε_x)
    * (δ = 1 ⇒ orthogonal regression):
    *
    *   β = (s_yy − δ·s_xx + √((s_yy − δ·s_xx)² + 4δ·s_xy²)) / (2·s_xy)
    *
    * the positive root of the errors-in-variables quadratic, α = ȳ −
    * βx̄. The method-comparison workhorse next to
    * [[graft.operators.Evaluation.concordanceCcc]]. ONE moment
    * aggregation, closed form — bit-replayable.
    *
    * @return one row: (n, slope, icept, delta, r), 6-rounded (r the
    *         plain Pearson correlation for reference) */
  def demingRegression(df: DataFrame, xCol: String, yCol: String,
                       delta: Double = 1.0): DataFrame = {
    require(delta > 0.0, "delta must be positive")
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
    require(vx > 0.0 && vy > 0.0, "a variable is constant")
    require(cxy != 0.0,
      "zero covariance — the Deming slope is undefined (0/0)")
    val beta = (vy - delta * vx +
      math.sqrt((vy - delta * vx) * (vy - delta * vx) +
        4.0 * delta * cxy * cxy)) / (2.0 * cxy)
    def r6(v: Double) = math.rint(v * 1e6) / 1e6 + 0.0
    Seq((n, r6(beta), r6(my - beta * mx), delta,
      r6(cxy / math.sqrt(vx * vy))))
      .toDF("n", "slope", "icept", "delta", "r")
  }

  /** Multiclass Fisher LDA (k classes, 2 features) — [[fisherLda]]'s
    * two-class discriminant generalized to the full within/between
    * scatter form: S_W = Σ_c scatter_c, S_B = Σ_c n_c (μ_c − μ̄)(μ_c −
    * μ̄)ᵀ, and the canonical directions are the eigenvectors of
    * S_W⁻¹S_B — for 2 features a CLOSED-FORM 2×2 eigenproblem
    * (λ = (tr ± √(tr² − 4 det))/2), so the whole fit is one
    * aggregation plus scalar algebra, no iteration. λ₁ is the
    * canonical separation ratio along the leading direction
    * (between-class over within-class variance); λ₂ > 0 means the
    * classes need BOTH dimensions to separate.
    *
    * Replay discipline: per-class moment sums accumulate as
    * DECIMAL(38,6) (order-independent), per-class scatter
    * contributions are 6-rounded before the k-term fold, and the
    * eigen algebra runs on those rounded pieces — bit-replayable.
    * The class-label set is BOUNDED (k ≤ maxClasses, loud raise):
    * this is a discriminant over a handful of segments, not a
    * million-class classifier.
    *
    * @return one row: (n, n_classes, lambda1, lambda2, w1, w2) —
    *         (w1,w2) the unit leading direction (sign: first nonzero
    *         component positive), 6-rounded */
  def fisherLdaMulti(df: DataFrame, labelCol: String, x1Col: String,
                     x2Col: String, maxClasses: Int = 8): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val x = F.col(x1Col).cast("double")
    val y = F.col(x2Col).cast("double")
    val lbl = F.col(labelCol).cast("string")
    val clean = df
      .where(x.isNotNull && !F.isnan(x) && y.isNotNull && !F.isnan(y) &&
        lbl.isNotNull)
      .select(lbl.as("__c"), x.as("__x"), y.as("__y"))
    val perClass = clean.groupBy("__c").agg(
      F.count(F.lit(1)).as("n"),
      dsum(F.col("__x")).as("sx"), dsum(F.col("__y")).as("sy"),
      dsum(F.col("__x") * F.col("__x")).as("sxx"),
      dsum(F.col("__y") * F.col("__y")).as("syy"),
      dsum(F.col("__x") * F.col("__y")).as("sxy"))
      .orderBy("__c").collect()
    val k = perClass.length
    require(k >= 2, s"need at least 2 classes, got $k")
    require(k <= maxClasses,
      s"$k distinct labels — the scatter fold is built for a BOUNDED " +
        s"class set (maxClasses=$maxClasses); bucket the labels first")
    require(perClass.forall(_.getAs[Long]("n") >= 2L),
      "every class needs at least 2 rows")
    def r6(v: Double) = math.rint(v * 1e6) / 1e6
    val ns = perClass.map(_.getAs[Long]("n").toDouble)
    val nTot = ns.sum
    val gx = perClass.map(_.getAs[Double]("sx")).sum / nTot
    val gy = perClass.map(_.getAs[Double]("sy")).sum / nTot
    // within / between scatter: per-class pieces 6-rounded, then the
    // exact k-term fold (label order) — the oracle's decimal sum
    var wxx = 0.0; var wyy = 0.0; var wxy = 0.0
    var bxx = 0.0; var byy = 0.0; var bxy = 0.0
    perClass.zipWithIndex.foreach { case (r, i) =>
      val n = ns(i)
      val mx = r.getAs[Double]("sx") / n
      val my = r.getAs[Double]("sy") / n
      wxx += r6(r.getAs[Double]("sxx") - n * mx * mx)
      wyy += r6(r.getAs[Double]("syy") - n * my * my)
      wxy += r6(r.getAs[Double]("sxy") - n * mx * my)
      bxx += r6(n * (mx - gx) * (mx - gx))
      byy += r6(n * (my - gy) * (my - gy))
      bxy += r6(n * (mx - gx) * (my - gy))
    }
    val det = wxx * wyy - wxy * wxy
    require(det > 0.0,
      "singular within-class scatter (a feature is constant within " +
        "classes, or the features are collinear) — drop or decorrelate")
    // M = S_W^{-1} S_B via the adjugate
    val m11 = (wyy * bxx - wxy * bxy) / det
    val m12 = (wyy * bxy - wxy * byy) / det
    val m21 = (wxx * bxy - wxy * bxx) / det
    val m22 = (wxx * byy - wxy * bxy) / det
    val tr = m11 + m22
    val dt = m11 * m22 - m12 * m21
    val disc = math.sqrt(math.max(tr * tr - 4.0 * dt, 0.0))
    val l1 = (tr + disc) / 2.0
    val l2 = (tr - disc) / 2.0
    val (e1, e2) =
      if (math.abs(m12) > 1e-12) (m12, l1 - m11)
      else if (math.abs(m21) > 1e-12) (l1 - m22, m21)
      else if (m11 >= m22) (1.0, 0.0) else (0.0, 1.0)
    val nrm = math.sqrt(e1 * e1 + e2 * e2)
    require(nrm > 0.0, "degenerate leading eigenvector")
    val flip = e1 < 0.0 || (e1 == 0.0 && e2 < 0.0)
    val w1 = if (flip) -e1 / nrm else e1 / nrm
    val w2 = if (flip) -e2 / nrm else e2 / nrm
    Seq((nTot.toLong, k.toLong, r6(l1) + 0.0, r6(l2) + 0.0,
      r6(w1) + 0.0, r6(w2) + 0.0))
      .toDF("n", "n_classes", "lambda1", "lambda2", "w1", "w2")
  }

  /** Panel fixed-effects (within) estimator — "the slope of y on x
    * AFTER absorbing every unit's own level": demean both variables
    * within each unit, then pool ONE slope across all units,
    *
    *   β = Σᵢₜ x̃ᵢₜỹᵢₜ / Σᵢₜ x̃²ᵢₜ,   x̃ = x − x̄ᵢ,
    *
    * the opposite aggregation direction from [[olsByGroup]] (which
    * fits a slope PER group): here a million units contribute one
    * pooled coefficient with their level confounders gone — the
    * panel-econometrics workhorse. SE uses the within residual
    * variance at dof = n − #units − 1.
    *
    * One per-unit window pass (unit means) + one global moment
    * aggregation. Units with a single row demean to zero and drop out
    * of both sums algebraically.
    *
    * @return one row: (n, n_units, beta, se, t_stat, within_r2) */
  def fixedEffectsOls(df: DataFrame, unitCol: String, yCol: String,
                      xCol: String): DataFrame = {
    val x = F.col(xCol).cast("double")
    val y = F.col(yCol).cast("double")
    val clean = df
      .where(F.col(unitCol).isNotNull && x.isNotNull && !F.isnan(x) &&
        y.isNotNull && !F.isnan(y))
      .select(F.col(unitCol).as("__u"), x.as("__x"), y.as("__y"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("__u")
    val dm = clean
      .withColumn("__xd", F.col("__x") - F.avg("__x").over(w))
      .withColumn("__yd", F.col("__y") - F.avg("__y").over(w))
    val agged = dm.agg(
      F.count(F.lit(1)).as("n"),
      F.count_distinct(F.col("__u")).as("n_units"),
      F.sum(F.col("__xd") * F.col("__xd")).as("sxx"),
      F.sum(F.col("__yd") * F.col("__yd")).as("syy"),
      F.sum(F.col("__xd") * F.col("__yd")).as("sxy"))
    val beta = F.col("sxy") / F.col("sxx")
    val dof = F.col("n").cast("double") -
      F.col("n_units").cast("double") - 1.0
    val rss = F.col("syy") - beta * F.col("sxy")
    val se = F.sqrt(rss / dof / F.col("sxx"))
    agged
      .where(F.col("sxx") > 0.0 && F.col("syy") > 0.0 && dof > 0.0)
      .select(F.col("n"), F.col("n_units"),
        F.round(beta, 6).as("beta"),
        F.round(se, 6).as("se"),
        F.round(beta / se, 6).as("t_stat"),
        F.round(beta * F.col("sxy") / F.col("syy"), 6).as("within_r2"))
  }

  /** Baron–Kenny mediation with the Sobel test — "does x move y
    * THROUGH m, or directly": three regressions, all closed forms of
    * ONE nine-sum moment aggregation,
    *
    *   a  = slope of m ~ x,            b  = partial slope of m in
    *   c  = slope of y ~ x (total),         y ~ x + m,
    *   c′ = partial slope of x (direct),
    *   indirect = a·b,   Sobel z = a·b / √(a²·se_b² + b²·se_a²)
    *
    * with the classic first-order Sobel variance and p = erfc(|z|/√2)
    * at the 6-rounded z. The causal-pathway decomposition behind
    * "discounts lift revenue, but only via volume". Degenerate inputs
    * (zero x/m variance, collinear x–m, n < 4) are omitted.
    *
    * @return one row: (n, a, b, c, c_prime, indirect, sobel_z,
    *         p_value, prop_mediated), floats rounded 6 */
  def mediation(df: DataFrame, xCol: String, mCol: String,
                yCol: String): DataFrame = {
    val x = F.col(xCol).cast("double")
    val m = F.col(mCol).cast("double")
    val y = F.col(yCol).cast("double")
    val ok = Seq(x, m, y).map(c => c.isNotNull && !F.isnan(c))
      .reduce(_ && _)
    val agged = df.where(ok)
      .select(x.as("__x"), m.as("__m"), y.as("__y"))
      .agg(F.count(F.lit(1)).as("n"),
        F.avg("__x").as("mx"), F.avg("__m").as("mm"),
        F.avg("__y").as("my"),
        F.var_pop("__x").as("vx"), F.var_pop("__m").as("vm"),
        F.var_pop("__y").as("vy"),
        F.covar_pop("__x", "__m").as("cxm"),
        F.covar_pop("__x", "__y").as("cxy"),
        F.covar_pop("__m", "__y").as("cmy"))
    val nD = F.col("n").cast("double")
    val vx = F.col("vx"); val vm = F.col("vm"); val vy = F.col("vy")
    val cxm = F.col("cxm"); val cxy = F.col("cxy")
    val cmy = F.col("cmy")
    val a = cxm / vx
    val c = cxy / vx
    val det = vx * vm - cxm * cxm
    val cPrime = (vm * cxy - cxm * cmy) / det
    val b = (vx * cmy - cxm * cxy) / det
    // first-stage residual variance (dof n−2), full-model (dof n−3)
    val s2a = nD * (vm - a * cxm) / (nD - 2.0)
    val seA = F.sqrt(s2a / (nD * vx))
    val s2f = nD * (vy - cPrime * cxy - b * cmy) / (nD - 3.0)
    val seB = F.sqrt(s2f * vx / (nD * det))
    val sobel = a * b / F.sqrt(a * a * seB * seB + b * b * seA * seA)
    val erfcUdf = F.udf((z: Double) =>
      graft.functions.SpecialMath.erfc(math.abs(z) / math.sqrt(2.0)))
    agged
      .where(F.col("n") >= 4L && vx > 0.0 && vm > 0.0 && det > 0.0 &&
        s2a > 0.0 && s2f > 0.0)
      .withColumn("sobel_z", F.round(sobel, 6))
      .select(F.col("n"), F.round(a, 6).as("a"), F.round(b, 6).as("b"),
        F.round(c, 6).as("c"), F.round(cPrime, 6).as("c_prime"),
        F.round(a * b, 6).as("indirect"), F.col("sobel_z"),
        F.round(erfcUdf(F.col("sobel_z")), 6).as("p_value"),
        F.when(F.abs(c) > 0.0, F.round(a * b / c, 6))
          .as("prop_mediated"))
  }

  /** OLS with cluster-robust (CR1) standard errors — the experiment
    * analyst's guard against "we randomized by STORE but computed SEs
    * by receipt": globally-demeaned slope β = Σx̃ỹ/Σx̃², then the
    * sandwich variance over cluster score sums,
    *
    *   Var_CR0 = Σ_g (Σ_{i∈g} x̃ᵢeᵢ)² / (Σx̃²)²,
    *   CR1     = CR0 · G/(G−1) · (n−1)/(n−2),
    *
    * with e the within-fit residuals. Two aggregations (global
    * moments, then per-cluster score sums — both map-side combined);
    * the iid SE comes along for the deflation-factor read-out.
    *
    * @return one row: (n, n_clusters, beta, se_iid, se_cluster,
    *         t_cluster), floats rounded 6 */
  def clusterRobustOls(df: DataFrame, clusterCol: String, yCol: String,
                       xCol: String): DataFrame = {
    val x = F.col(xCol).cast("double")
    val y = F.col(yCol).cast("double")
    val clean = df
      .where(F.col(clusterCol).isNotNull && x.isNotNull && !F.isnan(x) &&
        y.isNotNull && !F.isnan(y))
      .select(F.col(clusterCol).as("__g"), x.as("__x"), y.as("__y"))
    val mom = clean.agg(
      F.count(F.lit(1)).as("n"), F.avg("__x").as("mx"),
      F.avg("__y").as("my"), F.var_pop("__x").as("vx"),
      F.var_pop("__y").as("vy"), F.covar_pop("__x", "__y").as("cxy"))
    val withB = clean.crossJoin(F.broadcast(mom))
      .withColumn("__xd", F.col("__x") - F.col("mx"))
      .withColumn("__b", F.col("cxy") / F.col("vx"))
      .withColumn("__e", F.col("__y") - F.col("my") -
        F.col("__b") * F.col("__xd"))
    val perCluster = withB.groupBy("__g").agg(
      F.max("n").as("n"), F.max("__b").as("beta"),
      F.max("vx").as("vx"), F.max("vy").as("vy"),
      F.max("cxy").as("cxy"),
      F.sum(F.col("__xd") * F.col("__e")).as("__sc"),
      F.sum(F.col("__e") * F.col("__e")).as("__se2"))
    val agged = perCluster.agg(
      F.max("n").as("n"), F.count(F.lit(1)).as("n_clusters"),
      F.max("beta").as("beta"), F.max("vx").as("vx"),
      F.sum(F.col("__sc") * F.col("__sc")).as("meat"),
      F.sum("__se2").as("rss"))
    val nD = F.col("n").cast("double")
    val gD = F.col("n_clusters").cast("double")
    val sxx = F.col("vx") * nD
    val vCr0 = F.col("meat") / (sxx * sxx)
    val vCr1 = vCr0 * (gD / (gD - 1.0)) * ((nD - 1.0) / (nD - 2.0))
    val seIid = F.sqrt(F.col("rss") / (nD - 2.0) / sxx)
    val seCl = F.sqrt(vCr1)
    agged
      .where(F.col("n") >= 3L && F.col("n_clusters") >= 2L &&
        F.col("vx") > 0.0)
      .select(F.col("n"), F.col("n_clusters"),
        F.round(F.col("beta"), 6).as("beta"),
        F.round(seIid, 6).as("se_iid"),
        F.round(seCl, 6).as("se_cluster"),
        F.round(F.col("beta") / seCl, 6).as("t_cluster"))
  }

  /** First/second canonical correlations between two 2-feature blocks
    * — "how strongly do these two GROUPS of metrics co-move as
    * groups" (pricing block vs volume block, quality block vs
    * engagement block): the canonical correlations are the square
    * roots of the eigenvalues of M = Σxx⁻¹ Σxy Σyy⁻¹ Σyx, which at
    * 2×2 is the closed-form quadratic
    *
    *   λ = (tr M ± √(tr²M − 4·det M)) / 2,   ρᵢ = √λᵢ
    *
    * — the multivariate generalization of [[partialCorrByGroup]]'s
    * single coefficient. ONE aggregation of 14 moment sums; every
    * matrix entry is plain column arithmetic (2×2 adjugate inverses,
    * one 2×2 product chain), so any engine replays it. Degenerate
    * blocks (singular Σxx/Σyy, negative discriminant) are omitted.
    *
    * @return one row: (n, rho1, rho2, lambda1, lambda2) rounded 6 */
  def cca2x2(df: DataFrame, x1Col: String, x2Col: String,
             y1Col: String, y2Col: String): DataFrame = {
    val cols = Seq(x1Col, x2Col, y1Col, y2Col)
    val vs = cols.map(c => F.col(c).cast("double"))
    val ok = vs.map(c => c.isNotNull && !F.isnan(c)).reduce(_ && _)
    val named = Seq("a", "b", "c", "d")
    val clean = df.where(ok)
      .select(vs.zip(named).map { case (c, n) => c.as(s"__$n") }: _*)
    val sums = named.map(n => F.sum(F.col(s"__$n")).as(s"s_$n")) ++
      (for {
        i <- named.indices; j <- named.indices if i <= j
      } yield F.sum(F.col(s"__${named(i)}") * F.col(s"__${named(j)}"))
        .as(s"q_${named(i)}${named(j)}"))
    val aggCols = F.count(F.lit(1)).as("n") +: sums
    val agged = clean.agg(aggCols.head, aggCols.tail: _*)
    // The eigen algebra below finishes ON THE DRIVER from the single
    // aggregated row (15 doubles — the bounded-collect house pattern,
    // same as yuenTTest/hotelling). As a Column tree the shared
    // subexpressions (each cov feeding p/q feeding m/tr/dt/disc feeding
    // both filter and all four outputs) inline into a ~20k-node
    // expression that cost ~0.25 s of Catalyst planning and two ~450 ms
    // Janino compiles PER EXECUTION (measured round 14, q_cca exec
    // 1.9 s for one 1-row projection). Every operation below keeps the
    // exact IEEE shape and order of the former Column algebra (and of
    // the DuckDB oracle's staged CTE replay), and F.round's
    // BigDecimal/HALF_UP rounding is reproduced verbatim, so the
    // emitted row is identical. NaN/Inf row-emission equivalence: any
    // non-finite det/disc/λ fails at least one gate in BOTH comparison
    // semantics (Spark orders NaN largest, so a NaN reaching the final
    // l1 <= 1.000001 gate still drops the row), so the empty-result
    // cases coincide too.
    val spark = df.sparkSession
    import spark.implicits._
    val row = agged.head()
    val n = row.getLong(0)
    def emptyOut =
      Seq.empty[(Long, Double, Double, Double, Double)]
        .toDF("n", "rho1", "rho2", "lambda1", "lambda2")
    if (n < 5L) emptyOut
    else {
      val nD = n.toDouble
      def s(i: Int) = row.getDouble(1 + i)          // s_a..s_d
      def q(i: Int) = row.getDouble(5 + i)          // q_aa,q_ab,..,q_dd (i<=j)
      val Seq(sa, sb, sc, sd) = (0 to 3).map(s)
      // upper-triangle order produced by the aggregation: aa ab ac ad
      // bb bc bd cc cd dd
      val Seq(qaa, qab, qac, qad, qbb, qbc, qbd, qcc, qcd, qdd) =
        (0 to 9).map(q)
      def cov(qxy: Double, sx: Double, sy: Double): Double =
        qxy / nD - (sx / nD) * (sy / nD)
      val vaa = cov(qaa, sa, sa); val vab = cov(qab, sa, sb)
      val vbb = cov(qbb, sb, sb)
      val vcc = cov(qcc, sc, sc); val vcd = cov(qcd, sc, sd)
      val vdd = cov(qdd, sd, sd)
      val vac = cov(qac, sa, sc); val vad = cov(qad, sa, sd)
      val vbc = cov(qbc, sb, sc); val vbd = cov(qbd, sb, sd)
      val detxx = vaa * vbb - vab * vab
      val detyy = vcc * vdd - vcd * vcd
      // P = Σxx⁻¹ Σxy, Q = Σyy⁻¹ Σyx (adjugate inverses)
      val p11 = (vbb * vac - vab * vbc) / detxx
      val p12 = (vbb * vad - vab * vbd) / detxx
      val p21 = (vaa * vbc - vab * vac) / detxx
      val p22 = (vaa * vbd - vab * vad) / detxx
      val q11 = (vdd * vac - vcd * vad) / detyy
      val q12 = (vdd * vbc - vcd * vbd) / detyy
      val q21 = (vcc * vad - vcd * vac) / detyy
      val q22 = (vcc * vbd - vcd * vbc) / detyy
      val m11 = p11 * q11 + p12 * q21
      val m12 = p11 * q12 + p12 * q22
      val m21 = p21 * q11 + p22 * q21
      val m22 = p21 * q12 + p22 * q22
      val tr = m11 + m22
      val dt = m11 * m22 - m12 * m21
      val disc = tr * tr - 4.0 * dt
      val l1 = (tr + math.sqrt(disc)) / 2.0
      val l2 = (tr - math.sqrt(disc)) / 2.0
      // F.round semantics exactly: BigDecimal.valueOf → setScale(6,
      // HALF_UP) → toDouble (never math.rint — ties differ)
      def r6(x: Double): Double =
        java.math.BigDecimal.valueOf(x)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      if (detxx > 0.0 && detyy > 0.0 && disc >= 0.0 && l2 >= 0.0 &&
          l1 <= 1.000001)
        Seq((n, r6(math.sqrt(l1)), r6(math.sqrt(l2)), r6(l1), r6(l2)))
          .toDF("n", "rho1", "rho2", "lambda1", "lambda2")
      else emptyOut
    }
  }

  // --- small dense linear algebra (k ≤ ~dozens; driver-side only) ---

  /** Gaussian elimination with partial pivoting; mutates copies.
    * Singularity is judged against the input's magnitude (an exactly
    * collinear Gram matrix eliminates to ~1e-10 pivots, not 0.0). */
  private[graft] def solve(aIn: Array[Array[Double]],
                           bIn: Array[Double]): Array[Double] = {
    val k = bIn.length
    val a = Array.tabulate(k, k)((i, j) => aIn(i)(j))
    val b = bIn.clone()
    var scale = 0.0
    for { i <- 0 until k; j <- 0 until k }
      scale = math.max(scale, math.abs(a(i)(j)))
    require(scale > 0.0, "zero system")
    var col = 0
    while (col < k) {
      var piv = col; var best = math.abs(a(col)(col))
      var r = col + 1
      while (r < k) {
        val v = math.abs(a(r)(col)); if (v > best) { best = v; piv = r }
        r += 1
      }
      require(best > scale * 1e-12, s"singular system at column $col")
      if (piv != col) {
        val tmp = a(piv); a(piv) = a(col); a(col) = tmp
        val tb = b(piv); b(piv) = b(col); b(col) = tb
      }
      r = col + 1
      while (r < k) {
        val f = a(r)(col) / a(col)(col)
        if (f != 0.0) {
          var j = col
          while (j < k) { a(r)(j) -= f * a(col)(j); j += 1 }
          b(r) -= f * b(col)
        }
        r += 1
      }
      col += 1
    }
    val x = new Array[Double](k)
    var i = k - 1
    while (i >= 0) {
      var s = b(i); var j = i + 1
      while (j < k) { s -= a(i)(j) * x(j); j += 1 }
      x(i) = s / a(i)(i)
      i -= 1
    }
    x
  }

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  private def matVec(m: Array[Array[Double]],
                     v: Array[Double]): Array[Double] =
    Array.tabulate(v.length)(i => dot(m(i), v))

  /** A fitted Tweedie GLM: β aligned to `"intercept" +: features`,
    * the (fixed) variance power, final deviance, Pearson dispersion,
    * row count and iteration count. */
  final case class TweedieModel(features: Seq[String],
                                beta: Array[Double], varPower: Double,
                                deviance: Double, dispersion: Double,
                                n: Long, iterations: Int)

  /** Tweedie GLM with log link and FIXED variance power p = 1.5 — the
    * semi-continuous rung between Poisson (p=1) and Gamma (p=2): the
    * compound-Poisson-Gamma family puts an exact point mass at ZERO
    * plus a continuous positive tail, which is the actual shape of
    * per-row revenue / claim-cost / engagement-value columns ("mostly
    * nothing, occasionally a positive amount") that Gamma rejects
    * (y > 0 required) and Poisson mis-scales. Fisher scoring with
    * log-link working weights w = μ^{2−p} = √μ and score
    * Σ(y−μ)·μ^{−½}·x; both the gradient AND the information depend on
    * μ here (no constant-Gram shortcut like [[gammaIrls]]), so each
    * of the `iters` fixed steps is ONE aggregation of k(k+3)/2 sums +
    * a driver k×k solve — the q_poisson_glm chained-CTE replay shape.
    *
    * Final pass: unit deviance for p = 1.5,
    * d = 2·(−4√y + 2y/√μ + 2√μ), and Pearson X² = Σ(y−μ)²/μ^{1.5}.
    * Rows with null/NaN features or null/NaN/negative y are excluded
    * (y = 0 is IN-family and kept — that is the point).
    */
  def tweedieIrls(df: DataFrame, yCol: String, xCols: Seq[String],
                  iters: Int = 3): TweedieModel = {
    require(xCols.nonEmpty, "need at least one feature")
    require(iters >= 1, "need at least one scoring iteration")
    withDesign(df, yCol, xCols, _ >= 0.0) { d =>
      val (k, y) = (d.k, d.y)
      val warm = d.agg(F.avg(y).as("ybar"), F.count(F.lit(1)).as("n"))
      val n = warm.getAs[Long]("n")
      val meanY = warm.getAs[Double]("ybar")
      require(n > k && meanY > 0.0, "need n > k and a positive mean")
      val beta = (0 until iters).foldLeft(d.start(math.log(meanY))) {
        (beta, _) =>
          val mu = F.exp(d.eta(beta))
          val (h, g, _) = d.step(F.sqrt(mu), f => (y - mu) / F.sqrt(mu) * f)
          newton(beta, h, g)
      }
      val muF = F.exp(d.eta(beta))
      val fin = d.agg(
        F.sum(F.lit(2.0) * (F.lit(-4.0) * F.sqrt(y) +
          F.lit(2.0) * y / F.sqrt(muF) + F.lit(2.0) * F.sqrt(muF)))
          .as("dev"),
        F.sum((y - muF) * (y - muF) /
          (muF * F.sqrt(muF))).as("pearson"))
      TweedieModel(xCols, beta, 1.5, fin.getAs[Double]("dev"),
        fin.getAs[Double]("pearson") / (n - k), n, iters)
    }
  }

  /** Two-feature ridge path — [[olsByGroup2]] with an L2 penalty on the
    * SLOPES (intercept unpenalized, the standard parameterization):
    * for each λ in `lambdas`, solve the centered 2×2 system
    *
    *   [S₁₁+λ  S₁₂ ] (β₁)   (S₁y)        β₀ = ȳ − β₁x̄₁ − β₂x̄₂
    *   [S₁₂  S₂₂+λ ] (β₂) = (S₂y),
    *
    * with Sᵢⱼ = Σ(xᵢ−x̄ᵢ)(xⱼ−x̄ⱼ) the centered sum moments. The whole
    * path prices from ONE aggregation — λ only touches the 2×2 Cramer
    * arithmetic, so "how much do the coefficients move under
    * shrinkage" costs one pass regardless of path length. DECIMAL-
    * exact product sums make every moment replay bit-for-bit; coefs
    * round at 6.
    *
    * @return one row per λ: (lambda, n, beta1, beta2, intercept) */
  def ridge2(df: DataFrame, yCol: String, x1Col: String, x2Col: String,
             lambdas: Seq[Double]): DataFrame = {
    require(lambdas.nonEmpty, "need at least one lambda")
    require(lambdas.forall(_ >= 0.0), "lambdas must be non-negative")
    val x1 = F.col(x1Col).cast("double")
    val x2 = F.col(x2Col).cast("double")
    val y = F.col(yCol).cast("double")
    val agged = df
      .where(x1.isNotNull && !F.isnan(x1) && x2.isNotNull &&
        !F.isnan(x2) && y.isNotNull && !F.isnan(y))
      .agg(F.count(F.lit(1)).as("n"),
        dsum(x1).as("s1"), dsum(x2).as("s2"), dsum(y).as("sy"),
        dsum(x1 * x1).as("s11"), dsum(x1 * x2).as("s12"),
        dsum(x2 * x2).as("s22"),
        dsum(x1 * y).as("s1y"), dsum(x2 * y).as("s2y"))
    val lf = agged.sparkSession.createDataFrame(
      lambdas.map(l => Tuple1(l))).toDF("lambda")
    val nD = F.col("n").cast("double")
    val c11 = F.col("s11") - F.col("s1") * F.col("s1") / nD
    val c12 = F.col("s12") - F.col("s1") * F.col("s2") / nD
    val c22 = F.col("s22") - F.col("s2") * F.col("s2") / nD
    val c1y = F.col("s1y") - F.col("s1") * F.col("sy") / nD
    val c2y = F.col("s2y") - F.col("s2") * F.col("sy") / nD
    val l = F.col("lambda")
    val det = (c11 + l) * (c22 + l) - c12 * c12
    val b1 = (c1y * (c22 + l) - c12 * c2y) / det
    val b2 = ((c11 + l) * c2y - c12 * c1y) / det
    val b0 = F.col("sy") / nD - b1 * (F.col("s1") / nD) -
      b2 * (F.col("s2") / nD)
    agged.crossJoin(lf)
      .where(F.abs(det) > 1e-12 && F.col("n") >= 4L)
      .select(F.col("lambda"), F.col("n"),
        F.round(b1, 6).as("beta1"), F.round(b2, 6).as("beta2"),
        F.round(b0, 6).as("intercept"))
  }

  /** Variance inflation factors for exactly three features — the
    * multicollinearity gate in front of [[olsFit]]: VIFᵢ = 1/(1−R²ᵢ)
    * where R²ᵢ regresses feature i on the other two; from the 3×3
    * correlation matrix this is the closed form
    *
    *   VIFᵢ = (1 − r²ⱼₖ) / det R,
    *   det R = 1 − r²₁₂ − r²₁₃ − r²₂₃ + 2·r₁₂r₁₃r₂₃.
    *
    * The three pairwise correlations come from ONE explicit-sum
    * aggregation and are ROUNDED to 6 decimals first; VIF and R²ᵢ are
    * exact arithmetic on the rounded r's, so the output replays no
    * matter how partial sums associate.
    *
    * @return one row per feature: (feature, r2_other, vif) */
  def vif3(df: DataFrame, xCols: Seq[String]): DataFrame = {
    require(xCols.length == 3, "vif3 wants exactly three features")
    val spark = df.sparkSession
    import spark.implicits._
    val cs = xCols.map(c => F.col(c).cast("double"))
    val ok = cs.map(c => c.isNotNull && !F.isnan(c)).reduce(_ && _)
    val r = df.where(ok)
      .agg(F.count(F.lit(1)).as("n"),
        dsum(cs(0)).as("s1"), dsum(cs(1)).as("s2"), dsum(cs(2)).as("s3"),
        dsum(cs(0) * cs(0)).as("s11"), dsum(cs(1) * cs(1)).as("s22"),
        dsum(cs(2) * cs(2)).as("s33"),
        dsum(cs(0) * cs(1)).as("s12"), dsum(cs(0) * cs(2)).as("s13"),
        dsum(cs(1) * cs(2)).as("s23"))
      .head()
    val n = r.getAs[Long]("n").toDouble
    require(n >= 4.0, "need at least four complete rows")
    def corr(sij: Double, si: Double, sj: Double,
             sii: Double, sjj: Double): Double = {
      val c = sij - si * sj / n
      val vi = sii - si * si / n
      val vj = sjj - sj * sj / n
      require(vi > 0.0 && vj > 0.0, "zero-variance feature")
      math.rint(c / math.sqrt(vi * vj) * 1e6) / 1e6
    }
    val r12 = corr(r.getAs[Double]("s12"), r.getAs[Double]("s1"),
      r.getAs[Double]("s2"), r.getAs[Double]("s11"), r.getAs[Double]("s22"))
    val r13 = corr(r.getAs[Double]("s13"), r.getAs[Double]("s1"),
      r.getAs[Double]("s3"), r.getAs[Double]("s11"), r.getAs[Double]("s33"))
    val r23 = corr(r.getAs[Double]("s23"), r.getAs[Double]("s2"),
      r.getAs[Double]("s3"), r.getAs[Double]("s22"), r.getAs[Double]("s33"))
    val det = 1.0 - r12 * r12 - r13 * r13 - r23 * r23 +
      2.0 * r12 * r13 * r23
    require(math.abs(det) > 1e-12, "singular correlation matrix")
    val out = Seq(
      (xCols(0), r23), (xCols(1), r13), (xCols(2), r12)
    ).map { case (name, rjk) =>
      val vif = (1.0 - rjk * rjk) / det
      (name, math.rint((1.0 - 1.0 / vif) * 1e6) / 1e6,
        math.rint(vif * 1e6) / 1e6)
    }
    out.toDF("feature", "r2_other", "vif")
  }

  /** A fitted probit GLM: β aligned to `"intercept" +: features`,
    * final-β log-likelihood, mean squared (Brier) error, row count and
    * iteration count. */
  final case class ProbitModel(features: Seq[String],
                               beta: Array[Double], logLik: Double,
                               brier: Double, n: Long, iterations: Int)

  /** Probit regression — the Gaussian-link twin of [[logisticIrls]]
    * (choose it when the latent-threshold story is normal: bioassay,
    * credit default, any "unobserved continuous propensity crosses a
    * line" model; coefficients are effects in LATENT-SD units, not
    * log-odds). Fisher scoring with μ = Φ(η) = ½·erfc(−η/√2) (the
    * Cody erfc the SQL replay mirrors region-for-region),
    * φ(η) = e^{−η²/2}·(2π)^{−½}, working weight w = φ²/(μ(1−μ)) and
    * score Σ(y−μ)·φ/(μ(1−μ))·x; μ is clamped to [1e−10, 1−1e−10] so
    * tail rows cannot blow up the weights. β starts at 0 (μ = ½);
    * `iters` fixed steps, each ONE aggregation + a driver k×k solve —
    * the q_poisson_glm chained-CTE replay shape.
    */
  def probitIrls(df: DataFrame, labelCol: String, xCols: Seq[String],
                 iters: Int = 3): ProbitModel = {
    require(xCols.nonEmpty, "need at least one feature")
    require(iters >= 1, "need at least one scoring iteration")
    withDesign(df, labelCol, xCols, y => y === 0.0 || y === 1.0) { d =>
      val y = d.y
      val muUdf = F.udf((eta: Double) =>
        0.5 * graft.functions.SpecialMath.erfc(-eta / math.sqrt(2.0)))
      val invSqrt2Pi = 0.3989422804014327
      def muPhi(eta: Column): (Column, Column) = {
        val mu = F.least(F.greatest(muUdf(eta), F.lit(1e-10)),
          F.lit(1.0 - 1e-10))
        val phi = F.exp(eta * eta * F.lit(-0.5)) * F.lit(invSqrt2Pi)
        (mu, phi)
      }
      // each step also counts the rows, checked before its solve
      val (beta, n) = (0 until iters).foldLeft((d.start(0.0), 0L)) {
        case ((beta, _), _) =>
          val (mu, phi) = muPhi(d.eta(beta))
          val v = mu * (F.lit(1.0) - mu)
          val (h, g, r) = d.step(phi * phi / v, f => (y - mu) * phi / v * f,
            F.count(F.lit(1)).as("n"))
          val n = r.getAs[Long]("n")
          require(n > d.k, "need n > k labeled rows")
          (newton(beta, h, g), n)
      }
      val (muF, _) = muPhi(d.eta(beta))
      val fin = d.agg(
        F.sum(y * F.log(muF) +
          (F.lit(1.0) - y) * F.log(F.lit(1.0) - muF)).as("ll"),
        F.sum((y - muF) * (y - muF)).as("sq"))
      ProbitModel(xCols, beta, fin.getAs[Double]("ll"),
        fin.getAs[Double]("sq") / n, n, iters)
    }
  }

  /** Two-feature lasso path by exact coordinate descent on SUFFICIENT
    * STATISTICS — [[ridge2]]'s L1 sibling, closing the regularization
    * story with actual SELECTION (ridge shrinks, lasso zeroes): on
    * standardized features and centered response the update is the
    * closed-form soft threshold
    *
    *   βⱼ ← S(r_jy − r₁₂·β_other, λ),  S(z,λ) = sign(z)·max(|z|−λ,0)
    *
    * so after ONE decimal-exact moment pass the whole path — every λ,
    * every sweep — is driver arithmetic on the 6-ROUNDED correlations
    * (which is why it replays: the trajectory is a pure function of
    * three rounded scalars). Standardized and raw-scale coefficients
    * both reported; `rounds` fixed sweeps, convergence is geometric.
    *
    * @return one row per λ: (lambda, beta1_std, beta2_std, beta1,
    *         beta2, intercept, n_nonzero) */
  def lasso2(df: DataFrame, yCol: String, x1Col: String, x2Col: String,
             lambdas: Seq[Double], rounds: Int = 20): DataFrame = {
    require(lambdas.nonEmpty, "need at least one lambda")
    require(lambdas.forall(_ >= 0.0), "lambdas must be non-negative")
    require(rounds >= 1, "need at least one sweep")
    val spark = df.sparkSession
    import spark.implicits._
    val x1 = F.col(x1Col).cast("double")
    val x2 = F.col(x2Col).cast("double")
    val y = F.col(yCol).cast("double")
    val m = df
      .where(x1.isNotNull && !F.isnan(x1) && x2.isNotNull &&
        !F.isnan(x2) && y.isNotNull && !F.isnan(y))
      .agg(F.count(F.lit(1)).as("n"),
        dsum(x1).as("s1"), dsum(x2).as("s2"), dsum(y).as("sy"),
        dsum(x1 * x1).as("s11"), dsum(x1 * x2).as("s12"),
        dsum(x2 * x2).as("s22"), dsum(y * y).as("syy"),
        dsum(x1 * y).as("s1y"), dsum(x2 * y).as("s2y"))
      .head()
    val n = m.getAs[Long]("n").toDouble
    require(n >= 4.0, "need at least four complete rows")
    def g(c: String) = m.getAs[Double](c)
    val (m1, m2, my) = (g("s1") / n, g("s2") / n, g("sy") / n)
    val v1 = g("s11") / n - m1 * m1
    val v2 = g("s22") / n - m2 * m2
    val vy = g("syy") / n - my * my
    require(v1 > 0.0 && v2 > 0.0 && vy > 0.0, "a degenerate column")
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    val sd1 = math.sqrt(v1); val sd2 = math.sqrt(v2)
    val sdy = math.sqrt(vy)
    val r12 = r6((g("s12") / n - m1 * m2) / (sd1 * sd2))
    val r1y = r6((g("s1y") / n - m1 * my) / (sd1 * sdy))
    val r2y = r6((g("s2y") / n - m2 * my) / (sd2 * sdy))
    def soft(z: Double, l: Double): Double =
      math.signum(z) * math.max(math.abs(z) - l, 0.0)
    val rows = lambdas.map { lam =>
      var b1 = 0.0; var b2 = 0.0
      var i = 0
      while (i < rounds) {
        b1 = soft(r1y - r12 * b2, lam)
        b2 = soft(r2y - r12 * b1, lam)
        i += 1
      }
      // back-transform: raw beta_j = std beta_j * sd_y / sd_j
      val raw1 = b1 * sdy / sd1
      val raw2 = b2 * sdy / sd2
      val icept = my - raw1 * m1 - raw2 * m2
      val nz = (if (b1 != 0.0) 1L else 0L) + (if (b2 != 0.0) 1L else 0L)
      (lam, r6(b1), r6(b2), r6(raw1), r6(raw2), r6(icept), nz)
    }
    rows.toDF("lambda", "beta1_std", "beta2_std", "beta1", "beta2",
      "intercept", "n_nonzero")
  }

  /** k-feature lasso / elastic-net path by CYCLIC coordinate descent
    * on the rounded correlation matrix — [[lasso2]] generalized past
    * two features over [[olsFit]]'s one-pass Gram machinery: on
    * standardized features and centered response the coordinate-j
    * update is the closed-form soft threshold
    *
    *   β_j ← S(r_jy − Σ_{l≠j} r_jl·β_l, λα) / (1 + λ(1−α)),
    *   S(z, t) = sign(z)·max(|z|−t, 0)
    *
    * (α = 1 pure lasso, α → 0 toward ridge; in between the elastic
    * net that keeps correlated features selected together). ONE
    * decimal-exact moment pass collapses the data to k(k+3)/2 + 3
    * sufficient statistics; the whole path — every λ, every sweep,
    * every coordinate — is then driver arithmetic on the 6-ROUNDED
    * correlations, so the trajectory is a pure function of rounded
    * scalars and replays bit-for-bit (the exact twin is a recursive
    * CTE updating ONE coordinate per step, cycling j = step mod k).
    * Updates are Gauss–Seidel: each coordinate sees the freshest
    * values of the others, left-to-right subtraction order.
    *
    * @return one row per (λ, feature): (lambda, feature, beta_std,
    *         beta, intercept, n_nonzero) — intercept and n_nonzero
    *         repeat across a λ's rows for a tidy long frame */
  def elasticNetPath(df: DataFrame, yCol: String, xCols: Seq[String],
                     lambdas: Seq[Double], alpha: Double = 1.0,
                     rounds: Int = 20): DataFrame = {
    require(xCols.length >= 2, "need at least two features")
    require(xCols.distinct.length == xCols.length, "duplicate feature")
    require(lambdas.nonEmpty, "need at least one lambda")
    require(lambdas.forall(_ >= 0.0), "lambdas must be non-negative")
    require(alpha >= 0.0 && alpha <= 1.0, "alpha must be in [0,1]")
    require(rounds >= 1, "need at least one sweep")
    val spark = df.sparkSession
    import spark.implicits._
    val k = xCols.length
    val xs = xCols.map(c => F.col(c).cast("double"))
    val y = F.col(yCol).cast("double")
    val ok = (xs :+ y).map(c => c.isNotNull && !F.isnan(c))
      .reduce(_ && _)
    val aggCols =
      (0 until k).map(i => dsum(xs(i)).as(s"s_$i")) ++
      (for { i <- 0 until k; j <- i until k }
        yield dsum(xs(i) * xs(j)).as(s"s_${i}_$j")) ++
      (0 until k).map(i => dsum(xs(i) * y).as(s"sy_$i")) ++
      Seq(dsum(y).as("sy"), dsum(y * y).as("syy"),
        F.count(F.lit(1)).as("n"))
    val m = df.where(ok).agg(aggCols.head, aggCols.tail: _*).head()
    val n = m.getAs[Long]("n").toDouble
    require(n >= k + 2.0, s"need at least ${k + 2} complete rows")
    def g(c: String) = m.getAs[Double](c)
    val means = Array.tabulate(k)(i => g(s"s_$i") / n)
    val my = g("sy") / n
    val sds = Array.tabulate(k) { i =>
      val v = g(s"s_${i}_$i") / n - means(i) * means(i)
      require(v > 0.0, s"degenerate feature ${xCols(i)}")
      math.sqrt(v)
    }
    val vy = g("syy") / n - my * my
    require(vy > 0.0, "degenerate response")
    val sdy = math.sqrt(vy)
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    // rounded correlation matrix + response correlations: the ONLY
    // data-dependent inputs the coordinate descent ever sees
    val rm = Array.tabulate(k, k) { (i, j) =>
      if (i == j) 1.0
      else {
        val (a, b) = (math.min(i, j), math.max(i, j))
        r6((g(s"s_${a}_$b") / n - means(a) * means(b)) /
          (sds(a) * sds(b)))
      }
    }
    val ry = Array.tabulate(k)(i =>
      r6((g(s"sy_$i") / n - means(i) * my) / (sds(i) * sdy)))
    def soft(z: Double, l: Double): Double =
      math.signum(z) * math.max(math.abs(z) - l, 0.0)
    val rows = lambdas.flatMap { lam =>
      val b = Array.fill(k)(0.0)
      var it = 0
      while (it < rounds * k) {
        val j = it % k
        val z = (0 until k).filter(_ != j)
          .foldLeft(ry(j))((acc, l) => acc - rm(j)(l) * b(l))
        b(j) = soft(z, lam * alpha) / (1.0 + lam * (1.0 - alpha))
        it += 1
      }
      val raw = Array.tabulate(k)(i => b(i) * sdy / sds(i))
      val icept = (0 until k).foldLeft(my)((acc, i) =>
        acc - raw(i) * means(i))
      val nz = b.count(_ != 0.0).toLong
      (0 until k).map(i =>
        (lam, xCols(i), r6(b(i)), r6(raw(i)), r6(icept), nz))
    }
    rows.toDF("lambda", "feature", "beta_std", "beta", "intercept",
      "n_nonzero")
  }

  /** Simple-OLS influence diagnostics — the "which rows own this fit"
    * screen: leverage hᵢ = 1/n + (xᵢ−x̄)²/Sxx, internally studentized
    * residual rᵢ = eᵢ/(s·√(1−hᵢ)), Cook's distance
    * Dᵢ = rᵢ²·hᵢ/(p·(1−hᵢ)) with p = 2. Top-k rows by D.
    *
    * Two jobs: one DECIMAL-exact moment aggregation collapses to six
    * ROUNDED scalars (β̂, α̂, x̄, Sxx, s², n — every per-row statistic is
    * then exact arithmetic on rounded broadcast values), one
    * TakeOrdered top-k with the id columns as deterministic
    * tie-breaks. No window, no collect of row-scale data.
    *
    * @return topK rows: (idCols…, x, y, resid, leverage, cooks_d) */
  def olsInfluence(df: DataFrame, yCol: String, xCol: String,
                   idCols: Seq[String], topK: Int): DataFrame = {
    require(idCols.nonEmpty, "need deterministic id/tie-break columns")
    require(topK > 0, "topK must be positive")
    val x = F.col(xCol).cast("double")
    val y = F.col(yCol).cast("double")
    val clean = df
      .where(x.isNotNull && !F.isnan(x) && y.isNotNull && !F.isnan(y))
      .select(idCols.map(F.col) :+ x.as("__x") :+ y.as("__y"): _*)
    val m = clean
      .agg(F.count(F.lit(1)).as("n"), dsum(F.col("__x")).as("sx"),
        dsum(F.col("__y")).as("sy"),
        dsum(F.col("__x") * F.col("__x")).as("sxx"),
        dsum(F.col("__x") * F.col("__y")).as("sxy"),
        dsum(F.col("__y") * F.col("__y")).as("syy"))
      .head()
    val n = m.getAs[Long]("n").toDouble
    require(n >= 4.0, "need at least four rows")
    val sx = m.getAs[Double]("sx"); val sy = m.getAs[Double]("sy")
    val cxx = m.getAs[Double]("sxx") - sx * sx / n
    val cxy = m.getAs[Double]("sxy") - sx * sy / n
    val cyy = m.getAs[Double]("syy") - sy * sy / n
    require(cxx > 0.0, "zero x variance")
    def r6(v: Double) = math.rint(v * 1e6) / 1e6
    val beta = r6(cxy / cxx)
    val alpha = r6(sy / n - (cxy / cxx) * (sx / n))
    val mx = r6(sx / n)
    val sxxR = r6(cxx)
    // SSE via the closed form (exact moments), NOT a residual re-sum
    val s2 = r6((cyy - cxy * cxy / cxx) / (n - 2.0))
    require(s2 > 0.0, "zero residual variance")
    val e = F.col("__y") - (F.lit(alpha) + F.lit(beta) * F.col("__x"))
    val h = F.lit(1.0 / n) +
      (F.col("__x") - F.lit(mx)) * (F.col("__x") - F.lit(mx)) /
        F.lit(sxxR)
    val r2c = e * e / (F.lit(s2) * (F.lit(1.0) - h))
    val d = r2c * h / (F.lit(2.0) * (F.lit(1.0) - h))
    clean
      .withColumn("resid", F.round(e, 6))
      .withColumn("leverage", F.round(h, 6))
      .withColumn("cooks_d", F.round(d, 6))
      .orderBy(F.col("cooks_d").desc +: idCols.map(c => F.col(c).asc): _*)
      .limit(topK)
      .select(idCols.map(F.col) ++ Seq(F.col("__x").as("x"),
        F.col("__y").as("y"), F.col("resid"), F.col("leverage"),
        F.col("cooks_d")): _*)
  }

  /** Breusch–Pagan heteroskedasticity test (Koenker's studentized
    * form): regress the squared residuals of y~x on x and report
    * LM = n·R²_aux ~ χ²(1) — "does the noise level itself trend with
    * the driver", the assumption [[olsByGroup]]'s slope_se silently
    * makes. Residuals come from the 6-decimal-ROUNDED (α̂, β̂) so every
    * per-row u² is reproducible; df = 1 means the p-value replays as
    * erfc(√(LM/2)) — no chi-square table needed.
    *
    * Two aggregations (OLS moments, then auxiliary moments) — both
    * DECIMAL-exact where products allow, LM rounded at 6.
    *
    * @return one row: (n, lm_stat, dof, p_value, beta, alpha) */
  def breuschPagan(df: DataFrame, yCol: String, xCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val x = F.col(xCol).cast("double")
    val y = F.col(yCol).cast("double")
    val clean = df
      .where(x.isNotNull && !F.isnan(x) && y.isNotNull && !F.isnan(y))
      .select(x.as("__x"), y.as("__y"))
    val m = clean
      .agg(F.count(F.lit(1)).as("n"), dsum(F.col("__x")).as("sx"),
        dsum(F.col("__y")).as("sy"),
        dsum(F.col("__x") * F.col("__x")).as("sxx"),
        dsum(F.col("__x") * F.col("__y")).as("sxy"))
      .head()
    val n = m.getAs[Long]("n").toDouble
    require(n >= 4.0, "need at least four rows")
    val sx = m.getAs[Double]("sx"); val sy = m.getAs[Double]("sy")
    val cxx = m.getAs[Double]("sxx") - sx * sx / n
    val cxy = m.getAs[Double]("sxy") - sx * sy / n
    require(cxx > 0.0, "zero x variance")
    def r6(v: Double) = math.rint(v * 1e6) / 1e6
    val beta = r6(cxy / cxx)
    val alpha = r6(sy / n - (cxy / cxx) * (sx / n))
    val u2 = {
      val e = F.col("__y") -
        (F.lit(alpha) + F.lit(beta) * F.col("__x"))
      e * e
    }
    val aux = clean
      .agg(F.sum(u2).as("su"), F.sum(u2 * u2).as("suu"),
        F.sum(F.col("__x") * u2).as("sxu"))
      .head()
    val su = aux.getAs[Double]("su")
    val suu = aux.getAs[Double]("suu")
    val sxu = aux.getAs[Double]("sxu")
    val cuu = suu - su * su / n
    val cxu = sxu - sx * su / n
    require(cuu > 0.0, "constant squared residuals")
    val r2aux = cxu * cxu / (cxx * cuu)
    val lm = r6(n * r2aux)
    val p = math.rint(SpecialMath.erfc(math.sqrt(lm / 2.0)) * 1e6) / 1e6
    Seq((n.toLong, lm, 1L, p, beta, alpha))
      .toDF("n", "lm_stat", "dof", "p_value", "beta", "alpha")
  }

  /** Chow structural-break test at a KNOWN split: do cohorts A and B
    * share one regression line, or does each need its own?
    * F = [(SSE_p − SSE_a − SSE_b)/k] / [(SSE_a + SSE_b)/(n−2k)] with
    * k = 2 (slope + intercept), SSEs in the centered closed form
    * Syy − Sxy²/Sxx. ONE aggregation carries pooled and per-cohort
    * moments (conditional DECIMAL-exact sums); the statistic is a
    * ratio of same-magnitude quantities, so 6-decimal rounding is
    * orders of magnitude above the partial-sum noise floor. p rides
    * the operator's F CDF (q_anova convention — not SQL; hash-check
    * the statistic columns).
    *
    * @return one row: (n_a, n_b, f_stat, df1, df2, p_value,
    *         slope_a, slope_b) */
  def chowTest(df: DataFrame, yCol: String, xCol: String,
               cohortCol: String, labelA: String = "a",
               labelB: String = "b"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val x = F.col(xCol).cast("double")
    val y = F.col(yCol).cast("double")
    val g = F.col(cohortCol).cast("string")
    def csum(c: org.apache.spark.sql.Column, lbl: Option[String]) = {
      val masked = lbl match {
        case Some(l) => F.when(F.col("__g") === l, c).otherwise(F.lit(0.0))
        case None    => c
      }
      F.sum(masked.cast("decimal(38,6)")).cast("double")
    }
    val clean = df
      .where(x.isNotNull && !F.isnan(x) && y.isNotNull && !F.isnan(y) &&
        g.isin(labelA, labelB))
      .select(g.as("__g"), x.as("__x"), y.as("__y"))
    val sums = (None :: Some(labelA) :: Some(labelB) :: Nil).zipWithIndex
      .flatMap { case (lbl, i) =>
        Seq(
          F.sum(lbl.map(l => F.when(F.col("__g") === l, 1L)
            .otherwise(0L)).getOrElse(F.lit(1L))).as(s"n$i"),
          csum(F.col("__x"), lbl).as(s"sx$i"),
          csum(F.col("__y"), lbl).as(s"sy$i"),
          csum(F.col("__x") * F.col("__x"), lbl).as(s"sxx$i"),
          csum(F.col("__x") * F.col("__y"), lbl).as(s"sxy$i"),
          csum(F.col("__y") * F.col("__y"), lbl).as(s"syy$i"))
      }
    val m = clean.agg(sums.head, sums.tail: _*).head()
    def sse(i: Int): (Long, Double, Double) = {
      val n = m.getAs[Long](s"n$i").toDouble
      val sx = m.getAs[Double](s"sx$i"); val sy = m.getAs[Double](s"sy$i")
      val cxx = m.getAs[Double](s"sxx$i") - sx * sx / n
      val cxy = m.getAs[Double](s"sxy$i") - sx * sy / n
      val cyy = m.getAs[Double](s"syy$i") - sy * sy / n
      require(n >= 3.0 && cxx > 0.0, "each cohort needs n >= 3 and x variance")
      (n.toLong, cyy - cxy * cxy / cxx, cxy / cxx)
    }
    val (nAll, sseP, _) = sse(0)
    val (na, sseA, slopeA) = sse(1)
    val (nb, sseB, slopeB) = sse(2)
    val df2 = nAll - 4.0
    val fStat = ((sseP - sseA - sseB) / 2.0) / ((sseA + sseB) / df2)
    def r6(v: Double) = math.rint(v * 1e6) / 1e6
    val fr = r6(fStat)
    val p = math.rint((1.0 - SpecialMath.fCdf(2.0, df2, fr)) * 1e6) / 1e6
    Seq((na, nb, fr, 2L, df2.toLong, p, r6(slopeA), r6(slopeB)))
      .toDF("n_a", "n_b", "f_stat", "df1", "df2", "p_value",
        "slope_a", "slope_b")
  }

  /** Segmented (two-piece) regression with the breakpoint chosen by
    * exact grid search over the distinct values of a LOW-CARDINALITY x
    * (binned driver, integer quantity): for every candidate c, fit
    * separate lines on x ≤ c and x > c from prefix/suffix moment sums
    * over the x-cell frame, and take the SSE-minimizing c. The honest
    * piecewise answer when [[quantileTrend]] hints the relationship
    * bends.
    *
    * Scale shape: ONE x-cell aggregation (DECIMAL-exact sums), then
    * windows over the ≤|distinct x| cell frame (the repo's bounded-
    * cells contract, enforced by a loud cardinality guard — a
    * continuous x must be binned first); the argmin is decided on
    * 6-decimal-ROUNDED SSE
    * with the candidate value as tie-break, so the selection replays.
    *
    * @return one row: (breakpoint, n_left, n_right, slope_left,
    *         slope_right, intercept_left, intercept_right, sse_ratio) */
  def segmentedOls(df: DataFrame, yCol: String, xCol: String): DataFrame = Persisted { scope =>
    import org.apache.spark.sql.expressions.Window
    val x = F.col(xCol).cast("double")
    val y = F.col(yCol).cast("double")
    val cells = scope.checkpoint(df
      .where(x.isNotNull && !F.isnan(x) && y.isNotNull && !F.isnan(y))
      .groupBy(x.as("__x"))
      .agg(F.count(F.lit(1)).as("c"), dsum(y).as("sy"),
        dsum(y * y).as("syy")))
    // loud guard, not a silent cap: the prefix windows below sort the
    // distinct-x cell frame on ONE reducer — fine for binned/integer
    // x, a single-reducer blowup on a continuous column
    val nCells = cells.count()
    require(nCells <= 65536L,
      s"$nCells distinct x cells — segmentedOls grid-searches the x " +
        "support on a single reducer; bin/quantize x first")
    val w = Window.orderBy("__x")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.orderBy("__x")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    def pre(c: String) = F.sum(F.col(c)).over(w)
    def tot(c: String) = F.sum(F.col(c)).over(wAll)
    val enriched = cells
      .withColumn("nl", pre("c")).withColumn("nt", tot("c"))
      .withColumn("sxl", F.sum(F.col("__x") * F.col("c")).over(w))
      .withColumn("sxt", F.sum(F.col("__x") * F.col("c")).over(wAll))
      .withColumn("sxxl",
        F.sum(F.col("__x") * F.col("__x") * F.col("c")).over(w))
      .withColumn("sxxt",
        F.sum(F.col("__x") * F.col("__x") * F.col("c")).over(wAll))
      .withColumn("syl", pre("sy")).withColumn("syt", tot("sy"))
      .withColumn("syyl", pre("syy")).withColumn("syyt", tot("syy"))
      .withColumn("sxyl",
        F.sum(F.col("__x") * F.col("sy")).over(w))
      .withColumn("sxyt",
        F.sum(F.col("__x") * F.col("sy")).over(wAll))
    val nl = F.col("nl").cast("double")
    val nr = (F.col("nt") - F.col("nl")).cast("double")
    // suffix moments: total − prefix, with the same centering
    val sxr = F.col("sxt") - F.col("sxl")
    val syr = F.col("syt") - F.col("syl")
    val cxxLc = F.col("sxxl") - F.col("sxl") * F.col("sxl") / nl
    val cxxR = (F.col("sxxt") - F.col("sxxl")) - sxr * sxr / nr
    val cxyL = F.col("sxyl") - F.col("sxl") * F.col("syl") / nl
    val cxyR = (F.col("sxyt") - F.col("sxyl")) - sxr * syr / nr
    val cyyL = F.col("syyl") - F.col("syl") * F.col("syl") / nl
    val cyyR = (F.col("syyt") - F.col("syyl")) - syr * syr / nr
    val sseL = cyyL - cxyL * cxyL / cxxLc
    val sseR = cyyR - cxyR * cxyR / cxxR
    val cyyT = F.col("syyt") - F.col("syt") * F.col("syt") /
      F.col("nt").cast("double")
    val cxyT = F.col("sxyt") - F.col("sxt") * F.col("syt") /
      F.col("nt").cast("double")
    val cxxT = F.col("sxxt") - F.col("sxt") * F.col("sxt") /
      F.col("nt").cast("double")
    val sseT = cyyT - cxyT * cxyT / cxxT
    val scored = enriched
      .where(F.col("nl") >= 3L && (F.col("nt") - F.col("nl")) >= 3L &&
        cxxLc > 0.0 && cxxR > 0.0)
      .withColumn("sse_split", F.round(sseL + sseR, 2))
      .withColumn("slope_left", F.round(cxyL / cxxLc, 6))
      .withColumn("slope_right", F.round(cxyR / cxxR, 6))
      .withColumn("intercept_left", F.round(
        F.col("syl") / nl - cxyL / cxxLc * (F.col("sxl") / nl), 6))
      .withColumn("intercept_right", F.round(
        syr / nr - cxyR / cxxR * (sxr / nr), 6))
      .withColumn("sse_ratio", F.round((sseL + sseR) / sseT, 6))
    scored
      .orderBy(F.col("sse_split").asc, F.col("__x").asc)
      .limit(1)
      .select(F.col("__x").as("breakpoint"), F.col("nl").as("n_left"),
        (F.col("nt") - F.col("nl")).as("n_right"),
        F.col("slope_left"), F.col("slope_right"),
        F.col("intercept_left"), F.col("intercept_right"),
        F.col("sse_ratio"))
  }
}
