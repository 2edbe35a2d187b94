package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession, functions => F}
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.stat.Correlation
import org.apache.commons.math3.linear.{Array2DRowRealMatrix, CholeskyDecomposition}
import graft.dists.{ContinuousDist, DistRegistry, Truncated}
import graft.functions.{SpecialMath => SM}

/** One marginal of a copula: a fitted family + params + optional bounds. */
final case class Marginal(
    column: String,
    distName: String,
    params: Array[Double],
    lowerBound: Option[Double] = None,
    upperBound: Option[Double] = None) extends Serializable

/** Gaussian copula for correlated multi-column synthetic data
  * (reference: src/spark_bestfit/copula.py:43-499): best marginal per
  * column + Spearman rank correlation + cached Cholesky factor.
  *
  * Sampling (reference copula.py:178-390): z ~ N(0, I); correlate with
  * z·Lᵀ; map to uniforms via Φ; transform through each marginal's ppf
  * (honoring truncation). Distributed via the partition-seeded generator
  * pattern of `Sampling` — the Cholesky factor and marginal specs ship in
  * a broadcast-sized closure; rows are born on executors.
  */
final class GaussianCopula(
    val marginals: Seq[Marginal],
    val correlation: Array[Array[Double]]) extends Serializable {

  val columns: Seq[String] = marginals.map(_.column)

  /** Cholesky factor L (lower), cached at construction
    * (reference: copula.py:71-84). */
  @transient lazy val cholesky: Array[Array[Double]] = GaussianCopula.chol(correlation)

  def sampleLocal(n: Int, seed: Long = 42L, returnUniform: Boolean = false): Array[Array[Double]] = {
    val rng = new java.util.SplittableRandom(seed)
    val l = cholesky
    val k = marginals.length
    val ppfs = marginals.map(GaussianCopula.marginalPpf).toArray
    Array.fill(n) {
      val z = Array.fill(k)(GaussianCopula.nextGaussian(rng))
      val out = new Array[Double](k)
      var i = 0
      while (i < k) {
        var s = 0.0
        var j = 0
        while (j <= i) { s += l(i)(j) * z(j); j += 1 }
        val u = SM.normCdf(s)
        out(i) = if (returnUniform) u else ppfs(i)(u)
        i += 1
      }
      out
    }
  }

  /** Distributed sampling: one row per sample, one (nullable) column per
    * marginal, drawn by [[Sampling.seededRows]] — each partition writes
    * its draws into one reused UnsafeRow. `returnUniform` skips the
    * marginal ppf transform and emits the correlated uniforms themselves
    * (reference: copula.py:255-356) — the cheap form when a caller feeds
    * its own quantile functions, and the one that keeps rank correlation
    * exactly (ppf is monotone, so both forms share the Spearman
    * structure). */
  def sampleDistributed(spark: SparkSession, n: Long, seed: Long = 42L,
                        numPartitions: Int = 0,
                        returnUniform: Boolean = false): DataFrame = {
    val l = cholesky
    val margs = marginals.toArray
    val k = margs.length
    val schema = org.apache.spark.sql.types.StructType(columns.map(c =>
      org.apache.spark.sql.types.StructField(c, org.apache.spark.sql.types.DoubleType)))
    // quantile tables built ONCE driver-side (~64 KB each), shipped in
    // the closure — per-partition construction would redo the exact-ppf
    // grid on every task. Not built at all on the uniform path.
    val ppfs = if (returnUniform) Array.empty[Double => Double]
               else margs.map(GaussianCopula.marginalPpf)
    Sampling.seededRows(spark, n, seed, numPartitions, schema) { (rng, w) =>
      val z = Array.fill(k)(GaussianCopula.nextGaussian(rng))
      var i = 0
      while (i < k) {
        var s = 0.0
        var j = 0
        while (j <= i) { s += l(i)(j) * z(j); j += 1 }
        val u = SM.normCdf(s)
        w.write(i, if (returnUniform) u else ppfs(i)(u))
        i += 1
      }
    }
  }

  /** Deterministic, engine-replayable audit of the sampling pipeline —
    * the md5-coordinate discipline of
    * [[Bootstrap.hashResampleCI]] applied to copula generation. Draw j
    * of sample i is `z_ij = ((md5_32("cs_i_j") mod 1001)/1000 − 0.5) ·
    * 2·zScale` (content-addressed, no PRNG); the z-vector correlates
    * through the REAL cached Cholesky factor, maps to uniforms through
    * the REAL Φ ([[SM.normCdf]] — the same Cody erfc the sampler uses),
    * and transforms through each marginal's EXACT ppf. The TabulatedPpf
    * fast path is deliberately bypassed: the audit pins the
    * mathematics, not the interpolation accelerator (GenerationSpec
    * covers that separately).
    *
    * Bounding |z| ≤ zScale keeps every Φ argument y with |y|·√½ ≤
    * 0.46875 — Cody's FIRST erfc branch, a pure rational polynomial
    * with no exp/floor — so an external SQL engine can replay the
    * entire draw → Cholesky → Φ → ppf pipeline with plain arithmetic.
    * Every step is bit-exact across engines EXCEPT a marginal ppf that
    * uses log1p (e.g. expon's −log1p(−u)): SQL replays it as ln(1−u),
    * which differs by ~1 ulp — invisible after the 6-decimal half-even
    * rounding unless a value sits within ~1e-14 of a rounding boundary.
    * The audit's draw set is FIXED (content-addressed, data-independent),
    * so the harness either always passes or fails immediately — never
    * flakes — but changing n/zScale/marginals re-rolls that dice;
    * re-verify the hash after any such change. */
  def hashSampleAudit(spark: SparkSession, n: Int,
                      zScale: Double = 0.25): DataFrame = {
    val k = marginals.length
    // |y_i| ≤ zScale·Σ_j|l_ij| ≤ zScale·√k (unit-norm correlation rows);
    // branch-1 needs |y|/√2 ≤ 0.46875 ⇔ |y| ≤ 0.66290
    require(zScale > 0 && zScale * math.sqrt(k.toDouble) <= 0.6629,
      s"zScale·sqrt(k) must stay <= 0.6629 to remain in erfc branch 1")
    require(marginals.forall(m => m.lowerBound.isEmpty && m.upperBound.isEmpty),
      "hashSampleAudit audits unbounded marginals")
    val l = cholesky
    val dists = marginals.map(m => (DistRegistry.get(m.distName).getOrElse(
      throw new IllegalArgumentException(s"unknown distribution '${m.distName}'")),
      m.params)).toArray
    val twoScale = 2.0 * zScale
    val schema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("sample_id",
        org.apache.spark.sql.types.LongType) +:
      columns.map(c => org.apache.spark.sql.types.StructField(
        c, org.apache.spark.sql.types.DoubleType)))
    val rows = spark.range(0, n.toLong).rdd.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.map { iv =>
        val i = iv.longValue
        val z = new Array[Double](k)
        var j = 0
        while (j < k) {
          val d = md.digest(s"cs_${i}_$j".getBytes("UTF-8"))
          val h = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
            ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
          z(j) = ((h % 1001L) / 1000.0 - 0.5) * twoScale
          j += 1
        }
        val out = new Array[Any](k + 1)
        out(0) = i
        var c = 0
        while (c < k) {
          var y = 0.0
          var jj = 0
          while (jj <= c) { y += l(c)(jj) * z(jj); jj += 1 }
          val u = SM.normCdf(y)
          val x = dists(c)._1.ppf(u, dists(c)._2)
          out(c + 1) = math.rint(x * 1e6) / 1e6
          c += 1
        }
        Row.fromSeq(out.toIndexedSeq)
      }
    }
    spark.createDataFrame(rows, schema)
  }
}

/** Archimedean copula fitting by Kendall-τ inversion — the
  * closed-form tail-dependence complement to [[GaussianCopula]] (which
  * has NO tail dependence and so understates joint extremes): from the
  * exact [[graft.operators.Ranks.kendallTauB]],
  *
  *   Clayton θ = 2τ/(1−τ)   (τ ∈ (0,1); lower-tail λ_L = 2^(−1/θ)),
  *   Gumbel  θ = 1/(1−τ)    (τ ∈ [0,1); upper-tail λ_U = 2 − 2^(1/θ))
  *
  * (Frank needs the Debye-function inversion — no closed form — so
  * [[ArchimedeanCopula.fitFrankByTau]] inverts a PINNED deterministic
  * quadrature grid instead). The τ estimate inherits kendallTauB's
  * LOW-CARDINALITY cell contract: quantize continuous marginals first.
  * Families whose τ-range excludes the estimate report null θ.
  */
object ArchimedeanCopula {
  import org.apache.spark.sql.types._

  /** @return one row: (n, tau, theta_clayton, lambda_lower,
    *         theta_gumbel, lambda_upper) — θ/λ 6-rounded, null where
    *         the family's τ-range excludes the estimate */
  def fitByTau(df: DataFrame, colA: String, colB: String): DataFrame = {
    val spark = df.sparkSession
    val k = Ranks.kendallTauB(df, colA, colB).head()
    val n = k.getAs[Long]("n")
    require(!k.isNullAt(k.fieldIndex("tau_b")),
      "degenerate Kendall tau (a marginal is constant) — no " +
        "Archimedean fit exists")
    val tau = k.getAs[Double]("tau_b")
    def r6(v: Double) = math.rint(v * 1e6) / 1e6
    val thetaC: Option[Double] =
      if (tau > 0.0 && tau < 1.0) Some(r6(2.0 * tau / (1.0 - tau)))
      else None
    val lambdaL = thetaC.map(t => r6(math.pow(2.0, -1.0 / t)))
    val thetaG: Option[Double] =
      if (tau >= 0.0 && tau < 1.0) Some(r6(1.0 / (1.0 - tau)))
      else None
    val lambdaU = thetaG.map(t => r6(2.0 - math.pow(2.0, 1.0 / t)))
    val schema = StructType(Seq(
      StructField("n", LongType), StructField("tau", DoubleType),
      StructField("theta_clayton", DoubleType),
      StructField("lambda_lower", DoubleType),
      StructField("theta_gumbel", DoubleType),
      StructField("lambda_upper", DoubleType)))
    spark.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row(
        n, tau, thetaC.orNull, lambdaL.orNull, thetaG.orNull,
        lambdaU.orNull)), schema)
  }

  /** Frank copula by τ inversion — the member [[fitByTau]] documents
    * as having NO closed form: τ(θ) = 1 − (4/θ)(1 − D₁(θ)) with the
    * Debye function D₁(θ) = (1/θ)∫₀^θ t/(eᵗ−1) dt. The inversion here
    * is a PINNED deterministic grid (the GARCH-grid discipline, not an
    * iterative root-finder): the integrand is evaluated at the 5000
    * midpoints of [0, 50] at step 0.01, 1e−12-quantized, and prefix-
    * summed EXACTLY as DECIMAL(38,12), so D₁(θⱼ) = Cⱼ/j and τ(θⱼ) are
    * bit-identical in any engine; θ̂ linearly interpolates the
    * bracketing grid pair at the observed |τ| (τ < τ₁ interpolates to
    * the origin — τ(θ) → θ/9; negative τ maps to −θ by the copula's
    * τ(−θ) = −τ(θ) oddness). |τ| beyond the grid ceiling
    * (τ(50) ≈ 0.9226) raises loudly. Frank has NO tail dependence —
    * λ_L = λ_U = 0 reported, the reason to pick it over
    * Clayton/Gumbel when the dependence is body-only and symmetric.
    *
    * Same kendallTauB cell contract as [[fitByTau]]: quantize
    * continuous marginals first. Grid work is O(5000) on the driver.
    *
    * @return one row: (n, tau, theta_frank, lambda_lower,
    *         lambda_upper) — θ 6-rounded */
  def fitFrankByTau(df: DataFrame, colA: String, colB: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val k = Ranks.kendallTauB(df, colA, colB).head()
    val n = k.getAs[Long]("n")
    require(!k.isNullAt(k.fieldIndex("tau_b")),
      "degenerate Kendall tau (a marginal is constant) — no " +
        "Archimedean fit exists")
    val tau = k.getAs[Double]("tau_b")
    val m = 5000
    // exact decimal prefix sum of the 1e-12-quantized midpoint
    // integrand: C_j replays as a DECIMAL(38,12) window sum
    val tauGrid = new Array[Double](m + 1)
    var acc = java.math.BigDecimal.ZERO
    var j = 1
    while (j <= m) {
      val t = (j - 0.5) * 0.01
      val f = math.rint(t / (math.exp(t) - 1.0) * 1e12) / 1e12
      acc = acc.add(java.math.BigDecimal.valueOf(f)
        .setScale(12, java.math.RoundingMode.HALF_UP))
      val c = acc.doubleValue()
      val jD = j.toDouble
      tauGrid(j) = 1.0 - 4.0 / (jD * 0.01) * (1.0 - c / jD)
      j += 1
    }
    val ta = math.abs(tau)
    require(ta <= tauGrid(m),
      f"|tau| = $ta%.6f exceeds the Frank grid ceiling " +
        f"tau(50) = ${tauGrid(m)}%.6f — the dependence is too strong " +
        "for the pinned inversion range")
    // largest grid index with tau_j <= |tau| (tau_j is increasing)
    var js = 0
    j = 1
    while (j <= m && tauGrid(j) <= ta) { js = j; j += 1 }
    val thetaAbs =
      if (js == 0) 0.01 * ta / tauGrid(1)
      else if (js == m) 50.0
      else {
        val jD = js.toDouble
        jD * 0.01 + 0.01 * (ta - tauGrid(js)) /
          (tauGrid(js + 1) - tauGrid(js))
      }
    val theta = math.rint((if (tau < 0.0) -thetaAbs else thetaAbs) *
      1e6) / 1e6 + 0.0
    Seq((n, tau, theta, 0.0, 0.0))
      .toDF("n", "tau", "theta_frank", "lambda_lower", "lambda_upper")
  }
}

object GaussianCopula {

  private[operators] def chol(corr: Array[Array[Double]]): Array[Array[Double]] = {
    val m = new Array2DRowRealMatrix(corr)
    // small ridge for numerical PD-ness, as the reference's cov handling does
    new CholeskyDecomposition(m, 1e-10, 1e-10).getL.getData
  }

  private[operators] def marginalPpf(m: Marginal): Double => Double = {
    val dist = DistRegistry.get(m.distName).getOrElse(
      throw new IllegalArgumentException(s"unknown distribution '${m.distName}'"))
    val exact: Double => Double =
      if (m.lowerBound.isDefined || m.upperBound.isDefined) {
        val t = new Truncated(dist, m.params,
          m.lowerBound.getOrElse(Double.NegativeInfinity),
          m.upperBound.getOrElse(Double.PositiveInfinity))
        (u: Double) => t.ppf(clampU(u))
      } else (u: Double) => dist.ppf(clampU(u), m.params)
    // fast-ppf table for the bulk path (iterative quantiles would cost
    // hundreds of CDF evals per draw; see Sampling.TabulatedPpf)
    val table = new Sampling.TabulatedPpf(exact)
    (u: Double) => table(u)
  }

  @inline private def clampU(u: Double): Double =
    math.min(1 - 1e-16, math.max(1e-300, u))

  /** Box-Muller-free gaussian via inverse transform (keeps the draw count
    * per sample fixed, so partition seeds stay reproducible). */
  @inline private[operators] def nextGaussian(rng: java.util.SplittableRandom): Double =
    SM.normPpf(math.min(1 - 1e-16, math.max(1e-300, rng.nextDouble())))

  /** Spearman (default) or Pearson correlation matrix over the columns,
    * distributed via Spark ML's Correlation on assembled vectors with
    * invalid rows skipped (reference: backends/spark.py:334-371).
    *
    * `"spearman_rank"` routes each pair through [[Ranks.spearman]]
    * instead: min-rank (SQL `rank()`) tie semantics via the scale-safe
    * distributed rank construction — no single-partition sort, and the
    * resulting matrix is replayable by an external SQL engine (the
    * hash-audit path; ML's Spearman is the reference-parity default). */
  def correlationMatrix(df: DataFrame, columns: Seq[String],
                        method: String = "spearman"): Array[Array[Double]] = {
    if (method == "spearman_rank") {
      val m = Array.tabulate(columns.length, columns.length)((i, j) =>
        if (i == j) 1.0 else Double.NaN)
      for (i <- columns.indices; j <- (i + 1) until columns.length) {
        val rho = Ranks.spearman(df, columns(i), columns(j)).head().getDouble(0)
        m(i)(j) = rho
        m(j)(i) = rho
      }
      return m
    }
    val assembler = new VectorAssembler()
      .setInputCols(columns.toArray).setOutputCol("__features")
      .setHandleInvalid("skip")
    val vecDf = assembler.transform(
      df.select(columns.map(c => F.col(c).cast("double").as(c)): _*))
    val m = Correlation.corr(vecDf, "__features", method)
      .head().getAs[org.apache.spark.ml.linalg.Matrix](0)
    Array.tabulate(columns.length, columns.length)((i, j) => m(i, j))
  }

  /** Fit: best marginal per column by the metric + Spearman correlation
    * (reference: copula.py:86-158). */
  def fit(spark: SparkSession, df: DataFrame, results: FitResults,
          columns: Seq[String], metric: String = "sse",
          corrMethod: String = "spearman"): GaussianCopula = {
    val marginals = columns.map { c =>
      val best = results.forColumn(c).best(1, metric).head()
      Marginal(c,
        best.getAs[String]("distribution"),
        best.getSeq[Double](best.fieldIndex("parameters")).toArray,
        Option(best.getAs[java.lang.Double]("lower_bound")).map(_.doubleValue),
        Option(best.getAs[java.lang.Double]("upper_bound")).map(_.doubleValue))
    }
    new GaussianCopula(marginals, correlationMatrix(df, columns, corrMethod))
  }
}
