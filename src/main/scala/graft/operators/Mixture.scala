package graft.operators

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.clustering.GaussianMixture

/** Gaussian mixture model fitting (reference: src/spark_bestfit/
  * mixture.py:111-711 implements full-covariance EM by hand; Spark ML's
  * GaussianMixture IS that distributed EM, so we use it directly — SURVEY
  * §2.8 G7 — and add the reference's reporting surface: weights, means,
  * covariances, converged log-likelihood, AIC/BIC with the full-covariance
  * free-parameter count, and predict/predict_proba).
  */
final case class GaussianMixtureResult(
    columns: Seq[String],
    weights: Array[Double],
    means: Array[Array[Double]],
    covariances: Array[Array[Array[Double]]],
    logLikelihood: Double,
    n: Long,
    aic: Double,
    bic: Double) extends Serializable {
  def k: Int = weights.length
}

object Mixture {

  /** Free parameters of a k-component full-covariance GMM in d dims:
    * (k−1) weights + k·d means + k·d(d+1)/2 covariance entries
    * (reference: mixture.py:280-305). */
  def freeParams(k: Int, d: Int): Int = (k - 1) + k * d + k * d * (d + 1) / 2

  /** `nInit` > 1 runs EM from that many seeded starts and keeps the run
    * with the best converged log-likelihood (the reference's n_init,
    * mixture.py:424-711; Spark ML's GaussianMixture is single-init, so
    * the restart loop lives here). The assembled input is materialized
    * once and shared by every restart. */
  def fit(df: DataFrame, columns: Seq[String], k: Int,
          seed: Long = 42L, maxIter: Int = 100, tol: Double = 1e-4,
          nInit: Int = 1): (GaussianMixtureResult, DataFrame) = Persisted { scope =>
    require(nInit >= 1, "nInit must be >= 1")
    val assembler = new VectorAssembler()
      .setInputCols(columns.toArray).setOutputCol("__features")
      .setHandleInvalid("skip")
    val vecDf = scope.checkpoint(assembler.transform(
      df.select(columns.map(c => F.col(c).cast("double").as(c)): _*)))
    val n = vecDf.count()
    val gmm = new GaussianMixture()
      .setK(k).setMaxIter(maxIter).setTol(tol)
      .setFeaturesCol("__features")
    // NaN-safe best-of: TotalOrdering ranks NaN above every finite value,
    // so a degenerate run (singular covariance) would win a bare maxBy
    val runs = (0 until nInit).map(i => gmm.setSeed(seed + i).fit(vecDf))
    val finite = runs.filter(m => java.lang.Double.isFinite(m.summary.logLikelihood))
    val model = (if (finite.nonEmpty) finite else runs)
      .maxBy(_.summary.logLikelihood)
    val d = columns.length
    val ll = model.summary.logLikelihood
    val p = freeParams(k, d)
    val aic = 2.0 * p - 2.0 * ll
    val bic = p * math.log(n.toDouble) - 2.0 * ll
    val result = GaussianMixtureResult(
      columns,
      model.weights,
      model.gaussians.map(_.mean.toArray),
      model.gaussians.map(g => {
        val m = g.cov
        Array.tabulate(d, d)((i, j) => m(i, j))
      }),
      ll, n, aic, bic)
    val assigned = model.transform(vecDf)
      .withColumnRenamed("prediction", "component")
      .drop("__features")
    (result, assigned)
  }

  /** Distributed sampling from a fitted mixture (reference:
    * mixture.py sampling-by-component): per partition, a seeded RNG picks
    * the component from the cumulative weights, then draws
    * `mean_c + L_c·z` with that component's Cholesky factor. Same
    * partition-seeded pattern as Sampling.generate / MVN sampling — rows
    * are born on executors, n scales with no driver path; each partition
    * writes its draws into one reused UnsafeRow ([[Sampling.seededRows]]).
    * The columns and `component` are nullable. */
  def sampleDistributed(spark: org.apache.spark.sql.SparkSession,
                        r: GaussianMixtureResult, n: Long,
                        seed: Long = 42L, numPartitions: Int = 0): DataFrame = {
    import org.apache.commons.math3.linear.{Array2DRowRealMatrix, CholeskyDecomposition}
    val cum = r.weights.scanLeft(0.0)(_ + _).tail
    val chols = r.covariances.map(c =>
      new CholeskyDecomposition(new Array2DRowRealMatrix(c), 1e-10, 1e-10).getL.getData)
    val means = r.means
    val kk = r.columns.length
    val schema = org.apache.spark.sql.types.StructType(
      r.columns.map(c => org.apache.spark.sql.types.StructField(
        c, org.apache.spark.sql.types.DoubleType)) :+
      org.apache.spark.sql.types.StructField(
        "component", org.apache.spark.sql.types.IntegerType))
    Sampling.seededRows(spark, n, seed, numPartitions, schema) { (rng, w) =>
      val u = rng.nextDouble()
      var c = 0
      while (c < cum.length - 1 && u > cum(c)) c += 1
      val z = Array.fill(kk)(GaussianCopula.nextGaussian(rng))
      val l = chols(c); val mu = means(c)
      var i = 0
      while (i < kk) {
        var s = mu(i)
        var j = 0
        while (j <= i) { s += l(i)(j) * z(j); j += 1 }
        w.write(i, s)
        i += 1
      }
      w.write(kk, c)
    }
  }

  /** Serving-path scoring under a FIXED diagonal-covariance mixture —
    * score new data under a saved model (e.g. one loaded back from the
    * JSON sink) without refitting. Adds the per-row mixture
    * log-likelihood and the hard component assignment as pure columnar
    * arithmetic: max-factored logsumexp over per-component log densities,
    * whole-stage codegen, no UDF, no shuffle — flat in row count, and
    * every expression is SQL-replayable by an external engine.
    *
    * `variances(c)(i)` is component c's variance along `columns(i)`
    * (diagonal covariance — the serving-tier restriction; full-covariance
    * scoring stays on `model.transform` after [[fit]]). */
  def score(df: DataFrame, columns: Seq[String], weights: Array[Double],
            means: Array[Array[Double]], variances: Array[Array[Double]],
            llCol: String = "loglik", assignCol: String = "component"): DataFrame = {
    val k = weights.length
    require(k >= 1 && means.length == k && variances.length == k,
      "weights/means/variances must agree on k")
    require(means.forall(_.length == columns.length) &&
      variances.forall(_.length == columns.length),
      "means/variances must agree with columns on d")
    require(math.abs(weights.sum - 1.0) < 1e-9, "weights must sum to 1")
    require(variances.forall(_.forall(_ > 0.0)), "variances must be positive")
    val compLl: Seq[org.apache.spark.sql.Column] = (0 until k).map { c =>
      val terms = columns.indices.map { i =>
        val x = F.col(columns(i)).cast("double")
        val mu = means(c)(i)
        val v = variances(c)(i)
        (x - F.lit(mu)) * (x - F.lit(mu)) / F.lit(-2.0 * v) -
          F.lit(0.5 * math.log(2.0 * math.Pi * v))
      }
      terms.reduce(_ + _) + F.lit(math.log(weights(c)))
    }
    val ll =
      if (k == 1) compLl.head
      else {
        val mx = compLl.reduce((a, b) => F.greatest(a, b))
        mx + F.log(compLl.map(l => F.exp(l - mx)).reduce(_ + _))
      }
    // argmax with first-index tie-breaking: a strict > chain over the
    // running best, same CASE ladder an external engine replays
    val assign = compLl.zipWithIndex.tail.foldLeft(
      (compLl.head, F.lit(0))) { case ((bestL, bestI), (l, i)) =>
        (F.greatest(bestL, l), F.when(l > bestL, F.lit(i)).otherwise(bestI))
    }._2
    df.withColumn(llCol, ll).withColumn(assignCol, assign)
  }

  /** Per-component posterior responsibilities p(c | x) — the reference's
    * `predict_proba` (mixture.py responsibilities) as pure codegen'd
    * columns: softmax of the per-component joint log densities via the
    * same max-factored logsumexp as [[score]]. Emits `probaPrefix{c}`
    * columns that sum to 1 per row. */
  def scoreProba(df: DataFrame, columns: Seq[String], weights: Array[Double],
                 means: Array[Array[Double]], variances: Array[Array[Double]],
                 probaPrefix: String = "p_"): DataFrame = {
    val k = weights.length
    require(k >= 1 && means.length == k && variances.length == k,
      "weights/means/variances must agree on k")
    val compLl: Seq[org.apache.spark.sql.Column] = (0 until k).map { c =>
      val terms = columns.indices.map { i =>
        val x = F.col(columns(i)).cast("double")
        val mu = means(c)(i)
        val v = variances(c)(i)
        (x - F.lit(mu)) * (x - F.lit(mu)) / F.lit(-2.0 * v) -
          F.lit(0.5 * math.log(2.0 * math.Pi * v))
      }
      terms.reduce(_ + _) + F.lit(math.log(weights(c)))
    }
    // materialize the shared max and denominator ONCE — inlining them
    // into every p_c column would duplicate all k component-LL trees per
    // output column (O(k²·d) expression nodes at analysis/codegen time)
    val mxE = compLl.reduce((a, b) => F.greatest(a, b))
    val withShared = df
      .withColumn("__gmm_mx", mxE)
      .withColumn("__gmm_denom",
        compLl.map(l => F.exp(l - F.col("__gmm_mx"))).reduce(_ + _))
    compLl.zipWithIndex.foldLeft(withShared) { case (acc, (l, c)) =>
      acc.withColumn(s"$probaPrefix$c",
        F.exp(l - F.col("__gmm_mx")) / F.col("__gmm_denom"))
    }.drop("__gmm_mx", "__gmm_denom")
  }

  /** Flat per-component report DataFrame (component, weight, means, diag
    * variances) — the query surface for the harness. */
  def report(spark: org.apache.spark.sql.SparkSession, r: GaussianMixtureResult): DataFrame = {
    import spark.implicits._
    (0 until r.k).map { c =>
      (c, r.weights(c),
        r.means(c).toSeq,
        (0 until r.columns.length).map(i => r.covariances(c)(i)(i)).toSeq,
        r.aic, r.bic)
    }.toDF("component", "weight", "means", "variances", "aic", "bic")
  }
}
