package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.stat.Summarizer
import org.apache.commons.math3.linear.{Array2DRowRealMatrix, CholeskyDecomposition, LUDecomposition}

/** Multivariate-normal fit/sample/density (reference:
  * src/spark_bestfit/multivariate.py:52-485): distributed mean and
  * covariance via Spark ML's Summarizer (one pass), driver-side Cholesky,
  * condition-number warning, partition-seeded distributed sampling,
  * pdf/logpdf and Mahalanobis distance.
  */
final case class MultivariateNormalResult(
    columns: Seq[String],
    mean: Array[Double],
    cov: Array[Array[Double]],
    sampleSize: Long) extends Serializable {

  val k: Int = columns.length

  @transient lazy val cholesky: Array[Array[Double]] =
    new CholeskyDecomposition(new Array2DRowRealMatrix(cov), 1e-10, 1e-10).getL.getData

  @transient private lazy val lu = new LUDecomposition(new Array2DRowRealMatrix(cov))
  @transient lazy val covInverse: Array[Array[Double]] = lu.getSolver.getInverse.getData
  @transient lazy val logDetCov: Double = math.log(lu.getDeterminant)

  /** Condition-number estimate (max/min diagonal of L²) — the reference
    * warns above 1e10 (multivariate.py:120-135). */
  def conditionEstimate: Double = {
    val d = cholesky.indices.map(i => cholesky(i)(i) * cholesky(i)(i))
    d.max / math.max(d.min, 1e-300)
  }

  def mahalanobis(x: Array[Double]): Double = {
    val d = Array.tabulate(k)(i => x(i) - mean(i))
    var s = 0.0
    var i = 0
    while (i < k) {
      var j = 0
      while (j < k) { s += d(i) * covInverse(i)(j) * d(j); j += 1 }
      i += 1
    }
    math.sqrt(s)
  }

  def logpdf(x: Array[Double]): Double = {
    val m = mahalanobis(x)
    -0.5 * (k * math.log(2 * math.Pi) + logDetCov + m * m)
  }

  def pdf(x: Array[Double]): Double = math.exp(logpdf(x))

  /** Correlation from covariance. */
  def correlation: Array[Array[Double]] =
    Array.tabulate(k, k)((i, j) => cov(i)(j) / math.sqrt(cov(i)(i) * cov(j)(j)))

  def sampleLocal(n: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rng = new java.util.SplittableRandom(seed)
    val l = cholesky
    Array.fill(n) {
      val z = Array.fill(k)(GaussianCopula.nextGaussian(rng))
      Array.tabulate(k) { i =>
        var s = mean(i)
        var j = 0
        while (j <= i) { s += l(i)(j) * z(j); j += 1 }
        s
      }
    }
  }

  /** Distributed sampling with per-partition seeds (same pattern as
    * Sampling.generate): each partition writes its draws into one reused
    * UnsafeRow ([[Sampling.seededRows]]); the columns are nullable. */
  def sampleDistributed(spark: SparkSession, n: Long, seed: Long = 42L,
                        numPartitions: Int = 0): DataFrame = {
    val l = cholesky
    val mu = mean
    val kk = k
    val schema = org.apache.spark.sql.types.StructType(columns.map(c =>
      org.apache.spark.sql.types.StructField(c, org.apache.spark.sql.types.DoubleType)))
    Sampling.seededRows(spark, n, seed, numPartitions, schema) { (rng, w) =>
      val z = Array.fill(kk)(GaussianCopula.nextGaussian(rng))
      var i = 0
      while (i < kk) {
        var s = mu(i)
        var j = 0
        while (j <= i) { s += l(i)(j) * z(j); j += 1 }
        w.write(i, s)
        i += 1
      }
    }
  }
}

object MultivariateNormal {

  /** One-pass distributed fit: mean vector + covariance matrix via
    * Summarizer (ddof handling matches the reference's default ddof=1,
    * multivariate.py:390-450). */
  def fit(df: DataFrame, columns: Seq[String], ddof: Int = 1): MultivariateNormalResult = {
    val assembler = new VectorAssembler()
      .setInputCols(columns.toArray).setOutputCol("__features")
      .setHandleInvalid("skip")
    val vecDf = assembler.transform(
      df.select(columns.map(c => F.col(c).cast("double").as(c)): _*))
    val row = vecDf.select(
      Summarizer.metrics("mean", "variance", "count").summary(F.col("__features")).as("s"))
      .select("s.mean", "s.variance", "s.count").head()
    val mean = row.getAs[org.apache.spark.ml.linalg.Vector](0).toArray
    val n = row.getLong(2)
    require(n > columns.length, s"need more rows ($n) than dimensions for MVN fit")

    // covariance: E[xy] − E[x]E[y], scaled for ddof — one extra agg pass
    val k = columns.length
    val prodExprs = for (i <- 0 until k; j <- i until k) yield
      F.avg(F.col(columns(i)).cast("double") * F.col(columns(j)).cast("double")).as(s"p_${i}_$j")
    val prods = df.na.drop(columns).agg(prodExprs.head, prodExprs.tail: _*).head()
    val cov = Array.ofDim[Double](k, k)
    var idx = 0
    for (i <- 0 until k; j <- i until k) {
      val exy = prods.getDouble(idx)
      val c = (exy - mean(i) * mean(j)) * n / math.max(n - ddof, 1)
      cov(i)(j) = c; cov(j)(i) = c
      idx += 1
    }
    MultivariateNormalResult(columns, mean, cov, n)
  }
}
