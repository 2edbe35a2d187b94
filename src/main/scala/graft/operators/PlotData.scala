package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import graft.dists.{DiscreteRegistry, DistRegistry, FrozenModel}

/** Plot-DATA operators (reference: src/spark_bestfit/plotting.py renders
  * eight matplotlib figures; the data each one plots is engine work —
  * SURVEY.md §2.10 — so the engine exposes the DataFrames and skips the
  * rendering).
  */
object PlotData {

  private def frozen(distName: String, params: Array[Double],
                     lb: Option[Double], ub: Option[Double]): FrozenModel = {
    val dist = DistRegistry.get(distName).getOrElse(
      throw new IllegalArgumentException(s"unknown distribution '$distName'"))
    FrozenModel(dist, params, lb, ub)
  }

  /** Histogram (bin center, density) + fitted expected density per bin —
    * the data behind plot_distribution and plot_residual_histogram. */
  def histogramComparison(spark: SparkSession, hist: Hist,
                          distName: String, params: Array[Double],
                          lb: Option[Double] = None, ub: Option[Double] = None): DataFrame = {
    import spark.implicits._
    val m = frozen(distName, params, lb, ub)
    val rows = (0 until hist.nBins).map { i =>
      val lo = hist.edges(i); val hi = hist.edges(i + 1)
      val center = (lo + hi) / 2
      val expected = (m.cdf(hi) - m.cdf(lo)) / (hi - lo)
      val exp = if (expected.isNaN || expected.isInfinite) 0.0 else expected
      (center, hist.density(i), exp, hist.density(i) - exp)
    }
    rows.toDF("bin_center", "density", "expected_density", "residual")
  }

  /** PDF curve on the ppf(0.01)..ppf(0.99) range with histogram-bounds
    * fallback (reference: estimation.py:1003-1039). */
  def pdfCurve(spark: SparkSession, distName: String, params: Array[Double],
               points: Int = 200, hist: Option[Hist] = None,
               lb: Option[Double] = None, ub: Option[Double] = None): DataFrame = {
    import spark.implicits._
    val m = frozen(distName, params, lb, ub)
    var lo = m.ppf(0.01); var hi = m.ppf(0.99)
    if (!java.lang.Double.isFinite(lo) || !java.lang.Double.isFinite(hi) || lo >= hi) {
      hist.foreach { h => lo = h.edges.head; hi = h.edges.last }
    }
    val rows = (0 until points).map { i =>
      val x = lo + (hi - lo) * i / (points - 1)
      (x, m.pdf(x))
    }
    rows.toDF("x", "pdf")
  }

  /** Q-Q data: theoretical vs sample quantiles at Blom plotting positions
    * (i − 0.375)/(n + 0.25) (reference: plotting.py:101-114). */
  def qqData(spark: SparkSession, sample: Array[Double],
             distName: String, params: Array[Double],
             lb: Option[Double] = None, ub: Option[Double] = None): DataFrame = {
    import spark.implicits._
    val m = frozen(distName, params, lb, ub)
    val sorted = sample.clone()
    java.util.Arrays.sort(sorted)
    val n = sorted.length
    val rows = (1 to n).map { i =>
      val p = (i - 0.375) / (n + 0.25)
      (m.ppf(p), sorted(i - 1))
    }
    rows.toDF("theoretical_quantile", "sample_quantile")
  }

  /** P-P data: model CDF vs empirical CDF at the sorted sample. */
  def ppData(spark: SparkSession, sample: Array[Double],
             distName: String, params: Array[Double],
             lb: Option[Double] = None, ub: Option[Double] = None): DataFrame = {
    import spark.implicits._
    val m = frozen(distName, params, lb, ub)
    val sorted = sample.clone()
    java.util.Arrays.sort(sorted)
    val n = sorted.length
    val rows = (1 to n).map { i =>
      ((i - 0.5) / n, m.cdf(sorted(i - 1)))
    }
    rows.toDF("empirical_cdf", "model_cdf")
  }

  /** Empirical PMF vs fitted PMF at the observed support — the data
    * behind plot_discrete_distribution (reference: plotting.py:735). */
  def pmfComparison(spark: SparkSession, pmf: Pmf,
                    distName: String, params: Array[Double]): DataFrame = {
    import spark.implicits._
    val d = DiscreteRegistry.get(distName).getOrElse(
      throw new IllegalArgumentException(s"unknown discrete distribution '$distName'"))
    val rows = pmf.xs.zip(pmf.p).map { case (k, pe) =>
      val pm = d.pmf(k, params)
      (k, pe, if (pm.isNaN || pm.isInfinite) 0.0 else pm)
    }
    rows.toSeq.toDF("k", "empirical_pmf", "model_pmf")
  }

  /** Exact order statistics of `column` at `points` evenly-spaced ranks
    * r_j = max(1, j·n div points), computed scale-safely over the
    * [[PrefixSum]] substrate — NO single-partition window, so this
    * holds at 100 TB where a global row_number() dies.
    * Returns (n, DataFrame(rank: long, sample_quantile: double)). */
  private def rankSelect(scope: Persisted, df: DataFrame, column: String,
                         points: Int): (Long, DataFrame) =
    rankSelectAt(scope, df, column, n =>
      (1 to points).map(j => math.max(1L, j.toLong * n / points))
        .distinct.sorted.toArray)

  /** Exact order statistics at caller-chosen ranks (1-based, derived
    * from the total count): the shared scale-safe machinery behind the
    * Q-Q/P-P points and the robust-statistics selections. */
  private[operators] def rankSelectAt(scope: Persisted, df: DataFrame, column: String,
                                      targetsOf: Long => Array[Long])
      : (Long, DataFrame) = {
    val spark = df.sparkSession
    import spark.implicits._
    // ONE range shuffle of the raw values (no pre-aggregation: the
    // second shuffle a distinct-value pass costs outweighs the dedup for
    // typical near-unique numeric columns), then per-partition sizes →
    // global offsets → targeted emit
    val values = df
      .select(F.col(column).cast("double").as("__v"))
      .where(F.col("__v").isNotNull && !F.isnan(F.col("__v")))
    PrefixSum(values.as[Double], F.col("__v")) { ps =>
      val off = ps.offsets(1)((s, _) => s(0) += 1)
      val n = off.last(0)
      // the emit loop walks targets monotonically — enforce the sorted,
      // duplicate-free precondition rather than documenting it away
      val ts = targetsOf(n).distinct.sorted
      val rows = ps.walk(off) { (o, it) =>
        var r = o(0)
        var idx = java.util.Arrays.binarySearch(ts, r + 1)
        if (idx < 0) idx = -idx - 1
        it.flatMap { v =>
          r += 1
          if (idx < ts.length && ts(idx) == r) {
            idx += 1
            Iterator((r, v))
          } else Iterator.empty
        }
      }.toDF("rank", "sample_quantile")
      (n, scope.checkpoint(rows))
    }
  }

  /** Distributed Q-Q data: exact order statistics at `points` ranks vs
    * theoretical quantiles at Blom positions (r − 0.375)/(n + 0.25) —
    * the scale path for qqData's driver-side sample variant. Theoretical
    * quantiles are rounded to 6 decimals so the output is stable across
    * libm implementations. */
  def qqDist(df: DataFrame, column: String, distName: String,
             params: Array[Double], points: Int = 100,
             lb: Option[Double] = None, ub: Option[Double] = None): DataFrame = Persisted { scope =>
    val m = frozen(distName, params, lb, ub)
    val (n, os) = rankSelect(scope, df, column, points)
    val ppfUdf = F.udf((r: Long) => m.ppf((r - 0.375) / (n + 0.25)))
    os.select(F.col("rank"),
      F.round(ppfUdf(F.col("rank")), 6).as("theoretical_quantile"),
      F.col("sample_quantile"))
  }

  /** Distributed P-P data: empirical CDF (r − 0.5)/n vs model CDF at the
    * same exact order statistics. */
  def ppDist(df: DataFrame, column: String, distName: String,
             params: Array[Double], points: Int = 100,
             lb: Option[Double] = None, ub: Option[Double] = None): DataFrame = Persisted { scope =>
    val m = frozen(distName, params, lb, ub)
    val (n, os) = rankSelect(scope, df, column, points)
    val cdfUdf = F.udf((x: Double) => m.cdf(x))
    os.select(F.col("rank"),
      ((F.col("rank") - F.lit(0.5)) / F.lit(n.toDouble)).as("empirical_cdf"),
      F.round(cdfUdf(F.col("sample_quantile")), 6).as("model_cdf"))
  }

  /** ECDF vs fitted CDF over the sample range — plot_cdf_comparison. */
  def cdfComparison(spark: SparkSession, sample: Array[Double],
                    distName: String, params: Array[Double], points: Int = 200,
                    lb: Option[Double] = None, ub: Option[Double] = None): DataFrame = {
    import spark.implicits._
    val m = frozen(distName, params, lb, ub)
    val sorted = sample.clone()
    java.util.Arrays.sort(sorted)
    val n = sorted.length
    val lo = sorted.head; val hi = sorted.last
    val rows = (0 until points).map { i =>
      val x = lo + (hi - lo) * i / (points - 1)
      // ECDF via binary search
      var idx = java.util.Arrays.binarySearch(sorted, x)
      if (idx < 0) idx = -idx - 1 else { while (idx < n && sorted(idx) <= x) idx += 1 }
      (x, idx.toDouble / n, m.cdf(x))
    }
    rows.toDF("x", "ecdf", "model_cdf")
  }

  /** Lorenz curve points per group — the PLOT behind
    * [[Ranks.giniByGroup]]'s scalar: cumulative population share vs
    * cumulative mass share over ascending values, one point per
    * distinct value (ties collapse into one exact point — the curve a
    * per-row construction would fuzz). Per-(group, value) cells +
    * per-group cumulative windows; pure ratios of exact sums.
    *
    * @return one row per (group, distinct value): (groupCols..., v,
    *         pop_share, mass_share), shares rounded to 6; negative
    *         values rejected (Lorenz needs a non-negative measure) */
  def lorenzByGroup(df: DataFrame, groupCols: Seq[String],
                    valueCol: String): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    import org.apache.spark.sql.expressions.Window
    val gCols = groupCols.map(F.col)
    val v = F.col(valueCol).cast("double")
    val cells = df
      .where(v.isNotNull && !F.isnan(v) && v >= 0.0)
      .groupBy(gCols :+ v.as("v"): _*)
      .agg(F.count(F.lit(1)).as("__c"), F.sum(v).as("__s"))
    val wg = Window.partitionBy(gCols: _*)
    val wCum = Window.partitionBy(gCols: _*).orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells
      .withColumn("__n", F.sum("__c").over(wg))
      .withColumn("__t", F.sum("__s").over(wg))
      .withColumn("pop_share", F.round(
        F.sum("__c").over(wCum).cast("double") / F.col("__n"), 6))
      .withColumn("mass_share", F.when(F.col("__t") > 0.0, F.round(
        F.sum("__s").over(wCum) / F.col("__t"), 6)))
      .select(gCols ++ Seq(F.col("v"), F.col("pop_share"),
        F.col("mass_share")): _*)
  }
}
