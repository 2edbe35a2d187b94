package graft.operators

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, functions => F}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.expressions.Window

/** Query surface over the results table (reference:
  * src/spark_bestfit/collection.py:51-1216). The fitters build `df` on the
  * driver from the collected fan-out rows — O(columns · families) rows, the
  * order of the contexts the driver already holds — so it is never cached
  * and every method is a plain DataFrame op over a local relation: no
  * query here rescans the input or refits.
  */
final class FitResults(
    val df: DataFrame,
    val samples: Map[String, Array[Double]] = Map.empty,
    val cfg: FitConfig = FitConfig(),
    // discrete fits keep the EXACT integral sample alongside the double
    // view, so a lazy K-S recompute never round-trips values above 2^53
    // through Double
    private[operators] val discreteSamples: Map[String, Array[Long]] = Map.empty)
  extends Serializable {

  import FitResults._

  def count: Long = df.count()

  /** A no-op, kept for callers of the reference's collection lifecycle
    * (collection.py unpersist): the results table lives on the driver and
    * a fit caches nothing, so there is nothing to release. */
  def unpersist(): this.type = this

  /** Drop sentinel rows from failed fits (sse = +inf)
    * (reference: backends/spark.py:193). */
  def successful: DataFrame = df.where(F.col("sse") < F.lit(Double.PositiveInfinity))

  /** Top-n by a metric, ascending, NULLS LAST — lazy-metric rows sort
    * after real ones (reference: collection.py:336-420). */
  def best(n: Int = 1, metric: String = "sse"): DataFrame = {
    requireMetric(metric)
    df.orderBy(F.col(metric).asc_nulls_last, F.col("distribution").asc)
      .limit(n)
  }

  /** Conjunctive metric thresholds (reference: collection.py:450-494). */
  def filterByMetrics(
      maxSse: Option[Double] = None,
      maxAic: Option[Double] = None,
      maxBic: Option[Double] = None,
      maxKs: Option[Double] = None,
      minPvalue: Option[Double] = None,
      maxAd: Option[Double] = None): FitResults = {
    var out = df
    maxSse.foreach(t => out = out.where(F.col("sse") < t))
    maxAic.foreach(t => out = out.where(F.col("aic") < t))
    maxBic.foreach(t => out = out.where(F.col("bic") < t))
    maxKs.foreach(t => out = out.where(F.col("ks_statistic") < t))
    minPvalue.foreach(t => out = out.where(F.col("pvalue") > t))
    maxAd.foreach(t => out = out.where(F.col("ad_statistic") < t))
    // keep samples/cfg so a filtered lazy collection can still fill
    // deferred metrics (bestLazy/materialize)
    new FitResults(out, samples, cfg, discreteSamples)
  }

  def forColumn(column: String): FitResults =
    new FitResults(df.where(F.col("column_name") === column), samples, cfg,
      discreteSamples)

  /** Lazy-metric top-n (reference: collection.py:1008-1120): when the
    * requested metric was deferred at fit time, pre-select 3n+5 candidates
    * by AIC as a proxy, recompute K-S/A-D for only those from the kept
    * sample, re-sort by the requested metric. The results table is small
    * and driver-local, so all of it runs on the driver over one collect. */
  def bestLazy(spark: org.apache.spark.sql.SparkSession, n: Int, metric: String): DataFrame = {
    requireMetric(metric)
    val rows = df.as(encoder).collect()
    def value(r: FitResult): Option[Double] =
      if (metric == "ks_statistic") r.ks_statistic else r.ad_statistic
    // recompute iff any SUCCESSFUL fit still has the metric deferred —
    // failed-fit sentinels carry ks = +inf, so a bare isNotNull probe
    // would see them and skip the fill, ranking a sentinel "best"
    val needsRecompute = Set("ks_statistic", "ad_statistic")(metric) &&
      rows.exists(r => r.sse < Double.PositiveInfinity && value(r).isEmpty)
    if (!needsRecompute) return best(n, metric)
    val candidates = rows.filter(_.sse < Double.PositiveInfinity)
      .sortWith((a, b) => SQLOrderingUtil.compareDoubles(a.aic, b.aic) < 0).take(3 * n + 5)
    val filled = fillMetrics(candidates, samples, discreteSamples)
      .sortWith((a, b) => {
        val byMetric = ascNullsLast(value(a), value(b))
        byMetric < 0 || (byMetric == 0 && a.distribution < b.distribution)
      }).take(n)
    spark.createDataset(filled.toSeq)(encoder).toDF()
  }

  /** Fill deferred K-S/A-D for every row → an eager FitResults
    * (reference: collection.py:918-1006, materialize()). */
  def materialize(spark: org.apache.spark.sql.SparkSession): FitResults = {
    val filled = fillMetrics(df.as(encoder).collect(), samples, discreteSamples)
    new FitResults(spark.createDataset(filled.toSeq)(encoder).toDF(), samples, cfg, discreteSamples)
  }

  /** Distinct non-null fitted column names (reference: collection.py:522-544). */
  def columnNames: Seq[String] =
    df.select("column_name").na.drop().distinct()
      .orderBy("column_name").collect().map(_.getString(0)).toSeq

  /** Top-n per column via a window — one shuffle, not a per-column loop
    * (reference does this column-at-a-time, collection.py:546-567; the
    * windowed form is the scalable equivalent). */
  def bestPerColumn(n: Int = 1, metric: String = "sse"): DataFrame = {
    requireMetric(metric)
    val w = Window.partitionBy("column_name")
      .orderBy(F.col(metric).asc_nulls_last, F.col("distribution").asc)
    df.withColumn("rank", F.row_number().over(w))
      .where(F.col("rank") <= n)
      .drop("rank")
  }

  /** min/mean/max of every metric + total count in one aggregation
    * (reference: collection.py:569-623). */
  def summary: DataFrame = {
    val metricsCols = Seq("sse", "aic", "bic", "ks_statistic", "pvalue", "ad_statistic")
    val aggs = metricsCols.flatMap { m =>
      Seq(F.min(m).as(s"min_$m"), F.avg(m).as(s"mean_$m"), F.max(m).as(s"max_$m"))
    } :+ F.count(F.lit(1)).as("n_results")
    successful.agg(aggs.head, aggs.tail: _*)
  }

  /** Count of fits passing the acceptability thresholds:
    * pvalue ≥ minPvalue AND ks ≤ maxKs AND (ad null OR ad ≤ maxAd)
    * (reference: collection.py:696-713). */
  def acceptableCount(minPvalue: Double = 0.05, maxKs: Double = 0.1,
                      maxAd: Double = 2.0): Long =
    df.where(
      F.col("pvalue") >= minPvalue &&
      F.col("ks_statistic") <= maxKs &&
      (F.col("ad_statistic").isNull || F.col("ad_statistic") <= maxAd)).count()

  /** Per-column fit-quality report: counts + best family by the metric
    * (reference: collection.py:625-713). */
  def qualityReport(metric: String = "sse"): DataFrame = {
    requireMetric(metric)
    val w = Window.partitionBy("column_name")
      .orderBy(F.col(metric).asc_nulls_last, F.col("distribution").asc)
    df.withColumn("rank", F.row_number().over(w))
      .groupBy("column_name")
      .agg(
        F.count(F.lit(1)).as("n_fits"),
        F.sum(F.when(F.col("sse") < Double.PositiveInfinity, 1).otherwise(0)).as("n_successful"),
        F.sum(F.when(F.col("pvalue") >= 0.05 && F.col("ks_statistic") <= 0.1, 1).otherwise(0)).as("n_acceptable"),
        F.max(F.when(F.col("rank") === 1, F.col("distribution"))).as("best_distribution"),
        F.max(F.when(F.col("rank") === 1, F.col(metric))).as("best_metric_value"))
      .orderBy("column_name")
  }
}

object FitResults {
  val sortableMetrics: Set[String] = Set("sse", "aic", "bic", "ks_statistic", "ad_statistic")

  /** The results table's row encoder, derived by reflection once: every
    * fit builds its table with it, and the lazy-metric paths read rows
    * back through it. */
  private[operators] val encoder: Encoder[FitResult] = Encoders.product[FitResult]

  private def requireMetric(metric: String): Unit =
    require(sortableMetrics(metric),
      s"metric must be one of ${sortableMetrics.mkString(", ")}, got '$metric'")

  /** Spark's ascending order with nulls last (NaN above every number,
    * -0.0 equal to 0.0), for sorting collected rows as `orderBy` would. */
  private def ascNullsLast(a: Option[Double], b: Option[Double]): Int = (a, b) match {
    case (Some(x), Some(y)) => SQLOrderingUtil.compareDoubles(x, y)
    case (Some(_), None) => -1
    case (None, Some(_)) => 1
    case _ => 0
  }

  /** Recompute deferred K-S/A-D(/A-D p) from the kept per-column sample
    * for rows where they are null (reference: metrics.py:325-382 +
    * collection.py:174-297 — the cached-array path; we always keep it). */
  private[operators] def fillMetrics(
      rows: Array[FitResult],
      samples: Map[String, Array[Double]],
      discreteSamples: Map[String, Array[Long]]): Array[FitResult] = {
    import graft.dists.{DistRegistry, FrozenModel}
    import graft.functions.Metrics
    rows.map { r =>
      if (r.ks_statistic.isDefined || !samples.contains(r.column_name)) r
      else DistRegistry.get(r.distribution) match {
        case Some(dist) if r.parameters.forall(java.lang.Double.isFinite) =>
          val sample = samples(r.column_name)
          val frozen = FrozenModel(dist, r.parameters, r.lower_bound, r.upper_bound)
          val (ks, pv) = Metrics.ksStatistic(frozen, sample)
          val ad = Metrics.adStatistic(frozen, sample)
          val adP = if (r.lower_bound.isEmpty && r.upper_bound.isEmpty)
            Metrics.adPValue(dist, sample) else None
          r.copy(ks_statistic = Some(ks), pvalue = Some(pv),
            ad_statistic = Some(ad), ad_pvalue = adP)
        case None =>
          // discrete families defer too: recompute the tie-aware
          // discrete K-S from the kept (integral) sample; A-D stays
          // undefined for discrete fits, as in the eager path
          graft.dists.DiscreteRegistry.get(r.distribution) match {
            case Some(d) if r.parameters.forall(java.lang.Double.isFinite) =>
              // the exact integral sample when available; the double
              // view only as a fallback (lossy above 2^53)
              val sample = discreteSamples.getOrElse(r.column_name,
                samples(r.column_name).map(_.toLong))
              val (ks, pv) = Metrics.ksDiscrete(d, r.parameters, sample)
              r.copy(ks_statistic = Some(ks), pvalue = Some(pv))
            case _ => r
          }
        case _ => r
      }
    }
  }
}
