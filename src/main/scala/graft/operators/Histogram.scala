package graft.operators

import org.apache.spark.sql.{DataFrame, functions => F}

/** The compressed data representations fitting runs on: an equal-width
  * density histogram (~100 doubles) and a discrete empirical PMF
  * (reference: src/spark_bestfit/storage.py:82-97, histogram.py:51-132,
  * backends/spark.py:373-427, discrete_fitting.py:127-149).
  *
  * Scale design: the raw column is never collected. One pass computes
  * (min, max, count); a second computes per-bin counts with pure Catalyst
  * arithmetic — `floor((x−min)/width)` clamped to the last bin — which
  * stays inside whole-stage codegen and shuffles only ~bins rows after
  * partial aggregation. At 100 TB this is two scans and a ~100-row
  * collect; no Bucketizer model or UDF is involved.
  */
final case class Hist(density: Array[Double], edges: Array[Double]) extends Serializable {
  def nBins: Int = math.max(edges.length - 1, 0)
  def isSingular: Boolean = edges.length == 1
}

final case class Pmf(xs: Array[Long], p: Array[Double], total: Long) extends Serializable

object Histogram {

  /** Rice rule: bins = 2·ceil(N^(1/3)) (reference: histogram.py:92-95). */
  def riceBins(n: Long): Int = math.max(2, 2 * math.ceil(math.cbrt(n.toDouble)).toInt)

  /** Distributed equal-width histogram normalized to density.
    * Mirrors the reference edge handling: epsilon-widened last edge so the
    * max value lands in the final bin; min==max collapses to a singular
    * one-bin histogram; all-null raises (reference: histogram.py:96-132). */
  /** (min, max, count) of the valid values in one scan. */
  def columnStats(df: DataFrame, column: String): (Double, Double, Long) = {
    val c = F.col(column).cast("double")
    val valid = df.select(c.as("x")).where(F.col("x").isNotNull && !F.isnan(F.col("x")))
    val row = valid.agg(
      F.min("x").as("mn"), F.max("x").as("mx"), F.count("x").as("cnt")).head()
    if (row.isNullAt(0) || row.getLong(2) == 0L)
      throw new IllegalArgumentException(
        s"Cannot compute histogram: column '$column' contains no valid (non-null) values")
    (row.getDouble(0), row.getDouble(1), row.getLong(2))
  }

  def continuous(df: DataFrame, column: String, bins: Int = 50,
                 useRiceRule: Boolean = false, approxCount: Option[Long] = None,
                 precomputed: Option[(Double, Double, Long)] = None): Hist = {
    val c = F.col(column).cast("double")
    val valid = df.select(c.as("x")).where(F.col("x").isNotNull && !F.isnan(F.col("x")))
    val (mn, mx, total) = precomputed.getOrElse(columnStats(df, column))

    if (mn == mx) return Hist(Array(1.0), Array(mn))

    val nBins = math.max(2, if (useRiceRule) riceBins(approxCount.getOrElse(total)) else bins)
    val epsilon = (mx - mn) * 1e-10
    val hi = mx + epsilon
    val width = (hi - mn) / nBins
    val edges = Array.tabulate(nBins + 1)(i => mn + i * (hi - mn) / nBins)

    // bin index via codegen'd arithmetic; clamp FP edge cases into range
    val binCol = F.least(
      F.greatest(F.floor((F.col("x") - F.lit(mn)) / F.lit(width)), F.lit(0L)),
      F.lit((nBins - 1).toLong))
    val counts = valid
      .select(binCol.as("bin"))
      .groupBy("bin").agg(F.count(F.lit(1)).as("cnt"))
      .collect()
      .map(r => r.getLong(0).toInt -> r.getLong(1)).toMap

    val density = Array.tabulate(nBins) { i =>
      counts.getOrElse(i, 0L).toDouble / (total * width)
    }
    Hist(density, edges)
  }

  /** Histogram over EXPLICIT (possibly non-uniform) bin edges — the
    * reference's tuple `bins` form. Bin i covers [edges(i), edges(i+1)),
    * the last bin is closed, values outside [head, last] are excluded,
    * and the density normalizes each bin by ITS width over the in-range
    * count (integrates to 1 over the covered span). The bin expression
    * is a codegen'd CASE chain — fine for the ≤~200-edge lists explicit
    * binning is used for. */
  def continuousWithEdges(df: DataFrame, column: String,
                          edges: Seq[Double]): Hist = {
    val ea = validEdges(edges)
    val c = F.col(column).cast("double")
    val counts = df.select(c.as("x"))
      .where(F.col("x").isNotNull && !F.isnan(F.col("x")))
      .select(edgeBinExpr(F.col("x"), ea).as("bin"))
      .where(F.col("bin").isNotNull)
      .groupBy("bin").agg(F.count(F.lit(1)).as("cnt"))
      .collect()
      .map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
    Hist(edgeDensity(counts, ea), ea)
  }

  /** Validated explicit-edge array (≥ 3 strictly increasing values). */
  private[operators] def validEdges(edges: Seq[Double]): Array[Double] = {
    require(edges.length >= 3 && edges.sliding(2).forall(p => p(0) < p(1)),
      "edges must be >= 3 strictly increasing values")
    edges.toArray
  }

  /** Codegen'd CASE-chain bin index over explicit edges: bin i covers
    * [edges(i), edges(i+1)), the last bin is closed, out-of-range (and
    * null) values map to null. The public histogram's bin definition;
    * [[edgeBin]] is the same rule per value, for the fitter's scan. */
  private[operators] def edgeBinExpr(c: org.apache.spark.sql.Column,
                                     ea: Array[Double]): org.apache.spark.sql.Column = {
    val k = ea.length - 1
    var bin: org.apache.spark.sql.Column = F.lit((k - 1).toLong)
    var i = k - 2
    while (i >= 0) {
      bin = F.when(c < F.lit(ea(i + 1)), F.lit(i.toLong)).otherwise(bin)
      i -= 1
    }
    F.when(c >= ea.head && c <= ea.last, bin)
  }

  /** [[edgeBinExpr]] for one finite value, for code that bins rows outside
    * an expression (the fitter's fused pass): the same bin index, or -1
    * where the expression gives null. */
  private[operators] def edgeBin(x: Double, ea: Array[Double]): Int =
    if (!(x >= ea.head && x <= ea.last)) -1
    else {
      var i = 0
      while (i < ea.length - 2 && !(x < ea(i + 1))) i += 1
      i
    }

  /** Per-bin-width density from explicit-edge counts: integrates to 1
    * over the covered span. */
  private[operators] def edgeDensity(counts: Map[Int, Long],
                                     ea: Array[Double]): Array[Double] = {
    val k = ea.length - 1
    val nIn = math.max(counts.values.sum, 1L)
    Array.tabulate(k)(b =>
      counts.getOrElse(b, 0L).toDouble / (nIn * (ea(b + 1) - ea(b))))
  }

  /** Distributed empirical PMF over integer-valued data: distinct values
    * + relative frequencies, sorted by value (reference:
    * discrete_fitting.py:127-149). One shuffle of ~distinct-count rows. */
  /** Fixed-grid histogram PER GROUP, long form — the per-segment
    * distribution snapshot ([[continuous]] is whole-column; drift ops
    * compare cohorts; this is the raw per-group table a dashboard
    * faceting needs). Out-of-range values clamp into the end bins
    * (the [[graft.operators.Drift.histDrift]] convention); one
    * (group, bin) aggregation, exchange carries ≤ groups·bins rows.
    *
    * @return one row per non-empty (group, bin): (groupCols..., bin,
    *         n, bin_lo, bin_hi) */
  def continuousByGroup(df: DataFrame, groupCols: Seq[String],
                        column: String, binStart: Double,
                        binWidth: Double, numBins: Int): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    require(numBins > 0 && binWidth > 0, "need positive bins/width")
    val F = org.apache.spark.sql.functions
    val v = F.col(column).cast("double")
    val bin = F.least(
      F.greatest(F.floor((v - F.lit(binStart)) / F.lit(binWidth)),
        F.lit(0L)),
      F.lit((numBins - 1).toLong))
    df.where(v.isNotNull && !F.isnan(v))
      .groupBy(groupCols.map(F.col) :+ bin.as("bin"): _*)
      .agg(F.count(F.lit(1)).as("n"))
      .withColumn("bin_lo",
        F.lit(binStart) + F.col("bin") * F.lit(binWidth))
      .withColumn("bin_hi",
        F.lit(binStart) + (F.col("bin") + 1L) * F.lit(binWidth))
  }

  def discretePmf(df: DataFrame, column: String): Pmf = {
    val c = F.col(column).cast("long")
    val grouped = df.select(c.as("k")).where(F.col("k").isNotNull)
      .groupBy("k").agg(F.count(F.lit(1)).as("cnt"))
      .orderBy("k")
      .collect()
    if (grouped.isEmpty)
      throw new IllegalArgumentException(s"column '$column' contains no valid values")
    val xs = grouped.map(_.getLong(0))
    val counts = grouped.map(_.getLong(1))
    val total = counts.sum
    Pmf(xs, counts.map(_.toDouble / total), total)
  }
}
