package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.dists.{ContinuousDist, ContinuousDist => CD}

/** Percentile-bootstrap confidence intervals for fitted parameters
  * (reference: src/spark_bestfit/estimation.py:826-943): B resamples
  * with replacement, refit each, drop failed fits (≥ 10 successes
  * required), remove 3×IQR outlier rows per parameter, take
  * (α/2, 1−α/2) percentiles.
  *
  * The refits fan out over the cluster via `spark.range(B)` — each task
  * holds only the broadcast 10K sample, so B can be large without driver
  * involvement.
  */
object Bootstrap {

  final case class ParamCI(param: String, lower: Double, upper: Double, point: Double)

  def confidenceIntervals(spark: SparkSession, dist: ContinuousDist,
                          sample: Array[Double], b: Int = 1000,
                          alpha: Double = 0.05, seed: Long = 42L): Seq[ParamCI] = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(sample)
    val point = dist.fit(sample)
    val fits = spark.range(0, b, 1, math.min(b, 2 * spark.sparkContext.defaultParallelism))
      .map { i =>
        val xs = bc.value
        val rng = new java.util.SplittableRandom(seed + i)
        val res = Array.fill(xs.length)(xs(rng.nextInt(xs.length)))
        try {
          val p = dist.fit(res)
          if (p.forall(java.lang.Double.isFinite)) p else Array.empty[Double]
        } catch { case _: Throwable => Array.empty[Double] }
      }
      .filter(_.nonEmpty)
      .collect()
    require(fits.length >= 10,
      s"bootstrap needs >= 10 successful refits, got ${fits.length}")
    buildCIs(dist.paramNames, fits, point, alpha)
  }

  private def buildCIs(names: Seq[String], fits: Array[Array[Double]],
                       point: Array[Double], alpha: Double): Seq[ParamCI] = {
    // 3×IQR outlier-row removal per parameter (reference: estimation.py:898-914)
    val nParams = point.length
    val keep = Array.fill(fits.length)(true)
    for (p <- 0 until nParams) {
      val col = fits.map(_(p))
      val q1 = CD.quantile(col, 0.25)
      val q3 = CD.quantile(col, 0.75)
      val iqr = q3 - q1
      if (iqr > 0) {
        val lo = q1 - 3 * iqr; val hi = q3 + 3 * iqr
        for (i <- fits.indices if fits(i)(p) < lo || fits(i)(p) > hi) keep(i) = false
      }
    }
    val kept = fits.indices.filter(keep).map(fits).toArray
    val use = if (kept.length >= 10) kept else fits
    names.indices.map { p =>
      val col = use.map(_(p))
      ParamCI(names(p),
        CD.quantile(col, alpha / 2),
        CD.quantile(col, 1 - alpha / 2),
        point(p))
    }
  }

  /** Deterministic, engine-replayable percentile bootstrap over a bounded
    * column slice — the audit twin of [[confidenceIntervals]].
    *
    * Draw j of replicate i selects the value at rank `md5_32("i_j") mod n`
    * in the value-sorted sample; the replicate statistic is the
    * integer-exact SUM (and its derived mean), and the interval is the
    * (α/2, 1−α/2) linear-interpolation percentile over replicates. The
    * PRNG is replaced by the same content-addressed md5 coordinate the
    * engine uses wherever a decision must survive partitioning / engine /
    * rerun changes ([[Sampling.deterministicSplit]],
    * [[Sampling.domainMixSample]], [[Sampling.stratifiedHashSample]]), so
    * an external SQL engine can replay the WHOLE resampling pipeline
    * hash-exactly — which no seeded-PRNG bootstrap permits.
    *
    * Scale contract: the input is the *fitting sample* (≤ ~10K rows under
    * the sampling policy), so the rank table and the b·n draw grid are
    * bounded by construction; the grid and the join still run distributed
    * (the sorted sample broadcasts), and the ranks come from the
    * [[PrefixSum]] substrate — no single-partition window even
    * inside the cap. Refusing oversized input is the same
    * bounded-audit-op discipline as the exact near-dup baseline. */
  def hashResampleCI(df: DataFrame, valueCol: String, b: Int = 200,
                     alpha: Double = 0.05, maxSample: Int = 100000): DataFrame = Persisted { scope =>
    import org.apache.spark.sql.{functions => F}
    require(b >= 2, "need at least 2 replicates")
    val spark = df.sparkSession
    import spark.implicits._
    val s = df.select(F.col(valueCol).cast("long").as("x"))
      .where(F.col("x").isNotNull)
    // dense 0..n−1 index over the value-sorted sample: distinct-value
    // counts through the PrefixSum substrate, then a flatMap
    // expansion — the same ranks a global row_number window gives, with
    // no single-partition WindowExec; ties share a value, so which tied
    // row lands at which index cannot change any replicate sum. The
    // total count is the last offset, saving a scan.
    val counts = s.groupBy("x").agg(F.count(F.lit(1)).as("c"))
    val (n, indexed) =
      PrefixSum(counts.as[(Long, Long)], F.col("x")) { ps =>
        val off = ps.offsets(1)((s, r) => s(0) += r._2)
        val total = off.last(0)
        require(total > 0, "empty sample")
        require(total <= maxSample, s"hashResampleCI is a bounded audit op: " +
          s"$total rows > cap $maxSample — pass the fitting sample, not the corpus")
        val pinned = scope.checkpoint(ps.walk(off) { (seed, it) =>
          var running = seed(0)
          it.flatMap { case (v, c) =>
            val start = running
            running += c
            (0L until c).iterator.map(o => (start + o, v))
          }
        }.toDF("idx", "x"))
        (total, pinned)
      }
    val draws = spark.range(b).toDF("rep")
      .crossJoin(spark.range(n).toDF("j"))
      .select(F.col("rep"),
        Sampling.md5Bucket(F.concat_ws("_", F.col("rep"), F.col("j")), n.toInt)
          .as("idx"))
    val reps = draws.join(F.broadcast(indexed), "idx")
      .groupBy("rep").agg(F.sum("x").as("stat"))
    val lo = alpha / 2
    val hi = 1 - alpha / 2
    reps.agg(
      F.count(F.lit(1)).as("b_reps"),
      F.round(F.expr(s"percentile(stat, $lo)"), 4).as("sum_lower"),
      F.round(F.expr(s"percentile(stat, $hi)"), 4).as("sum_upper"),
      F.round(F.expr(s"percentile(stat, $lo)") / n, 6).as("mean_lower"),
      F.round(F.expr(s"percentile(stat, $hi)") / n, 6).as("mean_upper"))
      .withColumn("n", F.lit(n))
  }
}
