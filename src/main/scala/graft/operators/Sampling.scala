package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
import org.apache.spark.TaskContext
import graft.dists.{ContinuousDist, DistRegistry, Truncated}

/** Distributed sample generation — the reference's "write side"
  * (reference: src/spark_bestfit/backends/spark.py:429-514,
  * sampling.py:16-83): n is split across partitions (base + remainder),
  * each partition draws from a seeded generator with seed = base +
  * partition_id, and rows are produced where they will live — nothing
  * flows through the driver.
  *
  * Draws are inverse-transform: u ~ U(0,1) from a per-partition
  * SplittableRandom, x = ppf(u). One closed-form ppf per row, fully
  * executor-local, linearly scalable to any n.
  *
  * The samplers here and in GaussianCopula, Mixture and
  * MultivariateNormalResult write each draw
  * straight into Catalyst's row format: a partition reuses ONE UnsafeRow,
  * overwritten by every draw and valid only until the next, and the rows
  * become a DataFrame without an encoder ([[ColumnBridge.dataFrame]]).
  * Spark's scan of that frame projects each row, so consumers see
  * ordinary rows.
  */
object Sampling {

  /** Rows per partition: base + 1 for the first (n % parts) partitions. */
  def partitionCounts(n: Long, parts: Int): Array[Long] = {
    val base = n / parts
    val rem = (n % parts).toInt
    Array.tabulate(parts)(i => base + (if (i < rem) 1L else 0L))
  }

  /** Tabulated inverse CDF for the bulk-sampling hot path — the engine's
    * analogue of the reference's fast_ppf (src/spark_bestfit/
    * fast_ppf.py:56-309): families whose exact quantile needs iterative
    * root-finding (exponnorm, foldnorm, cosine, invgauss …) would cost
    * hundreds of CDF evaluations PER DRAW. The table pays ~4K exact ppf
    * calls once, broadcasts ~64 KB, and serves each draw with one linear
    * interpolation; u outside the tabulated band falls back to the exact
    * quantile so the extreme tails stay faithful. */
  final class TabulatedPpf(exact: Double => Double, gridSize: Int = 4096) extends Serializable {
    private val uMin = 1e-7
    private val uMax = 1 - 1e-7
    private val us = Array.tabulate(gridSize + 1)(i => uMin + (uMax - uMin) * i / gridSize)
    // series-backed quantiles (ncx2, rice, …) cost ~ms per exact call;
    // build the grid on all driver cores instead of one
    private val xs = {
      val a = new Array[Double](gridSize + 1)
      java.util.stream.IntStream.rangeClosed(0, gridSize).parallel()
        .forEach(i => a(i) = exact(us(i)))
      a
    }
    def apply(u: Double): Double = {
      if (u <= uMin || u >= uMax) return exact(u)
      val t = (u - uMin) / (uMax - uMin) * gridSize
      val i = math.min(t.toInt, gridSize - 1)
      val frac = t - i
      xs(i) * (1 - frac) + xs(i + 1) * frac
    }
  }

  /** The partition-seeded draw frame: `partitionCounts(n, parts)` rows
    * split over `parts` partitions; partition p seeds its generator with
    * `seed + p` and `draw` writes each row's fields (one per column of
    * `schema`, all fixed-width) into the partition's one reused row. */
  private[operators] def seededRows(spark: SparkSession, n: Long, seed: Long,
                                    numPartitions: Int, schema: StructType)
                                   (draw: (java.util.SplittableRandom, UnsafeRowWriter) => Unit)
      : DataFrame = {
    val parts = if (numPartitions > 0) numPartitions
                else spark.sparkContext.defaultParallelism
    val counts = partitionCounts(n, parts)
    val width = schema.length
    val rows = spark.sparkContext.parallelize(0 until parts, parts).mapPartitions[InternalRow] { _ =>
      val pid = TaskContext.getPartitionId()
      val rng = new java.util.SplittableRandom(seed + pid)
      val w = new UnsafeRowWriter(width)
      w.zeroOutNullBytes()
      Iterator.range(0L, counts(pid)).map { _ => draw(rng, w); w.getRow }
    }
    ColumnBridge.dataFrame(spark, rows, schema)
  }

  /** A one-column frame of doubles. */
  private def doubles(name: String): StructType =
    StructType(Seq(StructField(name, DoubleType, nullable = false)))

  /** Generate `n` samples of a fitted (optionally truncated) distribution
    * as a one-column DataFrame. */
  def generate(spark: SparkSession, distName: String, params: Array[Double],
               n: Long, seed: Long = 42L, numPartitions: Int = 0,
               lowerBound: Option[Double] = None,
               upperBound: Option[Double] = None,
               columnName: String = "sample"): DataFrame = {
    val dist = DistRegistry.get(distName).getOrElse(
      throw new IllegalArgumentException(s"unknown distribution '$distName'"))
    val lb = lowerBound; val ub = upperBound

    // build the quantile table on the driver, ship it in the closure
    val exactPpf: Double => Double =
      if (lb.isDefined || ub.isDefined) {
        val t = new Truncated(dist, params,
          lb.getOrElse(Double.NegativeInfinity), ub.getOrElse(Double.PositiveInfinity))
        t.ppf _
      } else (q: Double) => dist.ppf(q, params)
    val table = new TabulatedPpf(exactPpf)

    seededRows(spark, n, seed, numPartitions, doubles(columnName)) { (rng, w) =>
      var u = rng.nextDouble()
      if (u <= 0.0) u = Double.MinPositiveValue
      if (u >= 1.0) u = 1.0 - 1e-16
      w.write(0, table(u))
    }
  }

  /** Deterministic low-discrepancy generation: draw i maps the midpoint
    * grid u_i = (i + 0.5)/n through the EXACT quantile function. Same
    * distributed layout as [[generate]] (spark.range splits the index
    * space; rows are produced where they will live), but the output SET
    * is reproducible independent of partitioning and RNG — the
    * stratified/QMC analogue of the seeded path for variance-reduced
    * Monte Carlo, and the one an external engine can replay exactly.
    * Each partition maps the range's rows into one reused row. */
  def generateGrid(spark: SparkSession, distName: String, params: Array[Double],
                   n: Long, numPartitions: Int = 0,
                   lowerBound: Option[Double] = None,
                   upperBound: Option[Double] = None,
                   columnName: String = "sample"): DataFrame = {
    require(n > 0, "n must be positive")
    val dist = DistRegistry.get(distName).getOrElse(
      throw new IllegalArgumentException(s"unknown distribution '$distName'"))
    val parts = if (numPartitions > 0) numPartitions
                else spark.sparkContext.defaultParallelism
    val exactPpf: Double => Double =
      if (lowerBound.isDefined || upperBound.isDefined) {
        val t = new Truncated(dist, params,
          lowerBound.getOrElse(Double.NegativeInfinity),
          upperBound.getOrElse(Double.PositiveInfinity))
        t.ppf _
      } else (q: Double) => dist.ppf(q, params)
    val nn = n.toDouble
    val rows = spark.range(0L, n, 1L, parts).queryExecution.toRdd.mapPartitions[InternalRow] { it =>
      val w = new UnsafeRowWriter(1)
      w.zeroOutNullBytes()
      it.map { r => w.write(0, exactPpf((r.getLong(0) + 0.5) / nn)); w.getRow }
    }
    ColumnBridge.dataFrame(spark, rows, doubles(columnName))
  }

  /** Driver-side sampling from a fitted model (small n; reference
    * storage.py:368-385). */
  def sampleLocal(dist: ContinuousDist, params: Array[Double], n: Int,
                  seed: Long = 42L,
                  lowerBound: Option[Double] = None,
                  upperBound: Option[Double] = None): Array[Double] = {
    val rng = new java.util.SplittableRandom(seed)
    val ppf: Double => Double =
      if (lowerBound.isDefined || upperBound.isDefined) {
        val t = new Truncated(dist, params,
          lowerBound.getOrElse(Double.NegativeInfinity),
          upperBound.getOrElse(Double.PositiveInfinity))
        t.ppf _
      } else (q: Double) => dist.ppf(q, params)
    Array.fill(n)(ppf(math.min(1 - 1e-16, math.max(Double.MinPositiveValue, rng.nextDouble()))))
  }

  /** Stratified sample with tail boost (reference: base_fitter.py:388-477):
    * approxQuantile percentile bins → per-bin fractions via sampleBy, with
    * the first/last bins boosted so each tail keeps ≥ minTailRows expected
    * rows. Falls back to uniform sampling when quantiles collapse. */
  def stratifiedSample(df: DataFrame, column: String, fraction: Double,
                       numBins: Int = 5, seed: Long = 42L,
                       minTailRows: Long = 500L,
                       knownCount: Option[Long] = None): DataFrame = {
    val probs = (1 until numBins).map(_.toDouble / numBins).toArray
    val splits = df.stat.approxQuantile(column, probs, 0.01).distinct.sorted
    if (splits.length < 1) return df.sample(withReplacement = false, fraction, seed)
    val edges = Double.NegativeInfinity +: splits.toSeq :+ Double.PositiveInfinity
    val binCount = edges.length - 1
    // the fitter already holds the row count from its shared stats scan —
    // recounting here would add a full agg scan per stratified fit
    val total = knownCount.getOrElse(df.count())
    val perBin = total.toDouble / binCount
    val tailFraction = math.min(1.0, math.max(fraction, minTailRows / perBin))
    val fractions = (0 until binCount).map { b =>
      (b: Any) -> (if (b == 0 || b == binCount - 1) tailFraction else fraction)
    }.toMap
    val binned = df.withColumn("__bin",
      edges.sliding(2).zipWithIndex.foldLeft(F.lit(-1)) { case (acc, (Seq(lo, hi), i)) =>
        F.when(F.col(column) > lo && F.col(column) <= hi, F.lit(i)).otherwise(acc)
      })
    binned.stat.sampleBy("__bin", fractions, seed).drop("__bin")
  }

  /** Deterministic, content/key-addressed train/val/test assignment: the
    * row's bucket is the first 32 bits of md5(key) mod `buckets`, and
    * splits own contiguous cumulative-weight bucket ranges. Unlike
    * `randomSplit` (partition-layout-dependent) this is a pure per-row
    * projection: the same key lands in the same split on any cluster
    * size, partitioning, or engine — the property a 100 TB corpus needs
    * so an incremental re-run never migrates a document across splits
    * (and never leaks val/test into train). No shuffle; codegen'd
    * md5 + conv.
    *
    * @param weights (name, weight) in declared order; normalized
    *                internally, split by cumulative share of buckets. */
  def deterministicSplit(df: DataFrame, keyCol: String,
                         weights: Seq[(String, Double)] =
                           Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05),
                         buckets: Int = 10000,
                         bucketCol: String = "split_bucket",
                         splitCol: String = "split"): DataFrame = {
    require(weights.nonEmpty && weights.forall(_._2 > 0), "weights must be positive")
    val total = weights.map(_._2).sum
    // cumulative upper bucket bound per split; last pinned to `buckets`
    val bounds = weights.map(_._2 / total)
      .scanLeft(0.0)(_ + _).tail.map(c => math.round(c * buckets))
      .updated(weights.length - 1, buckets.toLong)
    val bucket = md5Bucket(F.col(keyCol), buckets)
    val split = weights.zip(bounds).reverse
      .foldLeft(F.lit(weights.last._1)) { case (acc, ((name, _), hi)) =>
        F.when(F.col(bucketCol) < hi, F.lit(name)).otherwise(acc)
      }
    df.withColumn(bucketCol, bucket).withColumn(splitCol, split)
  }

  /** First 32 bits of md5(key) mod `buckets` — the engine's deterministic
    * per-row sampling coordinate (codegen'd, engine-replayable). */
  def md5Bucket(keyCol: org.apache.spark.sql.Column, buckets: Int): org.apache.spark.sql.Column =
    F.conv(F.substring(
        F.md5(keyCol.cast("string").cast("binary")), 1, 8), 16, 10)
      .cast("long") % buckets

  /** Deterministic stratified tail-boost sample — P2's semantics in
    * engine-replayable form: equal-width strata from the EXACT min/max
    * (one agg scan), md5-bucket keep-thresholds per stratum with the
    * edge strata boosted to `tailFraction`. Unlike the seeded
    * [[stratifiedSample]] (whose approxQuantile sketch and sampleBy RNG
    * are engine-internal), every decision here is integer/double
    * arithmetic another engine reproduces bit-for-bit — the variant to
    * reach for when a sample must be auditable or re-derivable. Pure
    * map-side filter after the one stats scan; no shuffle. */
  def stratifiedHashSample(df: DataFrame, column: String, keyCol: String,
                           fraction: Double, tailFraction: Double,
                           numBins: Int = 5,
                           buckets: Int = 10000): DataFrame = {
    require(numBins >= 2 && fraction >= 0 && tailFraction >= 0, "bad config")
    val r = df.agg(F.min(F.col(column).cast("double")),
      F.max(F.col(column).cast("double"))).head()
    // empty input / all-null column: no strata exist — zero rows out,
    // not an NPE from reading a null aggregate
    if (r.isNullAt(0) || r.isNullAt(1)) return df.limit(0)
    val (mn, mx) = (r.getDouble(0), r.getDouble(1))
    if (mn == mx) return df.where(md5Bucket(F.col(keyCol), buckets) <
      math.round(math.min(1.0, tailFraction) * buckets))
    val width = (mx - mn) / numBins
    val bin = F.least(
      F.greatest(F.floor((F.col(column).cast("double") - F.lit(mn)) / F.lit(width)),
        F.lit(0L)),
      F.lit((numBins - 1).toLong))
    val thrMid = math.round(math.min(1.0, fraction) * buckets)
    val thrTail = math.round(math.min(1.0, tailFraction) * buckets)
    val thr = F.when(bin === 0L || bin === (numBins - 1).toLong, F.lit(thrTail))
      .otherwise(F.lit(thrMid))
    df.where(md5Bucket(F.col(keyCol), buckets) < thr)
  }

  /** Deterministic domain-mix resampling: downsample each domain so the
    * surviving corpus approximates target proportions `parts` (integer
    * ratio parts, e.g. en→30, de→20 …), keyed by the md5 bucket of the
    * id — reproducible across runs, partition layouts, and engines, with
    * no RNG state.
    *
    * All threshold math is INTEGER: with n_g rows in domain g and
    * K = min_g(n_g / parts_g), the kept fraction is parts_g·K / n_g,
    * enforced as bucket < (parts_g·K·buckets) / n_g. The only driver
    * traffic is the per-domain count (one tiny agg); the filter itself is
    * a map-side codegen'd projection — no corpus shuffle at any scale.
    * Domains absent from `parts` are dropped.
    *
    * @return input rows surviving the mix filter */
  def domainMixSample(df: DataFrame, domainCol: String, idCol: String,
                      parts: Map[String, Long],
                      buckets: Int = 10000): DataFrame = {
    require(parts.nonEmpty && parts.values.forall(_ > 0), "parts must be positive")
    val counts: Map[String, Long] = df
      .groupBy(domainCol).agg(F.count(F.lit(1)).as("__n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val present = parts.filter { case (g, _) => counts.getOrElse(g, 0L) > 0L }
    if (present.isEmpty) return df.limit(0)
    val k = present.map { case (g, p) => counts(g) / p }.min
    // BigInt guards p*K*buckets against Long overflow at extreme corpus sizes
    val thr: Map[String, Long] = present.map { case (g, p) =>
      g -> ((BigInt(p) * k * buckets) / counts(g)).toLong
    }
    val bucket = md5Bucket(F.col(idCol), buckets)
    val thrCol = thr.foldLeft(F.lit(-1L)) { case (acc, (g, t)) =>
      F.when(F.col(domainCol) === g, F.lit(t)).otherwise(acc)
    }
    df.where(bucket < thrCol)
  }

  /** Deterministic k-fold assignment for cross-validation: fold =
    * md5-bucket(key) mod k — content-addressed like
    * [[deterministicSplit]], so folds are stable across runs, partition
    * layouts, cluster sizes, and engines, and every row is in exactly
    * one fold. Map-side projection, no shuffle. */
  def kFolds(df: DataFrame, keyCol: String, k: Int,
             foldCol: String = "fold"): DataFrame = {
    require(k >= 2, "need at least 2 folds")
    df.withColumn(foldCol, md5Bucket(F.col(keyCol), k))
  }

  /** Weight-proportional Bernoulli sample, deterministic via the md5
    * coordinate: row i survives with p_i = min(1, fraction·N·wᵢ/W) — the
    * "sample documents proportional to their token count" step that
    * makes a fraction-f sample carry ≈ f of the corpus TOKENS (a uniform
    * row sample over-represents short documents). Expected kept rows ≈
    * fraction·N·E[w·1{p<1}]/E[w]; rows with p_i ≥ 1 (heavy docs) always
    * survive. INTEGER weights only (token/char counts — their sum is
    * order-exact in doubles, so the thresholds are engine-replayable);
    * one tiny agg scan for (W, N), then a map-side codegen'd filter —
    * no shuffle, no RNG state, stable across partition layouts. */
  def weightedHashSample(df: DataFrame, weightCol: String, keyCol: String,
                         fraction: Double,
                         buckets: Int = 1 << 20): DataFrame = {
    require(fraction >= 0, "fraction must be >= 0")
    val w = F.col(weightCol).cast("long")
    val r = df.where(w.isNotNull && w > 0)
      .agg(F.sum(w), F.count(F.lit(1))).head()
    if (r.isNullAt(0)) return df.limit(0)
    val (total, n) = (r.getLong(0), r.getLong(1))
    val c = fraction * n / total.toDouble
    val thr = F.least(F.lit(buckets.toLong),
      F.floor(F.lit(c) * w * F.lit(buckets.toDouble)))
    df.where(w.isNotNull && (md5Bucket(F.col(keyCol), buckets) < thr))
  }

  /** Exact-k weighted sampling WITHOUT replacement — Efraimidis &
    * Spirakis (2006) A-ES keys in deterministic form: each row draws
    * u ∈ (0, 1] from its md5 (a pure function of `keyCol`, not an RNG)
    * and gets key = −ln(u)/w; the k SMALLEST keys are the sample. This
    * is provably equivalent to sequential weighted draws without
    * replacement — the thing [[weightedHashSample]] (Bernoulli,
    * expected-size) cannot give you when the budget is exact ("pick
    * exactly 10k docs ∝ token count").
    *
    * Scale shape: one codegen'd projection + a distributed top-k
    * (TakeOrderedAndProject — per-partition k-heaps, never a global
    * sort). Deterministic across partition layouts and engines: md5
    * draws are integer-exact, and ties are impossible (distinct md5s).
    *
    * @return the k sampled rows + `esKeyCol` (ascending = draw order) */
  def esWeightedSample(df: DataFrame, weightCol: String, keyCol: String,
                       k: Int,
                       esKeyCol: String = "es_key"): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val w = F.col(weightCol).cast("double")
    // u = (draw + 1) / 2³², draw ∈ [0, 2³²) — never 0, so ln is finite
    val u = (F.conv(F.substring(
        F.md5(F.col(keyCol).cast("string").cast("binary")), 1, 8), 16, 10)
      .cast("double") + 1.0) / 4294967296.0
    df.where(w.isNotNull && !F.isnan(w) && w > 0.0)
      .withColumn(esKeyCol, -F.log(u) / w)
      .orderBy(F.col(esKeyCol).asc)
      .limit(k)
  }

  /** Exact-k weighted sampling without replacement PER GROUP — the
    * stratified form of [[esWeightedSample]] ("k docs per domain,
    * weight-proportional"): the same deterministic Efraimidis–Spirakis
    * md5-draw keys, ranked by a window PARTITIONED BY GROUP (row_number
    * ordered by key, id tie-break), keep rank ≤ k. No global sort, no
    * per-group limit loop; a million groups cost one shuffle on the
    * group key. Groups smaller than k return all their rows.
    *
    * @return input rows (filtered to positive finite weights) + the
    *         es_key column */
  def esWeightedSampleByGroup(df: DataFrame, groupCols: Seq[String],
                              weightCol: String, keyCol: String, k: Int,
                              esKeyCol: String = "es_key"): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(groupCols.nonEmpty, "need at least one group column")
    import org.apache.spark.sql.expressions.Window
    val w = F.col(weightCol).cast("double")
    val u = (F.conv(F.substring(
        F.md5(F.col(keyCol).cast("string").cast("binary")), 1, 8), 16, 10)
      .cast("double") + 1.0) / 4294967296.0
    val rank = F.row_number().over(
      Window.partitionBy(groupCols.map(F.col): _*)
        .orderBy(F.col(esKeyCol).asc, F.col(keyCol).asc))
    df.where(w.isNotNull && !F.isnan(w) && w > 0.0)
      .withColumn(esKeyCol, -F.log(u) / w)
      .withColumn("__rk", rank)
      .where(F.col("__rk") <= k)
      .drop("__rk")
  }

  /** Deterministic global shuffle — the "shuffle the corpus once before
    * training" step every LLM data pipeline ends with. Rows get a total
    * order by `md5(key ":" seed)` (tie-broken by key, so the order is a
    * pure function of (key set, seed) — stable across cluster size,
    * partition layout, and engine) and a contiguous 0-based `position`.
    *
    * Scale path: one range shuffle on the md5 key (Spark samples range
    * bounds, so partitions stay balanced — md5 is uniform by
    * construction), a per-partition sort, then positions via the
    * [[PrefixSum]] substrate: only the per-partition COUNTS visit the
    * driver (O(#partitions) longs), never rows. No global window, no
    * single-partition stage, nothing collected.
    * Downstream, `position div chunkRows` is the shard assignment for a
    * sharded training-data write.
    */
  def globalShuffle(df: DataFrame, keyCol: String, seed: Long,
                    positionCol: String = "position"): DataFrame = Persisted { scope =>
    val spark = df.sparkSession
    val keyed = df.withColumn("__gs_key",
      F.md5(F.concat_ws(":", F.col(keyCol).cast("string"),
        F.lit(seed.toString))))
    PrefixSum(keyed, F.col("__gs_key"), F.col(keyCol)) { ps =>
      val positioned = ps.walk(ps.offsets(1)((s, _) => s(0) += 1)) {
        (o, it) =>
          var pos = o(0)
          it.map { row => val r = org.apache.spark.sql.Row.fromSeq(
            row.toSeq :+ pos); pos += 1; r }
      }
      scope.checkpoint(spark.createDataFrame(positioned,
          keyed.schema.add(positionCol, "long", nullable = false))
        .drop("__gs_key"))
    }
  }

  /** Deterministic uniform negative sampling — the contrastive-training
    * pair generator: for every distinct id, k pseudo-random OTHER ids,
    * reproducible across runs, partition layouts, and engines (no RNG
    * state: draw j for anchor a is md5(a:j)).
    *
    * Construction: distinct ids get a dense index 1..N via the
    * [[Ranks.minRanks]] prefix-sum (no global window); each (anchor, j)
    * draws d ∈ [1, N−1] from the first 32 md5 bits and the index skips
    * the anchor's own slot by the standard shift (d ≥ own → d+1) — a
    * bijection onto the other N−1 ids, so an anchor NEVER samples
    * itself and every other id is equally likely. Draws are with
    * replacement across j. The index join back is one key shuffle;
    * nothing id-sized reaches the driver. Ids must be integral
    * (cast/hash string keys to a long upstream).
    *
    * @return one row per (anchor, j): (anchor, j, negative) */
  /** Neyman optimal stratified-sample allocation: given a total budget
    * n, how many rows should each stratum contribute to minimize the
    * variance of the estimated mean? nₕ ∝ Nₕ·Sₕ (big AND noisy strata
    * get more), vs the naive proportional nₕ ∝ Nₕ. Reports both
    * allocations per stratum plus the variance each design implies
    * (V = Σ Wₕ²Sₕ²/nₕ, fpc ignored) — the design-effect numbers that
    * justify the sampling plan before a single row moves.
    *
    * ONE aggregation of DECIMAL-exact stratum moments; every output is
    * closed-form arithmetic on those (6-rounded).
    *
    * @return one row per stratum: (stratum, n_rows, std, neyman_n,
    *         prop_n, v_neyman, v_prop) — the v_* columns repeat the
    *         design totals on every row */
  def neymanAllocation(df: DataFrame, stratumCol: String,
                       valueCol: String, budget: Long): DataFrame = {
    require(budget > 0L, "budget must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    val v = F.col(valueCol).cast("double")
    val strata = df
      .where(F.col(stratumCol).isNotNull && v.isNotNull && !F.isnan(v))
      .groupBy(F.col(stratumCol).cast("string").as("h"))
      .agg(F.count(F.lit(1)).as("n"),
        F.sum(v.cast("decimal(38,6)")).cast("double").as("sx"),
        F.sum((v * v).cast("decimal(38,6)")).cast("double").as("sxx"))
      .collect()
      .sortBy(_.getAs[String]("h"))
    require(strata.length >= 2, "need at least two strata")
    val stats = strata.map { r =>
      val n = r.getAs[Long]("n").toDouble
      val sx = r.getAs[Double]("sx"); val sxx = r.getAs[Double]("sxx")
      require(n >= 2.0, "every stratum needs n >= 2")
      (r.getAs[String]("h"), n,
        math.sqrt((sxx - sx * sx / n) / (n - 1.0)))
    }
    val bigN = stats.map(_._2).sum
    val denom = stats.map { case (_, n, s) => n * s }.sum
    require(denom > 0.0, "all strata have zero variance")
    val bD = budget.toDouble
    val alloc = stats.map { case (h, n, s) =>
      (h, n, s, bD * (n * s) / denom, bD * n / bigN)
    }
    val vNey = alloc.map { case (_, n, s, nh, _) =>
      val w = n / bigN; w * w * s * s / nh }.sum
    val vProp = alloc.map { case (_, n, s, _, nh) =>
      val w = n / bigN; w * w * s * s / nh }.sum
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    alloc.map { case (h, n, s, ney, prop) =>
      (h, n.toLong, r6(s), r6(ney), r6(prop), r6(vNey), r6(vProp))
    }.toSeq.toDF("stratum", "n_rows", "std", "neyman_n", "prop_n",
      "v_neyman", "v_prop")
  }

  def negativeSample(df: DataFrame, idCol: String, k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val idsD = df
      .select(F.col(idCol).cast("long").cast("double").as("__idd"))
      .where(F.col("__idd").isNotNull)
      .distinct()
    val (n, ranks0) = Ranks.minRanksWithN(idsD, "__idd", "__rk")
    require(n >= 2, "need at least 2 distinct ids")
    val ranks = ranks0.select(F.col("__idd").cast("long").as("__id"),
      F.col("__rk").cast("long").as("__rk"))
    val anchors = ranks.select(F.col("__id").as("anchor"),
      F.col("__rk").as("__own"),
      F.explode(F.sequence(F.lit(1), F.lit(k))).as("j"))
    val draw = F.conv(F.substring(F.md5(F.concat(
      F.col("anchor").cast("string"), F.lit(":"),
      F.col("j").cast("string")).cast("binary")), 1, 8), 16, 10)
      .cast("long")
    anchors
      .withColumn("__d", draw % F.lit(n - 1L) + 1L)
      .withColumn("__idx", F.when(F.col("__d") >= F.col("__own"),
        F.col("__d") + 1L).otherwise(F.col("__d")))
      .join(ranks.select(F.col("__rk").as("__idx"),
        F.col("__id").as("negative")), Seq("__idx"))
      .select(F.col("anchor"), F.col("j").cast("long").as("j"),
        F.col("negative"))
  }
  /** Split-leakage audit: for every pair of splits, how many ENTITIES
    * (users, documents, sessions) appear on both sides — the check
    * that catches the classic eval contamination where rows were
    * split row-wise but the same user's behavior leaks from train
    * into test ([[deterministicSplit]] splits BY KEY precisely to
    * make this zero; run the audit to prove it on any split column
    * you didn't build that way).
    *
    * Scale shape: one distinct (entity, split) projection, per-split
    * distinct counts, and a self-join on the entity restricted to
    * split_a < split_b — the join carries only multi-split entities.
    * The pair list comes from a margins cross-join, so disjoint
    * splits still report n_both = 0 instead of dropping out.
    *
    * @return one row per split pair: (split_a, split_b, n_a, n_b,
    *         n_both, leak_share = n_both / min(n_a, n_b) rounded 6) */
  def splitLeakageAudit(df: DataFrame, entityCol: String,
                        splitCol: String): DataFrame = {
    val ent = F.col(entityCol).cast("string")
    val sp = F.col(splitCol).cast("string")
    val pairs = df.where(ent.isNotNull && sp.isNotNull)
      .select(ent.as("__e"), sp.as("__s")).distinct()
    val margins = pairs.groupBy("__s").agg(F.count(F.lit(1)).as("__n"))
    val overlap = pairs.select(F.col("__e"), F.col("__s").as("__sa"))
      .join(pairs.select(F.col("__e"), F.col("__s").as("__sb")), "__e")
      .where(F.col("__sa") < F.col("__sb"))
      .groupBy("__sa", "__sb")
      .agg(F.count(F.lit(1)).as("__both"))
    val allPairs = margins
      .select(F.col("__s").as("__sa"), F.col("__n").as("n_a"))
      .crossJoin(F.broadcast(margins
        .select(F.col("__s").as("__sb"), F.col("__n").as("n_b"))))
      .where(F.col("__sa") < F.col("__sb"))
      .join(overlap, Seq("__sa", "__sb"), "left")
      .withColumn("n_both", F.coalesce(F.col("__both"), F.lit(0L)))
    allPairs
      .select(F.col("__sa").as("split_a"), F.col("__sb").as("split_b"),
        F.col("n_a"), F.col("n_b"), F.col("n_both"),
        F.round(F.col("n_both").cast("double") /
          F.least(F.col("n_a"), F.col("n_b")), 6).as("leak_share"))
  }

  /** Token-budget apportionment across domains — the planning step
    * BEFORE [[domainMixSample]] draws anything: split an integer token
    * `budget` across domains proportionally to integer `weights` by the
    * Hamilton largest-remainder method (floor the exact integer quotas
    * budget·w DIV ΣW, hand the budget − Σfloor leftovers to the largest
    * remainders, ties → domain ascending), then cap each grant at what
    * the corpus actually HAS (whitespace-token counts from one
    * aggregation) and report the shortfall. Pure integer arithmetic end
    * to end — replays bit-exactly; no rounding, no floats.
    *
    * @return one row per weighted domain: (domain, weight, available,
    *         alloc, granted, shortfall) */
  def tokenBudgetAllocate(df: DataFrame, domainCol: String,
                          textCol: String, budget: Long,
                          weights: Map[String, Long]): DataFrame = {
    require(budget > 0L, "budget must be positive")
    require(weights.nonEmpty && weights.values.forall(_ > 0L),
      "weights must be positive")
    // budget * weight runs in Long for the bit-exact integer quotas —
    // guard the product loudly instead of wrapping silently
    require(budget <= Long.MaxValue / weights.values.max,
      s"budget * max(weight) overflows Long (budget=$budget, " +
        s"max weight=${weights.values.max}); rescale the weights — " +
        "only their ratios matter")
    val spark = df.sparkSession
    import spark.implicits._
    val tokens = F.size(F.split(F.trim(F.col(textCol)), "\\s+"))
    val avail: Map[String, Long] = df
      .where(F.col(domainCol).isNotNull && F.col(textCol).isNotNull &&
        F.trim(F.col(textCol)) =!= "")
      .groupBy(F.col(domainCol).cast("string").as("__d"))
      .agg(F.sum(tokens.cast("long")).as("__t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val w = weights.values.sum
    val doms = weights.keys.toSeq.sorted
    val base = doms.map(d => d -> budget * weights(d) / w).toMap
    val rem = doms.map(d => d -> budget * weights(d) % w).toMap
    val leftover = budget - base.values.sum
    val extras = doms.sortBy(d => (-rem(d), d)).take(leftover.toInt).toSet
    val rows = doms.map { d =>
      val alloc = base(d) + (if (extras(d)) 1L else 0L)
      val av = avail.getOrElse(d, 0L)
      val granted = math.min(alloc, av)
      (d, weights(d), av, alloc, granted, alloc - granted)
    }
    rows.toDF("domain", "weight", "available", "alloc", "granted",
      "shortfall")
  }
}
