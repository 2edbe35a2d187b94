package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.mutable
import graft.dists._
import graft.functions.{Metrics, SpecialMath => SM}

/** One row of the results table — the reference's 19-column flat schema
  * with JVM-native doubles (reference: src/spark_bestfit/estimation.py:
  * 51-76, FIT_RESULT_SCHEMA; flat columns replaced a MapType in v2.0 for
  * ~20% perf, which we keep). */
final case class FitResult(
    column_name: String,
    distribution: String,
    parameters: Array[Double],
    sse: Double,
    aic: Double,
    bic: Double,
    ks_statistic: Option[Double],
    pvalue: Option[Double],
    ad_statistic: Option[Double],
    ad_pvalue: Option[Double],
    data_min: Double,
    data_max: Double,
    data_mean: Double,
    data_stddev: Double,
    data_count: Double,
    data_kurtosis: Double,
    data_skewness: Double,
    lower_bound: Option[Double],
    upper_bound: Option[Double],
    fit_seconds: Double = 0.0)

/** Fit configuration (reference: src/spark_bestfit/config.py:35-427). */
final case class FitConfig(
    bins: Int = 50,
    useRiceRule: Boolean = false,
    supportAtZeroOnly: Boolean = false,
    fittingSampleSize: Int = 10000,
    sampleSeed: Long = 42L,
    lazyMetrics: Boolean = false,
    estimationMethod: String = "mle", // mle | mse | auto
    lowerBound: Option[Double] = None,
    upperBound: Option[Double] = None,
    // per-column overrides for multi-column bounded fits (reference:
    // config.py lower_bound/upper_bound scalar-or-dict); a column absent
    // here falls back to the scalar bound above
    lowerBounds: Map[String, Double] = Map.empty,
    upperBounds: Map[String, Double] = Map.empty,
    // explicit histogram bin edges (reference: config.py bins tuple
    // form) — non-uniform widths allowed, values outside [head, last]
    // are excluded from the histogram; overrides bins/useRiceRule
    binEdges: Option[Seq[Double]] = None,
    prefilter: Option[String] = None, // None | "standard" | "aggressive"
    maxDistributions: Int = Int.MaxValue,
    numPartitions: Option[Int] = None,
    censoringColumn: Option[String] = None,
    // adaptive pre-fit sampling policy (reference: base_fitter.py:243-477)
    samplingStrategy: String = "auto", // auto | uniform | stratified | none
    sampleThresholdRows: Long = 10000000L,
    sampleCapRows: Long = 1000000L,
    sampleFraction: Double = 0.35,
    pilotRows: Long = 100000L,
    // mild threshold SELECTS stratified sampling, the high threshold
    // escalates it to 10 strata (reference: base_fitter.py:291-301,
    // 367-387 — skew_threshold_mild=0.5 / skew_threshold_high=2.0)
    skewThresholdMild: Double = 0.5,
    skewThresholdForStratified: Double = 2.0)

/** Everything a fit task needs, broadcast once per column: ~8 KB histogram
  * + ~80 KB sample (reference: backends/spark.py:143-147; executor
  * overhead stays < 2 MB per task regardless of data size,
  * docs/performance.rst:94-116). */
final case class FitContext(
    columnName: String,
    hist: Hist,
    sample: Array[Double],
    stats: DataStats,
    censoring: Option[Array[Boolean]]) extends Serializable

final case class DataStats(
    min: Double, max: Double, mean: Double, stddev: Double,
    count: Double, kurtosis: Double, skewness: Double) extends Serializable

object DataStats {
  /** Stats of the fitting sample (np conventions: population std, Fisher
    * excess kurtosis; reference: estimation.py:81-102). */
  def of(xs: Array[Double]): DataStats = {
    val (n, mean, std, skew, kurt, mn, mx) = SM.moments(xs)
    DataStats(mn, mx, mean, std, n.toDouble, kurt, skew)
  }
}

object Fitter {

  /** Sentinel row for failed fits — never crash the job
    * (reference: estimation.py:739-772). */
  def failed(distName: String, columnName: String, st: DataStats,
             lb: Option[Double], ub: Option[Double]): FitResult =
    FitResult(columnName, distName, Array(Double.NaN),
      Double.PositiveInfinity, Double.PositiveInfinity, Double.PositiveInfinity,
      Some(Double.PositiveInfinity), Some(0.0), Some(Double.PositiveInfinity), None,
      st.min, st.max, st.mean, st.stddev, st.count, st.kurtosis, st.skewness, lb, ub)

  /** The per-distribution fit kernel (reference: estimation.py:583-736).
    * Runs inside the executor-side map; must never throw.
    *
    * `custom` is the broadcast snapshot of runtime-registered families —
    * on a real cluster the driver's `DistRegistry.register` is invisible
    * to executor JVMs, so custom names MUST resolve from this map first
    * (reference ships custom dists in the broadcast the same way,
    * estimation.py:496-528, 637-641). */
  def fitOne(distName: String, ctx: FitContext, cfg: FitConfig,
             custom: Map[String, ContinuousDist] = Map.empty): FitResult = {
    val t0 = System.nanoTime()
    val r = fitOneImpl(distName, ctx, cfg, custom)
    val dt = (System.nanoTime() - t0) / 1e9
    if (dt > 2.0)
      System.err.println(f"SLOW FIT: $distName%-18s ${ctx.columnName}%-18s $dt%7.2f s")
    // per-family wall time rides on the row so stragglers are diagnosable
    // from the results table alone (no log scraping) — at 1000 executors
    // this is the only practical way to see which family ate the stage
    r.copy(fit_seconds = dt)
  }

  private def fitOneImpl(distName: String, ctx: FitContext, cfg: FitConfig,
                         custom: Map[String, ContinuousDist]): FitResult = {
    val st = ctx.stats
    // per-column bound overrides win over the scalar config bounds
    val lb = cfg.lowerBounds.get(ctx.columnName).orElse(cfg.lowerBound)
    val ub = cfg.upperBounds.get(ctx.columnName).orElse(cfg.upperBound)
    try {
      val dist = custom.get(distName).orElse(DistRegistry.get(distName)).getOrElse(
        return failed(distName, ctx.columnName, st, lb, ub))

      val params: Array[Double] = ctx.censoring match {
        case Some(censor) =>
          try Estimators.fitCensoredMle(dist, ctx.sample, censor)
          catch { case _: Throwable =>
            dist.fit(ctx.sample.zip(censor).filter(_._2).map(_._1))
          }
        case None => cfg.estimationMethod match {
          case "mse" =>
            try Estimators.fitMse(dist, ctx.sample)
            catch { case _: Throwable => dist.fit(ctx.sample) }
          case _ => dist.fit(ctx.sample)
        }
      }
      if (params.exists(p => !java.lang.Double.isFinite(p)))
        return failed(distName, ctx.columnName, st, lb, ub)

      val frozen = FrozenModel(dist, params, lb, ub)

      val sse = Metrics.sseContinuous(frozen, ctx.hist.density, ctx.hist.edges)
      if (!java.lang.Double.isFinite(sse))
        return failed(distName, ctx.columnName, st, lb, ub)

      val (aic, bic) = Metrics.informationCriteria(frozen, params.length, ctx.sample)

      val (ks, pv, ad, adP) =
        if (cfg.lazyMetrics || ctx.censoring.isDefined) (None, None, None, None)
        else {
          val (k, p) = Metrics.ksStatistic(frozen, ctx.sample)
          val a = Metrics.adStatistic(frozen, ctx.sample)
          val ap = if (lb.isEmpty && ub.isEmpty)
            Metrics.adPValue(dist, ctx.sample) else None
          (Some(k), Some(p), Some(a), ap)
        }

      FitResult(ctx.columnName, distName, params, sse, aic, bic,
        ks, pv, ad, adP,
        st.min, st.max, st.mean, st.stddev, st.count, st.kurtosis, st.skewness,
        lb, ub)
    } catch {
      case _: Throwable => failed(distName, ctx.columnName, st, lb, ub)
    }
  }

  /** Partition count: min(effective, 2·cores) with slow families weighted
    * 3× (reference: base_fitter.py:524-544, backends/spark.py:309-328). */
  def partitionCount(spark: SparkSession, distNames: Seq[String], requested: Option[Int]): Int = {
    requested.getOrElse {
      val nSlow = distNames.count(DistRegistry.slowDistributions)
      val effective = distNames.length + 2 * nSlow
      val cores = spark.sparkContext.defaultParallelism
      math.max(1, math.min(effective, 2 * cores))
    }
  }

  /** Anti-straggler interleaving: spread slow families evenly through the
    * name list so no partition holds several of them
    * (reference: core.py:31-67). */
  def interleave(names: Seq[String]): Seq[String] = {
    val (slow, fast) = names.partition(DistRegistry.slowDistributions)
    if (slow.isEmpty || fast.isEmpty) return names
    val stride = math.max(1, (slow.length + fast.length) / slow.length)
    val out = new scala.collection.mutable.ArrayBuffer[String](names.length)
    val fi = fast.iterator; val si = slow.iterator
    var i = 0
    while (fi.hasNext || si.hasNext) {
      if (i % stride == 0 && si.hasNext) out += si.next()
      else if (fi.hasNext) out += fi.next()
      else if (si.hasNext) out += si.next()
      i += 1
    }
    out.toSeq
  }

  /** Prefilter: drop intrinsically positive-skew families on clearly
    * negative-skew samples; 'aggressive' also drops uniform on
    * high-kurtosis samples; restore all if everything got filtered
    * (reference: continuous_fitter.py:966-1063). */
  def prefilter(names: Seq[String], stats: DataStats, mode: Option[String]): Seq[String] = {
    if (mode.isEmpty) return names
    var out = names
    if (stats.skewness < -1.0)
      out = out.filterNot(DistRegistry.positiveSkewOnly)
    if (mode.contains("aggressive") && stats.kurtosis > 10.0)
      out = out.filterNot(_ == "uniform")
    if (out.isEmpty) names else out
  }

  /** Collect the fitting sample for one column: ≤ sampleSize rows, NaN/null
    * filtered, deterministic seed; exact-size driver downsample when the
    * pre-sample overshoots (reference: base_fitter.py:681-700,
    * estimation.py:946-967). The valid rows are planned once: a count
    * (unless `totalCount` is given) and the draw are two no-shuffle jobs
    * over them. */
  def fittingSample(df: DataFrame, column: String, sampleSize: Int, seed: Long,
                    totalCount: Option[Long] = None): Array[Double] = {
    val c = F.col(column).cast("double")
    val valid = df.select(c.as("x")).where(validValue(F.col("x"))).queryExecution.toRdd
    val n = totalCount.getOrElse(valid.count())
    val draw = FitScan.Draw.seeded(FitScan.anyRow, n <= sampleSize, n, sampleSize,
      seed, sampleSize * 2)
    val collected = FitScan.draw(valid, Seq(draw)).head.map(_.getDouble(0))
    if (collected.length <= sampleSize) collected
    else exactResample(collected, sampleSize, seed)
  }

  /** Finite-value predicate: NaN AND ±Inf are invalid, like the
    * reference's `data[np.isfinite(data)]` (estimation.py:146) — an inf
    * would otherwise blow up min/max and give every histogram an
    * infinite range. */
  private def validValue(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    c.isNotNull && !F.isnan(c) &&
      c =!= Double.PositiveInfinity && c =!= Double.NegativeInfinity

  /** NaN/±Inf → null so aggregates and samples see only finite values. */
  private def finiteOrNull(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    F.when(validValue(c), c).otherwise(F.lit(null))

  /** Empty results with the full fit schema — the reference's contract
    * for a column with no valid data (tests/test_numerical_stability.py:
    * 105-116): queries over the collection work, `best()` returns zero
    * rows, nothing throws. */
  private def emptyResults(spark: SparkSession, cfg: FitConfig): FitResults =
    new FitResults(spark.emptyDataset(FitResults.encoder).toDF(), Map.empty, cfg)

  /** Exact-size downsample without replacement via seeded Fisher-Yates
    * (reference: estimation.py:946-967). Delegates to the shared kernel
    * in [[graft.dists.ContinuousDist.seededSubsample]] so there is ONE
    * implementation of the sampling discipline. */
  def exactResample(xs: Array[Double], n: Int, seed: Long): Array[Double] =
    graft.dists.ContinuousDist.seededSubsample(xs, n, seed)

  /** Same seeded Fisher-Yates, over whole rows, so paired columns (e.g.
    * value + censor flag) stay aligned through the downsample. */
  def exactResampleRows(xs: Array[org.apache.spark.sql.Row], n: Int,
                        seed: Long): Array[org.apache.spark.sql.Row] =
    exactResampleG(xs, n, seed)

  private def exactResampleG[T: scala.reflect.ClassTag](
      xs: Array[T], n: Int, seed: Long): Array[T] = {
    val rng = new java.util.Random(seed)
    val a = xs.clone()
    var i = 0
    while (i < n) {
      val j = i + rng.nextInt(a.length - i)
      val t = a(i); a(i) = a(j); a(j) = t
      i += 1
    }
    a.slice(0, n)
  }

  /** Equal-width bins over [mn, mx], Histogram.continuous's arithmetic:
    * the last edge is widened by 1e-10 of the range so the max lands in
    * the final bin, and out-of-range values clamp into the end bins. */
  private final case class EqualBins(mn: Double, mx: Double, nBins: Int) {
    val hi: Double = mx + (mx - mn) * 1e-10
    val width: Double = (hi - mn) / nBins
    def bin(x: Double): Int =
      math.min(math.max(math.floor((x - mn) / width).toLong, 0L), nBins - 1L).toInt
    /** Density over the rows the scan binned (the adaptive sampler may
      * have reduced them below the full count). */
    def hist(counts: Array[Long]): Hist = {
      val nScan = math.max(counts.sum, 1L)
      Hist(counts.map(_.toDouble / (nScan * width)),
        Array.tabulate(nBins + 1)(j => mn + j * (hi - mn) / nBins))
    }
  }

  private def equalBins(mn: Double, mx: Double, cnt: Long, cfg: FitConfig): EqualBins =
    EqualBins(mn, mx, math.max(2, if (cfg.useRiceRule) Histogram.riceBins(cnt) else cfg.bins))

  /** One histogram of the fused pass: column `ci` of the scanned row into
    * `nBins` counts; `bin` is -1 for a value outside the histogram. */
  private final case class Binner(ci: Int, nBins: Int, bin: Double => Int)

  /** The fused pass of [[fit]]: every binner's counts plus the draws. */
  private def binnedPass(rows: RDD[InternalRow], binners: Array[Binner],
                         draws: Seq[FitScan.Draw]): (Array[Array[Long]], Seq[Array[InternalRow]]) =
    FitScan.run(rows, draws, FitScan.zeroCounts(binners.map(_.nBins)),
      (t: Array[Array[Long]], row: InternalRow) => {
        var i = 0
        while (i < binners.length) {
          val b = binners(i)
          if (!row.isNullAt(b.ci)) {
            val k = b.bin(row.getDouble(b.ci))
            if (k >= 0) t(i)(k) += 1
          }
          i += 1
        }
      }, FitScan.addCounts)

  /** The fan-out of every fit: ONE job over the (key, family) pairs, with the
    * driver-built contexts in one broadcast that is destroyed once the
    * results are back. `parallelize` slices the pairs in order, so the
    * interleaved slow families spread over the tasks; fine-grained tasks
    * (a few fits each) keep one slow family from queueing behind another. */
  private def fanOut[C: scala.reflect.ClassTag](spark: SparkSession, pairs: Seq[(String, String)],
                                                nParts: Int, shared: C)
                                               (fitPair: (C, String, String) => FitResult): Array[FitResult] = {
    val bc = spark.sparkContext.broadcast(shared)
    try spark.sparkContext.parallelize(pairs, nParts)
      .map { case (key, name) => fitPair(bc.value, key, name) }
      .collect()
    finally bc.destroy()
  }

  /** The results table over the collected rows: a driver-local relation
    * of O(keys · families) rows, so queries on it never rescan the input
    * and nothing needs caching or releasing. */
  private def resultsOf(spark: SparkSession, rows: Array[FitResult],
                        samples: Map[String, Array[Double]], cfg: FitConfig,
                        discreteSamples: Map[String, Array[Long]] = Map.empty): FitResults =
    new FitResults(spark.createDataset(rows.toSeq)(FitResults.encoder).toDF(), samples, cfg,
      discreteSamples)

  /** Column of a censored fit's scan that carries the event flag. */
  private val EventCol = "__event"

  /** Fit all requested continuous families to one or more numeric columns.
    *
    * One plan, two scans, one fan-out, whatever the number of columns
    * (the reference fits 3 columns for ~the price of 1,
    * docs/_static/benchmark_summary.md:36-43). The cleaned frame is
    * planned once and both scans run over its rows, each one job with no
    * shuffle:
    *  1. the stats scan: every column's min/max/count ([[FitScan.extents]]);
    *  2. the fused [[FitScan]] scan: every column's histogram counts and
    *     the fitting sample (per column, with its event flags, for a
    *     censored fit);
    *  then driver stats/prefilter/interleave → broadcast FitContexts →
    *  one `parallelize(pairs).map(fitOne)` fan-out (a plain JVM closure —
    *  the reference's Arrow/pandas-UDF hop does not exist here) →
    *  collect.
    * The results table is a driver-local relation of the collected rows
    * (reference lifecycle, SURVEY.md §3.1, without its cache).
    */
  def fit(spark: SparkSession, df: DataFrame, columns: Seq[String],
          distributions: Option[Seq[String]] = None,
          cfg: FitConfig = FitConfig()): FitResults = {
    require(columns.nonEmpty, "at least one column required")
    val schema = df.schema
    columns.foreach { c =>
      val fld = schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(s"column '$c' not found"))
      require(fld.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType],
        s"column '$c' is not numeric: ${fld.dataType}")
    }

    // unknown names flow through to fitOne and come back as sentinel rows,
    // matching the reference's never-crash UDF behavior
    val baseNames = distributions.getOrElse(DistRegistry.defaultNames)
    val supportFiltered =
      if (cfg.supportAtZeroOnly) baseNames.filter(DistRegistry.supportsAtZero)
      else baseNames
    val capped = supportFiltered.take(cfg.maxDistributions)

    // ---- scan 1: stats. NaN/±Inf→null per column so min/max/count see
    // only finite values; a censored fit carries its event flag along ----
    val cleaned = df.select(columns.map { c =>
      finiteOrNull(F.col(c).cast("double")).as(c)
    } ++ cfg.censoringColumn.map(cc => F.col(cc).cast("boolean").as(EventCol)): _*)
    val cleanedRows = cleaned.queryExecution.toRdd
    val extents = FitScan.extents(cleanedRows, columns.length)
    // a column with no finite values fits nothing but fails nothing —
    // it is dropped here, and an all-invalid request returns the empty
    // collection (the reference's contract, not an exception)
    val colStats: Map[String, (Double, Double, Long)] = columns.zip(extents).collect {
      case (c, e) if e.count > 0L => c -> ((e.min, e.max, e.count))
    }.toMap
    val fitCols = columns.filter(colStats.contains)
    if (fitCols.isEmpty) return emptyResults(spark, cfg)

    // ---- adaptive pre-fit sampling (A7/P3/P1, reference:
    // base_fitter.py:243-477): inputs above the row threshold are reduced
    // ONCE here — pilot skew decides uniform vs stratified — and the
    // fused pass below runs over the reduced frame. At 100 TB this bounds
    // every downstream scan instead of rescanning the corpus per fit.
    val nMax = colStats.values.map(_._3).max
    val (scanDf, samplePlan) = AdaptiveSampling.prepare(cleaned, fitCols, nMax, cfg)

    // ---- scan 2: histograms + fitting sample in one scan ----
    // explicit bin edges (the reference's tuple `bins` form) bin every
    // column by Histogram's edge rule — non-uniform widths allowed, values
    // outside [head, last] excluded; otherwise each non-singular column
    // gets equal-width bins over its [min, max]
    val ci: Map[String, Int] = columns.zipWithIndex.toMap // scan column order
    val edges = cfg.binEdges.map(Histogram.validEdges)
    val equal: Map[String, EqualBins] =
      if (edges.isDefined) Map.empty
      else fitCols.flatMap { c =>
        val (mn, mx, cnt) = colStats(c)
        if (mn == mx) None else Some(c -> equalBins(mn, mx, cnt, cfg))
      }.toMap
    val binned = fitCols.filter(c => edges.isDefined || equal.contains(c))
    val binners = binned.map { c =>
      edges match {
        case Some(ea) => Binner(ci(c), ea.length - 1, x => Histogram.edgeBin(x, ea))
        case None => val eb = equal(c); Binner(ci(c), eb.nBins, eb.bin)
      }
    }.toArray

    // a plain fit draws ONE row sample shared by every column, its
    // fraction from the MINIMUM per-column count so sparse (nully)
    // columns still reach the fitting sample size, the row cap bounding
    // the collect. A censored fit draws each column's (value, event) rows
    // separately from the unreduced rows, with the same seeded-sample +
    // exact-resample discipline — a bare `.limit` would take the head of
    // the table in partition order, a time-biased (and layout-dependent)
    // subsample when the source is time-ordered
    val size = cfg.fittingSampleSize
    val censored = cfg.censoringColumn.isDefined
    val draws: Seq[FitScan.Draw] =
      if (censored) fitCols.map { c =>
        val (i, n) = (ci(c), colStats(c)._3)
        FitScan.Draw.seeded(r => !r.isNullAt(i), n <= size, n, size, cfg.sampleSeed, size * 2)
      }
      else {
        val reduceFactor = samplePlan.map(_.fraction).getOrElse(1.0)
        val nMin = math.max(1L, (colStats.values.map(_._3).min * reduceFactor).toLong)
        val nMaxEff = math.max(1L, (nMax * reduceFactor).toLong)
        Seq(FitScan.Draw.seeded(FitScan.anyRow, nMaxEff <= size, nMin, size,
          cfg.sampleSeed, size * 4))
      }
    val scanRows = if (scanDf eq cleaned) cleanedRows else scanDf.queryExecution.toRdd
    val (counts, drawn) =
      if (!censored || (scanDf eq cleaned)) binnedPass(scanRows, binners, draws)
      else (binnedPass(scanRows, binners, Nil)._1, FitScan.draw(cleanedRows, draws))
    val histByCol: Map[String, Hist] = fitCols.map { c =>
      val slot = binned.indexOf(c)
      c -> (edges match {
        case Some(ea) => Hist(Histogram.edgeDensity(counts(slot).zipWithIndex.map(_.swap).toMap, ea), ea)
        case None =>
          if (slot < 0) Hist(Array(1.0), Array(colStats(c)._1)) else equal(c).hist(counts(slot))
      })
    }.toMap

    // each column's kept rows: its non-null drawn rows, cut to the exact
    // size by the seeded resample (whole rows, so a censored value keeps
    // its event flag, which follows the value columns)
    val kept: Map[String, Array[InternalRow]] = fitCols.zipWithIndex.map { case (c, k) =>
      val rows = if (censored) drawn(k) else drawn.head.filterNot(_.isNullAt(ci(c)))
      if (rows.isEmpty) throw new IllegalArgumentException(s"column '$c' has no valid data")
      c -> (if (rows.length <= size) rows else exactResampleG(rows, size, cfg.sampleSeed))
    }.toMap
    val samples: Map[String, Array[Double]] =
      kept.map { case (c, rows) => c -> rows.map(_.getDouble(ci(c))) }
    val ei = columns.length // a null event flag counts as censored
    val censorByCol: Map[String, Array[Boolean]] =
      if (!censored) Map.empty
      else kept.map { case (c, rows) => c -> rows.map(r => !r.isNullAt(ei) && r.getBoolean(ei)) }

    // ---- the fan-out: one job over every (column, family) pair ----
    val ctxs: Map[String, FitContext] = fitCols.map { c =>
      c -> FitContext(c, histByCol(c), samples(c), DataStats.of(samples(c)),
        censorByCol.get(c))
    }.toMap
    val methodByCol: Map[String, String] = fitCols.map { c =>
      c -> (if (cfg.estimationMethod == "auto") {
        if (Estimators.isHeavyTailed(ctxs(c).sample, ctxs(c).stats)) "mse" else "mle"
      } else cfg.estimationMethod)
    }.toMap
    val pairs: Seq[(String, String)] = fitCols.flatMap { c =>
      interleave(prefilter(capped, ctxs(c).stats, cfg.prefilter)).map(n => (c, n))
    }
    val nParts = cfg.numPartitions.getOrElse(
      math.max(1, math.min(pairs.length, 4 * spark.sparkContext.defaultParallelism)))
    // the custom-registry snapshot rides the broadcast so runtime-registered
    // families resolve on executor JVMs (not just in local mode)
    val cfgBase = cfg
    val rows = fanOut(spark, pairs, nParts, (ctxs, methodByCol, DistRegistry.customSnapshot)) {
      case ((ctxMap, methods, customDists), c, name) =>
        fitOne(name, ctxMap(c), cfgBase.copy(estimationMethod = methods(c)), customDists)
    }
    resultsOf(spark, rows, samples, cfg)
  }

  /** Group-wise continuous fit: fit every requested family to `valueCol`
    * WITHIN each distinct `groupCol` value — "fit a distribution per
    * segment", the grouped generalization of [[fit]] (beyond the
    * reference, which fits whole columns only; its lifecycle per group
    * would rescan the table G times).
    *
    * One plan, two scans, one fan-out, independent of the number of
    * groups. The cleaned frame with its `rand(seed)` column is planned
    * once (rand is seeded per partition, so both scans see the same
    * draws): ONE scan folds per-group min/max/count, ONE [[FitScan]]
    * scan makes the (group, bin) counts and the per-group sample
    * (`sampleBy` semantics: the rand column against per-group fractions
    * sized from the stats), then a single (group, family) fan-out runs
    * through the same [[fitOne]] kernel.
    * Results carry the group value in `column_name`. Driver state is
    * O(groups · (bins + sampleSize)) — groups must be segment-like
    * (flags, categories), not key-like. */
  def fitGrouped(spark: SparkSession, df: DataFrame, groupCol: String,
                 valueCol: String,
                 distributions: Option[Seq[String]] = None,
                 cfg: FitConfig = FitConfig()): FitResults = {
    // explicit error beats a silently-ignored config field
    require(cfg.censoringColumn.isEmpty,
      "censored fitting is not supported in grouped fits")
    // per-column bounds are keyed by COLUMN name; a grouped fit's context
    // names are group values, so the map would silently miss (or a group
    // named like a column would truncate unexpectedly)
    require(cfg.lowerBounds.isEmpty && cfg.upperBounds.isEmpty,
      "per-column bounds are not supported in grouped fits — use the scalar bounds")
    val cleaned = df
      .select(F.col(groupCol).cast("string").as("g"),
        finiteOrNull(F.col(valueCol).cast("double")).as("x"))
      .where(F.col("g").isNotNull && F.col("x").isNotNull)

    // g is column 0, x column 1, the draw's rand column 2
    val cleanedRows = cleaned.withColumn("r", F.rand(cfg.sampleSeed)).queryExecution.toRdd

    // 1) per-group stats; a new key is copied out of the reused row
    type Extents = mutable.HashMap[UTF8String, FitScan.Extent]
    val extentByGroup = FitScan.tally(cleanedRows, () => new Extents,
      (t: Extents, row: InternalRow) => {
        val g = row.getUTF8String(0)
        t.getOrElse(g, t.getOrElseUpdate(g.clone(), new FitScan.Extent)).add(row.getDouble(1))
      },
      (into: Extents, from: Extents) =>
        from.foreach { case (g, e) => into.getOrElseUpdate(g, new FitScan.Extent).merge(e) })
    require(extentByGroup.nonEmpty, s"no valid data in '$valueCol'")
    val stats: Map[String, (Double, Double, Long)] = extentByGroup.map { case (g, e) =>
      g.toString -> ((e.min, e.max, e.count))
    }.toMap

    // 2) one scan: (group, bin) counts over each non-singular group's
    // equal-width bins, and the sample. The full-collect shortcut gates
    // on the TOTAL row count — gating on the max group size would let
    // many small groups pull the whole table onto the driver; above it a
    // row is kept when its rand(seed) falls below its group's fraction,
    // exactly the rows `stat.sampleBy("g", fracs, seed)` keeps
    val binned: Array[(String, EqualBins)] = stats.toSeq.sortBy(_._1).collect {
      case (g, (mn, mx, cnt)) if mn < mx => g -> equalBins(mn, mx, cnt, cfg)
    }.toArray
    // executor-side lookups key on the row's own UTF8String (no per-row
    // String)
    val slotOf: Map[UTF8String, Int] =
      binned.map(_._1).zipWithIndex.map { case (g, s) => UTF8String.fromString(g) -> s }.toMap
    val totalRows = stats.values.map(_._3).sum
    val fracOf: Map[UTF8String, Double] = stats.map { case (g, (_, _, n)) =>
      UTF8String.fromString(g) -> math.min(1.0, cfg.fittingSampleSize * 1.2 / n)
    }
    val admit: InternalRow => Boolean =
      if (totalRows <= cfg.fittingSampleSize.toLong * 4) FitScan.anyRow
      else r => r.getDouble(2) < fracOf.getOrElse(r.getUTF8String(0), 0.0)
    val (counts, drawn) = FitScan.run(cleanedRows,
      Seq(FitScan.Draw(admit, None, cfg.sampleSeed, Int.MaxValue)),
      FitScan.zeroCounts(binned.map(_._2.nBins)),
      (t: Array[Array[Long]], row: InternalRow) =>
        slotOf.get(row.getUTF8String(0)).foreach { s =>
          t(s)(binned(s)._2.bin(row.getDouble(1))) += 1
        },
      FitScan.addCounts)
    val histByGroup: Map[String, Hist] = binned.zipWithIndex.map { case ((g, eb), s) =>
      g -> eb.hist(counts(s))
    }.toMap
    val samples: Map[String, Array[Double]] = drawn.head
      .groupBy(_.getUTF8String(0).toString).map { case (g, rows) =>
        val arr = rows.map(_.getDouble(1))
        g -> (if (arr.length <= cfg.fittingSampleSize) arr
              else exactResample(arr, cfg.fittingSampleSize, cfg.sampleSeed))
      }

    // 3) one (group, family) fan-out through the shared kernel
    val baseNames = distributions.getOrElse(DistRegistry.defaultNames)
    val capped = (if (cfg.supportAtZeroOnly)
      baseNames.filter(DistRegistry.supportsAtZero) else baseNames)
      .take(cfg.maxDistributions)
    val ctxs: Map[String, FitContext] = samples.map { case (g, sample) =>
      val (mn, _, _) = stats(g)
      val hist = histByGroup.getOrElse(g, Hist(Array(1.0), Array(mn)))
      g -> FitContext(g, hist, sample, DataStats.of(sample), None)
    }
    // per-group auto method selection, same rule as fit()
    val methodByGroup: Map[String, String] = ctxs.map { case (g, ctx) =>
      g -> (if (cfg.estimationMethod == "auto") {
        if (Estimators.isHeavyTailed(ctx.sample, ctx.stats)) "mse" else "mle"
      } else cfg.estimationMethod)
    }
    val pairs: Seq[(String, String)] = ctxs.keys.toSeq.sorted.flatMap { g =>
      interleave(prefilter(capped, ctxs(g).stats, cfg.prefilter)).map(n => (g, n))
    }
    val nParts = cfg.numPartitions.getOrElse(
      math.max(1, math.min(pairs.length, 4 * spark.sparkContext.defaultParallelism)))
    val cfgBase = cfg
    val rows = fanOut(spark, pairs, nParts, (ctxs, methodByGroup, DistRegistry.customSnapshot)) {
      case ((ctxMap, methods, customDists), g, name) =>
        fitOne(name, ctxMap(g), cfgBase.copy(estimationMethod = methods(g)), customDists)
    }
    resultsOf(spark, rows, samples, cfg)
  }

  /** Discrete fit over the registry's discrete families
    * (reference: discrete_fitter.py + discrete_fitting.py:380-470). */
  def fitDiscrete(spark: SparkSession, df: DataFrame, column: String,
                  distributions: Option[Seq[String]] = None,
                  cfg: FitConfig = FitConfig()): FitResults =
    fitDiscreteMulti(spark, df, Seq(column), distributions, cfg)

  /** Multi-column discrete fit in the continuous path's shape — one plan,
    * two scans, one fan-out: ONE count scan, ONE [[FitScan]] scan for
    * every column's empirical PMF and the shared fitting sample, both
    * over the once-planned cleaned rows, then a single fan-out job over
    * every (column, family) pair. m columns cost ~1. */
  def fitDiscreteMulti(spark: SparkSession, df: DataFrame, columns: Seq[String],
                       distributions: Option[Seq[String]] = None,
                       cfg: FitConfig = FitConfig()): FitResults = {
    require(columns.nonEmpty, "at least one column required")
    // floating columns route through double so NaN/±Inf become null
    // BEFORE the long cast (a bare double→long cast turns NaN into 0 and
    // would silently inject spurious zeros into the PMF); integral
    // columns cast directly — no NaN possible, and the double hop would
    // corrupt values above 2^53
    val cleaned = df.select(columns.map { c =>
      df.schema(c).dataType match {
        case org.apache.spark.sql.types.DoubleType |
             org.apache.spark.sql.types.FloatType =>
          finiteOrNull(F.col(c).cast("double")).cast("long").as(c)
        case _ => F.col(c).cast("long").as(c)
      }
    }: _*)

    // 1) per-column valid counts; all-invalid columns drop out, and an
    // all-invalid request returns the empty collection with the full
    // schema (the reference's contract)
    val nCols = columns.length
    val cleanedRows = cleaned.queryExecution.toRdd
    val valid = FitScan.tally(cleanedRows, () => new Array[Long](nCols),
      (t: Array[Long], row: InternalRow) => {
        var i = 0
        while (i < nCols) {
          if (!row.isNullAt(i)) t(i) += 1L
          i += 1
        }
      },
      (into: Array[Long], from: Array[Long]) => into.indices.foreach(i => into(i) += from(i)))
    val nByCol: Map[String, Long] = columns.zip(valid).filter(_._2 > 0L).toMap
    val fitCols = columns.filter(nByCol.contains)
    if (fitCols.isEmpty) return emptyResults(spark, cfg)

    // 2) one scan: per-column value counts (~columns · unique values on
    // the driver, bounded for genuinely discrete data regardless of input
    // size) and one shared row sample — fraction from the MINIMUM count so
    // sparse columns still reach the target size; per-column null filter +
    // exact resample on the drawn rows
    val size = cfg.fittingSampleSize
    val nMax = nByCol.values.max
    val draw = FitScan.Draw.seeded(FitScan.anyRow, nMax <= size, nByCol.values.min, size,
      cfg.sampleSeed, size * 4)
    val (valueCounts, drawn) = FitScan.run(cleanedRows, Seq(draw),
      () => Array.fill(nCols)(mutable.HashMap.empty[Long, Long]),
      (t: Array[mutable.HashMap[Long, Long]], row: InternalRow) => {
        var i = 0
        while (i < nCols) {
          if (!row.isNullAt(i)) {
            val k = row.getLong(i)
            t(i)(k) = t(i).getOrElse(k, 0L) + 1L
          }
          i += 1
        }
      },
      (into: Array[mutable.HashMap[Long, Long]], from: Array[mutable.HashMap[Long, Long]]) =>
        into.zip(from).foreach { case (m, p) =>
          p.foreach { case (k, n) => m(k) = m.getOrElse(k, 0L) + n }
        })
    val pmfByCol: Map[String, Pmf] = fitCols.map { c =>
      val byValue = valueCounts(columns.indexOf(c))
      val xs = byValue.keys.toArray.sorted
      val n = xs.map(byValue)
      val total = n.sum
      c -> Pmf(xs, n.map(_.toDouble / total), total)
    }.toMap
    val samplesByCol: Map[String, Array[Long]] = fitCols.map { c =>
      val i = columns.indexOf(c)
      val arr = drawn.head.filterNot(_.isNullAt(i)).map(_.getLong(i))
      c -> (if (arr.length <= size) arr else exactResampleG(arr, size, cfg.sampleSeed))
    }.toMap

    // default zoo = registry minus the reference's discrete exclusions
    // (bernoulli/randint stay opt-in, distributions.py:351-357)
    val names = distributions.getOrElse(DiscreteRegistry.defaultNames)
      .filter(n => DiscreteRegistry.get(n).isDefined)
    val pairs: Seq[(String, String)] = fitCols.flatMap(c => names.map(n => (c, n)))

    // 3) one fan-out job. SSE compares empirical vs fitted PMF at the
    // unique observed values (reference: discrete_fitting.py:184-209)
    val ctx: Map[String, (Array[Long], Pmf, DataStats)] = fitCols.map { c =>
      c -> ((samplesByCol(c), pmfByCol(c), DataStats.of(samplesByCol(c).map(_.toDouble))))
    }.toMap
    val nParts = math.max(1, math.min(pairs.length, 2 * spark.sparkContext.defaultParallelism))
    val rows = fanOut(spark, pairs, nParts, (ctx, DiscreteRegistry.customSnapshot)) {
      case ((ctxMap, customDists), colName, name) =>
        val (sample, pm, st) = ctxMap(colName)
        val t0 = System.nanoTime()
        val res = try {
          val dist = customDists.get(name).orElse(DiscreteRegistry.get(name)).get
          val params = dist.fit(sample)
          if (params.exists(p => !java.lang.Double.isFinite(p)))
            failed(name, colName, st, None, None)
          else {
            val sse = Metrics.sseDiscrete(dist, params, pm.xs, pm.p)
            val (aic, bic) = Metrics.informationCriteriaDiscrete(dist, params, sample)
            // lazy metrics defer the K-S pass exactly like the
            // continuous path; FitResults.fillMetrics recomputes it from
            // the kept sample on demand
            val (ks, pv) =
              if (cfg.lazyMetrics) (None, None)
              else {
                val (k, p) = Metrics.ksDiscrete(dist, params, sample)
                (Some(k), Some(p))
              }
            FitResult(colName, name, params, sse, aic, bic,
              ks, pv, None, None,
              st.min, st.max, st.mean, st.stddev, st.count, st.kurtosis, st.skewness,
              None, None)
          }
        } catch {
          case _: Throwable => failed(name, colName, st, None, None)
        }
        res.copy(fit_seconds = (System.nanoTime() - t0) / 1e9)
    }
    // carry the fitting samples so deferred metrics can fill on demand —
    // both the double view and the exact integral sample (the latter so
    // a lazy K-S never loses bits above 2^53)
    resultsOf(spark, rows, samplesByCol.map { case (c, a) => c -> a.map(_.toDouble) }, cfg,
      samplesByCol)
  }
}
