package org.apache.spark.sql.perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession, functions => F}

import graft.dists.{DistRegistry, FrozenModel}
import graft.functions.{Metrics, SpecialMath => SM}
import graft.operators.{FitConfig, FitContext, FitResults, Fitter, DataStats, Hist}

/** The fit half of `models`: eight public Fitter calls on a seeded table of
  * known families (`perfbench/inputs.py`). Each call is checked: the
  * generating family ranks near the top by AIC with its deciles near the
  * truth, and a call's results equal those of its warm-up run. */
final class FitWorkload(spark: SparkSession, dataDir: String, seed: Long) extends Workload {
  /** Fitting-sample size of every call (the library default is 10,000). */
  val SampleSize = 1000
  /** The generating family must rank in the top `TopK` by AIC or come
    * within `MaxAicDelta` of the best. On a 1,000-value sample more than
    * ten 3- and 4-parameter families can come within a few AIC units of
    * the truth, so the rank alone fails by chance; over 128 seeds the
    * farthest a generating family ranked below 10th fell behind the best
    * was 12.2 AIC (norm, behind skewed families on a right-skewed sample),
    * so the distance allowed is 20. A degenerate fit that takes the top
    * AIC by hundreds still fails. The expon column is not ranked; see
    * `callsWith`. */
  val TopK = 10
  val MaxAicDelta = 20.0
  private val cfg = FitConfig(fittingSampleSize = SampleSize, sampleSeed = seed)
  private lazy val table: DataFrame = spark.read.parquet(s"$dataDir/fit.parquet")
  private val digests = scala.collection.mutable.Map.empty[String, Int]
  private var fits = 0L
  private var fitCallsRun = 0L

  /** The default families without `rice` and `argus`. On some seeds'
    * x_norm samples the rice fit alone takes 18–22 s (twenty times a whole
    * call), which made the call time bimodal across seeds. Argus's
    * normalizer Ψ(χ) = Φ(χ) − χφ(χ) − ½ cancels to rounding noise for
    * small χ (it is ~χ³/(3√(2π))), so its likelihood is wrong there: on a
    * norm sample it took the best AIC, 64 below norm's (seed 77), and
    * under bounds, where the optimizer drives χ lower, its pdf integrated
    * to 1e283 (AIC −1.3e6, K-S statistic 1.0). That is a defect of the
    * argus kernel. The traced run's kernel probe still fits both
    * (`dists.kernel_max_s`). */
  private val families = Some(DistRegistry.defaultNames.filterNot(Set("rice", "argus")))
  /** The bounded call also leaves out `norminvgauss`, whose cdf is wrong
    * for large shape: it gave a mass of 0.79 in [0, 100] for a fit with
    * a = 1089 whose pdf integrates to 1 there. A bounded fit's likelihood
    * divides by the model's mass inside the bounds, so the low mass bought
    * the best AIC, 340–490 below norm's, on 3 of 47 seeds. That is a
    * defect of the norminvgauss kernel; it stays in every other call. */
  private val boundedFamilies = families.map(_.filterNot(_ == "norminvgauss"))
  /** MSE estimation runs a numeric optimizer per family; over all default
    * families one of them (norminvgauss) ran 68 s on a 1,000-value Pareto
    * sample, so the MSE call fits the heavy-tailed families. */
  private val heavyTailFamilies = Seq("pareto", "lomax", "genpareto", "lognorm",
    "burr12", "fisk", "invgamma", "halfcauchy", "loglaplace", "t")
  /** Censored MLE costs ~15× an uncensored fit per family, so the
    * censored call fits the positive families that model event times. */
  private val censoredFamilies = Seq("weibull_min", "expon", "gamma", "lognorm",
    "rayleigh", "exponweib", "invweibull", "fisk")
  /** The grouped call fits 8 groups; ten families keep it near the cost of
    * one all-family fit. */
  private val groupFamilies = Seq("norm", "expon", "gamma", "lognorm", "weibull_min",
    "logistic", "laplace", "cauchy", "t", "uniform")

  /** One fit call: the timed part is the Fitter call plus consuming every
    * output column; the check ranks families by AIC. */
  private def fitCall(name: String, expect: Seq[Expect], lazyBest: Boolean = false)
                     (fit: => FitResults): Call = {
    var rows: Array[Row] = Array.empty
    new Call(name, "fit",
      run = () => {
        val r = Tracing.span("fitter.call")(fit)
        try {
          rows = PerfBench.consume(r.df)
          if (lazyBest) PerfBench.consume(r.bestLazy(spark, 3, "ks_statistic"))
        } finally r.unpersist()
        synchronized { fits += rows.length; fitCallsRun += 1 }
        Outcome(ok = true, rows.length.toDouble)
      },
      check = o => {
        val findings = expect.map { e =>
          val ranked = rows.filter(_.getAs[String]("column_name") == e.column)
            .filter(r => java.lang.Double.isFinite(r.getAs[Double]("aic")))
            .sortBy(r => (r.getAs[Double]("aic"), r.getAs[String]("distribution")))
          val rank = ranked.indexWhere(_.getAs[String]("distribution") == e.family)
          lazy val delta = ranked(rank).getAs[Double]("aic") - ranked.head.getAs[Double]("aic")
          if (rank < 0) (Seq(s"${e.column}: ${e.family} not among ${ranked.length} finite fits"), "")
          else {
            val r = ranked(rank)
            val ps = r.getAs[scala.collection.Seq[Double]]("parameters").toArray
            val lb = Option(r.getAs[java.lang.Double]("lower_bound")).map(_.doubleValue)
            val ub = Option(r.getAs[java.lang.Double]("upper_bound")).map(_.doubleValue)
            def value(q: Double): Double = DistRegistry.get(e.family) match {
              case Some(dist) => FrozenModel(dist, ps, lb, ub).ppf(q)
              case None => ps(0) // a discrete family: its first parameter
            }
            def label(q: Double) = if (q < 0) "parameter" else s"quantile $q"
            val misses = e.checks.map { case (q, want, tolerance) => (q, value(q), want, tolerance) }
            val rankProblem =
              if (e.ranked && rank >= TopK && delta > MaxAicDelta)
                Seq(f"${e.column}: ${e.family} ranked ${rank + 1} of ${ranked.length}, " +
                  f"AIC $delta%.1f above the best (${ranked.head.getAs[String]("distribution")})")
              else Nil
            val quantileProblems = misses.collect {
              case (q, got, want, tolerance) if !(math.abs(got - want) <= tolerance) =>
                f"${e.column}: ${e.family} ${label(q)} = $got%.4f, expected $want%.4f ± $tolerance%.4f"
            }
            // the run record keeps every rank and miss, passed or not
            val measured = f"${e.column}: ${e.family} rank ${rank + 1}, AIC +$delta%.1f, " +
              misses.map { case (q, got, want, tolerance) =>
                f"${label(q)} ${(got - want) / tolerance}%+.2f tol" }.mkString(" ")
            (rankProblem ++ quantileProblems, measured)
          }
        }
        val problems = findings.flatMap(_._1)
        val digest = rows.map(r => (r.getAs[String]("column_name"), r.getAs[String]("distribution"),
          r.getAs[scala.collection.Seq[Double]]("parameters").toList, r.getAs[Double]("aic")))
          .sortBy(t => (t._1, t._2)).toSeq.hashCode
        val prev = digests.synchronized(digests.getOrElseUpdate(name, digest))
        val found = problems ++ (if (prev != digest) Seq("results differ from the first run") else Nil)
        if (rows.isEmpty) Outcome(ok = false, 0.0, "no results")
        else if (found.isEmpty) o.copy(note = findings.map(_._2).mkString("; "))
        else Outcome(ok = false, o.work, found.mkString("; "))
      })
  }

  lazy val calls: IndexedSeq[Call] = callsWith(cfg).toIndexedSeq

  /** Warm-up: every call once; its results become the reference that
    * later runs of the call must reproduce. */
  override def warmUp(): Unit = {
    PerfBench.inParallel(calls)(c => c.check(c.run()))
    fits = 0; fitCallsRun = 0
  }

  private def callsWith(cfg: FitConfig): Seq[Call] = {
    val norm = Seq(Expect.quantiles("x_norm", "norm", SampleSize, q => 50.0 + 10.0 * SM.normPpf(q)))
    Seq(
      fitCall("fit_single", norm)(Fitter.fit(spark, table, Seq("x_norm"), families, cfg)),
      fitCall("fit_multi3", norm ++ Seq(
        // Not ranked: families whose density is unbounded at `loc` for some
        // shapes (burr, gamma, exponweib, gengamma, beta …) put `loc` just
        // below the minimum of an expon sample and gain AIC there; up to 14
        // of them ranked above expon, and the best came 18.6 AIC ahead.
        // That is the known degeneracy of maximum likelihood with a free
        // threshold, not a wrong expon fit, whose deciles are still checked.
        Expect.quantiles("x_expon", "expon", SampleSize, q => -5.0 * math.log(1 - q), ranked = false),
        Expect.quantiles("x_lognorm", "lognorm", SampleSize, q => math.E * math.exp(0.5 * SM.normPpf(q)))))(
        Fitter.fit(spark, table, Seq("x_norm", "x_expon", "x_lognorm"), families, cfg)),
      fitCall("fit_lazy", norm, lazyBest = true)(
        Fitter.fit(spark, table, Seq("x_norm"), families, cfg.copy(lazyMetrics = true))),
      fitCall("fit_bounded", norm)(
        Fitter.fit(spark, table, Seq("x_norm"), boundedFamilies,
          cfg.copy(lowerBound = Some(0.0), upperBound = Some(100.0)))),
      fitCall("fit_mse_pareto", Seq(
        Expect.quantiles("x_pareto", "pareto", SampleSize, q => math.pow(1 - q, -1 / 2.5))))(
        Fitter.fit(spark, table, Seq("x_pareto"), Some(heavyTailFamilies),
          cfg.copy(estimationMethod = "mse"))),
      // the results table's AIC is the uncensored likelihood of the sample,
      // so the censored fit is checked by its quantiles, not its rank
      fitCall("fit_censored", Seq(Expect.quantiles("t_weibull", "weibull_min", SampleSize,
        q => 10.0 * math.sqrt(-math.log(1 - q)), ranked = false)))(
        Fitter.fit(spark, table, Seq("t_weibull"), Some(censoredFamilies),
          cfg.copy(censoringColumn = Some("event")))),
      fitCall("fit_discrete", Seq(Expect("k_poisson", "poisson",
        Seq((-1.0, 7.0, Expect.Z * math.sqrt(7.0 / SampleSize))))))(
        Fitter.fitDiscrete(spark, table, "k_poisson", None, cfg)),
      fitCall("fit_grouped", (0 until 8).map(g =>
        Expect.quantiles(g.toString, "norm", SampleSize, q => 50.0 + 10.0 * SM.normPpf(q))))(
        Fitter.fitGrouped(spark, table, "grp", "x_norm", Some(groupFamilies), cfg)))
  }

  /** Layer probes: every default family's fit kernel and the K-S/A-D
    * statistics, run serially on the driver on the fitting sample of
    * `x_norm`, outside Spark. */
  override def probes(): Map[String, Double] = {
    val sample = Fitter.fittingSample(table, "x_norm", SampleSize, seed)
    val stats = DataStats.of(sample)
    val (mn, mx) = (sample.min, sample.max)
    val bins = cfg.bins
    val width = (mx - mn) / bins
    val counts = new Array[Double](bins)
    sample.foreach(x => counts(math.min(bins - 1, ((x - mn) / width).toInt)) += 1)
    val hist = Hist(counts.map(_ / (sample.length * width)),
      Array.tabulate(bins + 1)(i => mn + i * width))
    val ctx = FitContext("x_norm", hist, sample, stats, None)
    val lazyCfg = cfg.copy(lazyMetrics = true)
    val kernel = DistRegistry.defaultNames.map { name =>
      val t0 = System.nanoTime()
      val r = Fitter.fitOne(name, ctx, lazyCfg)
      (name, (System.nanoTime() - t0) / 1e9, r)
    }
    val ksAd = kernel.filter(k => java.lang.Double.isFinite(k._3.sse)).map { case (name, _, r) =>
      val model = FrozenModel(DistRegistry.get(name).get, r.parameters, None, None)
      val t0 = System.nanoTime()
      Metrics.ksStatistic(model, sample)
      Metrics.adStatistic(model, sample)
      (System.nanoTime() - t0) / 1e9
    }
    val ts = kernel.map(_._2)
    Map(
      "fitter.fits" -> (if (fitCallsRun > 0) fits.toDouble / fitCallsRun else 0.0),
      "dists.kernel_s" -> ts.sum,
      "dists.kernel_max_s" -> ts.max,
      "dists.kernel_p50_ms" -> PerfBench.median(ts) * 1000.0,
      "functions.ks_ad_s" -> ksAd.sum)
  }

  override def record: Map[String, String] = Map(
    "fits" -> fits.toString, "sample_size" -> SampleSize.toString,
    "families" -> families.get.size.toString)
}

/** An expected family for one column: it must rank in the top `TopK` by
  * AIC among the column's finite fits or come within `MaxAicDelta` of the
  * best (when `ranked`), and each check (q, value, tolerance) must hold:
  * the fitted quantile q, or for q < 0 the first parameter, within
  * tolerance of the value. */
final case class Expect(column: String, family: String, checks: Seq[(Double, Double, Double)],
                        ranked: Boolean = true)

object Expect {
  /** Standard errors of a fitted decile that its miss may reach. */
  val Z = 5.0

  /** Deciles 1, 5 and 9 of the fit against the true quantile function Q,
    * each to `Z` standard errors of the sample q-quantile of `n` values,
    * √(q(1 − q)/n) · Q′(q). For large n an efficient fit of the generating
    * family is at least as precise as the sample quantile, and the
    * tolerance scales with each family's own sampling spread: a fixed
    * share of the true range was under two standard errors at decile 9 of
    * pareto(2.5), where a seed's sample alone sat 0.12 below the truth. Quantiles, not parameters:
    * with a free location a 3-parameter fit trades shape for location
    * (a lognorm fit gave s = 0.42 for the true 0.5 with the same deciles). */
  def quantiles(column: String, family: String, n: Int, truth: Double => Double,
                ranked: Boolean = true): Expect = {
    val h = 1e-4
    Expect(column, family, Seq(0.1, 0.5, 0.9).map { q =>
      val slope = (truth(q + h) - truth(q - h)) / (2 * h)
      (q, truth(q), Z * math.sqrt(q * (1 - q) / n) * slope)
    }, ranked)
  }
}

/** The span recorder of the current run, reachable from workload code. */
object Tracing {
  @volatile var recorder: SpanRecorder = new SpanRecorder(false)
  def span[T](name: String)(body: => T): T = recorder.span(name)(body)
}
