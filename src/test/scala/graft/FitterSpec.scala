package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.{SparkSession, functions => F}
import graft.operators._
import graft.dists.{ContinuousFamilies, ContinuousFamiliesE}

/** Spark integration tests for the fit pipeline, mirroring the
  * reference's known-distribution fixtures
  * (/root/reference/tests/conftest.py:91-178). */
class FitterSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def toDf(xs: Array[Double], col: String = "value") = {
    import spark.implicits._
    spark.createDataset(xs.toSeq).toDF(col)
  }

  private def sample(d: graft.dists.ContinuousDist, params: Array[Double], n: Int): Array[Double] = {
    val rng = new java.util.Random(42L)
    Array.fill(n)(d.ppf(math.min(1 - 1e-12, math.max(1e-12, rng.nextDouble())), params))
  }

  test("histogram: density integrates to 1, Rice rule, singular and null edge cases") {
    val df = toDf(sample(ContinuousFamilies.Norm, Array(50.0, 10.0), 10000))
    val h = Histogram.continuous(df, "value", bins = 50)
    assert(h.nBins == 50)
    val area = h.density.zipWithIndex.map { case (d, i) => d * (h.edges(i + 1) - h.edges(i)) }.sum
    assert(math.abs(area - 1.0) < 1e-9, s"area=$area")
    assert(Histogram.riceBins(10000) == 2 * math.ceil(math.cbrt(10000)).toInt)

    val hc = Histogram.continuous(toDf(Array.fill(100)(42.0)), "value")
    assert(hc.isSingular && hc.density.sameElements(Array(1.0)))

    intercept[IllegalArgumentException] {
      Histogram.continuous(toDf(Array.empty[Double]), "value")
    }
  }

  test("per-column bounds and explicit bin edges (config tuple/dict forms)") {
    val spark2 = spark
    import spark2.implicits._
    // two columns, different truncation bounds via the dict form: each
    // column's result rows must carry ITS bound, and the scalar default
    // applies to columns absent from the map
    val rng = new java.util.Random(41L)
    val df = Seq.fill(4000)((math.abs(rng.nextGaussian()) * 10 + 1,
      rng.nextDouble() * 100)).toDF("a", "b")
    val r = Fitter.fit(spark, df, Seq("a", "b"),
      distributions = Some(Seq("expon")),
      cfg = FitConfig(lowerBound = Some(0.0),
        lowerBounds = Map("b" -> 5.0), upperBounds = Map("b" -> 95.0)))
    val rows = r.df.select("column_name", "lower_bound", "upper_bound")
      .collect().map(x => x.getString(0) ->
        (Option(x.getAs[java.lang.Double](1)), Option(x.getAs[java.lang.Double](2)))).toMap
    assert(rows("a") == ((Some(0.0), None)), s"a bounds ${rows("a")}")
    assert(rows("b") == ((Some(5.0), Some(95.0))), s"b bounds ${rows("b")}")
    // explicit (non-uniform) bin edges: the fit uses exactly these bins;
    // a norm fit on norm data stays best with finite SSE, and values
    // outside the edge range are excluded rather than clamped
    val xs = sample(ContinuousFamilies.Norm, Array(50.0, 10.0), 8000)
    val edges = Seq(20.0, 35.0, 45.0, 50.0, 55.0, 65.0, 80.0)
    val r2 = Fitter.fit(spark, toDf(xs), Seq("value"),
      distributions = Some(Seq("norm", "expon")),
      cfg = FitConfig(binEdges = Some(edges)))
    val best = r2.best(1, "sse").head()
    assert(best.getAs[String]("distribution") == "norm")
    assert(java.lang.Double.isFinite(best.getAs[Double]("sse")))
    // a malformed edge list fails fast
    intercept[IllegalArgumentException] {
      Fitter.fit(spark, toDf(xs), Seq("value"),
        distributions = Some(Seq("norm")),
        cfg = FitConfig(binEdges = Some(Seq(1.0, 1.0, 2.0))))
    }
    // the public explicit-edges histogram: density integrates to 1 over
    // the covered span with per-bin widths; out-of-range values excluded
    val h = Histogram.continuousWithEdges(toDf(xs), "value", edges)
    val area = h.density.zipWithIndex
      .map { case (d, i) => d * (h.edges(i + 1) - h.edges(i)) }.sum
    assert(math.abs(area - 1.0) < 1e-9, s"area=$area")
    assert(h.nBins == edges.length - 1)
  }

  test("NaN/Inf hygiene: contaminated fits clean, all-invalid returns empty schema") {
    // the reference's numerical-stability contracts
    // (tests/test_numerical_stability.py:89-195): NaN and ±Inf are
    // filtered before any statistic, and a column with no finite value
    // yields an EMPTY collection with the full schema — never a throw
    val base = sample(ContinuousFamilies.Norm, Array(50.0, 10.0), 2000)
    val dirty = base.clone()
    dirty(0) = Double.PositiveInfinity
    dirty(1) = Double.NegativeInfinity
    (2 until 202).foreach(i => dirty(i) = Double.NaN)
    val r = Fitter.fit(spark, toDf(dirty), Seq("value"),
      distributions = Some(Seq("norm", "expon")))
    val best = r.best(1, "aic").head()
    assert(best.getAs[String]("distribution") == "norm")
    assert(java.lang.Double.isFinite(best.getAs[Double]("aic")),
      "inf leaked into the fit statistics")
    assert(math.abs(best.getSeq[Double](best.fieldIndex("parameters")).head - 50.0) < 2.0)
    // all-invalid continuous column: empty results, schema intact
    val allBad = Fitter.fit(spark, toDf(Array.fill(50)(Double.NaN)),
      Seq("value"), distributions = Some(Seq("norm")))
    assert(allBad.count == 0L)
    assert(allBad.df.columns.contains("distribution") &&
      allBad.df.columns.contains("aic"), "empty results lost the schema")
    assert(allBad.best(1, "aic").isEmpty)
    // multi-column with one invalid member: the valid column still fits
    val spark2 = spark
    import spark2.implicits._
    val mixed = base.map(v => (v, Double.NaN)).toSeq.toDF("good", "bad")
    val rMixed = Fitter.fit(spark, mixed, Seq("good", "bad"),
      distributions = Some(Seq("norm")))
    assert(rMixed.df.select("column_name").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("good"))
    // discrete: NaN must NOT become 0 in the PMF (double→long cast trap)
    val pois = Array.fill(1000)(3L) ++ Array.fill(1000)(5L)
    val dDirty = pois.map(_.toDouble) ++ Array.fill(500)(Double.NaN)
    val dr = Fitter.fitDiscrete(spark, dDirty.toSeq.toDF("value"), "value",
      distributions = Some(Seq("poisson")))
    val mean = dr.df.head().getSeq[Double](
      dr.df.head().fieldIndex("parameters")).head
    assert(math.abs(mean - 4.0) < 0.1,
      s"poisson MLE $mean — NaN rows leaked into the PMF as zeros")
    // all-invalid discrete column: empty with schema
    val dBad = Fitter.fitDiscrete(spark,
      Array.fill(50)(Double.NaN).toSeq.toDF("value"), "value",
      distributions = Some(Seq("poisson")))
    assert(dBad.count == 0L && dBad.df.columns.contains("distribution"))
  }

  test("end-to-end fit: normal(50,10) ranks norm best by AIC with recovered params") {
    val df = toDf(sample(ContinuousFamilies.Norm, Array(50.0, 10.0), 10000))
    val results = Fitter.fit(spark, df, Seq("value"))
    val top = results.best(8, "aic").collect()
    // the 94-family registry contains several strict supersets of the
    // normal (exponnorm, truncnorm, skewnorm, gennorm, tukeylambda ≈
    // normal at λ≈0.14 …) that can edge ahead by a few nats of overfit —
    // the reference's own tests assert the true family ranks at/near the
    // top with a near-optimal score, not strictly first
    val names = top.map(_.getAs[String]("distribution"))
    assert(names.contains("norm"), s"top-8: ${names.mkString(",")}")
    val aicBest = top.head.getAs[Double]("aic")
    val aicNorm = top(names.indexOf("norm")).getAs[Double]("aic")
    assert(aicNorm - aicBest < 30.0, s"norm AIC $aicNorm vs best $aicBest")
    val normRow = results.df.where(F.col("distribution") === "norm").head()
    val params = normRow.getSeq[Double](normRow.fieldIndex("parameters"))
    assert(math.abs(params(0) - 50.0) < 0.5 && math.abs(params(1) - 10.0) < 0.5)
    // provenance stats present
    assert(math.abs(normRow.getAs[Double]("data_mean") - 50.0) < 0.5)
    assert(normRow.getAs[Double]("data_count") == 10000.0)
  }

  test("pmfComparison pairs empirical and model pmf over the observed support") {
    val pmf = Pmf(Array(0L, 1L, 2L, 3L), Array(0.4, 0.3, 0.2, 0.1), 10L)
    val out = PlotData.pmfComparison(spark, pmf, "poisson", Array(1.0))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(out.map(_._1).toSeq == Seq(0L, 1L, 2L, 3L))
    assert(math.abs(out(0)._3 - math.exp(-1.0)) < 1e-12) // P(X=0) = e^-1
    assert(math.abs(out.map(_._2).sum - 1.0) < 1e-12)
  }

  test("hist_counts SQL aggregate matches Histogram.continuous and composes with GROUP BY") {
    graft.functions.SqlUdfs.register(spark)
    val xs = sample(ContinuousFamilies.Norm, Array(0.0, 1.0), 5000)
    val df = toDf(xs)
    val h = Histogram.continuous(df, "value", bins = 20)
    val lo = h.edges.head; val hi = h.edges.last
    val counts = df
      .agg(F.call_udf("hist_counts", F.col("value"),
        F.lit(lo), F.lit(hi), F.lit(20)).as("h"))
      .head().getSeq[Long](0)
    val width = (hi - lo) / 20
    val expected = h.density.map(d => math.round(d * xs.length * width))
    assert(counts.toArray.sameElements(expected), s"$counts vs ${expected.toSeq}")
    assert(counts.sum == xs.length)
    // per-group histograms with a single shuffle — the groupBy/floor plan
    // can't express this without a second grouping key
    val grouped = df.withColumn("grp", (F.col("value") > 0).cast("int"))
      .groupBy("grp")
      .agg(F.call_udf("hist_counts", F.col("value"),
        F.lit(lo), F.lit(hi), F.lit(20)).as("h"))
      .collect()
    assert(grouped.length == 2)
    assert(grouped.map(_.getSeq[Long](1).sum).sum == xs.length)
  }

  test("fit_seconds records per-family wall time on every result row") {
    val df = toDf(sample(ContinuousFamilies.Norm, Array(10.0, 2.0), 2000))
    val rows = Fitter.fit(spark, df, Seq("value"),
      distributions = Some(Seq("norm", "expon"))).df
      .select("distribution", "fit_seconds").collect()
    assert(rows.length == 2)
    rows.foreach { r =>
      val t = r.getDouble(1)
      assert(t >= 0.0 && t < 60.0, s"${r.getString(0)} fit_seconds=$t")
    }
  }

  test("failed fits produce sentinel rows, filtered by successful") {
    val df = toDf(sample(ContinuousFamilies.Norm, Array(0.0, 1.0), 2000))
    val results = Fitter.fit(spark, df, Seq("value"),
      distributions = Some(Seq("norm", "no_such_dist")))
    assert(results.count == 2)
    assert(results.successful.count() == 1)
    val sentinel = results.df.where(F.col("distribution") === "no_such_dist").head()
    assert(sentinel.getAs[Double]("sse").isPosInfinity)
  }

  test("multi-column fit + bestPerColumn + columnNames") {
    import spark.implicits._
    val n = 5000
    val a = sample(ContinuousFamilies.Norm, Array(0.0, 1.0), n)
    val b = sample(ContinuousFamilies.Expon, Array(0.0, 5.0), n)
    val df = a.zip(b).toSeq.toDF("x", "y")
    val results = Fitter.fit(spark, df, Seq("x", "y"),
      distributions = Some(Seq("norm", "expon", "uniform", "logistic")))
    assert(results.columnNames == Seq("x", "y"))
    val best = results.bestPerColumn(1, "aic").collect()
    assert(best.length == 2)
    val byCol = best.map(r => r.getAs[String]("column_name") -> r.getAs[String]("distribution")).toMap
    assert(byCol("x") == "norm", s"x best: ${byCol("x")}")
    assert(byCol("y") == "expon", s"y best: ${byCol("y")}")
  }

  test("bounded fit: truncated models evaluated, bounds recorded") {
    val df = toDf(sample(ContinuousFamilies.Norm, Array(50.0, 10.0), 5000))
    val results = Fitter.fit(spark, df, Seq("value"),
      distributions = Some(Seq("norm", "logistic")),
      cfg = FitConfig(lowerBound = Some(20.0), upperBound = Some(80.0)))
    val rows = results.successful.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Double]("lower_bound") == 20.0)
      assert(r.getAs[Double]("upper_bound") == 80.0)
      assert(r.isNullAt(r.fieldIndex("ad_pvalue"))) // no A-D p for bounded fits
    }
  }

  test("lazy metrics: ks/ad null, eager has them") {
    val df = toDf(sample(ContinuousFamilies.Norm, Array(0.0, 1.0), 3000))
    val lazyR = Fitter.fit(spark, df, Seq("value"),
      distributions = Some(Seq("norm")), cfg = FitConfig(lazyMetrics = true))
    val r = lazyR.df.head()
    assert(r.isNullAt(r.fieldIndex("ks_statistic")) && r.isNullAt(r.fieldIndex("ad_statistic")))
    assert(java.lang.Double.isFinite(r.getAs[Double]("aic")))
    // discrete lazy: K-S deferred the same way, bestLazy fills it from
    // the cached sample through the DiscreteRegistry branch
    val spark2 = spark
    import spark2.implicits._
    val rng = new java.util.Random(19L)
    val pois = Seq.fill(3000)((0 until 20).count(_ => rng.nextDouble() < 0.2).toLong)
    val dLazy = Fitter.fitDiscrete(spark, pois.toDF("value"), "value",
      distributions = Some(Seq("poisson", "geom")),
      cfg = FitConfig(lazyMetrics = true))
    val dr = dLazy.df.head()
    assert(dr.isNullAt(dr.fieldIndex("ks_statistic")), "discrete ks not deferred")
    val top = dLazy.bestLazy(spark, 1, "ks_statistic").head()
    assert(top.getAs[String]("distribution") == "poisson")
    assert(java.lang.Double.isFinite(top.getAs[Double]("ks_statistic")))
  }

  test("bestLazy recomputes deferred K-S even when a failed-fit sentinel exists") {
    val df = toDf(sample(ContinuousFamilies.Norm, Array(50.0, 10.0), 3000))
    // argus on far-from-[0,1] data fails → sentinel row with ks = +inf;
    // the regression: that sentinel made bestLazy skip the lazy fill and
    // rank (inf, null, null...) instead of real recomputed statistics
    val lazyR = Fitter.fit(spark, df, Seq("value"),
      distributions = Some(Seq("norm", "uniform", "expon", "argus")),
      cfg = FitConfig(lazyMetrics = true))
    val top = lazyR.bestLazy(spark, 2, "ks_statistic").collect()
    assert(top.nonEmpty)
    top.foreach { r =>
      val ks = r.getAs[Double]("ks_statistic")
      assert(java.lang.Double.isFinite(ks) && ks < 0.5,
        s"expected finite recomputed ks, got $ks for ${r.getAs[String]("distribution")}")
    }
    assert(top.head.getAs[String]("distribution") == "norm")
  }

  test("MSE estimation recovers lognormal shape on heavy-tail data") {
    val rng = new java.util.Random(42L)
    val xs = Array.fill(8000)(
      ContinuousFamilies.LogNorm.ppf(rng.nextDouble(), Array(1.0, 0.0, 100.0)))
    val p = operators.Estimators.fitMse(ContinuousFamilies.LogNorm, xs)
    // shape s=1.0, scale=100: MSE on 8K draws should land within 15%
    assert(math.abs(p(0) - 1.0) < 0.15, s"shape ${p(0)}")
    assert(math.abs(p(2) / 100.0 - 1.0) < 0.25, s"scale ${p(2)}")
    // MSE objective value at the estimate must beat (or tie) the MLE start
    val mle = ContinuousFamilies.LogNorm.fit(xs)
    assert(p.length == mle.length)
  }

  test("MSP uniform closed form is the argmax of the spacing objective") {
    val rng = new java.util.Random(7L)
    val xs = Array.fill(1500)(10.0 + 70.0 * rng.nextDouble())
    val p = operators.Estimators.fitMse(ContinuousFamilies.Uniform, xs)
    val sorted = xs.sorted
    val m = sorted.length
    val r = sorted(m - 1) - sorted(0)
    assert(p(0) == sorted(0) - r / (m - 1), s"loc ${p(0)}")
    assert(p(1) == r * (m + 1).toDouble / (m - 1), s"scale ${p(1)}")
    // the closed form must dominate nearby perturbations on the actual
    // numeric objective (mean negative log spacing, lower is better)
    def obj(q: Array[Double]): Double = {
      var prev = 0.0; var sum = 0.0
      for (x <- sorted) {
        var f = ContinuousFamilies.Uniform.cdf(x, q)
        f = math.min(1 - 1e-12, math.max(1e-12, f))
        sum += math.log(math.max(f - prev, 1e-12)); prev = f
      }
      -(sum + math.log(math.max(1.0 - prev, 1e-12))) / (m + 1)
    }
    val f0 = obj(p)
    for (d <- Seq(0.01, -0.01)) {
      assert(f0 <= obj(Array(p(0) + d, p(1))), s"loc perturbation $d wins")
      assert(f0 <= obj(Array(p(0), p(1) + d)), s"scale perturbation $d wins")
    }
    // degenerate range falls through without crashing
    assert(ContinuousFamilies.Uniform.mspClosedForm(Array(3.0, 3.0, 3.0)).isEmpty)
  }

  test("discrete fit: poisson(7) data ranks poisson best by AIC") {
    import spark.implicits._
    val rng = new java.util.Random(42L)
    val xs = Array.fill(5000) {
      val u = rng.nextDouble()
      var k = 0L; var c = graft.dists.DiscreteFamilies.Poisson.pmf(k, Array(7.0))
      while (c < u && k < 1000) { k += 1; c += graft.dists.DiscreteFamilies.Poisson.pmf(k, Array(7.0)) }
      k
    }
    val df = xs.toSeq.toDF("counts")
    val results = Fitter.fitDiscrete(spark, df, "counts",
      distributions = Some(Seq("poisson", "nbinom", "geom", "dlaplace")))
    val top = results.best(1, "aic").head()
    assert(top.getAs[String]("distribution") == "poisson")
    assert(math.abs(top.getSeq[Double](top.fieldIndex("parameters")).head - 7.0) < 0.2)
  }

  test("supportAtZeroOnly restricts the candidate list to lb-0 families") {
    val df = toDf(sample(ContinuousFamilies.Gamma, Array(2.0, 0.0, 3.0), 3000))
    val r = Fitter.fit(spark, df, Seq("value"),
      distributions = Some(Seq("norm", "expon", "gamma", "uniform", "halfnorm")),
      cfg = FitConfig(supportAtZeroOnly = true))
    val fitted = r.df.select("distribution").collect().map(_.getString(0)).toSet
    // scipy semantics: uniform.a == 0, so uniform passes the filter too
    assert(fitted == Set("expon", "gamma", "halfnorm", "uniform"),
      s"expected exactly the lb-0 families, got $fitted")
  }

  test("multi-column discrete fit matches single-column fits per column") {
    import spark.implicits._
    val rng = new java.util.Random(5L)
    def pois(mu: Double): Long = {
      val u = rng.nextDouble()
      var k = 0L; var c = graft.dists.DiscreteFamilies.Poisson.pmf(k, Array(mu))
      while (c < u && k < 1000) { k += 1; c += graft.dists.DiscreteFamilies.Poisson.pmf(k, Array(mu)) }
      k
    }
    val df = Seq.fill(4000)((pois(3.0), pois(12.0))).toDF("a", "b")
    val multi = Fitter.fitDiscreteMulti(spark, df, Seq("a", "b"),
      distributions = Some(Seq("poisson", "geom", "nbinom")))
    assert(multi.columnNames == Seq("a", "b"))
    val bests = multi.bestPerColumn(1, "aic").collect()
      .map(r => r.getAs[String]("column_name") -> r.getAs[String]("distribution")).toMap
    assert(bests("a") == "poisson" && bests("b") == "poisson", s"$bests")
    // per-column parameter estimates agree with the single-column path
    val single = Fitter.fitDiscrete(spark, df.select("a"), "a",
      distributions = Some(Seq("poisson")))
    val muMulti = multi.forColumn("a").df.where($"distribution" === "poisson")
      .head().getSeq[Double](2).head
    val muSingle = single.df.head().getSeq[Double](2).head
    assert(math.abs(muMulti - 3.0) < 0.2 && math.abs(muSingle - 3.0) < 0.2,
      s"mu multi=$muMulti single=$muSingle")
  }

  test("censored fit: weibull survival data recovers shape within tolerance") {
    import spark.implicits._
    val rng = new java.util.Random(42L)
    val n = 1000
    val rows = (1 to n).map { _ =>
      val t = ContinuousFamilies.WeibullMin.ppf(rng.nextDouble(), Array(2.0, 0.0, 10.0))
      val c = 5.0 + 15.0 * rng.nextDouble()
      (math.min(t, c), t <= c)
    }
    val df = rows.toDF("time", "event")
    val results = Fitter.fit(spark, df, Seq("time"),
      distributions = Some(Seq("weibull_min")),
      cfg = FitConfig(censoringColumn = Some("event")))
    val r = results.successful.head()
    val params = r.getSeq[Double](r.fieldIndex("parameters"))
    assert(math.abs(params.head - 2.0) < 0.5, s"c=${params.head}")
    assert(r.isNullAt(r.fieldIndex("ks_statistic"))) // KS invalid for censored
  }

  test("summary + acceptableCount + filterByMetrics + qualityReport run") {
    val df = toDf(sample(ContinuousFamilies.Norm, Array(0.0, 1.0), 3000))
    val results = Fitter.fit(spark, df, Seq("value"),
      distributions = Some(Seq("norm", "logistic", "cauchy", "uniform")))
    val s = results.summary.head()
    assert(s.getAs[Long]("n_results") == 4)
    assert(results.acceptableCount() >= 1) // norm should be acceptable
    assert(results.filterByMetrics(maxKs = Some(0.05)).count >= 1)
    val q = results.qualityReport("aic").head()
    assert(q.getAs[String]("best_distribution") == "norm")
  }

  test("adaptive sampling: policy selects none/uniform/stratified; fit uses the reduced frame") {
    val cfg = FitConfig(sampleThresholdRows = 5000L, sampleCapRows = 2000L,
      sampleFraction = 0.35, pilotRows = 2000L)
    // below threshold → no plan
    assert(AdaptiveSampling.plan(4000L, 0.0, cfg).isEmpty)
    // above threshold, near-symmetric → uniform, fraction capped
    val p1 = AdaptiveSampling.plan(100000L, 0.3, cfg).get
    assert(p1.strategy == "uniform" && math.abs(p1.fraction - 0.02) < 1e-9, s"$p1")
    // mild skew (>= 0.5) → stratified with the default 5 strata
    val pm = AdaptiveSampling.plan(100000L, 1.0, cfg).get
    assert(pm.strategy == "stratified" && pm.numBins == 5, s"$pm")
    // heavy skew (>= 2.0) → stratified, escalated to 10 strata
    val p2 = AdaptiveSampling.plan(100000L, 5.0, cfg).get
    assert(p2.strategy == "stratified" && p2.numBins == 10, s"$p2")
    // forced strategy overrides the skew decision
    val p3 = AdaptiveSampling.plan(100000L, 5.0, cfg.copy(samplingStrategy = "uniform")).get
    assert(p3.strategy == "uniform")

    // end-to-end: a 20K-row fit with a 5K threshold still recovers ~norm
    // and the histogram over the reduced scan stays normalized
    val df = toDf(sample(ContinuousFamilies.Norm, Array(50.0, 10.0), 20000))
    val r = Fitter.fit(spark, df, Seq("value"), Some(Seq("norm", "expon")), cfg)
    val best = r.best(1, "aic").head()
    assert(best.getAs[String]("distribution") == "norm")
    val params = best.getSeq[Double](best.fieldIndex("parameters"))
    assert(math.abs(params(0) - 50.0) < 1.0 && math.abs(params(1) - 10.0) < 1.0,
      s"params=$params")
  }

  test("interleave spreads slow distributions; partitionCount honors caps") {
    val names = Seq("beta", "t", "norm", "expon", "uniform", "gamma", "invgauss", "laplace")
    val inter = Fitter.interleave(names)
    assert(inter.sorted == names.sorted)
    val slowIdx = inter.zipWithIndex.collect {
      case (n, i) if graft.dists.DistRegistry.slowDistributions(n) => i }
    assert(slowIdx.sliding(2).forall { case Seq(a, b) => b - a >= 2; case _ => true },
      s"slow clustered: $inter")
    assert(Fitter.partitionCount(spark, names, Some(7)) == 7)
    assert(Fitter.partitionCount(spark, names, None) <= 2 * spark.sparkContext.defaultParallelism)
  }

  test("custom distributions ride the broadcast: names absent from the builtin registry fit through the fan-out") {
    // a renamed Gaussian under a name no registry carries
    object CustomGauss extends graft.dists.ContinuousDist {
      private val base = ContinuousFamilies.Norm
      val name = "customgauss_bx"
      def shapeNames: Seq[String] = Seq.empty
      def pdf0(z: Double, s: Array[Double]): Double = base.pdf0(z, s)
      def cdf0(z: Double, s: Array[Double]): Double = base.cdf0(z, s)
      def ppf0(q: Double, s: Array[Double]): Double = base.ppf0(q, s)
      def warmStart(xs: Array[Double]): Array[Double] = base.warmStart(xs)
    }
    val xs = sample(ContinuousFamilies.Norm, Array(10.0, 2.0), 5000)

    // kernel-level: resolution must work from the PASSED map alone (that
    // is all an executor JVM has on a real cluster) ...
    val hist = Histogram.continuous(toDf(xs), "value")
    val ctx = FitContext("value", hist, xs, DataStats.of(xs), None)
    val viaBroadcast = Fitter.fitOne(CustomGauss.name, ctx, FitConfig(),
      custom = Map(CustomGauss.name -> CustomGauss))
    assert(viaBroadcast.sse < Double.PositiveInfinity, "broadcast-map resolution failed")
    assert(math.abs(viaBroadcast.parameters(0) - 10.0) < 0.3)
    // ... and an unknown name with no map entry still yields the sentinel
    assert(Fitter.fitOne(CustomGauss.name, ctx, FitConfig()).sse.isInfinite)

    // end-to-end: register on the driver, fit through the distributed
    // fan-out (fit() snapshots the registry into the broadcast)
    graft.dists.DistRegistry.register(CustomGauss)
    try {
      val r = Fitter.fit(spark, toDf(xs), Seq("value"),
        distributions = Some(Seq(CustomGauss.name)))
      val row = r.successful.head()
      assert(row.getAs[String]("distribution") == CustomGauss.name)
      val p = row.getSeq[Double](row.fieldIndex("parameters"))
      assert(math.abs(p(0) - 10.0) < 0.3 && math.abs(p(1) - 2.0) < 0.3, s"p=$p")
    } finally graft.dists.DistRegistry.unregister(CustomGauss.name)
    assert(graft.dists.DistRegistry.get(CustomGauss.name).isEmpty)
  }

  test("reference-excluded Tier-E families fit through the fan-out when opted in") {
    // default zoo excludes them (mirroring DEFAULT_EXCLUSIONS) ...
    val defaults = graft.dists.DistRegistry.defaultNames.toSet
    assert(!defaults.contains("mielke") && !defaults.contains("kstwobign"))
    assert(defaults.contains("gibrat"))
    // ... but distributions=Some(...) routes them through the distributed
    // fit exactly like any builtin (the same opt-in contract the
    // reference's custom_exclusions/get_distributions surface has)
    val xs = sample(ContinuousFamiliesE.Mielke, Array(3.0, 2.5, 0.0, 2.0), 5000)
    val r = Fitter.fit(spark, toDf(xs), Seq("value"),
      distributions = Some(Seq("mielke", "gibrat", "kstwobign")))
    val rows = r.successful.collect()
    assert(rows.length == 3, s"expected 3 successful fits, got ${rows.length}")
    val best = r.best(1, "aic").head()
    assert(best.getAs[String]("distribution") == "mielke",
      s"mielke data should rank mielke best, got ${best.getAs[String]("distribution")}")
  }

  test("custom discrete distributions ride the broadcast through fitDiscrete") {
    object CustomPois extends graft.dists.DiscreteDist {
      private val base = graft.dists.DiscreteFamilies.all.find(_.name == "poisson").get
      val name = "custompois_bx"
      def paramNames: Seq[String] = base.paramNames
      def valid(p: Array[Double]): Boolean = base.valid(p)
      def logpmf(k: Long, p: Array[Double]): Double = base.logpmf(k, p)
      def support(p: Array[Double]): (Long, Long) = base.support(p)
      def initial(xs: Array[Long]): Array[Double] = base.initial(xs)
    }
    import spark.implicits._
    val rng = new java.util.Random(7L)
    val xs = Array.fill(3000) { // poisson(4) via inversion
      var k = 0L; var p = math.exp(-4.0); var u = rng.nextDouble()
      while (u > p && k < 100) { u -= p; k += 1; p *= 4.0 / k }
      k
    }
    graft.dists.DiscreteRegistry.register(CustomPois)
    try {
      val r = Fitter.fitDiscrete(spark, xs.toSeq.toDF("k"), "k",
        distributions = Some(Seq(CustomPois.name)))
      val row = r.successful.head()
      assert(row.getAs[String]("distribution") == CustomPois.name)
      val mu = row.getSeq[Double](row.fieldIndex("parameters")).head
      assert(math.abs(mu - 4.0) < 0.2, s"mu=$mu")
    } finally graft.dists.DiscreteRegistry.unregister(CustomPois.name)
  }

  test("fitGrouped fits per segment: params recover per group, sampling caps hold") {
    import spark.implicits._
    val rng = new java.util.Random(11L)
    val rows = (1 to 8000).map { _ =>
      if (rng.nextBoolean()) ("a", 10.0 + 2.0 * rng.nextGaussian())
      else ("b", 50.0 + 5.0 * rng.nextGaussian())
    }
    val df = rows.toDF("seg", "v")
    val r = Fitter.fitGrouped(spark, df, "seg", "v",
      distributions = Some(Seq("norm", "expon", "uniform")))
    val best = r.bestPerColumn(1, "aic").collect()
      .map(x => x.getAs[String]("column_name") -> x).toMap
    assert(best("a").getAs[String]("distribution") == "norm")
    assert(best("b").getAs[String]("distribution") == "norm")
    val pa = best("a").getSeq[Double](best("a").fieldIndex("parameters"))
    val pb = best("b").getSeq[Double](best("b").fieldIndex("parameters"))
    assert(math.abs(pa(0) - 10.0) < 0.3 && math.abs(pa(1) - 2.0) < 0.3, s"a=$pa")
    assert(math.abs(pb(0) - 50.0) < 0.5 && math.abs(pb(1) - 5.0) < 0.5, s"b=$pb")
    // above the cap, the per-group sample respects fittingSampleSize
    val r2 = Fitter.fitGrouped(spark, df, "seg", "v",
      distributions = Some(Seq("norm")), cfg = FitConfig(fittingSampleSize = 500))
    for (row <- r2.successful.collect()) {
      assert(row.getAs[Double]("data_count") <= 650.0,
        s"sample not capped: ${row.getAs[Double]("data_count")}")
      // estimates still near truth from the capped sample
      val p = row.getSeq[Double](row.fieldIndex("parameters"))
      if (row.getAs[String]("column_name") == "a")
        assert(math.abs(p(0) - 10.0) < 0.6)
    }
  }

  test("fitGrouped with a single group agrees with the flat fit") {
    import spark.implicits._
    val rng = new java.util.Random(5L)
    val xs = Array.fill(4000)(20.0 + 4.0 * rng.nextGaussian())
    val flat = Fitter.fit(spark, xs.toSeq.toDF("v"), Seq("v"),
      distributions = Some(Seq("norm", "expon", "uniform")))
    val grouped = Fitter.fitGrouped(spark,
      xs.toSeq.map(x => ("all", x)).toDF("g", "v"), "g", "v",
      distributions = Some(Seq("norm", "expon", "uniform")))
    val fp = flat.successful.collect()
      .map(r => r.getAs[String]("distribution") -> r.getSeq[Double](2)).toMap
    val gp = grouped.successful.collect()
      .map(r => r.getAs[String]("distribution") -> r.getSeq[Double](2)).toMap
    assert(fp.keySet == gp.keySet)
    for ((d, p) <- fp; (a, b) <- p.zip(gp(d)))
      assert(math.abs(a - b) < 1e-9, s"$d: flat=$p grouped=${gp(d)}")
  }

  test("SQL UDFs capture the custom-dist snapshot at registration time") {
    object CustomTri extends graft.dists.ContinuousDist {
      private val base = ContinuousFamilies.Norm
      val name = "customtri_sx"
      def shapeNames: Seq[String] = Seq.empty
      def pdf0(z: Double, s: Array[Double]): Double = base.pdf0(z, s)
      def cdf0(z: Double, s: Array[Double]): Double = base.cdf0(z, s)
      def ppf0(q: Double, s: Array[Double]): Double = base.ppf0(q, s)
      def warmStart(xs: Array[Double]): Array[Double] = base.warmStart(xs)
    }
    graft.dists.DistRegistry.register(CustomTri)
    try {
      graft.functions.SqlUdfs.register(spark)
      val p = spark.sql(
        s"SELECT dist_pdf('${CustomTri.name}', array(0.0D, 1.0D), 0.0D)").head()
      assert(math.abs(p.getDouble(0) - 1.0 / math.sqrt(2 * math.Pi)) < 1e-12)
    } finally graft.dists.DistRegistry.unregister(CustomTri.name)
    // re-registering the UDFs AFTER unregister captures the new snapshot:
    // the name now resolves to nothing → NULL, never an exception
    graft.functions.SqlUdfs.register(spark)
    val gone = spark.sql(
      s"SELECT dist_pdf('${CustomTri.name}', array(0.0D, 1.0D), 0.0D)").head()
    assert(gone.isNullAt(0))
  }

  test("censored sample is seed-deterministic and not a prefix of the table") {
    import spark.implicits._
    // 30K rows laid out so any `.limit(10000)` prefix sees ONLY value=5.0;
    // a real seeded sample sees the 5/50 mixture (mean ~27.5)
    val rows = (Array.fill(15000)((5.0, true)) ++ Array.fill(15000)((50.0, true))).toSeq
    val df = rows.toDF("time", "event")
    val cfg = FitConfig(censoringColumn = Some("event"))
    val fit1 = Fitter.fit(spark, df, Seq("time"), Some(Seq("expon")), cfg)
    val m1 = fit1.df.head().getAs[Double]("data_mean")
    assert(m1 > 20.0 && m1 < 35.0, s"prefix-biased censored sample: mean=$m1")
    // same seed → identical sample → identical estimate
    val fit2 = Fitter.fit(spark, df, Seq("time"), Some(Seq("expon")), cfg)
    assert(fit2.df.head().getAs[Double]("data_mean") == m1)
    assert(fit2.df.head().getSeq[Double](2) == fit1.df.head().getSeq[Double](2))
  }

  /** A 20,000-row parquet table in three files (one scan partition
    * each): x ~ norm(50, 10); y with NaN, ±Inf and nulls; censored times
    * t with an event flag; poisson(4) counts k; a 4-value group key g. */
  private lazy val fitTable: org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val rng = new java.util.Random(31L)
    val rows = (0 until 20000).map { i =>
      val y: java.lang.Double =
        if (i % 97 == 0) Double.NaN else if (i % 89 == 0) Double.PositiveInfinity
        else if (i % 83 == 0) null else java.lang.Double.valueOf(rng.nextGaussian())
      val t = ContinuousFamilies.WeibullMin.ppf(rng.nextDouble(), Array(2.0, 0.0, 10.0))
      val cens = 5.0 + 15.0 * rng.nextDouble()
      var k = 0L; var u = rng.nextDouble(); var pk = math.exp(-4.0); var cdf = pk
      while (u > cdf && k < 100) { k += 1; pk *= 4.0 / k; cdf += pk }
      (50.0 + 10.0 * rng.nextGaussian(), y, math.min(t, cens), t <= cens, k, (i % 4).toString)
    }
    val dir = java.nio.file.Files.createTempDirectory("fitter-spec").resolve("fit")
    rows.toDF("x", "y", "t", "event", "k", "g").repartition(3).write.parquet(dir.toString)
    spark.read.parquet(dir.toString)
  }

  /** `c` with NaN/±Inf nulled, as every fit cleans its input. */
  private def finite(c: String) = {
    val x = F.col(c).cast("double")
    F.when(!F.isnan(x) && x =!= Double.PositiveInfinity && x =!= Double.NegativeInfinity, x)
  }

  /** Runs `body`; returns its value, the Spark jobs it ran and the stages
    * that wrote shuffle records. */
  private def jobsOf[T](body: => T): (T, Int, Int) = {
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val shuffles = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (e.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten > 0)
          shuffles.incrementAndGet()
    }
    org.apache.spark.ListenerBusAccess.drain(sc)
    sc.addSparkListener(listener)
    try {
      val r = body
      org.apache.spark.ListenerBusAccess.drain(sc)
      (r, jobs.get, shuffles.get)
    } finally sc.removeSparkListener(listener)
  }

  test("every fit runs in three passes: at most 4 jobs, only the stats exchange, no cache") {
    val table = fitTable
    val cfg = FitConfig(fittingSampleSize = 1000)
    val calls = Seq[(String, () => FitResults)](
      "continuous" -> (() => Fitter.fit(spark, table, Seq("x", "y"), Some(Seq("norm", "expon")), cfg)),
      "censored" -> (() => Fitter.fit(spark, table, Seq("t"), Some(Seq("weibull_min", "expon")),
        cfg.copy(censoringColumn = Some("event")))),
      "discrete" -> (() => Fitter.fitDiscrete(spark, table, "k", Some(Seq("poisson", "geom")), cfg)),
      "grouped" -> (() => Fitter.fitGrouped(spark, table, "g", "x", Some(Seq("norm", "expon")), cfg)))
    spark.sharedState.cacheManager.clearCache()
    for ((name, call) <- calls) {
      val (r, jobs, shuffles) = jobsOf(call())
      // the stats scan, the fused scan and the fan-out are one job each; the
      // stats pass is a scan of the planned RDD now, so it no longer shuffles
      // and the bounds are tighter than the name's
      assert(jobs <= 3, s"$name fit ran $jobs jobs")
      assert(shuffles == 0, s"$name fit shuffled in $shuffles stages")
      assert(spark.sharedState.cacheManager.isEmpty, s"$name fit cached a relation")
      assert(r.successful.count() > 0, s"$name fit has no successful rows")
    }
  }

  test("the fused pass draws Dataset.sample's rows and bins like the histogram aggregate") {
    import spark.implicits._
    import graft.dists.{DiscreteFamilies, FrozenModel}
    import graft.functions.Metrics
    val (k, seed, bins) = (500, 7L, 20)
    val cfg = FitConfig(fittingSampleSize = k, sampleSeed = seed, bins = bins)
    def params(r: FitResults, c: String): Array[Double] = {
      val row = r.forColumn(c).df.head()
      row.getSeq[Double](row.fieldIndex("parameters")).toArray
    }
    def sse(r: FitResults, c: String): Double = r.forColumn(c).df.head().getAs[Double]("sse")
    // over the three-file parquet table and over an in-memory relation
    val local = toDf(sample(ContinuousFamilies.Norm, Array(50.0, 10.0), 20000), "x")
      .withColumn("y", F.when(F.col("x") > 60.0, F.lit(null)).otherwise(F.col("x") - 50.0))
    for (table <- Seq(fitTable, local)) {
      val cols = Seq("x", "y")
      val r = Fitter.fit(spark, table, cols, Some(Seq("norm")), cfg)
      // the sample as `sample(false, f, seed).limit(4k)` draws it, f from
      // the smaller column count, then each column's exact resample
      val cleaned = table.select(cols.map(c => finite(c).as(c)): _*)
      val stats = cleaned.agg(F.min("x"), F.max("x"), F.count("x"),
        F.min("y"), F.max("y"), F.count("y")).head()
      val f = math.min(1.0, k * 1.2 / math.min(stats.getLong(2), stats.getLong(5)))
      val rows = cleaned.sample(withReplacement = false, f, seed).limit(4 * k).collect()
      for ((c, i) <- cols.zipWithIndex) {
        val drawn = rows.filterNot(_.isNullAt(i)).map(_.getDouble(i))
        val want = if (drawn.length <= k) drawn else Fitter.exactResample(drawn, k, seed)
        assert(r.samples(c).sameElements(want), s"$c: sample differs from Dataset.sample's")
        // the histogram as the exploded (bin, count) aggregate built it;
        // equal density gives the fitted norm the same SSE to the bit
        val (mn, mx) = (stats.getDouble(3 * i), stats.getDouble(3 * i + 1))
        val hi = mx + (mx - mn) * 1e-10
        val width = (hi - mn) / bins
        val byBin = cleaned.where(F.col(c).isNotNull)
          .select(F.least(F.greatest(F.floor((F.col(c) - F.lit(mn)) / F.lit(width)), F.lit(0L)),
            F.lit(bins - 1L)).as("b"))
          .groupBy("b").count().collect().map(b => b.getLong(0).toInt -> b.getLong(1)).toMap
        val density = Array.tabulate(bins)(b => byBin.getOrElse(b, 0L).toDouble / (byBin.values.sum * width))
        val edges = Array.tabulate(bins + 1)(j => mn + j * (hi - mn) / bins)
        val model = FrozenModel(ContinuousFamilies.Norm, params(r, c), None, None)
        assert(sse(r, c) == Metrics.sseContinuous(model, density, edges), s"$c: histogram differs")
      }
    }

    // explicit edges bin each value by the public histogram's CASE chain
    val edges = Seq(20.0, 35.0, 45.0, 50.0, 55.0, 65.0, 80.0)
    val er = Fitter.fit(spark, fitTable, Seq("x"), Some(Seq("norm")), cfg.copy(binEdges = Some(edges)))
    val eh = Histogram.continuousWithEdges(fitTable, "x", edges)
    assert(sse(er, "x") == Metrics.sseContinuous(
      FrozenModel(ContinuousFamilies.Norm, params(er, "x"), None, None), eh.density, eh.edges),
      "explicit-edge histogram differs")

    // censored: each column's (value, event) rows, sampled over its valid rows
    val cr = Fitter.fit(spark, fitTable, Seq("t"), Some(Seq("expon")),
      cfg.copy(censoringColumn = Some("event")))
    val valid = fitTable.select(finite("t").as("t"), $"event").where($"t".isNotNull)
    val nT = valid.count()
    val tRows = valid.sample(withReplacement = false, math.min(1.0, k * 1.2 / nT), seed)
      .limit(2 * k).collect()
    val tWant = (if (tRows.length <= k) tRows else Fitter.exactResampleRows(tRows, k, seed))
      .map(_.getDouble(0))
    assert(cr.samples("t").sameElements(tWant), "censored sample differs from Dataset.sample's")

    // discrete: the shared sample and the PMF (through the poisson SSE)
    val dr = Fitter.fitDiscrete(spark, fitTable, "k", Some(Seq("poisson")), cfg)
    val ks = fitTable.select($"k".cast("long").as("k"))
    val kRows = ks.sample(withReplacement = false, math.min(1.0, k * 1.2 / ks.count()), seed)
      .limit(4 * k).collect().map(_.getLong(0))
    val kWant = if (kRows.length <= k) kRows else Fitter.exactResample(kRows.map(_.toDouble), k, seed)
      .map(_.toLong)
    assert(dr.samples("k").sameElements(kWant.map(_.toDouble)), "discrete sample differs")
    val pmf = ks.groupBy("k").count().orderBy("k").collect()
    val total = pmf.map(_.getLong(1)).sum
    assert(sse(dr, "k") == Metrics.sseDiscrete(DiscreteFamilies.Poisson, params(dr, "k"),
      pmf.map(_.getLong(0)), pmf.map(_.getLong(1).toDouble / total)), "PMF differs")

    // grouped: exactly the rows `stat.sampleBy` keeps, per group
    val gk = 300
    val gr = Fitter.fitGrouped(spark, fitTable, "g", "x", Some(Seq("norm")),
      cfg.copy(fittingSampleSize = gk))
    val gClean = fitTable.select($"g".cast("string").as("g"), finite("x").as("x"))
      .where($"g".isNotNull && $"x".isNotNull)
    val fracs: Map[Any, Double] = gClean.groupBy("g").count().collect()
      .map(r => (r.getString(0): Any) -> math.min(1.0, gk * 1.2 / r.getLong(1))).toMap
    val byGroup = gClean.stat.sampleBy("g", fracs, seed).collect().groupBy(_.getString(0))
    assert(byGroup.keySet == gr.samples.keySet)
    for ((g, rs) <- byGroup) {
      val arr = rs.map(_.getDouble(1))
      val want = if (arr.length <= gk) arr else Fitter.exactResample(arr, gk, seed)
      assert(gr.samples(g).sameElements(want), s"group $g: sample differs from sampleBy's")
    }
  }

  test("the stats scan reads the stats aggregate's min/max/count on edge inputs") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}
    val (nan, inf) = (Double.NaN, Double.PositiveInfinity)
    // six partitions, three of them empty. `bad` holds no finite value;
    // `lo` ties its minimum between 0.0 (seen first) and −0.0, `hi` its
    // maximum between −0.0 (seen first) and 0.0; `zero` is ±0.0 alone;
    // `one` has one finite value
    val parts: Seq[Seq[Row]] = Seq(
      Seq(),
      Seq(Row(nan, 0.0, -0.0, -0.0, null, "g"), Row(null, 3.0, -1.0, 0.0, null, "g"),
        Row(inf, -0.0, 0.0, -0.0, 7.25, "g")),
      Seq(),
      Seq(Row(-inf, -0.0, -2.0, 0.0, nan, "g"), Row(nan, 0.0, 0.0, 0.0, inf, "g")),
      Seq(Row(null, 1.0, -0.0, -0.0, null, "g")),
      Seq())
    val schema = StructType(Seq("bad", "lo", "hi", "zero", "one").map(StructField(_, DoubleType)) :+
      StructField("g", StringType))
    val table = spark.createDataFrame(
      spark.sparkContext.parallelize(parts, parts.length).flatMap(identity), schema)
    assert(table.rdd.getNumPartitions == 6)
    val cols = Seq("bad", "lo", "hi", "zero", "one")
    val cleaned = table.select(cols.map(c => finite(c).as(c)) :+ F.col("g"): _*)
    def bits(x: Any): Any = x match {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case v => v
    }
    // the stats aggregate the scan replaced, per column and per group
    val aggs = cols.flatMap(c => Seq(F.min(c), F.max(c), F.count(c)))
    val agg = cleaned.agg(aggs.head, aggs.tail: _*).head()
    val extents = FitScan.extents(cleaned.queryExecution.toRdd, cols.length)
    for ((c, i) <- cols.zipWithIndex) {
      val e = extents(i)
      val want = (0 until 3).map(j => bits(agg.get(3 * i + j)))
      val got = if (e.count == 0L) Seq(null, null, 0L) else Seq(bits(e.min), bits(e.max), e.count)
      assert(got == want, s"$c: scan $got, aggregate $want")
    }
    assert(extents(1).min.equals(0.0) && extents(2).max.equals(-0.0),
      "the table must tie ±0.0 at lo's minimum and hi's maximum")

    // fits over the table: `bad` drops out, every other column fits, and
    // a fitted column's histogram is the one over the aggregate's range
    val cfg = FitConfig(bins = 4)
    val r = Fitter.fit(spark, table, cols, Some(Seq("uniform")), cfg)
    assert(r.columnNames == Seq("hi", "lo", "one", "zero"))
    def sseOver(fitted: FitResults, c: String, mn: Double, mx: Double, xs: Seq[Double]): Unit = {
      val row = fitted.df.head()
      val model = graft.dists.FrozenModel(graft.dists.ContinuousFamilies.Uniform,
        row.getSeq[Double](row.fieldIndex("parameters")).toArray, None, None)
      val hi = mx + (mx - mn) * 1e-10
      val width = (hi - mn) / 4
      val counts = new Array[Long](4)
      xs.foreach(x => counts(math.min(math.max(math.floor((x - mn) / width).toLong, 0L), 3L).toInt) += 1)
      val density = counts.map(_.toDouble / (xs.length * width))
      val edges = Array.tabulate(5)(j => mn + j * (hi - mn) / 4)
      assert(row.getAs[Double]("sse") == graft.functions.Metrics.sseContinuous(model, density, edges),
        s"$c: histogram differs")
    }
    val lo = cleaned.where(F.col("lo").isNotNull).collect().map(_.getDouble(1)).toSeq
    sseOver(r.forColumn("lo"), "lo", agg.getDouble(3), agg.getDouble(4), lo)

    // a one-group grouped fit reads the grouped aggregate's stats
    val g = Fitter.fitGrouped(spark, table, "g", "lo", Some(Seq("uniform")), cfg)
    val gAgg = cleaned.where(F.col("lo").isNotNull).groupBy("g")
      .agg(F.min("lo"), F.max("lo"), F.count("lo")).head()
    assert(g.df.count() == 1 && g.df.head().getAs[Double]("data_count") == gAgg.getLong(3))
    sseOver(g, "g", gAgg.getDouble(1), gAgg.getDouble(2), lo)
  }

  test("fitGrouped ignores ±Inf like fit: results with and without injected infinities agree") {
    import spark.implicits._
    val rng = new java.util.Random(23L)
    val clean = Seq.fill(3000)(((rng.nextInt(2)).toString, 10.0 + 2.0 * rng.nextGaussian()))
    val dirty = clean ++ Seq(("0", Double.PositiveInfinity), ("1", Double.NegativeInfinity))
    def fitted(rows: Seq[(String, Double)]) =
      Fitter.fitGrouped(spark, rows.toDF("g", "v"), "g", "v", Some(Seq("norm", "logistic")))
        .df.drop("fit_seconds").orderBy("column_name", "distribution").collect().toSeq
    val want = fitted(clean)
    assert(want.forall(r => java.lang.Double.isFinite(r.getAs[Double]("aic"))))
    assert(fitted(dirty) == want)
  }

  test("a harness fit sweep leaves no pinned relations after clearFitMemo") {
    spark.sharedState.cacheManager.clearCache()
    val dir = "/root/testdata/sf0.001"
    for (name <- Seq("fit_continuous", "fit_discrete", "fit_bounded",
        "fit_mse_heavy_tail", "fit_censored", "fit_closed_form",
        "fit_summary_closed_form", "fit_acceptable_count", "fit_lazy"))
      SparkEntry.queries(name)(spark, dir).count()
    // fits build their results on the driver: even the memoized ones pin
    // nothing, before clearFitMemo as after it
    assert(spark.sharedState.cacheManager.isEmpty, "the sweep's fits cached a relation")
    SparkEntry.clearFitMemo()
    assert(spark.sharedState.cacheManager.isEmpty,
      "clearFitMemo must leave no relation cached")
  }

  test("harness queries run on sf0.001 and entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
    val dir = "/root/testdata/sf0.001"
    for ((name, fn) <- SparkEntry.queries if !name.startsWith("fit_")) {
      val n = fn(spark, dir).count()
      assert(n > 0, s"query $name returned 0 rows")
    }
  }
}
