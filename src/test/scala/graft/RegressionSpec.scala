package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import graft.operators._
import graft.SparkProbes.{cachedState, jobsOf, leaks}

/** Regression operators: per-group OLS, Gram-matrix OLS/ridge, IRLS
  * logistic. Recovery tests use deterministic constructions (no RNG). */
class RegressionSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-regression-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("olsByGroup recovers per-group slope/intercept on near-exact data") {
    import spark.implicits._
    // y = a_g + b_g·x + alternating ±1 "noise" (mean-zero, x-orthogonal
    // over full periods so the OLS estimate stays exactly (a_g, b_g))
    val rows = for {
      (g, a, b) <- Seq(("g1", 2.0, 3.0), ("g2", -1.0, 0.5))
      i <- 0 until 400
    } yield (g, i.toDouble, a + b * i + (if (i % 2 == 0) 1.0 else -1.0))
    val df = rows.toDF("g", "x", "y").repartition(4)
    val out = Regression.olsByGroup(df, "y", "x", Seq("g"))
      .collect().map(r => r.getAs[String]("g") -> r).toMap
    assert(out.keySet == Set("g1", "g2"))
    val g1 = out("g1")
    // ±1 alternating over an even count of consecutive integers is
    // exactly orthogonal to x's centered values? Not exactly — allow a
    // small tolerance driven by the 1/n cross-term.
    assert(math.abs(g1.getAs[Double]("slope") - 3.0) < 0.01)
    assert(math.abs(g1.getAs[Double]("intercept") - 2.0) < 1.5)
    assert(g1.getAs[Double]("r2") > 0.999)
    assert(g1.getAs[Double]("t_stat") > 100.0)
    val g2 = out("g2")
    assert(math.abs(g2.getAs[Double]("slope") - 0.5) < 0.01)
    // resid_var ≈ 1 (the ±1 noise has unit variance; df-corrected)
    assert(math.abs(g2.getAs[Double]("resid_var") - 1.0) < 0.05)
  }

  test("olsByGroup omits degenerate groups and agrees with olsFit") {
    import spark.implicits._
    val rows =
      (0 until 100).map(i => ("ok", i.toDouble, 1.0 + 2.0 * i +
        (if (i % 2 == 0) 0.5 else -0.5))) ++
      Seq(("const_x", 1.0, 3.0), ("const_x", 1.0, 4.0), ("const_x", 1.0, 5.0)) ++
      Seq(("tiny", 1.0, 2.0), ("tiny", 2.0, 3.0))
    val df = rows.toDF("g", "x", "y")
    val out = Regression.olsByGroup(df, "y", "x", Seq("g")).collect()
    assert(out.map(_.getAs[String]("g")).toSet == Set("ok"),
      "zero-x-variance and n<3 groups must be omitted")
    val grp = out.head
    val m = Regression.olsFit(df.where($"g" === "ok"), "y", Seq("x"))
    assert(math.abs(grp.getAs[Double]("slope") - m.beta(1)) < 1e-8)
    assert(math.abs(grp.getAs[Double]("intercept") - m.beta(0)) < 1e-8)
  }

  test("olsByGroup2 agrees with the Gram-matrix olsFit per group") {
    import spark.implicits._
    val rows = for {
      g <- Seq("g1", "g2"); i <- 0 until 300
    } yield {
      val x1 = (i % 17).toDouble
      val x2 = ((i * 7) % 13).toDouble
      val bump = if (g == "g1") 1.0 else -2.0
      (g, x1, x2, 3.0 + bump * x1 - 0.5 * x2 +
        (if (i % 2 == 0) 0.25 else -0.25))
    }
    val df = rows.toDF("g", "x1", "x2", "y")
    val grouped = Regression.olsByGroup2(df, "y", "x1", "x2", Seq("g"))
      .collect().map(r => r.getAs[String]("g") -> r).toMap
    for (g <- Seq("g1", "g2")) {
      val m = Regression.olsFit(df.where($"g" === g), "y", Seq("x1", "x2"))
      val r = grouped(g)
      assert(math.abs(r.getAs[Double]("intercept") - m.beta(0)) < 1e-8)
      assert(math.abs(r.getAs[Double]("b1") - m.beta(1)) < 1e-8)
      assert(math.abs(r.getAs[Double]("b2") - m.beta(2)) < 1e-8)
      assert(r.getAs[Double]("r2") > 0.99)
    }
    // collinear features within a group → that group is omitted
    val col = (0 until 50).map(i =>
      ("bad", i.toDouble, 2.0 * i, i.toDouble)).toDF("g", "x1", "x2", "y")
    assert(Regression.olsByGroup2(df.union(col), "y", "x1", "x2", Seq("g"))
      .where($"g" === "bad").count() == 0L)
  }

  test("huberIrls caps outlier influence where OLS is dragged") {
    import spark.implicits._
    // y = 1 + 2x exactly, except x = 10 carries a wild outlier
    val rows = (1 to 9).map(i => (i.toDouble, 1.0 + 2.0 * i)) :+
      ((10.0, 1000.0))
    val df = rows.toDF("x", "y")
    val ols = Regression.olsFit(df, "y", Seq("x"))
    val hub = Regression.huberIrls(df, "y", Seq("x"), delta = 5.0,
      iters = 8)
    // OLS slope is pulled far above 2 by the outlier...
    assert(ols.beta(1) > 10.0)
    // ...Huber reweighting pulls it back near the clean slope
    assert(math.abs(hub.beta(1) - 2.0) < 0.5)
    assert(math.abs(hub.beta(0) - 1.0) < 3.0)
    // clean data (zero residuals, all weights 1): exact recovery at
    // any iteration count
    val clean = (1 to 10).map(i => (i.toDouble, 1.0 + 2.0 * i))
      .toDF("x", "y")
    val hc = Regression.huberIrls(clean, "y", Seq("x"), delta = 1.0,
      iters = 3)
    assert(math.abs(hc.beta(0) - 1.0) < 1e-8 &&
      math.abs(hc.beta(1) - 2.0) < 1e-8)
  }

  test("conformalByGroup picks the exact order statistic, null when k > n") {
    import spark.implicits._
    // residuals 1..10 in group g: alpha=0.2 → k = ceil(11·0.8) = 9
    val df = (1 to 10).map(i => ("g", 100.0 + i, 100.0)).toDF("g", "a", "p")
    val r = Evaluation.conformalByGroup(df, Seq("g"), "a", "p",
      alpha = 0.2).head()
    assert(r.getAs[Long]("n") == 10L)
    assert(r.getAs[Long]("q_rank") == 9L)
    assert(r.getAs[Double]("qhat") == 9.0)
    // alpha = 0.05 → k = ceil(11·0.95) = 11 > n → null qhat
    val tight = Evaluation.conformalByGroup(df, Seq("g"), "a", "p",
      alpha = 0.05).head()
    assert(tight.getAs[Long]("q_rank") == 11L)
    assert(tight.isNullAt(tight.fieldIndex("qhat")))
    // duplicated residuals: the cumulative-count walk still lands on
    // the right cell (residuals {1,1,1,2}: k = ceil(5·0.5) = 3 → 1.0)
    val dup = Seq(("g", 1.0), ("g", 1.0), ("g", 1.0), ("g", 2.0))
      .map { case (g, d) => (g, d, 0.0) }.toDF("g", "a", "p")
    assert(Evaluation.conformalByGroup(dup, Seq("g"), "a", "p",
      alpha = 0.5).head().getAs[Double]("qhat") == 1.0)
  }

  test("olsFit recovers exact multi-feature coefficients; ridge shrinks") {
    import spark.implicits._
    val rows = (0 until 500).map { i =>
      val x1 = (i % 17).toDouble
      val x2 = ((i * 7) % 13).toDouble
      (x1, x2, 1.0 + 2.0 * x1 - 3.0 * x2)
    }
    val df = rows.toDF("x1", "x2", "y")
    val m = Regression.olsFit(df, "y", Seq("x1", "x2"))
    assert(math.abs(m.beta(0) - 1.0) < 1e-8)
    assert(math.abs(m.beta(1) - 2.0) < 1e-8)
    assert(math.abs(m.beta(2) + 3.0) < 1e-8)
    assert(m.r2 > 1.0 - 1e-12 && m.n == 500)
    // predict column reproduces y exactly on the noiseless data
    val maxErr = df.select(
      F.max(F.abs(m.predict - F.col("y"))).as("e")).head().getAs[Double]("e")
    assert(maxErr < 1e-8)
    // ridge shrinks the slope coefficients toward zero, intercept exempt
    val r = Regression.olsFit(df, "y", Seq("x1", "x2"), lambda = 1000.0)
    assert(math.abs(r.beta(1)) < math.abs(m.beta(1)))
    assert(math.abs(r.beta(2)) < math.abs(m.beta(2)))
    // collinear features → singular normal equations must fail fast
    val dup = df.withColumn("x3", F.col("x1") * 2.0)
    intercept[IllegalArgumentException] {
      Regression.olsFit(dup, "y", Seq("x1", "x3"))
    }
  }

  test("logisticIrls one Newton step matches the local closed form") {
    import spark.implicits._
    val rows = (0 until 1000).map { i =>
      val x = (i % 21).toDouble / 10.0 - 1.0
      val label = if ((i * 0.61803398875) % 1.0 <
        1.0 / (1.0 + math.exp(-(0.4 + 1.5 * x)))) 1.0 else 0.0
      (x, label)
    }
    val df = rows.toDF("x", "y")
    val m1 = Regression.logisticIrls(df, "y", Seq("x"), iters = 1)
    // independent local re-derivation: β₁ = (¼XᵀX)⁻¹ Xᵀ(y−½)
    var (s1, sx, sxx, g0, g1) = (0.0, 0.0, 0.0, 0.0, 0.0)
    rows.foreach { case (x, y) =>
      s1 += 0.25; sx += 0.25 * x; sxx += 0.25 * x * x
      g0 += y - 0.5; g1 += (y - 0.5) * x
    }
    val det = s1 * sxx - sx * sx
    val b0 = (sxx * g0 - sx * g1) / det
    val b1 = (s1 * g1 - sx * g0) / det
    assert(math.abs(m1.beta(0) - b0) < 1e-9, s"${m1.beta(0)} vs $b0")
    assert(math.abs(m1.beta(1) - b1) < 1e-9, s"${m1.beta(1)} vs $b1")
  }

  test("logisticIrls recovers planted coefficients and scores sanely") {
    import spark.implicits._
    val rows = (0 until 8000).map { i =>
      val x = (i % 61).toDouble / 10.0 - 3.0
      val p = 1.0 / (1.0 + math.exp(-(0.5 + 1.2 * x)))
      // golden-ratio low-discrepancy sequence as the deterministic
      // uniform draw — no RNG, reproducible across runs
      val label = if ((i * 0.61803398875) % 1.0 < p) 1.0 else 0.0
      (x, label)
    }
    val df = rows.toDF("x", "y").repartition(4)
    val m = Regression.logisticIrls(df, "y", Seq("x"), iters = 8)
    assert(math.abs(m.beta(0) - 0.5) < 0.15, s"b0=${m.beta(0)}")
    assert(math.abs(m.beta(1) - 1.2) < 0.15, s"b1=${m.beta(1)}")
    assert(m.logLik < 0.0 && m.n == 8000)
    // Newton has converged: extra iterations do not move β materially
    val m12 = Regression.logisticIrls(df, "y", Seq("x"), iters = 12)
    assert(math.abs(m12.beta(1) - m.beta(1)) < 1e-9)
    // score column is a calibrated probability: monotone in x, in (0,1)
    val sc = df.select(F.col("x"), m.score.as("s"))
      .groupBy("x").agg(F.first("s").as("s")).orderBy("x")
      .collect().map(_.getAs[Double]("s"))
    assert(sc.forall(s => s > 0.0 && s < 1.0))
    assert(sc.zip(sc.tail).forall { case (a, b) => a < b })
  }

  test("ridge-regularized logistic handles perfectly separable data") {
    import spark.implicits._
    val rows = (0 until 200).map { i =>
      val x = i.toDouble - 100.0
      (x, if (x > 0) 1.0 else 0.0)
    }
    val df = rows.toDF("x", "y")
    // unpenalized Newton on separable data diverges (‖β‖ → ∞, Hessian
    // → singular); L2 keeps it finite and the solve well-posed
    val m = Regression.logisticIrls(df, "y", Seq("x"), iters = 8,
      lambda = 1.0)
    assert(m.beta(1) > 0.0 && m.beta(1) < 100.0)
    assert(!m.beta.exists(b => b.isNaN || b.isInfinite))
  }

  test("solve: pinned 3×3 system with pivoting") {
    val a = Array(
      Array(0.0, 2.0, 1.0),
      Array(1.0, -2.0, -3.0),
      Array(-1.0, 1.0, 2.0))
    val b = Array(-8.0, 0.0, 3.0)
    val x = Regression.solve(a, b)
    // hand-solved: x = (-4, -5, 2)
    assert(math.abs(x(0) + 4.0) < 1e-12)
    assert(math.abs(x(1) + 5.0) < 1e-12)
    assert(math.abs(x(2) - 2.0) < 1e-12)
  }

  test("poissonIrls recovers the saturated two-group rates") {
    import spark.implicits._
    // x∈{0,1} two-parameter model is saturated: at convergence
    // b0 = ln(mean y | x=0) = ln 2, b0+b1 = ln(mean y | x=1) = ln 4
    val df = (Seq(1.0, 2.0, 3.0).map((0.0, _)) ++
      Seq(3.0, 4.0, 5.0).map((1.0, _))).toDF("x", "y")
    val m = Regression.poissonIrls(df, "y", Seq("x"), iters = 8)
    assert(math.abs(m.beta(0) - math.log(2.0)) < 1e-9)
    assert(math.abs(m.beta(0) + m.beta(1) - math.log(4.0)) < 1e-9)
    assert(m.n == 6L)
    // ll = Σ y·ln μ − μ − ln y! at the fitted rates
    val expectLl = Seq((1.0, 2.0), (2.0, 2.0), (3.0, 2.0),
      (3.0, 4.0), (4.0, 4.0), (5.0, 4.0)).map { case (y, mu) =>
      y * math.log(mu) - mu -
        graft.functions.SpecialMath.lgamma(y + 1.0)
    }.sum
    assert(math.abs(m.logLik - expectLl) < 1e-9)
    // predictRate reproduces the group means as a column
    val rates = df.select(m.predictRate.as("r")).collect().map(_.getDouble(0))
    assert(math.abs(rates(0) - 2.0) < 1e-9 && math.abs(rates(3) - 4.0) < 1e-9)
  }

  test("nbinomIrls recovers saturated two-group rates with positive alpha") {
    import spark.implicits._
    // x∈{0,1} saturated means: the NB2 mean equations at convergence are
    // the same as Poisson's (weights cancel within a saturated cell), so
    // b0 → ln(mean y | x=0), b0+b1 → ln(mean y | x=1) regardless of α.
    // Overdispersed cells (var >> mean) force α > 0.
    val df = (Seq(1.0, 1.0, 10.0).map((0.0, _)) ++
      Seq(2.0, 2.0, 20.0).map((1.0, _))).toDF("x", "y")
    val m = Regression.nbinomIrls(df, "y", Seq("x"),
      poissonIters = 6, iters = 8)
    assert(math.abs(m.beta(0) - math.log(4.0)) < 1e-6)
    assert(math.abs(m.beta(0) + m.beta(1) - math.log(8.0)) < 1e-6)
    assert(m.alpha > 0.5, s"overdispersed cells must give alpha > 0, got ${m.alpha}")
    assert(m.n == 6L)
    // NB2 loglik at (β, α), summed by hand
    val r = 1.0 / m.alpha
    import graft.functions.SpecialMath.lgamma
    val expectLl = Seq((1.0, 4.0), (1.0, 4.0), (10.0, 4.0),
      (2.0, 8.0), (2.0, 8.0), (20.0, 8.0)).map { case (y, mu0) =>
      val mu = if (mu0 == 4.0) math.exp(m.beta(0))
        else math.exp(m.beta(0) + m.beta(1))
      lgamma(y + r) - lgamma(r) - lgamma(y + 1.0) +
        r * (math.log(r) - math.log(r + mu)) +
        y * (math.log(mu) - math.log(r + mu))
    }.sum
    assert(math.abs(m.logLik - expectLl) < 1e-6)
    // equidispersed data floors alpha at 1e-6 and stays ≈ Poisson
    val eq = (Seq(2.0, 2.0, 2.0).map((0.0, _)) ++
      Seq(4.0, 4.0, 4.0).map((1.0, _))).toDF("x", "y")
    val me = Regression.nbinomIrls(eq, "y", Seq("x"))
    assert(me.alpha == 1e-6)
    assert(math.abs(me.beta(0) - math.log(2.0)) < 1e-6)
    // predictMean reproduces the cell means as a column
    val mu = df.select(m.predictMean.as("m")).collect().map(_.getDouble(0))
    assert(math.abs(mu(0) - 4.0) < 1e-5 && math.abs(mu(3) - 8.0) < 1e-5)
  }

  test("quantileTrend picks exact per-bin order statistics and the line") {
    import spark.implicits._
    // x = 0..9 (one value per bin at nBins=10), y = 10x + j for
    // j = 0..9: the p90 per bin is the ceil(10*0.9) = 9th order
    // statistic = 10x + 8; centers are 0.9b + 0.45, so the weighted
    // line is slope 10/0.9, intercept 3
    val rows = for { x <- 0 until 10; j <- 0 until 10 }
      yield (x.toDouble, 10.0 * x + j)
    val df = rows.toDF("x", "y")
    val out = Regression.quantileTrend(df, "x", "y", tau = 0.9,
      nBins = 10).orderBy("bin").collect()
    assert(out.length == 10)
    out.zipWithIndex.foreach { case (r, b) =>
      assert(r.getAs[Long]("n") == 10L)
      assert(r.getAs[Double]("q_y") == 10.0 * b + 8.0,
        s"bin $b p90 must be the exact 9th order statistic")
    }
    assert(math.abs(out.head.getAs[Double]("slope") - 10.0 / 0.9) < 1e-5)
    assert(math.abs(out.head.getAs[Double]("intercept") - 3.0) < 1e-5)
    // tau = 0.5 picks the lower median (5th of 10) = 10x + 4
    val med = Regression.quantileTrend(df, "x", "y", tau = 0.5,
      nBins = 10).orderBy("bin").head()
    assert(med.getAs[Double]("q_y") == 4.0)
  }

  test("theilSenByGroup picks the exact lower-median slope") {
    import spark.implicits._
    // (0,0),(1,1),(2,4): slopes {1,2,3} → lower median 2; residuals
    // y−2x = {0,−1,0} → lower median 0
    val df = Seq(("g", 0.0, 0.0), ("g", 1.0, 1.0), ("g", 2.0, 4.0))
      .toDF("grp", "x", "y")
    val r = Regression.theilSenByGroup(df, "y", "x", Seq("grp")).head()
    assert(r.getAs[Long]("n_used") == 3L)
    assert(r.getAs[Long]("n_pairs") == 3L)
    assert(math.abs(r.getAs[Double]("slope") - 2.0) < 1e-12)
    assert(math.abs(r.getAs[Double]("intercept")) < 1e-12)
    // outlier robustness: one wild point barely moves the slope
    val robust = (Seq.tabulate(9)(i => ("h", i.toDouble, i.toDouble)) :+
      (("h", 9.0, 1000.0))).toDF("grp", "x", "y")
    val r2 = Regression.theilSenByGroup(robust, "y", "x", Seq("grp")).head()
    assert(math.abs(r2.getAs[Double]("slope") - 1.0) < 1e-12)
    // over-cap group: fitted on the deterministic subset, not dropped
    val r3 = Regression.theilSenByGroup(robust, "y", "x", Seq("grp"),
      maxN = 5).head()
    assert(r3.getAs[Long]("n_used") == 5L)
    assert(r3.getAs[Long]("n_pairs") <= 10L)
  }

  test("durbinWatsonByGroup matches the hand-computed alternating series") {
    import spark.implicits._
    // x=1..4, y={2,1,4,3}: slope .6, intercept 1, residuals
    // {.4,−1.2,1.2,−.4} → DW = 10.88/3.2 = 3.4 (negative serial corr)
    val df = Seq(("g", 1L, 1.0, 2.0), ("g", 2L, 2.0, 1.0),
      ("g", 3L, 3.0, 4.0), ("g", 4L, 4.0, 3.0))
      .toDF("grp", "t", "x", "y")
    val r = Regression.durbinWatsonByGroup(df, "y", "x", "t", Seq("grp"))
      .head()
    assert(r.getAs[Long]("n") == 4L)
    assert(math.abs(r.getAs[Double]("slope") - 0.6) < 1e-12)
    assert(math.abs(r.getAs[Double]("intercept") - 1.0) < 1e-12)
    assert(math.abs(r.getAs[Double]("dw") - 3.4) < 1e-12)
    // a perfect fit (zero residuals) is omitted, not NaN
    val perfect = Seq(("p", 1L, 1.0, 1.0), ("p", 2L, 2.0, 2.0),
      ("p", 3L, 3.0, 3.0)).toDF("grp", "t", "x", "y")
    assert(Regression.durbinWatsonByGroup(
      perfect, "y", "x", "t", Seq("grp")).count() == 0L)
  }

  test("ipwAte recovers a deterministic treatment effect") {
    import spark.implicits._
    // y ≡ 2·t regardless of x ⇒ weighted means are exactly 2 and 0
    val df = Seq.tabulate(40) { i =>
      (if (i % 2 == 0) 1.0 else 0.0, (i % 5).toDouble,
        if (i % 2 == 0) 2.0 else 0.0)
    }.toDF("t", "x", "y")
    val r = Experiments.ipwAte(df, "t", "y", Seq("x")).head()
    assert(math.abs(r.getAs[Double]("ate") - 2.0) < 1e-9)
    assert(math.abs(r.getAs[Double]("mu_treated") - 2.0) < 1e-9)
    assert(math.abs(r.getAs[Double]("mu_control")) < 1e-9)
    assert(r.getAs[Long]("n") == 40L)
    assert(r.getAs[Double]("ess_treated") > 0.0)
    assert(r.getAs[Double]("ess_control") > 0.0)
  }

  test("aipwAte telescopes to ipwAte on constant outcomes, corrects bias") {
    import spark.implicits._
    // constant-within-arm outcomes: OLS slope is exactly 0, intercept
    // exactly the arm mean, so the augmentation cancels and AIPW must
    // equal the Hajek IPW readout to the rounding grid
    val flat = Seq.tabulate(40) { i =>
      (if (i % 2 == 0) 1.0 else 0.0, (i % 5).toDouble,
        if (i % 2 == 0) 2.0 else 0.0)
    }.toDF("t", "x", "y")
    val aipw = Experiments.aipwAte(flat, "t", "y", Seq("x")).head()
    val ipw = Experiments.ipwAte(flat, "t", "y", Seq("x")).head()
    assert(aipw.getAs[Double]("ate") == ipw.getAs[Double]("ate"))
    assert(aipw.getAs[Double]("mu_treated") ==
      ipw.getAs[Double]("mu_treated"))
    assert(aipw.getAs[Double]("mu_control") ==
      ipw.getAs[Double]("mu_control"))
    assert(aipw.getAs[Long]("n") == 40L)
    // confounded outcome y = 2 + t + 3x with x-dependent assignment:
    // the naive arm difference is badly biased; AIPW's linear outcome
    // models are correctly specified, so it recovers the true effect 1
    val conf = Seq.tabulate(60) { i =>
      val x = (i % 6).toDouble
      val t = if (x >= 3.0 == (i % 4 != 0)) 1.0 else 0.0
      (t, x, 2.0 + t + 3.0 * x)
    }.toDF("t", "x", "y")
    val c = Experiments.aipwAte(conf, "t", "y", Seq("x"), iters = 3,
      clip = 0.01).head()
    assert(math.abs(c.getAs[Double]("ate") - 1.0) < 0.05,
      s"aipw ate ${c.getAs[Double]("ate")}")
    // the naive arm difference on the same data is confounding-biased
    val naive = conf.groupBy("t").agg(F.avg("y").as("m"))
      .collect().map(r => r.getAs[Double]("t") -> r.getAs[Double]("m"))
      .toMap
    assert(math.abs(naive(1.0) - naive(0.0) - 1.0) > 0.5,
      "fixture lost its confounding — the AIPW correction is untested")
  }

  test("fisherLda matches the hand-computed axis-separated classes") {
    import spark.implicits._
    // class 0 around (0,0), class 1 around (4,0), identity-shaped
    // scatter: pooled S = (2/3)I, w = (1,0), threshold 2, J = 24
    val df = Seq(
      (false, -1.0, 0.0), (false, 1.0, 0.0),
      (false, 0.0, -1.0), (false, 0.0, 1.0),
      (true, 3.0, 0.0), (true, 5.0, 0.0),
      (true, 4.0, -1.0), (true, 4.0, 1.0)).toDF("y", "x1", "x2")
    val r = Regression.fisherLda(df, "y", "x1", "x2").head()
    assert(r.getAs[Long]("n0") == 4L && r.getAs[Long]("n1") == 4L)
    assert(r.getAs[Double]("w1") == 1.0)
    assert(r.getAs[Double]("w2") == 0.0)
    assert(r.getAs[Double]("threshold") == 2.0)
    assert(r.getAs[Double]("j_stat") == 24.0)
    // a singular pooled covariance (all points on one line) is omitted
    val flat = Seq((false, 0.0, 0.0), (false, 1.0, 0.0),
      (true, 2.0, 0.0), (true, 3.0, 0.0)).toDF("y", "x1", "x2")
    assert(Regression.fisherLda(flat, "y", "x1", "x2").count() == 0L)
  }

  test("fisherLdaMulti: 2-class matches fisherLda's direction, " +
    "collinear means give lambda2 = 0, planar means don't") {
    import spark.implicits._
    // the 2-class fisherLda fixture: leading direction must be (1,0)
    // and the second canonical ratio exactly 0 (rank-1 between)
    val two = Seq(
      ("a", -1.0, 0.0), ("a", 1.0, 0.0), ("a", 0.0, -1.0),
      ("a", 0.0, 1.0), ("b", 3.0, 0.0), ("b", 5.0, 0.0),
      ("b", 4.0, -1.0), ("b", 4.0, 1.0)).toDF("c", "x1", "x2")
    val r2 = Regression.fisherLdaMulti(two, "c", "x1", "x2").head()
    assert(r2.getAs[Long]("n") == 8L && r2.getAs[Long]("n_classes") == 2L)
    assert(r2.getAs[Double]("w1") == 1.0 && r2.getAs[Double]("w2") == 0.0)
    assert(r2.getAs[Double]("lambda2") == 0.0)
    assert(r2.getAs[Double]("lambda1") > 0.0)
    // three classes with collinear means (all on the x-axis): still a
    // one-dimensional discriminant, lambda2 = 0
    val lin = (Seq((-1.0, 0.0), (1.0, 0.0), (0.0, -1.0), (0.0, 1.0))
      .flatMap { case (dx, dy) => Seq(
        ("a", dx, dy), ("b", 4.0 + dx, dy), ("c", 8.0 + dx, dy)) })
      .toDF("c", "x1", "x2")
    val rl = Regression.fisherLdaMulti(lin, "c", "x1", "x2").head()
    assert(rl.getAs[Long]("n_classes") == 3L)
    assert(rl.getAs[Double]("w1") == 1.0 && rl.getAs[Double]("w2") == 0.0)
    assert(rl.getAs[Double]("lambda2") == 0.0)
    // means spanning the plane: both canonical ratios positive
    val tri = (Seq((-1.0, 0.0), (1.0, 0.0), (0.0, -1.0), (0.0, 1.0))
      .flatMap { case (dx, dy) => Seq(
        ("a", dx, dy), ("b", 6.0 + dx, dy), ("c", 3.0 + dx, 6.0 + dy)) })
      .toDF("c", "x1", "x2")
    val rt = Regression.fisherLdaMulti(tri, "c", "x1", "x2").head()
    assert(rt.getAs[Double]("lambda1") > 0.0)
    assert(rt.getAs[Double]("lambda2") > 0.0)
    assert(rt.getAs[Double]("lambda1") >= rt.getAs[Double]("lambda2"))
    // unit-norm direction
    val nrm = math.hypot(rt.getAs[Double]("w1"), rt.getAs[Double]("w2"))
    assert(math.abs(nrm - 1.0) < 1e-5)
    // bounded class-set contract raises loudly
    val many = (0 until 9).flatMap(i => Seq(
      (s"c$i", i * 1.0, 0.0), (s"c$i", i * 1.0 + 1.0, 1.0)))
      .toDF("c", "x1", "x2")
    val e = intercept[IllegalArgumentException] {
      Regression.fisherLdaMulti(many, "c", "x1", "x2")
    }
    assert(e.getMessage.contains("maxClasses"))
  }

  test("demingRegression recovers an exact line and beats OLS " +
    "attenuation under x-noise") {
    import spark.implicits._
    // noise-free y = 2x + 1: Deming returns it exactly
    val clean = Seq(1.0, 2.0, 3.0, 4.0, 5.0)
      .map(x => (x, 2.0 * x + 1.0)).toDF("x", "y")
    val r = Regression.demingRegression(clean, "x", "y").head()
    assert(r.getAs[Double]("slope") == 2.0)
    assert(r.getAs[Double]("icept") == 1.0)
    assert(r.getAs[Double]("delta") == 1.0)
    // symmetric x/y noise: the delta=1 Deming slope stays near 2
    // while plain OLS attenuates (vx inflated by the noise)
    val noisy = (0 until 60).map { i =>
      val x = (i % 10).toDouble
      val nx = ((i * 7) % 5 - 2.0) * 0.5
      val ny = ((i * 11) % 5 - 2.0) * 0.5
      (x + nx, 2.0 * (x + nx) + 1.0 + 2.0 * ny - 2.0 * nx)
    }.toDF("x", "y")
    val rn = Regression.demingRegression(noisy, "x", "y").head()
    assert(math.abs(rn.getAs[Double]("slope") - 2.0) < 0.35,
      s"slope ${rn.getAs[Double]("slope")}")
    // constant-input guard
    val e = intercept[IllegalArgumentException] {
      Regression.demingRegression(
        Seq((1.0, 1.0), (1.0, 2.0), (1.0, 3.0)).toDF("x", "y"),
        "x", "y")
    }
    assert(e.getMessage.contains("constant"))
  }

  test("tweedieIrls recovers a noiseless log-linear mean and accepts zeros") {
    import spark.implicits._
    // y = exp(0.5 + 0.3x) exactly: the score is zero at the truth, so
    // Fisher scoring converges there
    val clean = (0 until 20).map { i =>
      val x = i / 10.0; (math.exp(0.5 + 0.3 * x), x)
    }.toDF("y", "x")
    val m = Regression.tweedieIrls(clean, "y", Seq("x"), iters = 25)
    assert(math.abs(m.beta(0) - 0.5) < 1e-6)
    assert(math.abs(m.beta(1) - 0.3) < 1e-6)
    assert(math.abs(m.deviance) < 1e-8)
    assert(m.varPower == 1.5)
    // exact zeros are IN-family (the point of p = 1.5)
    val zeros = Seq((0.0, 0.0), (0.0, 0.5), (2.0, 1.0), (0.0, 1.5),
      (4.0, 2.0), (1.0, 2.5), (0.0, 3.0), (3.0, 3.5)).toDF("y", "x")
    val z = Regression.tweedieIrls(zeros, "y", Seq("x"), iters = 5)
    assert(z.n == 8L)
    assert(z.deviance > 0.0 && !z.deviance.isNaN)
  }

  test("ridge2: lambda=0 recovers OLS, shrinkage follows the closed form") {
    import spark.implicits._
    // y = 2·x1 exactly: S11=5, S12=−1, S22=1, S1y=10, S2y=−2
    val df = Seq((2.0, 1.0, 1.0), (4.0, 2.0, 0.0), (6.0, 3.0, 1.0),
      (8.0, 4.0, 0.0)).toDF("y", "x1", "x2")
    val out = Regression.ridge2(df, "y", "x1", "x2",
      Seq(0.0, 1.0)).collect().map(r => r.getAs[Double]("lambda") -> r)
      .toMap
    val o = out(0.0)
    assert(math.abs(o.getAs[Double]("beta1") - 2.0) < 1e-9)
    assert(math.abs(o.getAs[Double]("beta2")) < 1e-9)
    assert(math.abs(o.getAs[Double]("intercept")) < 1e-9)
    // λ=1: det=11, β1=18/11, β2=−2/11, β0=1
    val s = out(1.0)
    assert(math.abs(s.getAs[Double]("beta1") - 1.636364) < 1e-6)
    assert(math.abs(s.getAs[Double]("beta2") - -0.181818) < 1e-6)
    assert(math.abs(s.getAs[Double]("intercept") - 1.0) < 1e-6)
  }

  test("lasso2: lambda=0 recovers the exact fit, large lambda zeroes all") {
    import spark.implicits._
    // y = 2·x1 exactly — the x2 path must stay at zero
    val df = Seq((2.0, 1.0, 1.0), (4.0, 2.0, 0.0), (6.0, 3.0, 1.0),
      (8.0, 4.0, 0.0)).toDF("y", "x1", "x2")
    val out = Regression.lasso2(df, "y", "x1", "x2", Seq(0.0, 2.0))
      .collect().map(r => r.getAs[Double]("lambda") -> r).toMap
    val o = out(0.0)
    assert(math.abs(o.getAs[Double]("beta1") - 2.0) < 1e-5)
    assert(o.getAs[Double]("beta2") == 0.0)
    assert(math.abs(o.getAs[Double]("intercept")) < 1e-5)
    assert(o.getAs[Long]("n_nonzero") == 1L)
    val z = out(2.0)
    assert(z.getAs[Long]("n_nonzero") == 0L)
    assert(math.abs(z.getAs[Double]("intercept") - 5.0) < 1e-9)
  }

  test("elasticNetPath: alpha=1 at k=2 reproduces lasso2 bit-for-bit") {
    import spark.implicits._
    // same cyclic Gauss-Seidel order, same rounded correlations →
    // the generalized path must equal the 2-feature special case
    val df = Seq((2.0, 1.0, 1.0), (4.0, 2.0, 0.0), (6.0, 3.0, 1.0),
      (8.0, 4.0, 0.0), (10.0, 5.0, 1.0)).toDF("y", "x1", "x2")
    val lams = Seq(0.0, 0.1, 2.0)
    val two = Regression.lasso2(df, "y", "x1", "x2", lams)
      .collect().map(r => r.getAs[Double]("lambda") -> r).toMap
    val kk = Regression.elasticNetPath(df, "y", Seq("x1", "x2"), lams,
      alpha = 1.0).collect().groupBy(_.getAs[Double]("lambda"))
    lams.foreach { lam =>
      val m = kk(lam).map(r => r.getAs[String]("feature") -> r).toMap
      assert(m("x1").getAs[Double]("beta") ==
        two(lam).getAs[Double]("beta1"))
      assert(m("x2").getAs[Double]("beta") ==
        two(lam).getAs[Double]("beta2"))
      assert(m("x1").getAs[Double]("intercept") ==
        two(lam).getAs[Double]("intercept"))
      assert(m("x1").getAs[Long]("n_nonzero") ==
        two(lam).getAs[Long]("n_nonzero"))
    }
  }

  test("elasticNetPath: the net keeps duplicated features together " +
    "where the lasso picks one") {
    import spark.implicits._
    // x2 = x1 exactly, y = 2·x1: r12 = r1y = r2y = 1
    val df = Seq((2.0, 1.0, 1.0), (4.0, 2.0, 2.0), (6.0, 3.0, 3.0),
      (8.0, 4.0, 4.0)).toDF("y", "x1", "x2")
    val lasso = Regression.elasticNetPath(df, "y", Seq("x1", "x2"),
      Seq(0.2), alpha = 1.0).head()
    assert(lasso.getAs[Long]("n_nonzero") == 1L)
    val net = Regression.elasticNetPath(df, "y", Seq("x1", "x2"),
      Seq(0.2), alpha = 0.5).head()
    assert(net.getAs[Long]("n_nonzero") == 2L)
  }

  test("probitIrls recovers the closed-form two-point design") {
    import spark.implicits._
    // x=−1: p=0.25, x=+1: p=0.75 → b0 = 0, b1 = Φ⁻¹(0.75) = 0.674490
    val df = (Seq.fill(2)((1.0, -1.0)) ++ Seq.fill(6)((0.0, -1.0)) ++
      Seq.fill(6)((1.0, 1.0)) ++ Seq.fill(2)((0.0, 1.0))).toDF("y", "x")
    val m = Regression.probitIrls(df, "y", Seq("x"), iters = 8)
    assert(m.n == 16L)
    assert(math.abs(m.beta(0)) < 1e-4)
    assert(math.abs(m.beta(1) - 0.674490) < 1e-4)
    // ll = 8·(0.25·ln .25 + 0.75·ln .75) at the fit
    assert(math.abs(m.logLik - 16.0 *
      (0.25 * math.log(0.25) + 0.75 * math.log(0.75))) < 1e-3)
  }

  test("vif3: orthogonal design gives VIF = 1 on every feature") {
    import spark.implicits._
    val df = Seq((1.0, 1.0, 1.0), (1.0, -1.0, -1.0), (-1.0, 1.0, -1.0),
      (-1.0, -1.0, 1.0)).toDF("a", "b", "c")
    val rows = Regression.vif3(df, Seq("a", "b", "c")).collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      assert(math.abs(r.getAs[Double]("vif") - 1.0) < 1e-9)
      assert(math.abs(r.getAs[Double]("r2_other")) < 1e-9)
    }
  }

  test("olsInfluence surfaces the high-leverage outlier first") {
    import spark.implicits._
    // (10, 20) is both far in x and off the line: D = 17.25, h = 0.92
    val df = Seq((1L, 1.0, 1.0), (2L, 2.0, 2.0), (3L, 3.0, 3.0),
      (4L, 4.0, 4.0), (5L, 10.0, 20.0)).toDF("id", "x", "y")
    val rows = Regression.olsInfluence(df, "y", "x", Seq("id"), topK = 2)
      .collect()
    // α̂, β̂ are 6-rounded before the per-row pass, so per-row outputs
    // carry up to ~5e-6·|x| of that rounding — assert at 1e-4
    assert(rows.head.getAs[Long]("id") == 5L)
    assert(math.abs(rows.head.getAs[Double]("cooks_d") - 17.25) < 1e-3)
    assert(math.abs(rows.head.getAs[Double]("leverage") - 0.92) < 1e-6)
    assert(math.abs(rows.head.getAs[Double]("resid") - 0.8) < 1e-4)
    // next most influential is x = 1 (D = 0.474506)
    assert(rows(1).getAs[Long]("id") == 1L)
    assert(math.abs(rows(1).getAs[Double]("cooks_d") - 0.474506) < 1e-4)
  }

  test("breuschPagan matches the hand-computed Koenker LM") {
    import spark.implicits._
    val df = Seq((1.0, 1.1), (2.0, 1.9), (3.0, 3.3), (4.0, 2.7),
      (5.0, 6.0), (6.0, 4.0), (7.0, 9.0), (8.0, 3.0)).toDF("x", "y")
    val r = Regression.breuschPagan(df, "y", "x").head()
    assert(r.getAs[Long]("n") == 8L && r.getAs[Long]("dof") == 1L)
    assert(math.abs(r.getAs[Double]("lm_stat") - 4.989747) < 1e-5)
    assert(math.abs(r.getAs[Double]("p_value") - 0.025498) < 1e-5)
    assert(math.abs(r.getAs[Double]("beta") - 0.645238) < 1e-6)
  }

  test("chowTest detects the slope break between cohorts") {
    import spark.implicits._
    val a = Seq(2.1, 3.9, 6.2, 7.8, 10.0).zipWithIndex
      .map { case (y, i) => ("a", (i + 1).toDouble, y) }
    val b = Seq(3.2, 5.8, 9.1, 12.0, 15.1).zipWithIndex
      .map { case (y, i) => ("b", (i + 1).toDouble, y) }
    val r = Regression.chowTest((a ++ b).toDF("g", "x", "y"), "y", "x",
      "g").head()
    assert(r.getAs[Long]("n_a") == 5L && r.getAs[Long]("n_b") == 5L)
    assert(math.abs(r.getAs[Double]("f_stat") - 465.713115) < 1e-4)
    assert(r.getAs[Long]("df1") == 2L && r.getAs[Long]("df2") == 6L)
    assert(math.abs(r.getAs[Double]("slope_a") - 1.97) < 1e-6)
    assert(math.abs(r.getAs[Double]("slope_b") - 3.0) < 1e-6)
    assert(r.getAs[Double]("p_value") < 0.001)
  }

  test("segmentedOls finds the exact piecewise breakpoint") {
    import spark.implicits._
    // y = x on x ≤ 3, y = 10x on x > 3: split at 3 has zero SSE
    val df = (1 to 6).map(i =>
      (i.toDouble, if (i <= 3) i.toDouble else 10.0 * i)).toDF("x", "y")
    val r = Regression.segmentedOls(df, "y", "x").head()
    assert(r.getAs[Double]("breakpoint") == 3.0)
    assert(r.getAs[Long]("n_left") == 3L && r.getAs[Long]("n_right") == 3L)
    assert(math.abs(r.getAs[Double]("slope_left") - 1.0) < 1e-9)
    assert(math.abs(r.getAs[Double]("slope_right") - 10.0) < 1e-9)
    assert(math.abs(r.getAs[Double]("sse_ratio")) < 1e-9)
  }

  test("softmaxIrls separates three planted classes and sums scores to 1") {
    import spark.implicits._
    // class is a clean monotone function of x: lo → 'a', mid → 'b',
    // hi → 'c'; the softmax router must recover near-perfect argmax
    val rows = (0 until 300).map { i =>
      val x = i / 100.0 + (i % 10) * 0.01
      val y = if (x < 1.0) "a" else if (x < 2.0) "b" else "c"
      (y, x)
    }
    val df = rows.toDF("y", "x")
    val m = Regression.softmaxIrls(df, "y", Seq("x"), iters = 8)
    assert(m.classes == Seq("a", "b", "c"))
    assert(m.beta.length == 2 && m.beta(0).length == 2)
    // every β is on the 1e-6 grid (the replay contract)
    m.beta.flatten.foreach(b =>
      assert(b == math.rint(b * 1e6) / 1e6))
    val acc = df.agg(F.avg((m.predictClass === F.col("y"))
      .cast("double"))).head().getDouble(0)
    assert(acc > 0.95, s"train accuracy $acc")
    // probabilities sum to 1 row-wise
    val psum = df.select((m.score(0) + m.score(1) + m.score(2))
      .as("s")).agg(F.max(F.abs(F.col("s") - 1.0))).head().getDouble(0)
    assert(psum < 1e-9)
    assert(m.logLik < 0.0 && !m.logLik.isNaN)
    // binary data degenerates to the logistic fit's decision behavior
    val bin = rows.filter(_._1 != "c").toDF("y", "x")
    val mb = Regression.softmaxIrls(bin, "y", Seq("x"), iters = 8)
    val accB = bin.agg(F.avg((mb.predictClass === F.col("y"))
      .cast("double"))).head().getDouble(0)
    assert(accB > 0.95)
  }

  test("softmaxIrls guards: one class, too many classes") {
    import spark.implicits._
    val one = Seq(("a", 1.0), ("a", 2.0)).toDF("y", "x")
    val ex = intercept[IllegalArgumentException] {
      Regression.softmaxIrls(one, "y", Seq("x"))
    }
    assert(ex.getMessage.contains("at least two classes"))
    val many = (0 until 40).map(i => (s"c$i", i.toDouble)).toDF("y", "x")
    val ex2 = intercept[IllegalArgumentException] {
      Regression.softmaxIrls(many, "y", Seq("x"))
    }
    assert(ex2.getMessage.contains("small-K router"))
  }

  test("softmaxIrls fails loudly on unstandardized features (exp overflow)") {
    import spark.implicits._
    // feature scale ~1e200: x² overflows the Gram to Inf, the solve
    // goes Inf−Inf = NaN — the finite-β require must fire at step 1,
    // not let NaN ride silently through the remaining steps
    val big = (0 until 300).map { i =>
      val c = i % 3
      (s"c$c", (c + 1) * 1.0e200 + (i % 7) * 1.0e198)
    }.toDF("y", "x")
    val ex = intercept[IllegalArgumentException] {
      Regression.softmaxIrls(big, "y", Seq("x"), iters = 4)
    }
    assert(ex.getMessage.contains("non-finite"))
    assert(ex.getMessage.contains("standardize"))
  }

  test("quantileIrls: high-τ line sits above low-τ line under skewed noise") {
    import spark.implicits._
    // y = 5 + 2x with asymmetric noise: 3/4 of rows get −1, 1/4 get +3
    // (mean-zero but right-skewed) — the τ=0.9 fit must clear τ=0.1
    // everywhere on the x range, and both slopes stay near 2
    val rows = (0 until 400).map { i =>
      val x = (i % 100) / 10.0
      val noise = if (i % 4 == 0) 3.0 else -1.0
      (x, 5.0 + 2.0 * x + noise)
    }
    val df = rows.toDF("x", "y")
    val hi = Regression.quantileIrls(df, "y", Seq("x"), tau = 0.9,
      iters = 6)
    val lo = Regression.quantileIrls(df, "y", Seq("x"), tau = 0.1,
      iters = 6)
    Seq(0.0, 5.0, 9.9).foreach { x =>
      val ph = hi.beta(0) + hi.beta(1) * x
      val pl = lo.beta(0) + lo.beta(1) * x
      assert(ph > pl, s"τ=0.9 ($ph) must exceed τ=0.1 ($pl) at x=$x")
    }
    assert(math.abs(hi.beta(1) - 2.0) < 0.3, s"slope ${hi.beta(1)}")
    assert(math.abs(lo.beta(1) - 2.0) < 0.3, s"slope ${lo.beta(1)}")
    // β on the 1e-6 replay grid
    (hi.beta ++ lo.beta).foreach(b =>
      assert(b == math.rint(b * 1e6) / 1e6))
  }

  test("quantileFitByGroup recovers per-group slopes; singular group drops") {
    import spark.implicits._
    // two groups with different slopes under the same skewed noise,
    // plus a constant-x group that must drop at the Gram guard
    val rows = (0 until 400).flatMap { i =>
      val x = (i % 100) / 10.0
      val noise = if (i % 4 == 0) 3.0 else -1.0
      Seq(("g1", x, 5.0 + 2.0 * x + noise),
        ("g2", x, 1.0 + 7.0 * x + noise))
    } ++ (0 until 10).map(i => ("flat", 1.0, i.toDouble))
    val df = rows.toDF("g", "x", "y")
    val out = Regression.quantileFitByGroup(df, Seq("g"), "y", "x",
        tau = 0.75, iters = 3)
      .collect().map(r => r.getAs[String]("g") -> r).toMap
    assert(out.keySet == Set("g1", "g2"))
    assert(math.abs(out("g1").getAs[Double]("b1") - 2.0) < 0.3)
    assert(math.abs(out("g2").getAs[Double]("b1") - 7.0) < 0.3)
    assert(out("g1").getAs[Double]("tau") == 0.75)
    // per-group fit agrees with the single-model IRLS run on the slice
    val single = Regression.quantileIrls(
      df.where(F.col("g") === "g1"), "y", Seq("x"), tau = 0.75,
      iters = 3)
    assert(math.abs(out("g1").getAs[Double]("b0") - single.beta(0)) < 1e-5)
    assert(math.abs(out("g1").getAs[Double]("b1") - single.beta(1)) < 1e-5)
  }

  /** 40 rows for every GLM fit: a bounded feature x, a binary label b,
    * counts c, a positive response pos, a class label cls and a
    * continuous response v. */
  private def glmFrame: DataFrame = {
    import spark.implicits._
    (0 until 40).map { i =>
      val x = (i % 10) / 10.0
      (x, if ((i * 3) % 7 < 3) 1.0 else 0.0, ((i * 5) % 9).toDouble,
        1.0 + (i * 7) % 11, Seq("a", "b", "c")(i % 3),
        2.0 + 3.0 * x + ((i * 13) % 5 - 2) * 0.5)
    }.toDF("x", "b", "c", "pos", "cls", "v")
  }

  test("every GLM fit leaves no cached state, also when it throws") {
    import spark.implicits._
    val df = glmFrame
    val two = df.limit(2) // n <= k for one feature plus the intercept
    val cases = Seq[(String, () => Any, Boolean)](
      ("logisticIrls", () => Regression.logisticIrls(df, "b", Seq("x")), false),
      ("softmaxIrls", () => Regression.softmaxIrls(df, "cls", Seq("x")), false),
      ("huberIrls",
        () => Regression.huberIrls(df, "v", Seq("x"), delta = 1.0), false),
      ("quantileIrls",
        () => Regression.quantileIrls(df, "v", Seq("x"), tau = 0.5), false),
      ("poissonIrls", () => Regression.poissonIrls(df, "c", Seq("x")), false),
      ("gammaIrls", () => Regression.gammaIrls(df, "pos", Seq("x")), false),
      ("nbinomIrls", () => Regression.nbinomIrls(df, "c", Seq("x")), false),
      ("tweedieIrls", () => Regression.tweedieIrls(df, "c", Seq("x")), false),
      ("probitIrls", () => Regression.probitIrls(df, "b", Seq("x")), false),
      // degenerate inputs: a typed require error, nothing left pinned
      ("softmaxIrls, one class", () => Regression.softmaxIrls(
        df.withColumn("cls", F.lit("a")), "cls", Seq("x")), true),
      ("huberIrls, n <= k",
        () => Regression.huberIrls(two, "v", Seq("x"), delta = 1.0), true),
      ("quantileIrls, n <= k",
        () => Regression.quantileIrls(two, "v", Seq("x"), tau = 0.5), true),
      ("poissonIrls, all-zero response", () => Regression.poissonIrls(
        df.withColumn("c", F.lit(0.0)), "c", Seq("x")), true),
      ("nbinomIrls, all-zero response", () => Regression.nbinomIrls(
        df.withColumn("c", F.lit(0.0)), "c", Seq("x")), true),
      ("gammaIrls, n <= k",
        () => Regression.gammaIrls(two, "pos", Seq("x")), true),
      ("tweedieIrls, n <= k",
        () => Regression.tweedieIrls(two, "c", Seq("x")), true),
      ("probitIrls, n <= k",
        () => Regression.probitIrls(two, "b", Seq("x")), true),
      ("weibullAft, 6 rows and 3 events", () => Survival.weibullAft(
        Seq((1.0, true, 0.1), (2.0, true, 0.2), (3.0, true, 0.3),
          (4.0, false, 0.4), (5.0, false, 0.5), (6.0, false, 0.6))
          .toDF("t", "e", "x"), "t", "e", "x"), true))
    val leaked = leaks(spark, cachedState)(cases)
    assert(leaked.isEmpty, s"cached state left behind by: ${leaked.mkString(", ")}")
  }

  test("Spark jobs per GLM fit are those of the hand-written fits") {
    val df = glmFrame
    // counts measured on the hand-written fits the Newton substrate
    // replaced, same session settings (local[4], 4 shuffle partitions)
    val pinned = Seq[(String, () => Any, Int)](
      ("logisticIrls (3 steps)",
        () => Regression.logisticIrls(df, "b", Seq("x"), iters = 3), 9),
      ("softmaxIrls (3 steps)",
        () => Regression.softmaxIrls(df, "cls", Seq("x"), iters = 3), 13),
      ("gammaIrls", () => Regression.gammaIrls(df, "pos", Seq("x")), 13),
      ("nbinomIrls", () => Regression.nbinomIrls(df, "c", Seq("x")), 17),
      // probit reads n from its Newton steps' aggregation, not a count
      ("probitIrls", () => Regression.probitIrls(df, "b", Seq("x")), 9))
    val got = pinned.map { case (name, call, _) =>
      call() // warm: first-use planning may differ from steady state
      name -> jobsOf(spark)(call())
    }
    assert(got == pinned.map(p => p._1 -> p._3))
  }
}
