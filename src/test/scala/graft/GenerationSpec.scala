package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.{SparkSession, functions => F}
import graft.operators._
import graft.dists.ContinuousFamilies

/** Tests for distributed generation, copula, MVN, GMM, bootstrap, and the
  * lazy-metric recompute path. */
class GenerationSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-gen-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("distributed generation: moments match the target distribution, seeded reproducibly") {
    val df = Sampling.generate(spark, "norm", Array(50.0, 10.0), 40000L, seed = 7L, numPartitions = 8)
    val r = df.agg(F.avg("sample"), F.stddev_pop("sample"), F.count(F.lit(1))).head()
    assert(math.abs(r.getDouble(0) - 50.0) < 0.3, s"mean=${r.getDouble(0)}")
    assert(math.abs(r.getDouble(1) - 10.0) < 0.3, s"std=${r.getDouble(1)}")
    assert(r.getLong(2) == 40000L)
    // same seed → identical draw
    val again = Sampling.generate(spark, "norm", Array(50.0, 10.0), 40000L, seed = 7L, numPartitions = 8)
      .agg(F.avg("sample")).head().getDouble(0)
    assert(again == r.getDouble(0))
    // partition counts: base + remainder
    assert(Sampling.partitionCounts(10, 4).toSeq == Seq(3L, 3L, 2L, 2L))
  }

  test("grid generation is exact, partition-independent, and bound-aware") {
    // uniform(10, 70): draw i is exactly 10 + 70·(i+0.5)/n
    val n = 1000
    val a = Sampling.generateGrid(spark, "uniform", Array(10.0, 70.0), n,
      numPartitions = 4).collect().map(_.getDouble(0)).sorted
    val b = Sampling.generateGrid(spark, "uniform", Array(10.0, 70.0), n,
      numPartitions = 7).collect().map(_.getDouble(0)).sorted
    assert(a.sameElements(b), "grid output must not depend on partitioning")
    for (i <- 0 until n)
      assert(a(i) == 10.0 + 70.0 * ((i + 0.5) / n.toDouble), s"i=$i")
    // normal grid: symmetric around loc, median pair straddles it exactly
    val g = Sampling.generateGrid(spark, "norm", Array(5.0, 2.0), 400)
      .collect().map(_.getDouble(0)).sorted
    assert(math.abs((g(199) + g(200)) / 2 - 5.0) < 1e-9)
    // truncation routes through the truncated quantile
    val t = Sampling.generateGrid(spark, "norm", Array(0.0, 1.0), 500,
      lowerBound = Some(-1.0), upperBound = Some(1.5)).collect().map(_.getDouble(0))
    assert(t.forall(x => x >= -1.0 && x <= 1.5))
  }

  /** Every row of `df` in order, doubles as their raw bits. */
  private def rowBits(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case v => v
    })

  test("the samplers' UnsafeRow frames equal the Dataset/Row frames they replaced") {
    import org.apache.spark.TaskContext
    import org.apache.spark.sql.{DataFrame, Dataset, Row}
    import org.apache.spark.sql.types.{DoubleType, IntegerType, StructField, StructType}
    import org.apache.commons.math3.linear.{Array2DRowRealMatrix, CholeskyDecomposition}
    import graft.dists.{DistRegistry, Truncated}
    import graft.functions.{SpecialMath => SM}
    import spark.implicits._
    def ppfOf(name: String, params: Array[Double], lb: Option[Double],
              ub: Option[Double]): Double => Double = {
      val dist = DistRegistry.get(name).get
      if (lb.isDefined || ub.isDefined) {
        val t = new Truncated(dist, params, lb.getOrElse(Double.NegativeInfinity),
          ub.getOrElse(Double.PositiveInfinity))
        t.ppf _
      } else (q: Double) => dist.ppf(q, params)
    }
    def nextGaussian(rng: java.util.SplittableRandom): Double =
      SM.normPpf(math.min(1 - 1e-16, math.max(1e-300, rng.nextDouble())))
    // the constructions as they were: a typed Dataset over spark.range
    // and Row RDDs through createDataFrame
    def oldGenerate(name: String, params: Array[Double], n: Long, seed: Long, parts: Int,
                    lb: Option[Double] = None, ub: Option[Double] = None): DataFrame = {
      val bcCounts = spark.sparkContext.broadcast(Sampling.partitionCounts(n, parts))
      val table = new Sampling.TabulatedPpf(ppfOf(name, params, lb, ub))
      val ds: Dataset[Double] = spark.range(0, parts, 1, parts).mapPartitions { _ =>
        val pid = TaskContext.getPartitionId()
        val rng = new java.util.SplittableRandom(seed + pid)
        Iterator.range(0L, bcCounts.value(pid)).map { _ =>
          var u = rng.nextDouble()
          if (u <= 0.0) u = Double.MinPositiveValue
          if (u >= 1.0) u = 1.0 - 1e-16
          table(u)
        }
      }
      ds.toDF("sample")
    }
    def oldGrid(name: String, params: Array[Double], n: Long, parts: Int,
                lb: Option[Double]): DataFrame = {
      val ppf = ppfOf(name, params, lb, None)
      val nn = n.toDouble
      spark.range(0L, n, 1L, parts).map(i => ppf((i + 0.5) / nn)).toDF("sample")
    }
    val cop = new GaussianCopula(
      Seq(Marginal("a", "norm", Array(50.0, 10.0)), Marginal("b", "expon", Array(0.0, 5.0)),
        Marginal("c", "gamma", Array(2.0, 0.0, 2.0), lowerBound = Some(0.5))),
      Array(Array(1.0, 0.5, 0.3), Array(0.5, 1.0, 0.4), Array(0.3, 0.4, 1.0)))
    def oldCopula(n: Long, seed: Long, parts: Int, returnUniform: Boolean): DataFrame = {
      val bcCounts = spark.sparkContext.broadcast(Sampling.partitionCounts(n, parts))
      val l = cop.cholesky
      val k = cop.marginals.length
      val ppfs = if (returnUniform) Array.empty[Double => Double] else cop.marginals.toArray.map { m =>
        val clamp = (u: Double) => math.min(1 - 1e-16, math.max(1e-300, u))
        val exact = ppfOf(m.distName, m.params, m.lowerBound, m.upperBound)
        val table = new Sampling.TabulatedPpf(u => exact(clamp(u)))
        (u: Double) => table(u)
      }
      val rows = spark.range(0, parts, 1, parts).rdd.mapPartitions { _ =>
        val pid = TaskContext.getPartitionId()
        val rng = new java.util.SplittableRandom(seed + pid)
        Iterator.range(0L, bcCounts.value(pid)).map { _ =>
          val z = Array.fill(k)(nextGaussian(rng))
          val out = new Array[Any](k)
          var i = 0
          while (i < k) {
            var s = 0.0
            var j = 0
            while (j <= i) { s += l(i)(j) * z(j); j += 1 }
            val u = SM.normCdf(s)
            out(i) = if (returnUniform) u else ppfs(i)(u)
            i += 1
          }
          Row.fromSeq(out.toSeq)
        }
      }
      spark.createDataFrame(rows, StructType(cop.columns.map(c => StructField(c, DoubleType))))
    }
    val mix = GaussianMixtureResult(Seq("x", "y"), Array(0.4, 0.6),
      Array(Array(0.0, 0.0), Array(5.0, 3.0)),
      Array(Array(Array(1.0, 0.2), Array(0.2, 1.0)), Array(Array(1.0, -0.3), Array(-0.3, 2.0))),
      0.0, 0L, 0.0, 0.0)
    def oldMixture(n: Long, seed: Long, parts: Int): DataFrame = {
      val bcCounts = spark.sparkContext.broadcast(Sampling.partitionCounts(n, parts))
      val cum = mix.weights.scanLeft(0.0)(_ + _).tail
      val chols = mix.covariances.map(c =>
        new CholeskyDecomposition(new Array2DRowRealMatrix(c), 1e-10, 1e-10).getL.getData)
      val means = mix.means
      val kk = mix.columns.length
      val rows = spark.range(0, parts, 1, parts).rdd.mapPartitions { _ =>
        val pid = TaskContext.getPartitionId()
        val rng = new java.util.SplittableRandom(seed + pid)
        Iterator.range(0L, bcCounts.value(pid)).map { _ =>
          val u = rng.nextDouble()
          var c = 0
          while (c < cum.length - 1 && u > cum(c)) c += 1
          val z = Array.fill(kk)(nextGaussian(rng))
          val l = chols(c); val mu = means(c)
          Row.fromSeq(Seq.tabulate(kk) { i =>
            var s = mu(i)
            var j = 0
            while (j <= i) { s += l(i)(j) * z(j); j += 1 }
            s
          } :+ c)
        }
      }
      spark.createDataFrame(rows, StructType(mix.columns.map(c => StructField(c, DoubleType)) :+
        StructField("component", IntegerType)))
    }
    val mvn = MultivariateNormalResult(Seq("u", "v"), Array(1.0, -2.0),
      Array(Array(2.0, 0.6), Array(0.6, 1.0)), 0L)
    def oldMvn(n: Long, seed: Long, parts: Int): DataFrame = {
      val bcCounts = spark.sparkContext.broadcast(Sampling.partitionCounts(n, parts))
      val (l, mu, kk) = (mvn.cholesky, mvn.mean, mvn.k)
      val rows = spark.range(0, parts, 1, parts).rdd.mapPartitions { _ =>
        val pid = TaskContext.getPartitionId()
        val rng = new java.util.SplittableRandom(seed + pid)
        Iterator.range(0L, bcCounts.value(pid)).map { _ =>
          val z = Array.fill(kk)(nextGaussian(rng))
          Row.fromSeq(Seq.tabulate(kk) { i =>
            var s = mu(i)
            var j = 0
            while (j <= i) { s += l(i)(j) * z(j); j += 1 }
            s
          })
        }
      }
      spark.createDataFrame(rows, StructType(mvn.columns.map(c => StructField(c, DoubleType))))
    }

    val n = 2001L
    for (parts <- Seq(1, 3, 4)) {
      val cases = Seq[(String, DataFrame, DataFrame)](
        ("generate", Sampling.generate(spark, "gamma", Array(2.0, 0.0, 2.0), n, 7L, parts),
          oldGenerate("gamma", Array(2.0, 0.0, 2.0), n, 7L, parts)),
        ("generate, truncated", Sampling.generate(spark, "norm", Array(50.0, 10.0), n, 7L, parts,
          lowerBound = Some(40.0), upperBound = Some(70.0)),
          oldGenerate("norm", Array(50.0, 10.0), n, 7L, parts, Some(40.0), Some(70.0))),
        ("generateGrid", Sampling.generateGrid(spark, "gamma", Array(2.0, 0.0, 2.0), n, parts,
          lowerBound = Some(0.5)), oldGrid("gamma", Array(2.0, 0.0, 2.0), n, parts, Some(0.5))),
        ("copula", cop.sampleDistributed(spark, n, 7L, parts), oldCopula(n, 7L, parts, false)),
        ("copula, uniform", cop.sampleDistributed(spark, n, 7L, parts, returnUniform = true),
          oldCopula(n, 7L, parts, true)),
        ("mixture", Mixture.sampleDistributed(spark, mix, n, 7L, parts), oldMixture(n, 7L, parts)),
        ("multivariate normal", mvn.sampleDistributed(spark, n, 7L, parts), oldMvn(n, 7L, parts)))
      for ((name, got, want) <- cases) {
        assert(got.schema == want.schema, s"$name at $parts partitions: schema")
        assert(got.rdd.getNumPartitions == parts, s"$name at $parts partitions: layout")
        assert(rowBits(got) == rowBits(want), s"$name at $parts partitions: rows")
      }
    }
  }

  test("truncated generation stays inside bounds") {
    val df = Sampling.generate(spark, "norm", Array(0.0, 1.0), 5000L,
      lowerBound = Some(-1.0), upperBound = Some(1.0))
    val r = df.agg(F.min("sample"), F.max("sample")).head()
    assert(r.getDouble(0) >= -1.0 && r.getDouble(1) <= 1.0)
  }

  test("stratified sample keeps tails and respects bins") {
    import spark.implicits._
    val rng = new java.util.Random(3L)
    val df = Seq.fill(20000)(rng.nextGaussian() * 10 + 50).toDF("v")
    val sampled = Sampling.stratifiedSample(df, "v", 0.05, numBins = 5, seed = 42L)
    val n = sampled.count()
    assert(n > 500 && n < 20000, s"n=$n")
    // tail boost: sampled min/max near the population extremes
    val (pmn, pmx) = { val r = df.agg(F.min("v"), F.max("v")).head(); (r.getDouble(0), r.getDouble(1)) }
    val (smn, smx) = { val r = sampled.agg(F.min("v"), F.max("v")).head(); (r.getDouble(0), r.getDouble(1)) }
    assert(smn - pmn < 5.0 && pmx - smx < 5.0, s"tails lost: [$smn,$smx] vs [$pmn,$pmx]")
  }

  test("gaussian copula: fit + sample preserves marginals and rank correlation") {
    import spark.implicits._
    // correlated bivariate: y = x + noise, both transformed
    val rng = new java.util.Random(11L)
    val rows = Seq.fill(8000) {
      val x = rng.nextGaussian()
      val y = 0.8 * x + 0.6 * rng.nextGaussian()
      (50 + 10 * x, math.exp(y)) // norm marginal, lognorm marginal
    }
    val df = rows.toDF("a", "b")
    val results = Fitter.fit(spark, df, Seq("a", "b"),
      distributions = Some(Seq("norm", "lognorm", "gamma", "uniform")))
    val cop = GaussianCopula.fit(spark, df, results, Seq("a", "b"), metric = "aic")
    assert(cop.marginals.head.distName == "norm")
    assert(math.abs(cop.correlation(0)(1) - 0.78) < 0.08,
      s"spearman=${cop.correlation(0)(1)}")

    val sampled = cop.sampleDistributed(spark, 20000L, seed = 5L)
    val stats = sampled.agg(F.avg("a"), F.stddev_pop("a"), F.corr("a", "b")).head()
    assert(math.abs(stats.getDouble(0) - 50.0) < 1.0)
    assert(math.abs(stats.getDouble(1) - 10.0) < 1.0)
    assert(stats.getDouble(2) > 0.4, s"sampled corr=${stats.getDouble(2)}")
    // local twin agrees in distribution
    val local = cop.sampleLocal(5000, seed = 5L)
    val meanA = local.map(_(0)).sum / local.length
    assert(math.abs(meanA - 50.0) < 1.0)

    // returnUniform skips the marginal transform: values land in [0,1]
    // with mean ~0.5, the correlation structure survives (ppf is
    // monotone), and the same seed gives the same gaussian draws — so
    // Φ(z·Lᵀ) of the uniform run must equal the transformed run's
    // pre-ppf uniforms (checked via the marginal cdf round-trip on 'a')
    val uni = cop.sampleDistributed(spark, 20000L, seed = 5L,
      returnUniform = true)
    val us = uni.agg(F.min("a"), F.max("a"), F.avg("a"), F.corr("a", "b")).head()
    assert(us.getDouble(0) >= 0.0 && us.getDouble(1) <= 1.0)
    assert(math.abs(us.getDouble(2) - 0.5) < 0.02, s"uniform mean=${us.getDouble(2)}")
    assert(us.getDouble(3) > 0.4, s"uniform corr=${us.getDouble(3)}")
  }

  test("MVN: fit recovers mean/cov, density + mahalanobis + sampling work") {
    import spark.implicits._
    val rng = new java.util.Random(13L)
    val rows = Seq.fill(10000) {
      val x = rng.nextGaussian(); val y = 0.5 * x + 0.8 * rng.nextGaussian()
      (2.0 + x, -1.0 + y)
    }
    val df = rows.toDF("x", "y")
    val mvn = MultivariateNormal.fit(df, Seq("x", "y"))
    assert(math.abs(mvn.mean(0) - 2.0) < 0.05)
    assert(math.abs(mvn.mean(1) + 1.0) < 0.05)
    assert(math.abs(mvn.cov(0)(0) - 1.0) < 0.07)
    assert(math.abs(mvn.cov(0)(1) - 0.5) < 0.07)
    assert(mvn.mahalanobis(mvn.mean) == 0.0)
    assert(mvn.logpdf(mvn.mean) > mvn.logpdf(Array(5.0, 5.0)))
    assert(mvn.conditionEstimate < 1e10)
    val s = mvn.sampleDistributed(spark, 10000L, seed = 3L)
      .agg(F.avg("x"), F.corr("x", "y")).head()
    assert(math.abs(s.getDouble(0) - 2.0) < 0.1)
    assert(s.getDouble(1) > 0.3)
  }

  test("GMM recovers bimodal structure with sensible AIC/BIC") {
    import spark.implicits._
    val rng = new java.util.Random(17L)
    val rows = Seq.fill(6000)(
      if (rng.nextDouble() < 0.4) rng.nextGaussian() else 5.0 + rng.nextGaussian())
    val df = rows.toDF("v")
    val (r, assigned) = Mixture.fit(df, Seq("v"), k = 2, seed = 42L)
    assert(r.k == 2)
    val means = r.means.map(_.head).sorted
    assert(math.abs(means(0) - 0.0) < 0.5 && math.abs(means(1) - 5.0) < 0.5,
      s"means=${means.toSeq}")
    val w = r.weights.sorted
    assert(math.abs(w(0) - 0.4) < 0.1, s"weights=${r.weights.toSeq}")
    assert(java.lang.Double.isFinite(r.aic) && r.bic > r.aic)
    assert(assigned.select("component").distinct().count() == 2)
    assert(Mixture.freeParams(2, 1) == 5)
  }

  test("GMM responsibilities: in [0,1], sum to 1, consistent with hard assign") {
    import spark.implicits._
    val w = Array(0.4, 0.6)
    val mu = Array(Array(0.0), Array(5.0))
    val vv = Array(Array(1.0), Array(1.0))
    val pts = Seq(-0.5, 0.2, 2.5, 4.8, 6.0).toDF("v")
    val both = Mixture.scoreProba(
      Mixture.score(pts, Seq("v"), w, mu, vv), Seq("v"), w, mu, vv)
    val rows = both.select("v", "component", "p_0", "p_1").collect()
    for (r <- rows) {
      val (p0, p1) = (r.getDouble(2), r.getDouble(3))
      assert(p0 >= 0 && p0 <= 1 && p1 >= 0 && p1 <= 1)
      assert(math.abs(p0 + p1 - 1.0) < 1e-12, s"p0+p1=${p0 + p1}")
      // hard assignment is the posterior argmax
      val argmax = if (p0 >= p1) 0 else 1
      assert(r.getInt(1) == argmax, s"v=${r.getDouble(0)}: $r")
    }
    // far from both means in either direction, posteriors saturate
    val m = rows.map(r => r.getDouble(0) -> r.getDouble(2)).toMap
    assert(m(-0.5) > 0.99 && m(6.0) < 0.01)
  }

  test("GMM nInit restarts keep the best-likelihood run") {
    import spark.implicits._
    val rng = new java.util.Random(23L)
    val rows = Seq.fill(4000)(
      if (rng.nextDouble() < 0.5) rng.nextGaussian() else 6.0 + rng.nextGaussian())
    val df = rows.toDF("v")
    val (single, _) = Mixture.fit(df, Seq("v"), k = 3, seed = 42L, maxIter = 25)
    val (multi, _) = Mixture.fit(df, Seq("v"), k = 3, seed = 42L, maxIter = 25, nInit = 4)
    // the restart pool contains the single-init seed, so best-of-4 can
    // never be worse
    assert(multi.logLikelihood >= single.logLikelihood - 1e-9,
      s"multi=${multi.logLikelihood} single=${single.logLikelihood}")
  }

  test("GMM sampling reproduces component weights and means") {
    import spark.implicits._
    val rng = new java.util.Random(17L)
    val rows = Seq.fill(6000)(
      if (rng.nextDouble() < 0.4) rng.nextGaussian() else 5.0 + rng.nextGaussian())
    val (r, _) = Mixture.fit(rows.toDF("v"), Seq("v"), k = 2, seed = 42L)
    val sampled = Mixture.sampleDistributed(spark, r, 20000L, seed = 7L)
    assert(sampled.count() == 20000L)
    // per-component share matches the fitted weights
    val byComp = sampled.groupBy("component").count().collect()
      .map(x => x.getInt(0) -> x.getLong(1)).toMap
    (0 until r.k).foreach { c =>
      val share = byComp.getOrElse(c, 0L).toDouble / 20000.0
      assert(math.abs(share - r.weights(c)) < 0.03,
        s"component $c share $share vs weight ${r.weights(c)}")
    }
    // overall mean matches the mixture mean
    val mixMean = (0 until r.k).map(c => r.weights(c) * r.means(c)(0)).sum
    val sampleMean = sampled.agg(org.apache.spark.sql.functions.avg("v"))
      .head().getDouble(0)
    assert(math.abs(sampleMean - mixMean) < 0.1, s"$sampleMean vs $mixMean")
  }

  test("bootstrap CIs bracket the true parameters") {
    val rng = new java.util.Random(19L)
    val sample = Array.fill(1500)(50.0 + 10.0 * rng.nextGaussian())
    val cis = Bootstrap.confidenceIntervals(spark, ContinuousFamilies.Norm,
      sample, b = 120, seed = 42L)
    assert(cis.map(_.param) == Seq("loc", "scale"))
    val loc = cis(0); val scale = cis(1)
    assert(loc.lower < 50.0 && 50.0 < loc.upper, s"loc CI [${loc.lower}, ${loc.upper}]")
    assert(scale.lower < 10.1 && 9.9 < scale.upper, s"scale CI [${scale.lower}, ${scale.upper}]")
    assert(loc.upper - loc.lower < 2.0) // tight at n=1500
  }

  test("hash bootstrap: deterministic across reruns/partitioning, sane interval, bounded-input guard") {
    import spark.implicits._
    val rng = new java.util.Random(31L)
    val xs = Seq.fill(800)((100 + rng.nextInt(900)).toLong)
    val df = xs.toDF("v")
    val r1 = Bootstrap.hashResampleCI(df, "v", b = 100).head()
    // identical on rerun AND under a different partitioning — the md5
    // coordinate depends only on content, never layout
    val r2 = Bootstrap.hashResampleCI(df.repartition(7), "v", b = 100).head()
    assert(r1 == r2)
    assert(r1.getAs[Long]("b_reps") == 100L)
    assert(r1.getAs[Long]("n") == 800L)
    val (lo, hi) = (r1.getAs[Double]("mean_lower"), r1.getAs[Double]("mean_upper"))
    val trueMean = xs.sum.toDouble / xs.length
    assert(lo < trueMean && trueMean < hi, s"[$lo, $hi] should bracket $trueMean")
    // CI width ~ 2·1.96·sd/sqrt(n): sd≈260, n=800 → half-width ≈ 18
    assert(hi - lo > 5 && hi - lo < 60, s"width ${hi - lo}")
    // the bounded-audit-op guard refuses corpus-sized input
    intercept[IllegalArgumentException] {
      Bootstrap.hashResampleCI(df, "v", b = 10, maxSample = 100)
    }
  }

  test("mixture scoring under a fixed model: assignment boundary and exact single-component LL") {
    import spark.implicits._
    val df = Seq(-5.0, -1.0, 0.9, 1.1, 5.0).toDF("x")
    val scored = Mixture.score(df, Seq("x"),
      weights = Array(0.5, 0.5),
      means = Array(Array(0.0), Array(2.0)),
      variances = Array(Array(1.0), Array(1.0)))
      .orderBy("x").collect()
    // equal weights/variances → boundary at the midpoint x = 1
    assert(scored.map(_.getAs[Int]("component")).toSeq == Seq(0, 0, 0, 1, 1))
    // at x = -5 the exact mixture LL is the two-component logsumexp
    val ll = scored.head.getAs[Double]("loglik")
    val l0 = math.log(0.5) - 0.5 * math.log(2 * math.Pi) - 12.5
    val l1 = math.log(0.5) - 0.5 * math.log(2 * math.Pi) - 24.5
    val expect = l0 + math.log1p(math.exp(l1 - l0))
    assert(math.abs(ll - expect) < 1e-12, s"$ll vs $expect")
    // single-component degenerates to the plain normal loglik
    val one = Mixture.score(df, Seq("x"), Array(1.0),
      Array(Array(0.0)), Array(Array(1.0))).orderBy("x").head()
    assert(math.abs(one.getAs[Double]("loglik") -
      (-0.5 * math.log(2 * math.Pi) - 12.5)) < 1e-12)
    assert(one.getAs[Int]("component") == 0)
  }

  test("copula fit with spearman_rank correlation: replayable matrix, cholesky consistency") {
    import spark.implicits._
    val rng = new java.util.Random(47L)
    val rows = Seq.fill(3000) {
      val a = rng.nextGaussian()
      (50 + 10 * a, 20 + 4 * (0.8 * a + 0.6 * rng.nextGaussian()))
    }
    val df = rows.toDF("a", "b")
    val fr = Fitter.fit(spark, df, Seq("a", "b"),
      distributions = Some(Seq("norm")),
      cfg = FitConfig(fittingSampleSize = 10000))
    val cop = GaussianCopula.fit(spark, df, fr, Seq("a", "b"),
      corrMethod = "spearman_rank")
    val rho = cop.correlation(0)(1)
    // matches the pairwise scale-safe Spearman (to within the run-to-run
    // reduce-order wobble of the distributed corr partial sums — the
    // SQL-replay oracle rounds to 6 decimals for the same reason)
    val direct = Ranks.spearman(df, "a", "b").head().getDouble(0)
    assert(math.abs(rho - direct) < 1e-9, s"$rho vs $direct")
    assert(rho > 0.6 && rho < 0.95, s"rho=$rho")
    // cholesky of [[1, rho], [rho, 1]]
    val l = cop.cholesky
    assert(math.abs(l(0)(0) - 1.0) < 1e-12)
    assert(math.abs(l(1)(0) - rho) < 1e-12)
    assert(math.abs(l(1)(1) - math.sqrt(1 - rho * rho)) < 1e-12)
    assert(cop.marginals.map(_.distName) == Seq("norm", "norm"))
  }

  test("lazy fit + bestLazy recomputes deferred KS/AD only for candidates") {
    import spark.implicits._
    val rng = new java.util.Random(23L)
    val df = Seq.fill(5000)(50.0 + 10.0 * rng.nextGaussian()).toDF("value")
    val results = Fitter.fit(spark, df, Seq("value"),
      distributions = Some(Seq("norm", "logistic", "cauchy", "laplace", "uniform")),
      cfg = FitConfig(lazyMetrics = true))
    // all deferred
    assert(results.df.where(F.col("ks_statistic").isNotNull).count() == 0)
    val top = results.bestLazy(spark, 2, "ks_statistic").collect()
    assert(top.length == 2)
    assert(top.head.getAs[String]("distribution") == "norm")
    assert(!top.head.isNullAt(top.head.fieldIndex("ks_statistic")))
    // materialize fills every row
    val mat = results.materialize(spark)
    assert(mat.df.where(F.col("ks_statistic").isNull).count() == 0)
  }
}
