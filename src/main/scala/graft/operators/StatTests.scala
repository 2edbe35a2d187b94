package graft.operators

import org.apache.spark.sql.{DataFrame, functions => F}
import graft.functions.SpecialMath

/** Classical two-sample / goodness-of-fit hypothesis tests plus
  * multiple-testing control — the calibrated companions to the distance
  * metrics in [[Drift]] (PSI/KL say "how far apart"; these say "is the
  * gap explainable by sampling noise", which is the question a drift
  * monitor actually acts on). Reference semantics: the same test family
  * the reference's metrics layer exposes for fit quality
  * (spark-bestfit `sb/metrics.py`), extended to the two-sample
  * monitoring forms.
  *
  *  - [[mannWhitneyU]]: rank-sum location test (tie-corrected normal
  *    approximation with continuity correction) — detects a median
  *    shift the K-S test dilutes across the whole CDF.
  *  - [[cvmTwoSample]]: Cramér–von Mises integral distance over the
  *    pooled ECDF — an L² whole-shape test, more sensitive than K-S to
  *    distributed (non-local) shape changes; asymptotic p from the ω²
  *    limiting distribution (Bessel-K¼ series).
  *  - [[chiSquareTwoSample]]: homogeneity of two categorical PMFs.
  *  - [[chiSquareGofByGroup]]: per-GROUP uniformity test over a shared
  *    categorical support — one aggregation for a million groups.
  *  - [[bhAdjust]]: Benjamini–Hochberg FDR correction over any frame of
  *    p-values — the step that makes per-group testing honest at scale
  *    (10⁶ groups at α=0.05 yields 5·10⁴ false alarms uncorrected).
  *
  * Scale shape: every test reduces the data to per-distinct-value (or
  * per-cell) counts with ONE map-side-combined aggregation, then walks
  * the tiny counts frame with the [[PrefixSum]] substrate (range
  * partitions + broadcast offsets, O(#partitions) driver traffic, no
  * global window). Statistics are ratios of exact integers,
  * so an external SQL engine replays them bit-for-bit; p-values are
  * computed from the ROUNDED statistic on both sides so ULP noise can
  * never flip a decision across engines.
  */
object StatTests {

  /** Per-distinct-value cohort counts (v, count_a, count_b), loaned in
    * ascending value order over the [[PrefixSum]] substrate with the
    * cohort totals and the 2-lane prefix offsets (lane 0 = a, lane 1 =
    * b): the shared substrate of the rank tests. */
  private def cohortCounts[R](df: DataFrame, cohortCol: String,
                              valueCol: String, labelA: String,
                              labelB: String)(
      body: (PrefixSum[(Double, Long, Long)], Long, Long,
             Array[Array[Long]]) => R): R = {
    require(labelA != labelB, "cohort labels must differ")
    val counts = df
      .select(F.col(cohortCol).cast("string").as("g"),
        F.col(valueCol).cast("double").as("v"))
      .where(F.col("v").isNotNull && !F.isnan(F.col("v")) &&
        F.col("g").isin(labelA, labelB))
      .groupBy("v").agg(
        F.sum(F.when(F.col("g") === labelA, 1L).otherwise(0L)).as("ca"),
        F.sum(F.when(F.col("g") === labelB, 1L).otherwise(0L)).as("cb"))
    val spark = df.sparkSession
    import spark.implicits._
    PrefixSum(counts.as[(Double, Long, Long)], F.col("v")) { ps =>
      val off = ps.offsets(2) { (s, r) => s(0) += r._2; s(1) += r._3 }
      val na = off.last(0); val nb = off.last(1)
      require(na > 0 && nb > 0, "both cohorts need rows")
      body(ps, na, nb, off)
    }
  }

  /** Mann–Whitney U (Wilcoxon rank-sum) two-sample test: U_a = #{(x, y)
    * ∈ a×b : x > y} + ½·#ties, the probability-scaled location statistic,
    * with the tie-corrected normal approximation
    * σ² = n_a·n_b/12 · (N+1 − Σ(t³−t)/(N(N−1))) and continuity
    * correction z = (U − n_a·n_b/2 ∓ ½)/σ; two-sided p = erfc(|z|/√2).
    * U is exact (a sum of count products — half-integers), so it replays
    * bit-for-bit; p is evaluated at the 6-decimal-ROUNDED z on both
    * sides, so the rational-Chebyshev erfc agrees across engines to the
    * output rounding.
    *
    * Scale shape: one conditional-count aggregate per distinct value,
    * then the prefix-sum walk accumulates U and the tie sum in a single
    * partition-local pass — driver traffic O(#partitions).
    *
    * @return one row: (u_a, z, p_value, n_a, n_b) */
  def mannWhitneyU(df: DataFrame, cohortCol: String, valueCol: String,
                   labelA: String = "a", labelB: String = "b"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    cohortCounts(df, cohortCol, valueCol, labelA, labelB) {
        (ps, na, nb, off) =>
      val parts = ps.walk(off) { (o, it) =>
        var cumB = o(1)
        var u = 0.0; var ties = 0.0
        it.foreach { case (_, ca, cb) =>
          u += ca * (cumB + 0.5 * cb)
          cumB += cb
          val t = (ca + cb).toDouble
          ties += t * t * t - t
        }
        Iterator((u, ties))
      }.collect()
      val u = parts.map(_._1).sum
      val tieSum = parts.map(_._2).sum
      val n = (na + nb).toDouble
      val mU = na.toDouble * nb / 2.0
      val sigma = math.sqrt(na.toDouble * nb / 12.0 *
        ((n + 1.0) - tieSum / (n * (n - 1.0))))
      val z =
        if (sigma == 0.0 || u == mU) 0.0
        else (u - mU - 0.5 * math.signum(u - mU)) / sigma
      val zr = math.rint(z * 1e6) / 1e6
      val p = math.rint(SpecialMath.erfc(
        math.abs(zr) / math.sqrt(2.0)) * 1e6) / 1e6
      Seq((u, zr, p, na, nb)).toDF("u_a", "z", "p_value", "n_a", "n_b")
    }
  }

  /** Cramér–von Mises two-sample statistic in the pooled-ECDF integral
    * form (ties natural): T = n_a·n_b/N² · Σ_v c_v·(F_a(v) − F_b(v))²
    * — the L² analogue of the K-S sup distance, integrating the squared
    * ECDF gap against the pooled empirical measure. Asymptotic p-value
    * from the ω² limiting distribution ([[SpecialMath.cvmCdfInf]]),
    * evaluated at the 6-decimal-ROUNDED T.
    *
    * The p-value rides a Bessel-K¼ series no SQL engine carries, so the
    * harness hash-checks the exact statistic and the ScalaTest suite
    * pins p against the published ω² critical values.
    *
    * @return one row: (cvm_t, p_value, n_a, n_b) */
  def cvmTwoSample(df: DataFrame, cohortCol: String, valueCol: String,
                   labelA: String = "a", labelB: String = "b"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    cohortCounts(df, cohortCol, valueCol, labelA, labelB) {
        (ps, na, nb, off) =>
      val acc = ps.walk(off) { (o, it) =>
        var cumA = o(0); var cumB = o(1)
        var s = 0.0
        it.foreach { case (_, ca, cb) =>
          cumA += ca; cumB += cb
          val diff = cumA.toDouble / na - cumB.toDouble / nb
          s += (ca + cb) * diff * diff
        }
        Iterator(s)
      }.collect().sum
      val nTot = (na + nb).toDouble
      val t = na.toDouble * nb / (nTot * nTot) * acc
      val tr = math.rint(t * 1e6) / 1e6
      val p = math.rint(math.max(0.0,
        1.0 - SpecialMath.cvmCdfInf(tr)) * 1e6) / 1e6
      Seq((tr, p, na, nb)).toDF("cvm_t", "p_value", "n_a", "n_b")
    }
  }

  /** Conover squared-ranks test for equal VARIANCES (Conover 1999) —
    * the rank-based scale test that needs no normality (Bartlett) and
    * no mean-model (Levene): rank the absolute deviations from each
    * sample's own 6-ROUNDED mean over the pooled data, score each row
    * by its SQUARED midrank, and standardize sample a's score sum with
    * the permutation moments of the realized scores (exact under ties
    * — the [[lepageTest]] machinery on s = R²):
    *
    *   z = (T − n_a·Σs/N) / √(n_a·n_b·(NΣs² − (Σs)²)/(N²(N−1)))
    *
    * Two passes: the cohort means, then one prefix-sum fold over the
    * |deviation| cells. Means round to 1e-6 so the deviation cells are
    * cross-engine exact.
    *
    * @return one row: (n_a, n_b, t_stat, z, p_value) */
  def conoverSquaredRanks(df: DataFrame, cohortCol: String,
                          valueCol: String, labelA: String = "a",
                          labelB: String = "b"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val g = F.col(cohortCol).cast("string")
    val v = F.col(valueCol).cast("double")
    val clean = df
      .where(v.isNotNull && !F.isnan(v) && g.isin(labelA, labelB))
      .select(g.as("__g"), v.as("__v"))
    val means = clean.groupBy("__g")
      .agg(F.round(F.avg("__v"), 6).as("__m"))
    val dev = clean.join(F.broadcast(means), "__g")
      .select(F.col("__g"), F.abs(F.col("__v") - F.col("__m")).as("__d"))
    cohortCounts(dev, "__g", "__d", labelA, labelB) { (ps, na, nb, off) =>
      val parts = ps.walk(off) { (o, it) =>
        var cumA = o(0); var cumB = o(1)
        var sS = 0.0; var sS2 = 0.0; var tA = 0.0
        it.foreach { case (_, ca, cb) =>
          val t = ca + cb
          val r = (cumA + cumB) + (t + 1) / 2.0
          val s = r * r
          sS += t * s; sS2 += t * s * s; tA += ca * s
          cumA += ca; cumB += cb
        }
        Iterator((sS, sS2, tA))
      }.collect()
      val sS = parts.map(_._1).sum; val sS2 = parts.map(_._2).sum
      val tStat = parts.map(_._3).sum
      val n = (na + nb).toDouble
      val e = na * sS / n
      val vv = na.toDouble * nb * (n * sS2 - sS * sS) /
        (n * n * (n - 1.0))
      require(vv > 0.0, "degenerate scores (all deviations identical)")
      def r6(x: Double) = math.rint(x * 1e6) / 1e6
      val z = r6((tStat - e) / math.sqrt(vv))
      val p = r6(SpecialMath.erfc(math.abs(z) / math.sqrt(2.0)))
      Seq((na, nb, tStat, z, p))
        .toDF("n_a", "n_b", "t_stat", "z", "p_value")
    }
  }

  /** D'Agostino–Pearson K² omnibus normality test — the moment-based
    * normality screen (scipy's `normaltest`): the sample skewness goes
    * through the D'Agostino (1970) Johnson-SU transform to Z₁, the
    * kurtosis through the Anscombe–Glynn (1983) cube-root transform to
    * Z₂, and K² = Z₁² + Z₂² ~ χ²(2), p = exp(−K²/2). Everything is
    * elementary closed form over ONE power-sum aggregation (Σv..Σv⁴) —
    * fully SQL-replayable with cbrt for the signed cube root; Z's
    * 6-rounded before squaring.
    *
    * @return one row: (n, skew, kurtosis, z_skew, z_kurt, k2,
    *         p_value) */
  def dagostinoK2(df: DataFrame, valueCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val v = F.col(valueCol).cast("double")
    val r = df.where(v.isNotNull && !F.isnan(v))
      .agg(F.count(F.lit(1)).as("n"), F.sum(v).as("s1"),
        F.sum(v * v).as("s2"), F.sum(v * v * v).as("s3"),
        F.sum(v * v * v * v).as("s4"))
      .head()
    val nL = r.getAs[Long]("n")
    require(nL >= 20L, s"D'Agostino K² needs n >= 20, got $nL")
    val n = nL.toDouble
    val mean = r.getAs[Double]("s1") / n
    val m2 = r.getAs[Double]("s2") / n - mean * mean
    require(m2 > 0.0, "zero variance")
    val m3 = r.getAs[Double]("s3") / n - 3.0 * mean *
      (r.getAs[Double]("s2") / n) + 2.0 * mean * mean * mean
    val m4 = r.getAs[Double]("s4") / n - 4.0 * mean *
      (r.getAs[Double]("s3") / n) + 6.0 * mean * mean *
      (r.getAs[Double]("s2") / n) - 3.0 * mean * mean * mean * mean
    val g1 = m3 / math.sqrt(m2 * m2 * m2)
    val b2 = m4 / (m2 * m2)
    // skewness: D'Agostino 1970
    val y = g1 * math.sqrt((n + 1.0) * (n + 3.0) / (6.0 * (n - 2.0)))
    val beta2 = 3.0 * (n * n + 27.0 * n - 70.0) * (n + 1.0) *
      (n + 3.0) / ((n - 2.0) * (n + 5.0) * (n + 7.0) * (n + 9.0))
    val w2 = -1.0 + math.sqrt(2.0 * (beta2 - 1.0))
    val delta = 1.0 / math.sqrt(math.log(math.sqrt(w2)))
    val alpha = math.sqrt(2.0 / (w2 - 1.0))
    val ya = y / alpha
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    val z1 = r6(delta * math.log(ya + math.sqrt(ya * ya + 1.0)))
    // kurtosis: Anscombe–Glynn 1983
    val eb2 = 3.0 * (n - 1.0) / (n + 1.0)
    val vb2 = 24.0 * n * (n - 2.0) * (n - 3.0) /
      ((n + 1.0) * (n + 1.0) * (n + 3.0) * (n + 5.0))
    val x = (b2 - eb2) / math.sqrt(vb2)
    val sb1 = 6.0 * (n * n - 5.0 * n + 2.0) / ((n + 7.0) * (n + 9.0)) *
      math.sqrt(6.0 * (n + 3.0) * (n + 5.0) /
        (n * (n - 2.0) * (n - 3.0)))
    val a = 6.0 + 8.0 / sb1 *
      (2.0 / sb1 + math.sqrt(1.0 + 4.0 / (sb1 * sb1)))
    val z2 = r6(((1.0 - 2.0 / (9.0 * a)) -
      math.cbrt((1.0 - 2.0 / a) /
        (1.0 + x * math.sqrt(2.0 / (a - 4.0))))) /
      math.sqrt(2.0 / (9.0 * a)))
    val k2 = r6(z1 * z1 + z2 * z2)
    val p = r6(math.exp(-k2 / 2.0))
    Seq((nL, r6(g1), r6(b2 - 3.0), z1, z2, k2, p))
      .toDF("n", "skew", "kurtosis", "z_skew", "z_kurt", "k2",
        "p_value")
  }

  /** Maximum Mean Discrepancy (Gretton et al. 2012) with an RBF
    * kernel, V-statistic form over value CELLS — the kernel two-sample
    * distance that sees shape differences the moment tests miss,
    * complementing [[StatTests.cvmTwoSample]]/energy distance with a
    * bandwidth-tunable lens:
    *
    *   MMD² = K̄xx + K̄yy − 2K̄xy,   k(u,v) = e^{−(u−v)²/(2σ²)}
    *
    * Exact on quantized support: the n² kernel sums collapse to
    * |cells|² count-weighted cell pairs under the loud cardinality
    * contract (quantize/bucket continuous values first). No p-value —
    * the null distribution needs permutation; the statistic plus the
    * three kernel means are the artifact (spec pins behavior).
    *
    * @return one row: (n_a, n_b, sigma, mmd2, kxx_mean, kyy_mean,
    *         kxy_mean) rounded to 9 */
  def mmdTest(df: DataFrame, cohortCol: String, valueCol: String,
              sigma: Double, labelA: String = "a", labelB: String = "b",
              maxCells: Int = 4096): DataFrame = Persisted { scope =>
    require(sigma > 0.0, "sigma must be positive")
    require(maxCells >= 2 && maxCells <= 16384,
      "maxCells must be in 2..16384")
    val spark = df.sparkSession
    import spark.implicits._
    val g = F.col(cohortCol).cast("string")
    val v = F.col(valueCol).cast("double")
    val cells = scope.checkpoint(df
      .where(v.isNotNull && !F.isnan(v) && g.isin(labelA, labelB))
      .groupBy(v.as("__v"))
      .agg(F.sum(F.when(g === labelA, 1L).otherwise(0L)).as("ca"),
        F.sum(F.when(g === labelB, 1L).otherwise(0L)).as("cb")))
    val meta = cells.agg(F.count(F.lit(1)).as("cells"),
      F.sum("ca").as("na"), F.sum("cb").as("nb")).head()
    require(meta.getAs[Long]("cells") <= maxCells,
      s"${meta.getAs[Long]("cells")} value cells — mmdTest is exact " +
        "on QUANTIZED support (the kernel join is cells²); bucket " +
        "the values first")
    val na = meta.getAs[Long]("na"); val nb = meta.getAs[Long]("nb")
    require(na > 0L && nb > 0L, "both cohorts need rows")
    val a = cells.select(F.col("__v").as("v1"), F.col("ca").as("ca1"),
      F.col("cb").as("cb1"))
    val b = cells.select(F.col("__v").as("v2"), F.col("ca").as("ca2"),
      F.col("cb").as("cb2"))
    val dv = F.col("v1") - F.col("v2")
    val k = F.exp(-(dv * dv) / F.lit(2.0 * sigma * sigma))
    val sums = a.crossJoin(F.broadcast(b))
      .agg(F.sum(F.col("ca1") * F.col("ca2") * k).as("kxx"),
        F.sum(F.col("cb1") * F.col("cb2") * k).as("kyy"),
        F.sum(F.col("ca1") * F.col("cb2") * k).as("kxy"))
      .head()
    def r9(x: Double) = math.rint(x * 1e9) / 1e9
    val kxxm = sums.getAs[Double]("kxx") / (na.toDouble * na)
    val kyym = sums.getAs[Double]("kyy") / (nb.toDouble * nb)
    val kxym = sums.getAs[Double]("kxy") / (na.toDouble * nb)
    Seq((na, nb, sigma, r9(kxxm + kyym - 2.0 * kxym),
        r9(kxxm), r9(kyym), r9(kxym)))
      .toDF("n_a", "n_b", "sigma", "mmd2", "kxx_mean", "kyy_mean",
        "kxy_mean")
  }

  /** Two-sample Hotelling T² for a BIVARIATE mean difference — the
    * multivariate t-test that respects the correlation between the two
    * metrics (two marginal t-tests at α/2 are both leakier and blind
    * to correlated shifts): with pooled covariance S,
    *
    *   T² = (n_a·n_b/N)·dᵀS⁻¹d,   F = (N−3)/(2(N−2))·T² ~ F(2, N−3)
    *
    * and the numerator-df-2 F survival is closed form,
    * p = (1 + 2F/ν)^(−ν/2). ONE moment aggregation (counts, sums,
    * cross-products per cohort), a 2×2 Cramer inverse in column
    * arithmetic — fully SQL-replayable.
    *
    * @return one row: (n_a, n_b, d1, d2, t2, f, p_value) */
  def hotellingT2(df: DataFrame, cohortCol: String, xCol: String,
                  yCol: String, labelA: String = "a",
                  labelB: String = "b"): DataFrame = {
    require(labelA != labelB, "cohort labels must differ")
    val spark = df.sparkSession
    import spark.implicits._
    val g = F.col(cohortCol).cast("string")
    val x = F.col(xCol).cast("double")
    val y = F.col(yCol).cast("double")
    val ok = Seq(x, y).map(c => c.isNotNull && !F.isnan(c))
      .reduce(_ && _) && g.isin(labelA, labelB)
    def side(l: String, c: org.apache.spark.sql.Column) =
      F.sum(F.when(g === l, c).otherwise(0.0))
    def cnt(l: String) =
      F.sum(F.when(g === l, 1L).otherwise(0L))
    val r = df.where(ok).agg(
      cnt(labelA).as("na"), cnt(labelB).as("nb"),
      side(labelA, x).as("sxa"), side(labelA, y).as("sya"),
      side(labelA, x * x).as("sxxa"), side(labelA, y * y).as("syya"),
      side(labelA, x * y).as("sxya"),
      side(labelB, x).as("sxb"), side(labelB, y).as("syb"),
      side(labelB, x * x).as("sxxb"), side(labelB, y * y).as("syyb"),
      side(labelB, x * y).as("sxyb")).head()
    val na = r.getAs[Long]("na"); val nb = r.getAs[Long]("nb")
    require(na > 1 && nb > 1, "need at least two rows per cohort")
    val n = (na + nb).toDouble
    require(na + nb > 3, "need N > 3 for the F reference")
    def q(s: Double, sa: Double, nn: Long) = s - sa * sa / nn
    def qc(sxy: Double, sx: Double, sy: Double, nn: Long) =
      sxy - sx * sy / nn
    val mxa = r.getAs[Double]("sxa") / na
    val mya = r.getAs[Double]("sya") / na
    val mxb = r.getAs[Double]("sxb") / nb
    val myb = r.getAs[Double]("syb") / nb
    val s11 = (q(r.getAs[Double]("sxxa"), r.getAs[Double]("sxa"), na) +
      q(r.getAs[Double]("sxxb"), r.getAs[Double]("sxb"), nb)) / (n - 2.0)
    val s22 = (q(r.getAs[Double]("syya"), r.getAs[Double]("sya"), na) +
      q(r.getAs[Double]("syyb"), r.getAs[Double]("syb"), nb)) / (n - 2.0)
    val s12 = (qc(r.getAs[Double]("sxya"), r.getAs[Double]("sxa"),
      r.getAs[Double]("sya"), na) +
      qc(r.getAs[Double]("sxyb"), r.getAs[Double]("sxb"),
        r.getAs[Double]("syb"), nb)) / (n - 2.0)
    val det = s11 * s22 - s12 * s12
    require(det > 0.0, "singular pooled covariance (a metric is " +
      "constant or the two are collinear)")
    val d1 = mxa - mxb
    val d2 = mya - myb
    val quad = (s22 * d1 * d1 - 2.0 * s12 * d1 * d2 + s11 * d2 * d2) /
      det
    def r6(v: Double) = math.rint(v * 1e6) / 1e6
    val t2 = r6(na.toDouble * nb / n * quad)
    val nu = n - 3.0
    val f = r6(nu / (2.0 * (n - 2.0)) * t2)
    val p = r6(math.pow(1.0 + 2.0 * f / nu, -nu / 2.0))
    Seq((na, nb, r6(d1), r6(d2), t2, f, p))
      .toDF("n_a", "n_b", "d1", "d2", "t2", "f", "p_value")
  }

  /** Brunner–Munzel generalized Wilcoxon test (Brunner & Munzel 2000)
    * — the rank test that stays honest when the two cohorts have
    * UNEQUAL variances (the nonparametric Behrens–Fisher problem,
    * where Mann–Whitney's permutation variance is wrong): estimates
    * p̂ = P(X < Y) + ½P(X = Y) from midranks and studentizes with
    * per-sample rank variances,
    *
    *   Ŵ = n_a·n_b·(R̄_b − R̄_a) / (N·√(n_a·S_a² + n_b·S_b²)),
    *   S_k² = Σᵢ (Rᵢ − Rᵢ⁽ᵏ⁾ − R̄_k + (n_k+1)/2)² / (n_k−1)
    *
    * with Rᵢ⁽ᵏ⁾ the within-sample midranks, plus the Welch-type df.
    * Two prefix-sum fold passes over the value cells (the
    * [[mannWhitneyU]] substrate — pass 1 rank-sum means, pass 2 the
    * centered squares at the pass-1 means); large-sample normal p at
    * the 6-rounded Ŵ (use the t quantile at df for small samples —
    * documented approximation, like the MWU normal).
    *
    * @return one row: (n_a, n_b, p_hat, w, df, p_value) */
  def brunnerMunzel(df: DataFrame, cohortCol: String, valueCol: String,
                    labelA: String = "a", labelB: String = "b"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    cohortCounts(df, cohortCol, valueCol, labelA, labelB) {
        (ps, na, nb, off) =>
      require(na > 1 && nb > 1, "need at least two rows per cohort")
      val p1 = ps.walk(off) { (o, it) =>
        var cumA = o(0); var cumB = o(1)
        var sA = 0.0; var sB = 0.0
        it.foreach { case (_, ca, cb) =>
          val t = ca + cb
          val r = (cumA + cumB) + (t + 1) / 2.0
          sA += ca * r; sB += cb * r
          cumA += ca; cumB += cb
        }
        Iterator((sA, sB))
      }.collect()
      val rbar1 = p1.map(_._1).sum / na
      val rbar2 = p1.map(_._2).sum / nb
      val c1 = rbar1 - (na + 1) / 2.0
      val c2 = rbar2 - (nb + 1) / 2.0
      val p2 = ps.walk(off) { (o, it) =>
        var cumA = o(0); var cumB = o(1)
        var qA = 0.0; var qB = 0.0
        it.foreach { case (_, ca, cb) =>
          val t = ca + cb
          val r = (cumA + cumB) + (t + 1) / 2.0
          val dA = r - (cumA + (ca + 1) / 2.0) - c1
          val dB = r - (cumB + (cb + 1) / 2.0) - c2
          qA += ca * dA * dA; qB += cb * dB * dB
          cumA += ca; cumB += cb
        }
        Iterator((qA, qB))
      }.collect()
      val s1 = p2.map(_._1).sum / (na - 1.0)
      val s2 = p2.map(_._2).sum / (nb - 1.0)
      val vA = na * s1; val vB = nb * s2
      require(vA + vB > 0.0, "degenerate ranks (all values identical)")
      val nTot = (na + nb).toDouble
      def r6(x: Double) = math.rint(x * 1e6) / 1e6
      val pHat = r6((rbar2 - (nb + 1) / 2.0) / na)
      val w = r6(na.toDouble * nb * (rbar2 - rbar1) /
        (nTot * math.sqrt(vA + vB)))
      val dfW = r6((vA + vB) * (vA + vB) /
        (vA * vA / (na - 1.0) + vB * vB / (nb - 1.0)))
      val p = r6(SpecialMath.erfc(math.abs(w) / math.sqrt(2.0)))
      Seq((na, nb, pHat, w, dfW, p))
        .toDF("n_a", "n_b", "p_hat", "w", "df", "p_value")
    }
  }

  /** Cucconi two-sample location–scale test (Cucconi 1968; Marozzi
    * 2009) — ONE statistic sensitive to BOTH a mean shift and a
    * variance change, where Lepage bolts two tests together: with
    * midranks R of sample b in the pooled ordering,
    *
    *   U = (6ΣR² − n_b(N+1)(2N+1)) / √(n_a·n_b(N+1)(2N+1)(8N+11)/5),
    *   V = the same on the CONTRARY ranks N+1−R,
    *   C = (U² + V² − 2ρUV) / (2(1−ρ²)),  ρ = 2(N²−4)/((2N+1)(8N+11)) − 1
    *
    * and the asymptotic p-value is exactly exp(−C). One prefix-sum
    * fold pass over the value cells; U/V/C 6-rounded, p at the rounded
    * C (the classic no-ties null moments, evaluated on midranks —
    * documented approximation under heavy ties).
    *
    * @return one row: (n_a, n_b, u, v, rho, c, p_value) */
  def cucconiTest(df: DataFrame, cohortCol: String, valueCol: String,
                  labelA: String = "a", labelB: String = "b"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    cohortCounts(df, cohortCol, valueCol, labelA, labelB) {
        (ps, na, nb, off) =>
      val n = (na + nb).toDouble
      val parts = ps.walk(off) { (o, it) =>
        var cumA = o(0); var cumB = o(1)
        var sR2 = 0.0; var sC2 = 0.0
        it.foreach { case (_, ca, cb) =>
          val t = ca + cb
          val r = (cumA + cumB) + (t + 1) / 2.0
          val cr = n + 1.0 - r
          sR2 += cb * r * r; sC2 += cb * cr * cr
          cumA += ca; cumB += cb
        }
        Iterator((sR2, sC2))
      }.collect()
      val sR2 = parts.map(_._1).sum
      val sC2 = parts.map(_._2).sum
      val mean = nb * (n + 1.0) * (2.0 * n + 1.0)
      val sd = math.sqrt(na.toDouble * nb * (n + 1.0) *
        (2.0 * n + 1.0) * (8.0 * n + 11.0) / 5.0)
      require(sd > 0.0, "degenerate sample sizes")
      def r6(x: Double) = math.rint(x * 1e6) / 1e6
      val u = r6((6.0 * sR2 - mean) / sd)
      val v = r6((6.0 * sC2 - mean) / sd)
      val rho = r6(2.0 * (n * n - 4.0) /
        ((2.0 * n + 1.0) * (8.0 * n + 11.0)) - 1.0)
      val c = r6((u * u + v * v - 2.0 * rho * u * v) /
        (2.0 * (1.0 - rho * rho)))
      val p = r6(math.exp(-c))
      Seq((na, nb, u, v, rho, c, p))
        .toDF("n_a", "n_b", "u", "v", "rho", "c", "p_value")
    }
  }

  /** Lepage two-sample location–scale test (Lepage 1971): the sum of
    * the squared standardized Wilcoxon rank-sum (location) and
    * Ansari–Bradley (scale) statistics, D = z_W² + z_C² ~ χ²(2) under
    * the null; p = exp(−D/2) exactly. Ties are handled the honest way:
    * both statistics standardize with the PERMUTATION moments of the
    * REALIZED scores (for score s: E = n_a·Σs/N,
    * Var = n_a·n_b·(NΣs² − (Σs)²)/(N²(N−1))), which stay exact under
    * midranks — no tie-correction lookup tables. One prefix-sum fold
    * pass accumulating six score sums over the value cells; z's
    * 6-rounded before squaring.
    *
    * @return one row: (n_a, n_b, w_stat, z_w, ab_stat, z_ab, d,
    *         p_value) */
  def lepageTest(df: DataFrame, cohortCol: String, valueCol: String,
                 labelA: String = "a", labelB: String = "b"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    cohortCounts(df, cohortCol, valueCol, labelA, labelB) {
        (ps, na, nb, off) =>
      val n = (na + nb).toDouble
      val parts = ps.walk(off) { (o, it) =>
        var cumA = o(0); var cumB = o(1)
        var sR = 0.0; var sR2 = 0.0; var wA = 0.0
        var sS = 0.0; var sS2 = 0.0; var cA = 0.0
        it.foreach { case (_, ca, cb) =>
          val t = ca + cb
          val r = (cumA + cumB) + (t + 1) / 2.0
          val a = math.min(r, n + 1.0 - r)
          sR += t * r; sR2 += t * r * r; wA += ca * r
          sS += t * a; sS2 += t * a * a; cA += ca * a
          cumA += ca; cumB += cb
        }
        Iterator((sR, sR2, wA, sS, sS2, cA))
      }.collect()
      val sR = parts.map(_._1).sum; val sR2 = parts.map(_._2).sum
      val wStat = parts.map(_._3).sum
      val sS = parts.map(_._4).sum; val sS2 = parts.map(_._5).sum
      val abStat = parts.map(_._6).sum
      def r6(x: Double) = math.rint(x * 1e6) / 1e6
      def zOf(stat: Double, s1: Double, s2: Double): Double = {
        val e = na * s1 / n
        val v = na.toDouble * nb * (n * s2 - s1 * s1) /
          (n * n * (n - 1.0))
        require(v > 0.0, "degenerate scores (all values identical)")
        r6((stat - e) / math.sqrt(v))
      }
      val zW = zOf(wStat, sR, sR2)
      val zC = zOf(abStat, sS, sS2)
      val d = r6(zW * zW + zC * zC)
      val p = r6(math.exp(-d / 2.0))
      Seq((na, nb, wStat, zW, abStat, zC, d, p))
        .toDF("n_a", "n_b", "w_stat", "z_w", "ab_stat", "z_ab", "d",
          "p_value")
    }
  }

  /** Scholz–Stephens exact standard deviation of A² under H0 for k
    * samples of total size N with hCap = Σᵢ 1/nᵢ — the shared variance
    * kernel of [[adTwoSample]] and [[adKSample]]. The harmonic sums
    * h = h_{N−1} and g = Σ (h_{N−1} − h_m)/(N−m) run as an O(N) scalar
    * driver loop (N is a row COUNT — a few seconds even at 10⁹);
    * beyond 10⁸ the asymptotic h = ln N + γ, g = π²/6 forms take over,
    * whose error is below the 6-decimal output grain. */
  private def scholzStephensSigma(nTot: Long, k: Double,
                                  hCap: Double): Double = {
    val nD = nTot.toDouble
    val (h, gg) =
      if (nTot <= 100000000L) {
        var hh = 0.0; var i = 1L
        while (i < nTot) { hh += 1.0 / i; i += 1 }
        // g = Σ_{m=1}^{N-2} (h_{N-1} − h_m)/(N−m), one forward pass
        var gSum = 0.0; var hm = 0.0; var m = 1L
        while (m <= nTot - 2) {
          hm += 1.0 / m
          gSum += (hh - hm) / (nTot - m)
          m += 1
        }
        (hh, gSum)
      } else (math.log(nTot - 1.0) + 0.5772156649015329,
        math.Pi * math.Pi / 6.0)
    val av = (4.0 * gg - 6.0) * (k - 1.0) + (10.0 - 6.0 * gg) * hCap
    val bv = (2.0 * gg - 4.0) * k * k + 8.0 * h * k +
      (2.0 * gg - 14.0 * h - 4.0) * hCap - 8.0 * h + 4.0 * gg - 6.0
    val cv = (6.0 * h + 2.0 * gg - 2.0) * k * k +
      (4.0 * h - 4.0 * gg + 6.0) * k + (2.0 * h - 6.0) * hCap + 4.0 * h
    val dv = (2.0 * h + 6.0) * k * k - 4.0 * h * k
    math.sqrt(
      (av * nD * nD * nD + bv * nD * nD + cv * nD + dv) /
        ((nD - 1.0) * (nD - 2.0) * (nD - 3.0)))
  }

  /** Two-sample Anderson–Darling test (Scholz–Stephens k-sample form,
    * k = 2, midrank/tie-adjusted version A²_akN) — the tail-sensitive
    * member of the two-sample trio: [[mannWhitneyU]] sees location,
    * [[cvmTwoSample]] sees body shape, A² up-weights the tails by
    * 1/(F(1−F)), which is where training-data drift usually lives.
    *
    *   A² = (N−1)/N · Σᵢ (1/nᵢ) Σⱼ (lⱼ/N)·(N·Mᵢⱼ − nᵢ·Bⱼ)²
    *                                  / (Bⱼ(N−Bⱼ) − N·lⱼ/4)
    *
    * over distinct pooled values j with multiplicity lⱼ, Bⱼ/Mᵢⱼ the
    * pooled/per-sample midrank prefix counts (F + l/2) — every input
    * a half-integer, so the per-block terms are bit-identical in any
    * engine and the fold replays to the output rounding. The
    * standardized T = (A² − (k−1))/σ_N uses the exact Scholz–Stephens
    * variance (harmonic sums h, g computed with an O(N) scalar driver
    * loop — N = row COUNT, a few seconds even at 10⁹; beyond 10⁸ the
    * asymptotic h = ln N + γ, g = π²/6 forms are used, whose error is
    * below the 6-decimal output grain). No p-value column: the T
    * null table is the S-S interpolation table, not a special
    * function — threshold T against it (T ≥ 1.960 ⇒ p ≤ 0.05); the
    * spec pins a fully hand-computed example (A² = 19/11, σ² = 2/9).
    *
    * Scale shape: one per-distinct-value aggregation, then the
    * [[PrefixSum]] walk — driver traffic O(#partitions).
    *
    * @return one row: (ad_stat, sigma, t_stat, n_a, n_b), 6-rounded;
    *         t from the rounded pieces so engines agree exactly */
  def adTwoSample(df: DataFrame, cohortCol: String, valueCol: String,
                  labelA: String = "a", labelB: String = "b"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    cohortCounts(df, cohortCol, valueCol, labelA, labelB) {
        (ps, na, nb, off) =>
      val nTot = na + nb
      require(nTot >= 4, "Anderson-Darling needs N >= 4")
      val nD = nTot.toDouble
      val acc = ps.walk(off) { (o, it) =>
        var fa = o(0); var fb = o(1)
        var sa = 0.0; var sb = 0.0
        it.foreach { case (_, ca, cb) =>
          val l = (ca + cb).toDouble
          if (l < nD) { // l == N (single distinct value) is degenerate
            val bj = (fa + fb) + l / 2.0
            val den = bj * (nD - bj) - nD * l / 4.0
            val ma = fa + ca / 2.0
            val mb = fb + cb / 2.0
            val da = nD * ma - na * bj
            val db = nD * mb - nb * bj
            sa += l / nD * (da * da) / den
            sb += l / nD * (db * db) / den
          }
          fa += ca; fb += cb
        }
        Iterator((sa, sb))
      }.collect()
      val a2 = (nD - 1.0) / nD *
        (acc.map(_._1).sum / na + acc.map(_._2).sum / nb)
      val sigma = scholzStephensSigma(nTot, 2.0, 1.0 / na + 1.0 / nb)
      val k = 2.0
      val a2r = math.rint(a2 * 1e6) / 1e6
      val sr = math.rint(sigma * 1e6) / 1e6
      val tr = math.rint((a2r - (k - 1.0)) / sr * 1e6) / 1e6
      Seq((a2r, sr, tr, na, nb))
        .toDF("ad_stat", "sigma", "t_stat", "n_a", "n_b")
    }
  }

  /** k-sample Anderson–Darling test (Scholz–Stephens 1987, the
    * midrank/tie-adjusted A²_akN) — [[adTwoSample]] generalized to
    * EVERY distinct cohort label at once: the multi-segment drift gate
    * next to the ANOVA/Kruskal–Wallis location tests when the question
    * is "do these k slices share ONE distribution", tails included.
    *
    *   A² = (N−1)/N · Σᵢ (1/nᵢ) Σⱼ (lⱼ/N)·(N·Mᵢⱼ − nᵢ·Bⱼ)²
    *                                  / (Bⱼ(N−Bⱼ) − N·lⱼ/4)
    *
    * over distinct pooled values j with multiplicity lⱼ — the same
    * per-block half-integer construction as the two-sample form, so
    * every term replays bit-identically in any engine; the k = 2 case
    * is ALGEBRAICALLY the [[adTwoSample]] statistic (pinned in the
    * spec). T = (A² − (k−1))/σ_N with the exact Scholz–Stephens
    * variance via [[scholzStephensSigma]]; threshold T against the
    * S-S table (k−1 = 3: T ≥ 1.915 ⇒ p ≤ 0.05).
    *
    * The cohort label set is BOUNDED (each cohort is a prefix-sum
    * lane): more than `maxCohorts` distinct labels raises loudly —
    * bucket the labels first if the segmentation is high-cardinality.
    *
    * Scale shape: one per-distinct-value aggregation with k count
    * lanes, then the k-lane [[PrefixSum]] walk — driver traffic
    * O(k · #partitions).
    *
    * @return one row: (n_cohorts, n_total, ad_stat, sigma, t_stat),
    *         statistics 6-rounded, t from the rounded pieces */
  def adKSample(df: DataFrame, cohortCol: String, valueCol: String,
                maxCohorts: Int = 16): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val g = F.col(cohortCol).cast("string")
    val v = F.col(valueCol).cast("double")
    val clean = df.where(g.isNotNull && v.isNotNull && !F.isnan(v))
      .select(g.as("__g"), v.as("__v"))
    val labels = clean.select("__g").distinct().orderBy("__g")
      .as[String].collect()
    val k = labels.length
    require(k >= 2, s"need at least 2 cohorts, got $k")
    require(k <= maxCohorts,
      s"$k distinct cohort labels — the Scholz-Stephens fold carries " +
        s"one prefix-sum lane per cohort and is built for a BOUNDED " +
        s"label set (maxCohorts=$maxCohorts); bucket the labels first")
    val countCols = labels.zipWithIndex.map { case (l, i) =>
      F.sum(F.when(F.col("__g") === l, 1L).otherwise(0L)).as(s"__c$i")
    }
    val counts = clean.groupBy("__v")
      .agg(countCols.head, countCols.tail: _*)
    // one prefix-sum lane per cohort
    PrefixSum(counts, F.col("__v")) { ps =>
      val offs = ps.offsets(k) { (s, r) =>
        var j = 0; while (j < k) { s(j) += r.getLong(j + 1); j += 1 }
      }
      val ns = offs.last
      require(ns.forall(_ > 0L), "every cohort needs rows")
      val nTot = ns.sum
      require(nTot >= 4, "Anderson-Darling needs N >= 4")
      val nD = nTot.toDouble
      val acc = ps.walk(offs) { (o, it) =>
        val f = o.clone()
        val s = new Array[Double](k)
        it.foreach { r =>
          val cs = Array.tabulate(k)(j => r.getLong(j + 1))
          var l = 0L
          var j = 0; while (j < k) { l += cs(j); j += 1 }
          if (l < nTot) { // l == N (single distinct value) is degenerate
            var fSum = 0L
            j = 0; while (j < k) { fSum += f(j); j += 1 }
            val lD = l.toDouble
            val bj = fSum + lD / 2.0
            val den = bj * (nD - bj) - nD * lD / 4.0
            j = 0
            while (j < k) {
              val mj = f(j) + cs(j) / 2.0
              val dj = nD * mj - ns(j) * bj
              s(j) += lD / nD * (dj * dj) / den
              f(j) += cs(j)
              j += 1
            }
          } else {
            j = 0; while (j < k) { f(j) += cs(j); j += 1 }
          }
        }
        Iterator(s)
      }.collect()
      val si = Array.tabulate(k)(j => acc.map(_(j)).sum)
      // Σᵢ sᵢ/nᵢ as a left fold in label order (the oracle's shape)
      val inner = labels.indices.foldLeft(0.0)((a, j) => a + si(j) / ns(j))
      val a2 = (nD - 1.0) / nD * inner
      val hCap = labels.indices.foldLeft(0.0)((a, j) => a + 1.0 / ns(j))
      val sigma = scholzStephensSigma(nTot, k.toDouble, hCap)
      val a2r = math.rint(a2 * 1e6) / 1e6
      val sr = math.rint(sigma * 1e6) / 1e6
      val tr = math.rint((a2r - (k - 1.0)) / sr * 1e6) / 1e6
      Seq((k.toLong, nTot, a2r, sr, tr))
        .toDF("n_cohorts", "n_total", "ad_stat", "sigma", "t_stat")
    }
  }

  /** Acklam's piecewise-rational inverse normal CDF as a COLUMN
    * expression — deliberately NOT [[SpecialMath.normPpf]] (whose
    * erfInv kernel has no SQL twin): [[shapiroWilk]]'s oracle replays
    * this exact piecewise-rational text in DuckDB, and the engines
    * agree bit-for-bit only when the expression trees match. Max
    * |ε| ≈ 1.15e−9, far below the 1e−12 grain the caller quantizes
    * to. Source: P. J. Acklam (2003), public-domain algorithm. */
  private def acklamProbit(p: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val qc = p - F.lit(0.5)
    val r = qc * qc
    val central =
      (((((F.lit(-3.969683028665376e+01) * r +
        F.lit(2.209460984245205e+02)) * r +
        F.lit(-2.759285104469687e+02)) * r +
        F.lit(1.383577518672690e+02)) * r +
        F.lit(-3.066479806614716e+01)) * r +
        F.lit(2.506628277459239e+00)) * qc /
      (((((F.lit(-5.447609879822406e+01) * r +
        F.lit(1.615858368580409e+02)) * r +
        F.lit(-1.556989798598866e+02)) * r +
        F.lit(6.680131188771972e+01)) * r +
        F.lit(-1.328068155288572e+01)) * r + F.lit(1.0))
    def tail(q: org.apache.spark.sql.Column) =
      (((((F.lit(-7.784894002430293e-03) * q +
        F.lit(-3.223964580411365e-01)) * q +
        F.lit(-2.400758277161838e+00)) * q +
        F.lit(-2.549732539343734e+00)) * q +
        F.lit(4.374664141464968e+00)) * q +
        F.lit(2.938163982698783e+00)) /
      ((((F.lit(7.784695709041462e-03) * q +
        F.lit(3.224671290700398e-01)) * q +
        F.lit(2.445134137142996e+00)) * q +
        F.lit(3.754408661907416e+00)) * q + F.lit(1.0))
    F.when(p < F.lit(0.02425),
        tail(F.sqrt(F.lit(-2.0) * F.log(p))))
      .when(p > F.lit(0.97575),
        -tail(F.sqrt(F.lit(-2.0) * F.log(F.lit(1.0) - p))))
      .otherwise(central)
  }

  /** Shapiro–Wilk normality test (Royston 1995, AS R94) — the
    * highest-power omnibus normality test on the shelf and the one
    * users reach for first (`scipy.stats.shapiro`), next to the
    * moment-based [[dagostinoK2]] and the EDF-based 1-sample A-D:
    *
    *   W = (Σᵢ aᵢ x₍ᵢ₎)² / Σᵢ (xᵢ − x̄)²
    *
    * with weights from the expected normal order statistics
    * mᵢ = Φ⁻¹((i − 3/8)/(n + 1/4)) (Blom scores through the Acklam
    * probit, 1e−12-quantized so both engines see the same mᵢ), the
    * Royston polynomial corrections to a_n and a_{n−1} in 1/√n, and
    * the renormalizing φ. p uses Royston's n ≥ 12 transform:
    * z = (ln(1−W) − μ(ln n))/σ(ln n), p = upper normal tail at the
    * 6-rounded z via the Cody erfc.
    *
    * BOUNDED-SAMPLE CONTRACT: the test itself saturates on large n
    * (every real dataset rejects normality at n → ∞; R caps at 5000)
    * — n outside [12, 5000] raises loudly; sample deterministically
    * first. Dot products accumulate as DECIMAL(38,12) so the sums are
    * order-independent and replay exactly.
    *
    * @return one row: (n, w_stat, z_stat, p_value), 6-rounded */
  def shapiroWilk(df: DataFrame, valueCol: String): DataFrame = Persisted { scope =>
    val spark = df.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val v = F.col(valueCol).cast("double")
    val clean = scope.checkpoint(df.where(v.isNotNull && !F.isnan(v))
      .select(v.as("__v")))
    val n = clean.count()
    require(n >= 12L && n <= 5000L,
      s"Shapiro-Wilk runs on 12 <= n <= 5000 (Royston's approximation" +
        s" range; the test saturates beyond it), got $n — sample " +
        "deterministically first")
    val nD = n.toDouble
    val w = Window.partitionBy(F.lit(0)).orderBy("__v")
    val pCol = (F.col("__i").cast("double") - F.lit(0.375)) /
      F.lit(nD + 0.25)
    val base = scope.checkpoint(clean.repartition(1)
      .withColumn("__i", F.row_number().over(w).cast("long"))
      .withColumn("__m0", acklamProbit(pCol))
      .withColumn("__m", F.expr("rint(__m0 * 1e12) / 1e12")))
    val r1 = base.agg(
      F.sum((F.col("__m") * F.col("__m")).cast("decimal(38,12)"))
        .cast("double").as("sm2"),
      F.max(F.when(F.col("__i") === n, F.col("__m"))).as("mn"),
      F.max(F.when(F.col("__i") === n - 1L, F.col("__m"))).as("mn1"),
      F.sum(F.col("__v").cast("decimal(38,6)")).cast("double").as("sx"),
      F.sum((F.col("__v") * F.col("__v")).cast("decimal(38,6)"))
        .cast("double").as("sxx")).head()
    val sm2 = r1.getAs[Double]("sm2")
    val mn = r1.getAs[Double]("mn")
    val mn1 = r1.getAs[Double]("mn1")
    val sx = r1.getAs[Double]("sx")
    val sxx = r1.getAs[Double]("sxx")
    // Royston's corrected end weights in rsn = 1/sqrt(n)
    val rsn = 1.0 / math.sqrt(nD)
    val aN0 = ((((-2.706056 * rsn + 4.434685) * rsn - 2.071190) * rsn -
      0.147981) * rsn + 0.221157) * rsn + mn / math.sqrt(sm2)
    val aN10 = ((((-3.582633 * rsn + 5.682633) * rsn - 1.752461) * rsn -
      0.293762) * rsn + 0.042981) * rsn + mn1 / math.sqrt(sm2)
    val phi = (sm2 - 2.0 * mn * mn - 2.0 * mn1 * mn1) /
      (1.0 - 2.0 * aN0 * aN0 - 2.0 * aN10 * aN10)
    require(phi > 0.0, "degenerate Royston renormalizer (phi <= 0)")
    val aN = math.rint(aN0 * 1e12) / 1e12
    val aN1 = math.rint(aN10 * 1e12) / 1e12
    val sphi = math.rint(math.sqrt(phi) * 1e12) / 1e12
    val cCol = F.when(F.col("__i") === 1L, F.lit(-aN))
      .when(F.col("__i") === 2L, F.lit(-aN1))
      .when(F.col("__i") === n, F.lit(aN))
      .when(F.col("__i") === n - 1L, F.lit(aN1))
      .otherwise(F.expr(s"rint(__m / $sphi * 1e12) / 1e12"))
    val s = base.agg(
      F.sum((cCol * F.col("__v")).cast("decimal(38,12)"))
        .cast("double").as("s")).head().getAs[Double]("s")
    val ssd = sxx - sx * sx / nD
    require(ssd > 0.0, "zero variance (all values identical)")
    val wStat = s * s / ssd
    require(wStat < 1.0,
      "W rounded to 1 — the sample IS the normal quantile grid; the " +
        "log(1-W) transform is undefined")
    val lnn = math.log(nD)
    val mu = ((0.0038915 * lnn - 0.083751) * lnn - 0.31082) * lnn -
      1.5861
    val sg = math.exp((0.0030302 * lnn - 0.082676) * lnn - 0.4803)
    val z = math.rint((math.log(1.0 - wStat) - mu) / sg * 1e6) / 1e6 +
      0.0
    val p = if (z >= 0.0)
      0.5 * SpecialMath.erfc(z / math.sqrt(2.0))
    else 1.0 - 0.5 * SpecialMath.erfc(-z / math.sqrt(2.0))
    Seq((n, math.rint(wStat * 1e6) / 1e6, z,
      math.rint(p * 1e6) / 1e6))
      .toDF("n", "w_stat", "z_stat", "p_value")
  }

  /** Hodges–Lehmann two-sample shift estimator — the EFFECT SIZE the
    * rank tests leave out: [[mannWhitneyU]] says "B is shifted from
    * A"; HL says BY HOW MUCH, robustly:
    *
    *   Δ̂ = median{ b − a : (a, b) ∈ A × B }
    *
    * computed exactly over the value CELLS (each (a, b) cell pair
    * carries weight c_a·c_b, so the pair "join" is |cells_A|×|cells_B|,
    * never n²), with the type-1 weighted-median pick (smallest diff
    * whose cumulative weight reaches ⌈W/2⌉) — deterministic under
    * ties, bit-replayable. LOUD cell-product guard: quantize
    * continuous inputs first.
    *
    * @return one row: (n_a, n_b, hl_shift) */
  def hodgesLehmannShift(df: DataFrame, cohortCol: String,
                         valueCol: String, labelA: String = "a",
                         labelB: String = "b",
                         maxCellProduct: Long = 4194304L): DataFrame = Persisted { scope =>
    require(labelA != labelB, "cohort labels must differ")
    val spark = df.sparkSession
    import spark.implicits._
    val g = F.col(cohortCol).cast("string")
    val v = F.col(valueCol).cast("double")
    val clean = df
      .where(g.isin(labelA, labelB) && v.isNotNull && !F.isnan(v))
      .select(g.as("__g"), v.as("__v"))
    val cells = scope.checkpoint(clean.groupBy("__g", "__v")
      .agg(F.count(F.lit(1)).as("__c")))
    val counts = cells.groupBy("__g")
      .agg(F.count(F.lit(1)).as("cells"), F.sum("__c").as("n"))
      .collect().map(r => r.getAs[String]("__g") ->
        (r.getAs[Long]("cells"), r.getAs[Long]("n"))).toMap
    require(counts.contains(labelA) && counts.contains(labelB),
      "both cohorts need rows")
    val (cellsA, na) = counts(labelA)
    val (cellsB, nb) = counts(labelB)
    require(cellsA * cellsB <= maxCellProduct,
      s"$cellsA x $cellsB value cells — the HL pair frame is the cell " +
        s"PRODUCT (max $maxCellProduct); quantize the values first")
    val a = cells.where(F.col("__g") === labelA)
      .select(F.col("__v").as("va"), F.col("__c").as("ca"))
    val b = cells.where(F.col("__g") === labelB)
      .select(F.col("__v").as("vb"), F.col("__c").as("cb"))
    val w = na * nb
    val target = (w + 1L) / 2L
    import org.apache.spark.sql.expressions.Window
    val hl = a.join(F.broadcast(b))
      .groupBy((F.col("vb") - F.col("va")).as("__d"))
      .agg(F.sum(F.col("ca") * F.col("cb")).as("__w"))
      .repartition(1)
      .withColumn("__cum", F.sum("__w").over(
        Window.partitionBy(F.lit(0)).orderBy("__d")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .where(F.col("__cum") >= target)
      .agg(F.min("__d").as("hl"))
      .head().getAs[Double]("hl")
    Seq((na, nb, hl)).toDF("n_a", "n_b", "hl_shift")
  }

  /** Doksum shift function — WHERE do two distributions differ:
    * [[hodgesLehmannShift]] gives one number; the shift function
    * Δ(q) = Q_B(q) − Q_A(q) at the deciles shows whether B is shifted
    * uniformly, stretched in the tails, or compressed in the middle
    * (the "is the new pipeline only better for long documents"
    * question). Quantiles are the EXACT type-1 picks over per-cohort
    * value cells (smallest value whose cumulative count reaches
    * ⌈q·n⌉) — integer thresholds, bit-replayable, tie-deterministic.
    * One cells aggregation + per-cohort cumulative windows.
    *
    * @return 9 rows: (quantile, q_a, q_b, shift), quantile = 0.1..0.9 */
  def shiftFunction(df: DataFrame, cohortCol: String, valueCol: String,
                    labelA: String = "a", labelB: String = "b"): DataFrame = {
    require(labelA != labelB, "cohort labels must differ")
    val spark = df.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val g = F.col(cohortCol).cast("string")
    val v = F.col(valueCol).cast("double")
    val cells = df
      .where(g.isin(labelA, labelB) && v.isNotNull && !F.isnan(v))
      .groupBy(g.as("__g"), v.as("__v"))
      .agg(F.count(F.lit(1)).as("__c"))
    val wCum = Window.partitionBy("__g").orderBy("__v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy("__g")
    val withCum = cells
      .withColumn("__cum", F.sum("__c").over(wCum))
      .withColumn("__n", F.sum("__c").over(wTot))
    val qs = (1 to 9).map(_ / 10.0)
    val qDim = qs.toDF("quantile")
    // type-1: smallest v with cum >= ceil(q * n)
    val picks = withCum.join(F.broadcast(qDim),
        F.col("__cum") >= F.ceil(F.col("quantile") * F.col("__n")))
      .groupBy("__g", "quantile").agg(F.min("__v").as("__q"))
    val a = picks.where(F.col("__g") === labelA)
      .select(F.col("quantile"), F.col("__q").as("q_a"))
    val b = picks.where(F.col("__g") === labelB)
      .select(F.col("quantile"), F.col("__q").as("q_b"))
    a.join(b, Seq("quantile"))
      .select(F.col("quantile"), F.col("q_a"), F.col("q_b"),
        (F.col("q_b") - F.col("q_a")).as("shift"))
      .orderBy("quantile")
  }

  /** Paired t-test on two columns of the SAME rows — before/after,
    * model-A-vs-model-B on one eval set, same-user week-over-week:
    * the pairing removes between-unit variance that an unpaired test
    * drowns in. d = a − b per row; t = d̄/(s_d/√n), df = n−1, with
    * Cohen's d_z = d̄/s_d as the effect size. ONE moment aggregation
    * of explicit sums; p is two-sided from the t CDF at the 6-rounded
    * (t, df).
    *
    * @return one row: (n, mean_diff, sd_diff, t_stat, dof, p_value,
    *         cohen_dz) */
  def pairedTTest(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val a = F.col(aCol).cast("double")
    val b = F.col(bCol).cast("double")
    val d = a - b
    val agged = df
      .where(a.isNotNull && !F.isnan(a) && b.isNotNull && !F.isnan(b))
      .agg(F.count(F.lit(1)).as("n"), F.sum(d).as("sd"),
        F.sum(d * d).as("sdd"))
      .head()
    val n = agged.getAs[Long]("n")
    require(n >= 2L, "need at least two complete pairs")
    val nD = n.toDouble
    val md = agged.getAs[Double]("sd") / nD
    val s2 = (agged.getAs[Double]("sdd") - nD * md * md) / (nD - 1.0)
    require(s2 > 0.0, "zero difference variance (all pairs identical)")
    val s = math.sqrt(s2)
    val t = md / (s / math.sqrt(nD))
    val tr = math.rint(t * 1e6) / 1e6
    val p = math.rint(2.0 * (1.0 - SpecialMath.tCdf(nD - 1.0,
      math.abs(tr))) * 1e6) / 1e6
    val spark = df.sparkSession
    import spark.implicits._
    Seq((n, math.rint(md * 1e6) / 1e6, math.rint(s * 1e6) / 1e6, tr,
      n - 1L, p, math.rint(md / s * 1e6) / 1e6))
      .toDF("n", "mean_diff", "sd_diff", "t_stat", "dof", "p_value",
        "cohen_dz")
  }

  /** Cronbach's alpha — internal consistency of k item columns (do
    * these quality sub-scores measure ONE underlying construct, or
    * should the composite be split):
    *
    *   α = k/(k−1) · (1 − Σᵢ s²ᵢ / s²_total)
    *
    * with sample variances and the row total Σᵢ xᵢ. Listwise-complete
    * rows, ONE aggregation of explicit sums — replayable.
    *
    * @return one row: (n, k, alpha, item_var_sum, total_var) */
  /** Split-half reliability with the Spearman–Brown step-up — the
    * classic internal-consistency check next to [[cronbachAlpha]]
    * when the "items" are repeated OBSERVATIONS per unit rather than
    * fixed columns: each unit's measurements (ordered by `orderCol`,
    * which the caller keeps unique per unit) split into odd/even
    * halves, the halves' sums correlate across units, and
    *
    *   SB = 2r / (1 + r)
    *
    * estimates the full-length reliability. Units with fewer than two
    * measurements drop (no pair to split). One keyed window + two
    * aggregations; r from exact moment sums, 6-rounded.
    *
    * @return one row: (n_units, r_halves, spearman_brown) */
  def splitHalfReliability(df: DataFrame, unitCol: String,
                           orderCol: String,
                           valueCol: String): DataFrame = {
    val v = F.col(valueCol).cast("double")
    val ok = F.col(unitCol).isNotNull && v.isNotNull && !F.isnan(v)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__u").orderBy("__o")
    val halves = df.where(ok)
      .select(F.col(unitCol).as("__u"),
        F.col(orderCol).cast("double").as("__o"), v.as("__v"))
      .withColumn("__rn", F.row_number().over(w))
      .groupBy("__u")
      .agg(F.count(F.lit(1)).as("__m"),
        F.sum(F.when(F.col("__rn") % 2 === 1, F.col("__v"))
          .otherwise(0.0)).as("__odd"),
        F.sum(F.when(F.col("__rn") % 2 === 0, F.col("__v"))
          .otherwise(0.0)).as("__even"))
      .where(F.col("__m") >= 2L)
    val r = halves.agg(
      F.count(F.lit(1)).as("n"),
      F.sum("__odd").as("so"), F.sum("__even").as("se"),
      F.sum(F.col("__odd") * F.col("__odd")).as("soo"),
      F.sum(F.col("__even") * F.col("__even")).as("see"),
      F.sum(F.col("__odd") * F.col("__even")).as("soe"))
    val n = F.col("n").cast("double")
    val cov = F.col("soe") - F.col("so") * F.col("se") / n
    val vo = F.col("soo") - F.col("so") * F.col("so") / n
    val ve = F.col("see") - F.col("se") * F.col("se") / n
    val corr = cov / F.sqrt(vo * ve)
    r.where(F.col("n") > 1L && vo * ve > 0.0)
      .select(F.col("n").as("n_units"),
        F.round(corr, 6).as("r_halves"),
        F.round(F.lit(2.0) * corr / (F.lit(1.0) + corr), 6)
          .as("spearman_brown"))
  }

  def cronbachAlpha(df: DataFrame, itemCols: Seq[String]): DataFrame = {
    require(itemCols.length >= 2, "need at least two items")
    val k = itemCols.length
    val items = itemCols.map(c => F.col(c).cast("double"))
    val ok = items.map(v => v.isNotNull && !F.isnan(v)).reduce(_ && _)
    val total = items.reduce(_ + _)
    val aggCols = itemCols.indices.flatMap { i =>
      Seq(F.sum(items(i)).as(s"s$i"),
        F.sum(items(i) * items(i)).as(s"q$i"))
    } ++ Seq(F.sum(total).as("st"), F.sum(total * total).as("qt"),
      F.count(F.lit(1)).as("n"))
    val agged = df.where(ok).agg(aggCols.head, aggCols.tail: _*)
    val n = F.col("n").cast("double")
    def sampleVar(s: org.apache.spark.sql.Column,
                  q: org.apache.spark.sql.Column) =
      (q - n * (s / n) * (s / n)) / (n - 1.0)
    val itemVarSum = itemCols.indices
      .map(i => sampleVar(F.col(s"s$i"), F.col(s"q$i")))
      .reduce(_ + _)
    val totalVar = sampleVar(F.col("st"), F.col("qt"))
    val alpha = F.lit(k.toDouble / (k - 1.0)) *
      (F.lit(1.0) - itemVarSum / totalVar)
    agged
      .where(F.col("n") >= 2L && totalVar > 0.0)
      .select(F.col("n"), F.lit(k.toLong).as("k"),
        F.round(alpha, 6).as("alpha"),
        F.round(itemVarSum, 6).as("item_var_sum"),
        F.round(totalVar, 6).as("total_var"))
  }

  /** Weighted mean/variance per group under row weights — the summary
    * layer for reweighted corpora ([[graft.operators.Weighting
    * .ipfWeights]] fixes the mix; this reads the metrics off the
    * fixed mix). Frequency-weight convention:
    *
    *   x̄w = Σwx/Σw,  σ²w = Σwx²/Σw − x̄w²
    *
    * plus the effective sample size (Σw)²/Σw² — the honest n behind a
    * weighted estimate. ONE aggregation of explicit weighted sums.
    * Rows with null/NaN/negative weight are excluded.
    *
    * @return one row per group: (groupCols..., n, w_sum, ess, mean_w,
    *         var_w, std_w) */
  def weightedMomentsByGroup(df: DataFrame, groupCols: Seq[String],
                             valueCol: String,
                             weightCol: String): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    val x = F.col(valueCol).cast("double")
    val w = F.col(weightCol).cast("double")
    val clean = df.where(x.isNotNull && !F.isnan(x) &&
      w.isNotNull && !F.isnan(w) && w >= 0.0)
    val agged = clean.groupBy(groupCols.map(F.col): _*).agg(
      F.count(F.lit(1)).as("n"),
      F.sum(w).as("sw"), F.sum(w * w).as("sww"),
      F.sum(w * x).as("swx"),
      F.sum(w * x * x).as("swxx"))
    val sw = F.col("sw")
    val mw = F.col("swx") / sw
    val vw = F.col("swxx") / sw - mw * mw
    agged.where(sw > 0.0)
      .select(groupCols.map(F.col) ++ Seq(F.col("n"),
        F.round(sw, 6).as("w_sum"),
        F.when(F.col("sww") > 0.0,
          F.round(sw * sw / F.col("sww"), 6)).as("ess"),
        F.round(mw, 6).as("mean_w"),
        F.round(vw, 6).as("var_w"),
        F.when(vw >= 0.0, F.round(F.sqrt(vw), 6)).as("std_w")): _*)
  }

  /** Yuen's trimmed-mean t-test — the robust two-sample location test
    * ("did the experiment move typical spend", with the heavy tail
    * that wrecks Welch's t trimmed away):
    *
    *   t = (x̄t_a − x̄t_b) / √(d_a + d_b),
    *   d = s²_w·(n−1) / (h·(h−1)),  h = n − 2g,  g = ⌊trim·n⌋
    *
    * with s²_w the WINSORIZED variance (values clamped at the g+1-th
    * and (n−g)-th order statistics — Yuen 1974's pairing of trimmed
    * location with winsorized spread) and Welch–Satterthwaite df. Two
    * passes over the distinct-value cells frame: cumulative ranks
    * locate the clamp bounds exactly, then per-cell integer overlap
    * arithmetic folds the trimmed sum and the winsorized moments —
    * every count is exact, so the statistic replays. p is two-sided
    * from the t CDF at the 6-rounded (t, df).
    *
    * @return one row: (mean_trim_a, mean_trim_b, diff, t_stat, dof,
    *         p_value, n_a, n_b, h_a, h_b) */
  def yuenTTest(df: DataFrame, cohortCol: String, valueCol: String,
                trim: Double = 0.2,
                labelA: String = "a", labelB: String = "b"): DataFrame = Persisted { scope =>
    require(trim > 0.0 && trim < 0.5, "trim must be in (0, 0.5)")
    require(labelA != labelB, "cohort labels must differ")
    import org.apache.spark.sql.expressions.Window
    val g = F.col(cohortCol).cast("string")
    val v = F.col(valueCol).cast("double")
    val cells = df
      .where(v.isNotNull && !F.isnan(v) && g.isin(labelA, labelB))
      .groupBy(g.as("__g"), v.as("__v"))
      .agg(F.count(F.lit(1)).as("__c"))
    val wg = Window.partitionBy("__g")
    val wCum = Window.partitionBy("__g").orderBy("__v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // the cumulative frame feeds BOTH the bounds aggregation and the
    // trimmed-sum scan below; Spark does not dedupe common subplans, so
    // without a persist the cells aggregation AND its per-cohort window
    // sort execute twice inside the single collect job (measured round
    // 14: ~40% of q_yuen's wall). Cells-frame-sized.
    val withCum = scope.cache(cells
      .withColumn("__n", F.sum("__c").over(wg))
      .withColumn("__cum", F.sum("__c").over(wCum)))
    val gCut = F.floor(F.col("__n").cast("double") * trim)
    // clamp bounds: the (g+1)-th and (n−g)-th order statistics
    val bounds = withCum
      .withColumn("__gc", gCut)
      .groupBy("__g")
      .agg(F.max("__n").as("n"), F.max("__gc").as("gc"),
        F.min(F.when(F.col("__cum") >= F.col("__gc") + 1L,
          F.col("__v"))).as("lo"),
        F.min(F.when(F.col("__cum") >= F.col("__n") - F.col("__gc"),
          F.col("__v"))).as("hi"))
    val joined = withCum.join(F.broadcast(bounds), "__g")
    // trimmed sum: copies of each distinct value inside rank band
    // (g, n−g] — exact integer overlap of [cum−c+1, cum] with it
    val contrib = F.greatest(F.lit(0L),
      F.least(F.col("__cum"), F.col("n") - F.col("gc")) -
        F.greatest(F.col("__cum") - F.col("__c"), F.col("gc")))
    val wv = F.least(F.greatest(F.col("__v"), F.col("lo")), F.col("hi"))
    val agg = joined.groupBy("__g").agg(
      F.max("n").as("n"), F.max("gc").as("gc"),
      F.sum(F.col("__v") * contrib.cast("double")).as("ts"),
      F.sum(wv * F.col("__c")).as("ws"),
      F.sum(wv * wv * F.col("__c")).as("wq"))
    val spark = df.sparkSession
    val rows = agg.collect().map { r =>
      r.getAs[String]("__g") -> (r.getAs[Long]("n"), r.getAs[Long]("gc"),
        r.getAs[Double]("ts"), r.getAs[Double]("ws"),
        r.getAs[Double]("wq"))
    }.toMap
    require(rows.contains(labelA) && rows.contains(labelB),
      "both cohorts need rows")
    def side(l: String): (Long, Long, Double, Double) = {
      val (n, gc, ts, ws, wq) = rows(l)
      val h = n - 2L * gc
      require(h >= 2L, s"cohort $l too small after trimming")
      val mt = ts / h
      val wbar = ws / n
      val s2w = (wq - n * wbar * wbar) / (n - 1.0)
      val d = s2w * (n - 1.0) / (h.toDouble * (h - 1.0))
      (n, h, mt, d)
    }
    val (na, ha, mta, da) = side(labelA)
    val (nb, hb, mtb, db) = side(labelB)
    val t = (mta - mtb) / math.sqrt(da + db)
    val dof = (da + db) * (da + db) /
      (da * da / (ha - 1.0) + db * db / (hb - 1.0))
    val tr = math.rint(t * 1e6) / 1e6
    val dfr = math.rint(dof * 1e6) / 1e6
    val p = math.rint(2.0 * (1.0 - SpecialMath.tCdf(dfr, math.abs(tr)))
      * 1e6) / 1e6
    import spark.implicits._
    Seq((math.rint(mta * 1e6) / 1e6, math.rint(mtb * 1e6) / 1e6,
      math.rint((mta - mtb) * 1e6) / 1e6, tr, dfr, p, na, nb, ha, hb))
      .toDF("mean_trim_a", "mean_trim_b", "diff", "t_stat", "dof",
        "p_value", "n_a", "n_b", "h_a", "h_b")
  }

  /** Chi-squared homogeneity test of two categorical PMFs: over the
    * union support, X² = Σ_cells Σ_{g∈{a,b}} (O_gc − E_gc)²/E_gc with
    * E_gc = n_g·c_c/N, df = cells − 1, p = Q(df/2, X²/2) (regularized
    * upper incomplete gamma) evaluated at the 6-decimal-ROUNDED X².
    * Intended for categorical/binned columns (the cells frame is the
    * aggregation state — one row per distinct value).
    *
    * @return one row: (chi2, dof, p_value, n_a, n_b, n_cells) */
  def chiSquareTwoSample(df: DataFrame, cohortCol: String, valueCol: String,
                         labelA: String = "a", labelB: String = "b"): DataFrame = {
    require(labelA != labelB, "cohort labels must differ")
    val spark = df.sparkSession
    import spark.implicits._
    val cells = df
      .select(F.col(cohortCol).cast("string").as("g"), F.col(valueCol).as("v"))
      .where(F.col("v").isNotNull && F.col("g").isin(labelA, labelB))
      .groupBy("v").agg(
        F.sum(F.when(F.col("g") === labelA, 1L).otherwise(0L)).as("ca"),
        F.sum(F.when(F.col("g") === labelB, 1L).otherwise(0L)).as("cb"))
    val head = cells.agg(F.sum("ca"), F.sum("cb"), F.count(F.lit(1))).head()
    require(!head.isNullAt(0) && head.getLong(0) > 0 && head.getLong(1) > 0,
      "both cohorts need rows")
    val na = head.getLong(0); val nb = head.getLong(1)
    val nCells = head.getLong(2)
    require(nCells >= 2, "need at least two cells")
    val n = (na + nb).toDouble
    val ea = F.lit(na.toDouble) * (F.col("ca") + F.col("cb")) / F.lit(n)
    val eb = F.lit(nb.toDouble) * (F.col("ca") + F.col("cb")) / F.lit(n)
    val chi2 = cells.agg(F.sum(
      (F.col("ca") - ea) * (F.col("ca") - ea) / ea +
      (F.col("cb") - eb) * (F.col("cb") - eb) / eb)).head().getDouble(0)
    val dof = nCells - 1L
    val chiR = math.rint(chi2 * 1e6) / 1e6
    val p = math.rint(SpecialMath.gammaIncC(dof / 2.0, chiR / 2.0) * 1e6) / 1e6
    Seq((chiR, dof, p, na, nb, nCells))
      .toDF("chi2", "dof", "p_value", "n_a", "n_b", "n_cells")
  }

  /** Per-GROUP chi-squared uniformity test over a SHARED categorical
    * support — "which tenants' label mix deviates from uniform?" asked
    * of every group in one aggregation. The support is the distinct
    * values of `valueCol` across the WHOLE frame (k cells, so every
    * group is tested against the same hypothesis and df = k−1 is
    * shared); cells a group never produced contribute their full
    * expected mass: X²_g = Σ_observed (O − n_g/k)²/(n_g/k) +
    * (k − k_g)·(n_g/k).
    *
    * Scale shape: one (group, cell) aggregate (exchange ≤ groups·k
    * rows), per-group fold, and the Q(df/2, ·/2) p-value — evaluated at
    * the 6-decimal-ROUNDED X², a scalar call per GROUP row, never per
    * data row.
    *
    * @return one row per group: (groupCols..., chi2, dof, p_value, n) */
  def chiSquareGofByGroup(df: DataFrame, groupCols: Seq[String],
                          valueCol: String): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    require(!groupCols.exists(_.startsWith("__")),
      "group columns must not use the __ internal prefix")
    val base = df
      .select(groupCols.map(F.col) :+ F.col(valueCol).as("__v"): _*)
      .where(F.col("__v").isNotNull)
    val k = base.agg(F.countDistinct("__v")).head().getLong(0)
    require(k >= 2, "need at least two cells in the support")
    val cells = base.groupBy((groupCols :+ "__v").map(F.col): _*)
      .agg(F.count(F.lit(1)).as("__o"))
    val pUdf = F.udf((chi2: Double, dof: Double) =>
      math.rint(SpecialMath.gammaIncC(dof / 2.0, chi2 / 2.0) * 1e6) / 1e6)
    cells.groupBy(groupCols.map(F.col): _*)
      .agg(F.sum("__o").as("__n"), F.count(F.lit(1)).as("__kg"),
        F.sum(F.col("__o") * F.col("__o")).as("__ssq"))
      // Σ_obs (O − e)²/e = Σ O²/e − 2·Σ O + k_g·e with e = n/k; missing
      // cells add (k − k_g)·e — all column arithmetic over the three
      // sufficient statistics, so the fold is one codegen'd projection
      .withColumn("__e", F.col("__n").cast("double") / F.lit(k.toDouble))
      .withColumn("chi2", F.round(
        F.col("__ssq") / F.col("__e") - F.lit(2.0) * F.col("__n") +
          F.col("__kg") * F.col("__e") +
          (F.lit(k.toDouble) - F.col("__kg")) * F.col("__e"), 6))
      .withColumn("dof", F.lit(k - 1L))
      .withColumn("p_value", pUdf(F.col("chi2"), F.col("dof").cast("double")))
      .withColumn("n", F.col("__n"))
      .drop("__n", "__kg", "__ssq", "__e")
  }

  /** Poisson overdispersion test per group — "are these event counts
    * Poisson, or is there clumping": the dispersion index s²/x̄ with
    * the classic conditional χ² form
    *
    *   D = (n−1)·s²/x̄  ~  χ²(n−1) under Poisson,
    *   p = P(χ²(n−1) > D)   (upper tail — overdispersion),
    *
    * with the tail evaluated through the Wilson–Hilferty cube-root
    * normal transform z = ((D/ν)^⅓ − (1 − 2/9ν))/√(2/9ν) at the
    * 6-rounded D — exact as ν → ∞ (the corpus regime; group sizes are
    * thousands) and replayable by any engine carrying only erfc, the
    * same trade [[welchTTestByGroup]] makes. ONE aggregation; groups
    * with n < 2 or x̄ ≤ 0 are omitted. The routing statistic before
    * choosing poisson vs negative-binomial-shaped handling for a count
    * column.
    *
    * @return one row per group: (groupCols..., n, mean, dispersion,
    *         d_stat, p_value), floats rounded to 6 */
  def dispersionByGroup(df: DataFrame, groupCols: Seq[String],
                        countCol: String): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    require(!groupCols.exists(_.startsWith("__")),
      "group columns must not use the __ internal prefix")
    val v = F.col(countCol).cast("double")
    val agged = df.where(v.isNotNull && !F.isnan(v))
      .groupBy(groupCols.map(F.col): _*)
      .agg(F.count(F.lit(1)).as("n"), F.avg(v).as("__m"),
        F.var_samp(v).as("__s2"))
    val pUdf = F.udf { (d: Double, dof: Double) =>
      val z = (math.cbrt(d / dof) - (1.0 - 2.0 / (9.0 * dof))) /
        math.sqrt(2.0 / (9.0 * dof))
      val p =
        if (z >= 0.0) 0.5 * SpecialMath.erfc(z / math.sqrt(2.0))
        else 1.0 - 0.5 * SpecialMath.erfc(-z / math.sqrt(2.0))
      math.rint(p * 1e6) / 1e6
    }
    agged
      .where(F.col("n") >= 2 && F.col("__m") > 0.0)
      .withColumn("d_stat", F.round(
        (F.col("n") - 1) * F.col("__s2") / F.col("__m"), 6))
      .withColumn("p_value",
        pUdf(F.col("d_stat"), (F.col("n") - 1).cast("double")))
      .select(groupCols.map(F.col) ++ Seq(F.col("n"),
        F.round(F.col("__m"), 6).as("mean"),
        F.round(F.col("__s2") / F.col("__m"), 6).as("dispersion"),
        F.col("d_stat"), F.col("p_value")): _*)
  }

  /** Negative-binomial moment fit per group — the follow-up when
    * [[dispersionByGroup]] flags overdispersion: matching mean and
    * variance gives
    *
    *   r = m² / (s² − m),   prob = m / s²,
    *
    * the closed-form parameterization (mean m = r(1−p)/p). ONE
    * aggregation; groups that are NOT overdispersed (s² ≤ m — NB
    * degenerates to/past Poisson) or have n < 2 are omitted, the
    * per-group-absence convention.
    *
    * @return one row per group: (groupCols..., n, mean, variance, r,
    *         prob), floats rounded to 6 */
  def nbinomMomentsByGroup(df: DataFrame, groupCols: Seq[String],
                           countCol: String): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    require(!groupCols.exists(_.startsWith("__")),
      "group columns must not use the __ internal prefix")
    val v = F.col(countCol).cast("double")
    df.where(v.isNotNull && !F.isnan(v))
      .groupBy(groupCols.map(F.col): _*)
      .agg(F.count(F.lit(1)).as("n"), F.avg(v).as("__m"),
        F.var_samp(v).as("__s2"))
      .where(F.col("n") >= 2 && F.col("__m") > 0.0 &&
        F.col("__s2") > F.col("__m"))
      .select(groupCols.map(F.col) ++ Seq(F.col("n"),
        F.round(F.col("__m"), 6).as("mean"),
        F.round(F.col("__s2"), 6).as("variance"),
        F.round(F.col("__m") * F.col("__m") /
          (F.col("__s2") - F.col("__m")), 6).as("r"),
        F.round(F.col("__m") / F.col("__s2"), 6).as("prob")): _*)
  }

  /** Zero-inflated Poisson moment fit per group — the "is this count
    * column MOSTLY structural zeros" answer for sparse activity data
    * (events per user-day, defects per part): a ZIP(π, λ) mixture has
    * mean m = (1−π)λ and variance s² = (1−π)λ(1+πλ), which inverts in
    * closed form from the first two sample moments:
    *
    *   λ̂ = m + s²/m − 1,    π̂ = (s² − m)/(m² + s² − m)
    *
    * Valid when s² > m (zero inflation implies overdispersion — groups
    * at or under equidispersion are omitted: a plain Poisson fits them)
    * and m > 0. ONE aggregation like [[nbinomMomentsByGroup]], its
    * routing sibling: nbinom says "heterogeneous rates", ZIP says "a
    * point mass at zero plus one rate".
    *
    * @return one row per group: (groupCols..., n, mean, variance,
    *         lambda, pi), floats rounded to 6 */
  def zipMomentsByGroup(df: DataFrame, groupCols: Seq[String],
                        countCol: String): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    require(!groupCols.exists(_.startsWith("__")),
      "group columns must not use the __ internal prefix")
    val v = F.col(countCol).cast("double")
    val m = F.col("__m")
    val s2 = F.col("__s2")
    df.where(v.isNotNull && !F.isnan(v) && v >= 0.0)
      .groupBy(groupCols.map(F.col): _*)
      .agg(F.count(F.lit(1)).as("n"), F.avg(v).as("__m"),
        F.var_samp(v).as("__s2"))
      .where(F.col("n") >= 2 && m > 0.0 && s2 > m)
      .select(groupCols.map(F.col) ++ Seq(F.col("n"),
        F.round(m, 6).as("mean"),
        F.round(s2, 6).as("variance"),
        F.round(m + s2 / m - 1.0, 6).as("lambda"),
        F.round((s2 - m) / (m * m + s2 - m), 6).as("pi")): _*)
  }

  /** Gumbel extreme-value fit on block maxima, with return levels —
    * "how bad is the 1-in-T-blocks worst case": reduce each (group,
    * block) to its maximum, then the method-of-moments Gumbel fit
    *
    *   β̂ = s·√6/π,   μ̂ = m − γ·β̂   (γ = Euler–Mascheroni),
    *   z_T = μ̂ − β̂·ln(−ln(1 − 1/T))  (the T-block return level)
    *
    * — the tail-planning number a p99.9 cannot give (quantiles stop at
    * the data; the EV fit extrapolates). ONE (group, block) max
    * aggregation + one moment fold; groups with < 3 blocks or zero
    * max-variance are omitted.
    *
    * @param returnPeriod T in blocks for the reported return level
    * @return one row per group: (groupCols..., n_blocks, mu, beta,
    *         return_level), floats rounded 6 */
  def gumbelByGroup(df: DataFrame, groupCols: Seq[String],
                    blockCol: String, valueCol: String,
                    returnPeriod: Int): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    require(!groupCols.exists(_.startsWith("__")),
      "group columns must not use the __ internal prefix")
    require(returnPeriod >= 2, "returnPeriod must be >= 2")
    val v = F.col(valueCol).cast("double")
    val gCols = groupCols.map(F.col)
    val maxima = df
      .where(v.isNotNull && !F.isnan(v) && F.col(blockCol).isNotNull)
      .groupBy(gCols :+ F.col(blockCol): _*)
      .agg(F.max(v).as("__mx"))
    val agged = maxima.groupBy(gCols: _*).agg(
      F.count(F.lit(1)).as("n_blocks"),
      F.sum("__mx").as("__s"),
      F.sum(F.col("__mx") * F.col("__mx")).as("__ss"))
    val nD = F.col("n_blocks").cast("double")
    val m = F.col("__s") / nD
    val s2 = (F.col("__ss") - nD * m * m) / (nD - 1.0)
    val beta = F.sqrt(s2) * math.sqrt(6.0) / math.Pi
    val gamma = 0.5772156649015329
    val mu = m - beta * gamma
    val rl = mu - beta *
      math.log(-math.log(1.0 - 1.0 / returnPeriod))
    agged
      .where(F.col("n_blocks") >= 3L && s2 > 0.0)
      .select(gCols ++ Seq(F.col("n_blocks"),
        F.round(mu, 6).as("mu"),
        F.round(beta, 6).as("beta"),
        F.round(rl, 6).as("return_level")): _*)
  }

  /** Welch's unequal-variance t-test per group — "is cohort A's mean
    * different from cohort B's, for every tenant at once":
    *
    *   t  = (m̄_a − m̄_b) / √(s²_a/n_a + s²_b/n_b),
    *   ν  = (s²_a/n_a + s²_b/n_b)² /
    *        [(s²_a/n_a)²/(n_a−1) + (s²_b/n_b)²/(n_b−1)]   (Welch–
    *        Satterthwaite),
    *   p  = erfc(|t|/√2)  — the NORMAL approximation, exact as ν → ∞;
    *        at corpus scale ν is thousands and the Student-t correction
    *        is below the output rounding (the exact t CDF needs the
    *        regularized incomplete beta, which external SQL engines
    *        don't carry — same trade the MWU normal approximation makes).
    *
    * ONE aggregation (conditional count/avg/var_samp per cohort); t is
    * rounded to 6 BEFORE p so the replay is deterministic. Groups
    * missing a cohort, with n < 2 on either side, or with zero pooled
    * variance are omitted (per-group absence over sentinels).
    *
    * @return one row per qualifying group: (groupCols..., t_stat, dof,
    *         p_value, mean_a, mean_b, n_a, n_b) */
  def welchTTestByGroup(df: DataFrame, groupCols: Seq[String],
                        cohortCol: String, valueCol: String,
                        labelA: String = "a",
                        labelB: String = "b"): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    require(!groupCols.exists(_.startsWith("__")),
      "group columns must not use the __ internal prefix")
    require(labelA != labelB, "cohort labels must differ")
    val v = F.col(valueCol).cast("double")
    val g = F.col(cohortCol).cast("string")
    val base = df
      .where(v.isNotNull && !F.isnan(v) && g.isin(labelA, labelB))
      .select(groupCols.map(F.col) :+ g.as("__g") :+ v.as("__v"): _*)
    val isA = F.col("__g") === labelA
    val agged = base.groupBy(groupCols.map(F.col): _*).agg(
      F.count(F.when(isA, 1)).as("n_a"),
      F.count(F.when(!isA, 1)).as("n_b"),
      F.avg(F.when(isA, F.col("__v"))).as("__ma"),
      F.avg(F.when(!isA, F.col("__v"))).as("__mb"),
      F.var_samp(F.when(isA, F.col("__v"))).as("__va"),
      F.var_samp(F.when(!isA, F.col("__v"))).as("__vb"))
    val sea = F.col("__va") / F.col("n_a")
    val seb = F.col("__vb") / F.col("n_b")
    val se2 = sea + seb
    val pUdf = F.udf((t: Double) =>
      math.rint(SpecialMath.erfc(math.abs(t) / math.sqrt(2.0)) * 1e6) / 1e6)
    agged
      .where(F.col("n_a") >= 2 && F.col("n_b") >= 2 && se2 > 0.0)
      .withColumn("t_stat",
        F.round((F.col("__ma") - F.col("__mb")) / F.sqrt(se2), 6))
      .withColumn("dof", F.round(se2 * se2 /
        (sea * sea / (F.col("n_a") - 1) +
          seb * seb / (F.col("n_b") - 1)), 2))
      .withColumn("p_value", pUdf(F.col("t_stat")))
      .select(groupCols.map(F.col) ++ Seq(
        F.col("t_stat"), F.col("dof"), F.col("p_value"),
        F.round(F.col("__ma"), 6).as("mean_a"),
        F.round(F.col("__mb"), 6).as("mean_b"),
        F.col("n_a"), F.col("n_b")): _*)
  }

  /** One-way ANOVA per analysis group: does the mean of `valueCol`
    * differ across the levels of `factorCol` within each group —
    * the k-sample generalization of [[welchTTestByGroup]]'s question
    * (pooled-variance form; for k = 2 it reduces to the equal-variance
    * t-test squared).
    *
    * Sufficient statistics only: ONE (group, level) aggregation
    * reduces the data to (n, Σx, Σx²) cells; SSB = Σ s²ₗ/nₗ − S²/N
    * and SSW = Σ ssqₗ − Σ s²ₗ/nₗ fold per group over that tiny frame.
    * F = (SSB/(k−1)) / (SSW/(N−k)); p is the F survival function at
    * the 6-rounded statistic (the replay discipline). Groups with
    * k < 2 levels, N ≤ k, or zero within-variance are omitted.
    *
    * @return one row per group: (groupCols..., f_stat, df1, df2,
    *         ss_between, ss_within, p_value, n) */
  def anovaByGroup(df: DataFrame, groupCols: Seq[String],
                   factorCol: String, valueCol: String): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    require(!groupCols.exists(_.startsWith("__")),
      "group columns must not use the __ internal prefix")
    import org.apache.spark.sql.expressions.Window
    val v = F.col(valueCol).cast("double")
    val cells = df
      .where(v.isNotNull && !F.isnan(v) && F.col(factorCol).isNotNull)
      .groupBy(groupCols.map(F.col) :+
        F.col(factorCol).cast("string").as("__l"): _*)
      .agg(F.count(F.lit(1)).as("__n"), F.sum(v).as("__s"),
        F.sum(v * v).as("__ssq"))
    val agged = cells.groupBy(groupCols.map(F.col): _*).agg(
      F.sum("__n").as("n"),
      F.count(F.lit(1)).as("__k"),
      F.sum("__s").as("__st"),
      F.sum(F.col("__s") * F.col("__s") / F.col("__n")).as("__a"),
      F.sum("__ssq").as("__t"))
    val ssb = F.col("__a") -
      F.col("__st") * F.col("__st") / F.col("n")
    val ssw = F.col("__t") - F.col("__a")
    val df1 = (F.col("__k") - 1L).as("df1")
    val df2 = (F.col("n") - F.col("__k")).as("df2")
    val pUdf = F.udf((d1: Long, d2: Long, f: Double) =>
      math.rint((1.0 - SpecialMath.fCdf(d1.toDouble, d2.toDouble, f)) *
        1e6) / 1e6)
    agged
      .where(F.col("__k") >= 2L && F.col("n") > F.col("__k") && ssw > 0.0)
      .withColumn("f_stat", F.round(
        (ssb / (F.col("__k") - 1L)) / (ssw / (F.col("n") - F.col("__k"))),
        6))
      .withColumn("df1", df1)
      .withColumn("df2", df2)
      .withColumn("ss_between", F.round(ssb, 6))
      .withColumn("ss_within", F.round(ssw, 6))
      .withColumn("p_value",
        pUdf(F.col("df1"), F.col("df2"), F.col("f_stat")))
      .select(groupCols.map(F.col) ++ Seq(F.col("f_stat"), F.col("df1"),
        F.col("df2"), F.col("ss_between"), F.col("ss_within"),
        F.col("p_value"), F.col("n")): _*)
  }

  /** Kruskal–Wallis H per analysis group — the rank-based (distribution-
    * free) companion to [[anovaByGroup]]: do the k levels' value
    * distributions share a location, judged on midranks so outliers and
    * non-normality don't poison the test.
    *
    * Construction: ONE (group, value, level) aggregation; the midrank
    * of each distinct value rides a RANGE-framed window (peers included
    * — ties share the midrank by construction) partitioned by GROUP;
    * level rank-sums and the tie correction
    * C = 1 − Σ(t³−t)/(N³−N) fold from exact integer forms
    * (Σ(t²−1)·cₗ sums to Σ t³−t without a second cells pass).
    * H = [12/(N(N+1)) Σ R²ₗ/nₗ − 3(N+1)] / C; p is the χ²_{k−1}
    * survival at the 6-rounded H. Groups with k < 2 or all-tied values
    * (C = 0) are omitted.
    *
    * @return one row per group: (groupCols..., h_stat, dof, p_value,
    *         n) */
  def kruskalWallisByGroup(df: DataFrame, groupCols: Seq[String],
                           factorCol: String,
                           valueCol: String): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    require(!groupCols.exists(_.startsWith("__")),
      "group columns must not use the __ internal prefix")
    import org.apache.spark.sql.expressions.Window
    val v = F.col(valueCol).cast("double")
    val gCols = groupCols.map(F.col)
    val cells = df
      .where(v.isNotNull && !F.isnan(v) && F.col(factorCol).isNotNull)
      .groupBy(gCols :+ v.as("__v") :+
        F.col(factorCol).cast("string").as("__l"): _*)
      .agg(F.count(F.lit(1)).as("__cl"))
    val wVal = Window.partitionBy(gCols :+ F.col("__v"): _*)
    val wCum = Window.partitionBy(gCols: _*).orderBy("__v")
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = cells
      .withColumn("__ct", F.sum("__cl").over(wVal))
      // RANGE frame: peers at the same __v are in-frame, so the
      // cumulative count minus the cell total is "strictly below"
      .withColumn("__cum", F.sum("__cl").over(wCum))
      .withColumn("__mid",
        (F.col("__cum") - F.col("__ct")) + (F.col("__ct") + 1L) / 2.0)
    val byLevel = ranked.groupBy(gCols :+ F.col("__l"): _*).agg(
      F.sum("__cl").as("__nl"),
      F.sum(F.col("__cl") * F.col("__mid")).as("__rl"),
      F.sum((F.col("__ct") * F.col("__ct") - 1L) * F.col("__cl"))
        .as("__tie"))
    val agged = byLevel.groupBy(gCols: _*).agg(
      F.sum("__nl").as("n"),
      F.count(F.lit(1)).as("__k"),
      F.sum(F.col("__rl") * F.col("__rl") / F.col("__nl")).as("__r2"),
      F.sum("__tie").as("__ties"))
    val nD = F.col("__n_d")
    val hRaw = F.lit(12.0) / (nD * (nD + 1.0)) * F.col("__r2") -
      F.lit(3.0) * (nD + 1.0)
    val corr = F.lit(1.0) -
      F.col("__ties") / (nD * nD * nD - nD)
    val pUdf = F.udf((k: Long, h: Double) =>
      math.rint(SpecialMath.gammaIncC((k - 1) / 2.0, h / 2.0) * 1e6) / 1e6)
    agged
      .withColumn("__n_d", F.col("n").cast("double"))
      .withColumn("__corr", corr)
      .where(F.col("__k") >= 2L && F.col("__corr") > 0.0)
      .withColumn("h_stat", F.round(hRaw / F.col("__corr"), 6))
      .withColumn("dof", F.col("__k") - 1L)
      .withColumn("p_value", pUdf(F.col("__k"), F.col("h_stat")))
      .select(gCols ++ Seq(F.col("h_stat"), F.col("dof"),
        F.col("p_value"), F.col("n")): _*)
  }

  /** Holm–Bonferroni step-down adjustment — [[bhAdjust]]'s FWER
    * sibling: when even ONE false discovery is unacceptable (gating a
    * deploy on a metric family), control the family-wise error instead
    * of the false-discovery RATE:
    *
    *   p_holm(i) = max_{j ≤ i} min(1, (m − j + 1)·p_(j))
    *
    * (ties share their block's smallest rank). Same scale shape as
    * bhAdjust: distinct-p cells, range partitions, broadcast offsets
    * for the rank, and a per-partition PREFIX maximum seeded by a
    * broadcast scan of partition maxima — no global window; m may be
    * millions.
    *
    * @return `df` + (holm_rank, p_holm, reject_fwer) — null p rows get
    *         null adjustments and reject_fwer = false */
  def holmAdjust(df: DataFrame, pCol: String,
                 alpha: Double = 0.05): DataFrame = Persisted { scope =>
    val spark = df.sparkSession
    import spark.implicits._
    val pc = F.col(pCol).cast("double")
    val cells = df.where(pc.isNotNull && !F.isnan(pc))
      .groupBy(pc.as("__p")).agg(F.count(F.lit(1)).as("__c"))
    PrefixSum(cells.as[(Double, Long)], F.col("__p")) { ps =>
      val off = ps.offsets(1)((s, r) => s(0) += r._2)
      val m = off.last(0)
      if (m == 0L)
        df.withColumn("holm_rank", F.lit(null).cast("long"))
          .withColumn("p_holm", F.lit(null).cast("double"))
          .withColumn("reject_fwer", F.lit(false))
      else {
        // per-partition max of the candidate (m − rank + 1)·p — needs
        // only the rank offsets, so one more pass
        val partMax = ps.walk(off) { (o, it) =>
          var cum = o(0)
          var best = Double.NegativeInfinity
          it.foreach { case (p, c) =>
            val cand = math.min(1.0, (m - (cum + 1) + 1).toDouble * p)
            if (cand > best) best = cand
            cum += c
          }
          Iterator(best)
        }.collect()
        val prefix = partMax.scanLeft(Double.NegativeInfinity)(math.max)
        val qTable = ps.walk(off.map(_(0)).zip(prefix)) { (seed, it) =>
          var (cum, run) = seed
          it.map { case (p, c) =>
            val rank = cum + 1
            val cand = math.min(1.0, (m - rank + 1).toDouble * p)
            if (cand > run) run = cand
            cum += c
            (p, rank, run)
          }
        }.toDF("__p", "holm_rank", "p_holm")
        val pinned = scope.checkpoint(qTable)
        df.join(pinned, pc === F.col("__p"), "left")
          .withColumn("reject_fwer",
            F.coalesce(F.col("p_holm") <= F.lit(alpha), F.lit(false)))
          .drop("__p")
      }
    }
  }

  /** Dunn's test — the nonparametric post-hoc pairwise step after
    * [[kruskalWallisByGroup]] says "some level differs" (and the
    * rank-based twin of [[pairwiseContrasts]]): for every level pair,
    *
    *   z = (R̄_a − R̄_b) / √(σ²·(1/n_a + 1/n_b)),
    *   σ² = N(N+1)/12 − Σ(t³−t)/(12(N−1))
    *
    * over POOLED midranks with the standard tie correction, BH-adjusted
    * across all pairs via [[bhAdjust]]. Pooled midranks come from the
    * [[Ranks.minRanks]] prefix-sum + a per-value total join (midrank =
    * minrank + (t−1)/2) — NO global window, unlike the textbook
    * construction, so the ranking step scales like every other rank op
    * here. The pair join runs on the k-row levels table.
    *
    * @return one row per level pair: (group_a, group_b, n_a, n_b,
    *         mean_rank_a, mean_rank_b, z, p_value, bh_rank, q_value,
    *         reject) — ranks/z rounded to 6, p at the 6-rounded z */
  def dunnTest(df: DataFrame, factorCol: String, valueCol: String,
               alpha: Double = 0.05): DataFrame = Persisted { scope =>
    val v = F.col(valueCol).cast("double")
    val base = df
      .where(v.isNotNull && !F.isnan(v) && F.col(factorCol).isNotNull)
      .select(F.col(factorCol).cast("string").as("__l"), v.as("__v"))
    val vcells = base.groupBy("__v", "__l")
      .agg(F.count(F.lit(1)).as("__cl"))
    val totals = vcells.groupBy("__v").agg(F.sum("__cl").as("__ct"))
    val (n, ranks0) = Ranks.minRanksWithN(base.select("__v"), "__v",
      "__rk")
    require(n >= 2L, "need at least 2 valid rows")
    val mids = ranks0.withColumnRenamed("__v", "__mv")
      .join(totals, F.col("__mv") === F.col("__v"))
      .select(F.col("__mv"),
        (F.col("__rk") + (F.col("__ct") - 1L).cast("double") / 2.0)
          .as("__mid"),
        F.col("__ct"))
    val tieSum = mids.agg(F.coalesce(F.sum(
      F.col("__ct").cast("double") * F.col("__ct") * F.col("__ct") -
        F.col("__ct")), F.lit(0.0))).head().getDouble(0)
    val nD = n.toDouble
    val sigma2 = nD * (nD + 1.0) / 12.0 - tieSum / (12.0 * (nD - 1.0))
    val byLevel = scope.checkpoint(vcells
      .join(mids, F.col("__v") === F.col("__mv"))
      .groupBy("__l")
      .agg(F.sum("__cl").as("__nl"),
        F.sum(F.col("__cl") * F.col("__mid")).as("__rl")))
    val l = byLevel.select(F.col("__l").as("group_a"),
      F.col("__nl").as("n_a"), F.col("__rl").as("__ra"))
    val r = byLevel.select(F.col("__l").as("group_b"),
      F.col("__nl").as("n_b"), F.col("__rl").as("__rb"))
    val pUdf = F.udf((z: Double) => math.rint(SpecialMath.erfc(
      math.abs(z) / math.sqrt(2.0)) * 1e6) / 1e6)
    val mra = F.col("__ra") / F.col("n_a")
    val mrb = F.col("__rb") / F.col("n_b")
    val se = F.sqrt(F.lit(sigma2) *
      (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b")))
    val pairs = l.join(F.broadcast(r),
      F.col("group_a") < F.col("group_b"))
      .where(F.lit(sigma2) > 0.0)
      .withColumn("z", F.round((mra - mrb) / se, 6))
      .withColumn("p_value", pUdf(F.col("z")))
      .withColumn("mean_rank_a", F.round(mra, 6))
      .withColumn("mean_rank_b", F.round(mrb, 6))
    bhAdjust(pairs, "p_value", alpha)
      .select("group_a", "group_b", "n_a", "n_b", "mean_rank_a",
        "mean_rank_b", "z", "p_value", "bh_rank", "q_value", "reject")
  }

  /** Benjamini–Hochberg FDR adjustment: q_i = min(1, min_{j≥i} m·p_(j)/j)
    * over the sorted p-values, with ties taking the LARGEST rank of
    * their block (the standard step-up procedure — the right-to-left
    * running minimum makes tied p-values share one q). Rejection at
    * level α ⟺ q ≤ α reproduces the classic "largest i with
    * p_(i) ≤ iα/m" rule.
    *
    * Scale shape: the [[PrefixSum]] substrate on the p column — distinct
    * p counts, range partitions, broadcast prefix offsets for the
    * max-rank, then a per-partition SUFFIX minimum of m·p/rank seeded by
    * a broadcast suffix-min of the partition minima (the mirror image of
    * the prefix-sum trick; the only buffered state is one partition of
    * DISTINCT p values). No global window anywhere; m may be millions.
    *
    * @return `df` + (bh_rank, q_value, reject) — null p rows get null
    *         adjustments and reject = false */
  def bhAdjust(df: DataFrame, pCol: String, alpha: Double = 0.05): DataFrame = Persisted { scope =>
    require(alpha > 0.0 && alpha < 1.0, "alpha must be in (0,1)")
    val spark = df.sparkSession
    import spark.implicits._
    val counts = df.select(F.col(pCol).cast("double").as("__p"))
      .where(F.col("__p").isNotNull && !F.isnan(F.col("__p")))
      .groupBy("__p").agg(F.count(F.lit(1)).as("__c"))
    PrefixSum(counts.as[(Double, Long)], F.col("__p")) { ps =>
      val off = ps.offsets(1)((s, r) => s(0) += r._2)
      val m = off.last(0)
      if (m == 0L)
        df.withColumn("bh_rank", F.lit(null).cast("long"))
          .withColumn("q_value", F.lit(null).cast("double"))
          .withColumn("reject", F.lit(false))
      else {
        require(df.select(F.col(pCol).cast("double").as("p"))
          .where(F.col("p") < 0.0 || F.col("p") > 1.0).isEmpty,
          "p-values must lie in [0,1]")
        // per-partition minimum of the ratio m·p/maxrank, then the
        // driver suffix-mins those minima: partition i's seed is the
        // smallest ratio anywhere to its right
        val partMins = ps.walk(off) { (o, it) =>
          var cum = o(0)
          var best = Double.PositiveInfinity
          it.foreach { case (p, c) =>
            cum += c
            val r = m.toDouble * p / cum
            if (r < best) best = r
          }
          Iterator(best)
        }.collect()
        val suffix = partMins.scanRight(Double.PositiveInfinity)(math.min)
        val seeds = off.map(_(0)).zip(suffix.tail)
        val qTable = ps.walk(seeds) { (seed, it) =>
          // suffix-min within the partition needs a right-to-left pass:
          // buffer this partition's DISTINCT (p, count) rows — the same
          // footprint its range-sort already used
          val rows = it.toArray
          var cum = seed._1
          val ranks = rows.map { case (_, c) => cum += c; cum }
          var best = seed._2
          val out = new Array[(Double, Long, Double)](rows.length)
          var j = rows.length - 1
          while (j >= 0) {
            val r = m.toDouble * rows(j)._1 / ranks(j)
            if (r < best) best = r
            out(j) = (rows(j)._1, ranks(j), math.min(1.0, best))
            j -= 1
          }
          out.iterator
        }.toDF("__p", "bh_rank", "q_value")
        val pinned = scope.checkpoint(qTable)
        df.join(pinned, F.col(pCol).cast("double") === F.col("__p"),
            "left")
          .withColumn("reject",
            F.coalesce(F.col("q_value") <= F.lit(alpha), F.lit(false)))
          .drop("__p")
      }
    }
  }

  /** Benjamini–Yekutieli FDR adjustment — [[bhAdjust]] made valid
    * under ARBITRARY dependence between the tests (BH's guarantee
    * needs independence or PRDS; per-group tests sharing a pooled
    * baseline, overlapping windows, or nested segments violate it).
    * BY inflates the BH threshold by the harmonic number
    * c(m) = Σ_{i≤m} 1/i, and since the right-to-left running minimum
    * commutes with a positive constant,
    *
    *   q_BY = min(1, c(m) · q_BH)
    *
    * exactly — so this runs the full [[bhAdjust]] prefix-sum
    * machinery once and applies the scalar (c(m) itself is an O(m)
    * driver scalar loop: milliseconds at m = 10⁶; the data is never
    * touched a second time).
    *
    * @return `df` + (by_rank, q_value_by, reject_by) — null p rows
    *         get null adjustments and reject_by = false */
  def byAdjust(df: DataFrame, pCol: String, alpha: Double = 0.05): DataFrame = {
    val m = df.select(F.col(pCol).cast("double").as("__p"))
      .where(F.col("__p").isNotNull && !F.isnan(F.col("__p")))
      .count()
    var cm = 0.0; var i = 1L
    while (i <= m) { cm += 1.0 / i; i += 1 }
    bhAdjust(df, pCol, alpha)
      .withColumn("by_rank", F.col("bh_rank"))
      .withColumn("q_value_by",
        F.least(F.lit(1.0), F.col("q_value") * cm))
      .withColumn("reject_by",
        F.coalesce(F.col("q_value_by") <= F.lit(alpha), F.lit(false)))
      .drop("bh_rank", "q_value", "reject")
  }

  /** Brown–Forsythe test for equal variances across factor levels —
    * the assumption check [[anovaByGroup]] silently leans on, and the
    * robust (median-centered) form of Levene's test: F of the one-way
    * ANOVA on z = |x − median(level)|. Per-level medians come from the
    * exact interpolated percentile (one aggregation, level-sized
    * broadcast back); the ANOVA fold reuses [[anovaByGroup]]'s
    * sufficient-statistic algebra.
    *
    * @return one row: (f_stat, df1, df2, ss_between, ss_within,
    *         p_value, n) */
  def brownForsythe(df: DataFrame, factorCol: String,
                    valueCol: String): DataFrame = {
    val v = F.col(valueCol).cast("double")
    val clean = df
      .where(v.isNotNull && !F.isnan(v) && F.col(factorCol).isNotNull)
      .select(F.col(factorCol).cast("string").as("__f"), v.as("__x"))
    val med = clean.groupBy("__f")
      .agg(F.percentile(F.col("__x"), F.lit(0.5)).as("__med"))
    val z = clean.join(F.broadcast(med), Seq("__f"))
      .select(F.lit("all").as("scope"), F.col("__f"),
        F.abs(F.col("__x") - F.col("__med")).as("__z"))
    anovaByGroup(z, Seq("scope"), "__f", "__z").drop("scope")
  }

  /** Jarque–Bera normality test per group — "which segments' residuals
    * are NOT Gaussian" (the routing check before anything that assumes
    * normal tails):
    *
    *   JB = n/6 · (skew² + excess_kurtosis²/4)  ~  χ²₂,
    *   p  = exp(−JB/2)   (the dof-2 survival, closed form)
    *
    * from ONE raw-moment aggregation (Σx..Σx⁴) with the central-moment
    * algebra written explicitly so an external engine replays it
    * bit-for-bit — including the p, which needs no special function at
    * dof 2. Zero-variance groups are omitted.
    *
    * @return one row per group: (groupCols..., n, skewness,
    *         kurtosis_ex, jb, p_value), floats rounded to 6, p at the
    *         6-rounded JB */
  def jarqueBeraByGroup(df: DataFrame, groupCols: Seq[String],
                        valueCol: String): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    val v = F.col(valueCol).cast("double")
    val agged = df
      .where(v.isNotNull && !F.isnan(v))
      .groupBy(groupCols.map(F.col): _*)
      .agg(F.count(F.lit(1)).as("n"), F.sum(v).as("__s1"),
        F.sum(v * v).as("__s2"), F.sum(v * v * v).as("__s3"),
        F.sum(v * v * v * v).as("__s4"))
    val nD = F.col("n").cast("double")
    val mu = F.col("__s1") / nD
    val m2 = F.col("__s2") / nD - mu * mu
    val m3 = F.col("__s3") / nD - F.lit(3.0) * mu * (F.col("__s2") / nD) +
      F.lit(2.0) * mu * mu * mu
    val m4 = F.col("__s4") / nD - F.lit(4.0) * mu * (F.col("__s3") / nD) +
      F.lit(6.0) * mu * mu * (F.col("__s2") / nD) -
      F.lit(3.0) * mu * mu * mu * mu
    val skew = m3 / F.pow(m2, 1.5)
    val exk = m4 / (m2 * m2) - F.lit(3.0)
    agged
      .withColumn("__m2", m2)
      .where(F.col("__m2") > 0.0 && F.col("n") >= 4L)
      .withColumn("skewness", F.round(skew, 6))
      .withColumn("kurtosis_ex", F.round(exk, 6))
      .withColumn("jb", F.round(nD / 6.0 *
        (skew * skew + exk * exk / 4.0), 6))
      .withColumn("p_value",
        F.round(F.exp(-F.col("jb") / 2.0), 6))
      .select(groupCols.map(F.col) ++ Seq(F.col("n"),
        F.col("skewness"), F.col("kurtosis_ex"), F.col("jb"),
        F.col("p_value")): _*)
  }

  /** Standardized effect sizes for every group pair — the MAGNITUDE
    * companion to [[pairwiseContrasts]]' p-values (at corpus n
    * everything is "significant"; d says whether anyone should care):
    *
    *   d = (x̄_a − x̄_b) / s_pooled,
    *   s²_pooled = ((n_a−1)s²_a + (n_b−1)s²_b)/(n_a+n_b−2),
    *   g = d · (1 − 3/(4(n_a+n_b) − 9))   (Hedges' small-sample bias
    *                                        correction)
    *
    * ONE moment aggregation; the pair join runs on the k-row groups
    * table. Pairs with zero pooled variance are omitted.
    *
    * @return one row per pair: (group_a, group_b, n_a, n_b, mean_a,
    *         mean_b, cohen_d, hedges_g), rounded to 6 */
  def effectSizes(df: DataFrame, groupCol: String,
                  valueCol: String): DataFrame = Persisted { scope =>
    val g = F.col(groupCol).cast("string")
    val v = F.col(valueCol).cast("double")
    val m = scope.checkpoint(df
      .where(g.isNotNull && v.isNotNull && !F.isnan(v))
      .groupBy(g.as("__g"))
      .agg(F.count(F.lit(1)).as("__n"), F.avg(v).as("__m"),
        F.var_samp(v).as("__v"))
      .where(F.col("__n") >= 2L && F.col("__v").isNotNull))
    val l = m.select(F.col("__g").as("group_a"), F.col("__n").as("n_a"),
      F.col("__m").as("__ma"), F.col("__v").as("__va"))
    val r = m.select(F.col("__g").as("group_b"), F.col("__n").as("n_b"),
      F.col("__m").as("__mb"), F.col("__v").as("__vb"))
    val pooled = ((F.col("n_a") - 1L).cast("double") * F.col("__va") +
      (F.col("n_b") - 1L).cast("double") * F.col("__vb")) /
      (F.col("n_a") + F.col("n_b") - 2L).cast("double")
    val corr = F.lit(1.0) - F.lit(3.0) /
      (F.lit(4.0) * (F.col("n_a") + F.col("n_b")).cast("double") - 9.0)
    l.join(F.broadcast(r), F.col("group_a") < F.col("group_b"))
      .withColumn("__sp", pooled)
      .where(F.col("__sp") > 0.0)
      .withColumn("cohen_d", F.round(
        (F.col("__ma") - F.col("__mb")) / F.sqrt(F.col("__sp")), 6))
      .withColumn("hedges_g", F.round(
        ((F.col("__ma") - F.col("__mb")) / F.sqrt(F.col("__sp"))) *
          corr, 6))
      .withColumn("mean_a", F.round(F.col("__ma"), 6))
      .withColumn("mean_b", F.round(F.col("__mb"), 6))
      .select("group_a", "group_b", "n_a", "n_b", "mean_a", "mean_b",
        "cohen_d", "hedges_g")
  }

  /** Intraclass correlation ICC(1) — "how much of the variance lives
    * BETWEEN groups": from the one-way ANOVA mean squares,
    *
    *   ICC = (MSB − MSW) / (MSB + (n̄₀ − 1)·MSW),
    *   n̄₀ = (N − Σnᵢ²/N)/(k − 1)   (the unbalanced-design group size)
    *
    * — the clustering-strength number that decides whether a mixed
    * model / clustered standard errors are needed, and the data-card
    * answer to "are documents within a source more alike than across".
    * ONE sufficient-statistic aggregation, the ANOVA algebra fold.
    *
    * @return one row: (icc, ms_between, ms_within, n, k), floats
    *         rounded to 6 */
  def icc(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val g = F.col(groupCol).cast("string")
    val v = F.col(valueCol).cast("double")
    val cells = df
      .where(g.isNotNull && v.isNotNull && !F.isnan(v))
      .groupBy(g.as("__g"))
      .agg(F.count(F.lit(1)).as("__n"), F.sum(v).as("__s"),
        F.sum(v * v).as("__ssq"))
    val agged = cells.agg(
      F.sum("__n").as("n"), F.count(F.lit(1)).as("k"),
      F.sum("__s").as("__st"),
      F.sum(F.col("__s") * F.col("__s") / F.col("__n")).as("__a"),
      F.sum("__ssq").as("__t"),
      F.sum(F.col("__n") * F.col("__n")).as("__sn2"))
    val nD = F.col("n").cast("double")
    val kD = F.col("k").cast("double")
    val ssb = F.col("__a") - F.col("__st") * F.col("__st") / F.col("n")
    val ssw = F.col("__t") - F.col("__a")
    val msb = ssb / (kD - 1.0)
    val msw = ssw / (nD - kD)
    val n0 = (nD - F.col("__sn2") / nD) / (kD - 1.0)
    agged
      .where(F.col("k") >= 2L && F.col("n") > F.col("k"))
      .withColumn("ms_between", F.round(msb, 6))
      .withColumn("ms_within", F.round(msw, 6))
      .withColumn("icc", F.when(msb + (n0 - 1.0) * msw > 0.0,
        F.round((msb - msw) / (msb + (n0 - 1.0) * msw), 6)))
      .select("icc", "ms_between", "ms_within", "n", "k")
  }

  /** Cochran–Armitage trend test: is a success rate MONOTONE in an
    * ordered exposure ("does conversion rise with discount tier") —
    * the dose-response test that a plain χ² dilutes (χ² sees any
    * difference; this concentrates power on the ordered alternative):
    *
    *   z = Σ wᵢ(xᵢ − nᵢp̄) / √(p̄(1−p̄)(Σnᵢwᵢ² − (Σnᵢwᵢ)²/N))
    *
    * with wᵢ the numeric group score. ONE (score) cell aggregation +
    * a closed-form fold; p = erfc(|z|/√2) at the 6-rounded z.
    *
    * @param scoreCol numeric ordered exposure level
    * @return one row: (z, p_value, n, n_levels) */
  def cochranArmitage(df: DataFrame, scoreCol: String,
                      successCol: String): DataFrame = {
    val w = F.col(scoreCol).cast("double")
    val y = F.col(successCol).cast("boolean")
    val cells = df
      .where(w.isNotNull && !F.isnan(w) && y.isNotNull)
      .groupBy(w.as("__w"))
      .agg(F.count(F.lit(1)).as("__n"),
        F.sum(F.when(y, 1L).otherwise(0L)).as("__x"))
    val pUdf = F.udf((z: Double) => math.rint(SpecialMath.erfc(
      math.abs(z) / math.sqrt(2.0)) * 1e6) / 1e6)
    val agged = cells.agg(
      F.sum("__n").as("n"), F.sum("__x").as("__tx"),
      F.count(F.lit(1)).as("n_levels"),
      F.sum(F.col("__w") * F.col("__x")).as("__swx"),
      F.sum(F.col("__w") * F.col("__n")).as("__swn"),
      F.sum(F.col("__w") * F.col("__w") * F.col("__n")).as("__swwn"))
    val nD = F.col("n").cast("double")
    val pbar = F.col("__tx").cast("double") / nD
    val num = F.col("__swx") - pbar * F.col("__swn")
    val varW = F.col("__swwn") - F.col("__swn") * F.col("__swn") / nD
    val denom = F.sqrt(pbar * (F.lit(1.0) - pbar) * varW)
    agged
      .withColumn("__den", denom)
      .where(F.col("__den") > 0.0)
      .withColumn("z", F.round(num / F.col("__den"), 6))
      .withColumn("p_value", pUdf(F.col("z")))
      .select("z", "p_value", "n", "n_levels")
  }

  /** McNemar's test for PAIRED binary outcomes — "did switching
    * filters change decisions on the SAME documents": only the
    * discordant cells carry information,
    *
    *   z = (|n₁₀ − n₀₁| − 1) / √(n₁₀ + n₀₁)   (continuity-corrected),
    *   p = erfc(z/√2)
    *
    * — the comparison a two-proportion test gets WRONG on paired data
    * (it ignores the pairing and overstates n). ONE aggregation of
    * conditional counts.
    *
    * @return one row: (n, n10, n01, z, p_value) — n10 = a-only
    *         positives, z rounded to 6; z = 0 when no discordance */
  def mcnemar(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val a = F.col(aCol).cast("boolean")
    val b = F.col(bCol).cast("boolean")
    val pUdf = F.udf((z: Double) => math.rint(SpecialMath.erfc(
      z / math.sqrt(2.0)) * 1e6) / 1e6)
    df.where(a.isNotNull && b.isNotNull)
      .agg(F.count(F.lit(1)).as("n"),
        F.sum(F.when(a && !b, 1L).otherwise(0L)).as("n10"),
        F.sum(F.when(!a && b, 1L).otherwise(0L)).as("n01"))
      .withColumn("z", F.when(F.col("n10") + F.col("n01") > 0L,
        F.round(F.greatest(F.lit(0.0),
          F.abs(F.col("n10") - F.col("n01")).cast("double") - 1.0) /
          F.sqrt((F.col("n10") + F.col("n01")).cast("double")), 6))
        .otherwise(F.lit(0.0)))
      .withColumn("p_value", pUdf(F.col("z")))
      .select("n", "n10", "n01", "z", "p_value")
  }

  /** All pairwise group contrasts with FDR control — "WHICH segments
    * differ", the post-hoc step after [[anovaByGroup]] says "something
    * does": for every unordered group pair, a Welch z on the group
    * means (corpus-scale normal approximation, the
    * [[welchTTestByGroup]] convention) with the p-values
    * Benjamini–Hochberg-adjusted ACROSS ALL PAIRS via [[bhAdjust]] —
    * k groups mean k(k−1)/2 hypotheses, and uncontrolled pairwise
    * testing at k = 50 manufactures ~60 false discoveries at α = .05.
    * ONE moment aggregation over the data; the pair join runs on the
    * GROUPS table (k rows), never the rows.
    *
    * @return one row per pair: (group_a, group_b, n_a, n_b, mean_a,
    *         mean_b, z, p_value, bh_rank, q_value, reject) — means/z
    *         rounded to 6, p at the 6-rounded z */
  def pairwiseContrasts(df: DataFrame, groupCol: String,
                        valueCol: String,
                        alpha: Double = 0.05): DataFrame = Persisted { scope =>
    val g = F.col(groupCol).cast("string")
    val v = F.col(valueCol).cast("double")
    val m = scope.checkpoint(df
      .where(g.isNotNull && v.isNotNull && !F.isnan(v))
      .groupBy(g.as("__g"))
      .agg(F.count(F.lit(1)).as("__n"), F.avg(v).as("__m"),
        F.var_samp(v).as("__v"))
      .where(F.col("__n") >= 2L && F.col("__v").isNotNull))
    val l = m.select(F.col("__g").as("group_a"), F.col("__n").as("n_a"),
      F.col("__m").as("__ma"), F.col("__v").as("__va"))
    val r = m.select(F.col("__g").as("group_b"), F.col("__n").as("n_b"),
      F.col("__m").as("__mb"), F.col("__v").as("__vb"))
    val se2 = F.col("__va") / F.col("n_a") + F.col("__vb") / F.col("n_b")
    val pUdf = F.udf((z: Double) => math.rint(SpecialMath.erfc(
      math.abs(z) / math.sqrt(2.0)) * 1e6) / 1e6)
    val pairs = l.join(F.broadcast(r),
      F.col("group_a") < F.col("group_b"))
      .withColumn("__se2", se2)
      .where(F.col("__se2") > 0.0)
      .withColumn("z",
        F.round((F.col("__ma") - F.col("__mb")) /
          F.sqrt(F.col("__se2")), 6))
      .withColumn("p_value", pUdf(F.col("z")))
      .withColumn("mean_a", F.round(F.col("__ma"), 6))
      .withColumn("mean_b", F.round(F.col("__mb"), 6))
    bhAdjust(pairs, "p_value", alpha)
      .select("group_a", "group_b", "n_a", "n_b", "mean_a", "mean_b",
        "z", "p_value", "bh_rank", "q_value", "reject")
  }

  /** Benford first-digit conformity per group — the forensic
    * data-quality screen ("are these amounts organic or
    * fabricated/templated"): χ² of the observed leading-digit
    * distribution against Benford's p_d = log₁₀(1 + 1/d), plus the MAD
    * conformity score (Nigrini's scale: < 0.006 close conformity).
    *
    * The leading digit is extracted WITHOUT trusting floor(log10(x)) at
    * power-of-ten boundaries: m₀ = x/10^⌊log₁₀x⌋, then the m₀ < 1 /
    * m₀ ≥ 10 branches re-scale once — so a 1-ULP log10 disagreement
    * between engines lands on the same digit (10^e is IEEE-exact for
    * integer e, and the division is correctly rounded, so m₀ is then
    * deterministic). Missing digits fold in algebraically:
    * Σ_all (o−np)²/np = Σ_obs ((o−np)²/np − np) + n, and
    * Σ_all |o/n − p| = Σ_obs (|o/n − p| − p) + 1 — so the whole test is
    * ONE (group, digit) aggregation + a per-group fold, no 9-way pivot.
    * p = P(χ²₈ > chi2) at the 6-rounded statistic (dof 8 is even, so an
    * external engine replays it as the closed-form Poisson sum).
    *
    * @return one row per group: (groupCols..., n, chi2, dof, p_value,
    *         mad), floats rounded to 6 */
  def benfordByGroup(df: DataFrame, groupCols: Seq[String],
                     valueCol: String): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    require(!groupCols.exists(_.startsWith("__")),
      "group columns must not use the __ internal prefix")
    import org.apache.spark.sql.expressions.Window
    val gCols = groupCols.map(F.col)
    val x = F.col(valueCol).cast("double")
    val m0 = x / F.pow(F.lit(10.0), F.floor(F.log10(x)))
    val digit = F.when(m0 < 1.0, F.floor(m0 * 10.0))
      .when(m0 >= 10.0, F.floor(m0 / 10.0))
      .otherwise(F.floor(m0))
    val cells = df
      .where(x.isNotNull && !F.isnan(x) && x > 0.0)
      .groupBy(gCols :+ digit.as("__d"): _*)
      .agg(F.count(F.lit(1)).as("__o"))
    val wg = Window.partitionBy(gCols: _*)
    val p = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("__d"))
    val pUdf = F.udf((chi2: Double) =>
      math.rint(SpecialMath.gammaIncC(4.0, chi2 / 2.0) * 1e6) / 1e6)
    val n = F.col("__n").cast("double")
    val e = n * F.col("__p")
    val o = F.col("__o").cast("double")
    cells
      .withColumn("__n", F.sum("__o").over(wg))
      .withColumn("__p", p)
      .groupBy(gCols: _*)
      .agg(
        F.max("__n").as("n"),
        F.round(F.sum((o - e) * (o - e) / e - e) +
          F.max("__n").cast("double"), 6).as("chi2"),
        F.round((F.sum(F.abs(o / n - F.col("__p")) - F.col("__p")) +
          F.lit(1.0)) / 9.0, 6).as("mad"))
      .withColumn("dof", F.lit(8L))
      .withColumn("p_value", pUdf(F.col("chi2")))
      .select(gCols ++ Seq(F.col("n"), F.col("chi2"), F.col("dof"),
        F.col("p_value"), F.col("mad")): _*)
  }

  /** Hill tail-index estimator over the top-k order statistics of a
    * positive column:
    *
    *   α̂ = k / Σ_{i=1..k} ln(x₍ᵢ₎ / x_ref),   x_ref = (k+1)-th largest
    *
    * — "how heavy is this tail, as a number" (α ≤ 2: infinite variance;
    * the quantitative companion to the reference's boolean heavy-tail
    * detector). The top-(k+1) take is orderBy+limit = TakeOrdered — a
    * per-partition heap, never a global sort — and the multiset of
    * selected VALUES is deterministic under ties even though row
    * identity is not, so α replays exactly. Σln(xᵢ/x_ref) folds as
    * Σln(xᵢ) − (k+1)·ln(x_ref) (the ref's own term contributes 0).
    *
    * @return one row: (k, x_ref, alpha), alpha rounded to 6 and null
    *         when fewer than k+1 positive rows exist or the top-(k+1)
    *         values are all equal */
  def hillTailIndex(df: DataFrame, column: String,
                    k: Int = 100): DataFrame = {
    require(k >= 2, "k must be >= 2")
    val x = F.col(column).cast("double")
    val top = df
      .where(x.isNotNull && !F.isnan(x) && x > 0.0)
      .select(x.as("__x"))
      .orderBy(F.col("__x").desc)
      .limit(k + 1)
    val denom = F.col("__sl") - F.lit(k + 1.0) * F.log(F.col("__xr"))
    top
      .agg(F.count(F.lit(1)).as("__nt"), F.min("__x").as("__xr"),
        F.sum(F.log(F.col("__x"))).as("__sl"))
      .withColumn("k", F.lit(k.toLong))
      .withColumn("x_ref", F.col("__xr"))
      .withColumn("alpha", F.when(F.col("__nt") === (k + 1L) &&
        denom > 0.0, F.round(F.lit(k.toDouble) / denom, 6)))
      .select("k", "x_ref", "alpha")
  }

  /** Factorability diagnostics for a 3-variable block — the two
    * preconditions every factor/PCA write-up reports before loadings:
    * Bartlett's sphericity test (is the correlation matrix
    * distinguishable from identity at all),
    *
    *   χ² = −((n−1) − (2p+5)/6)·ln|R|  ~ χ²(p(p−1)/2 = 3)
    *
    * with the odd-df closed-form survival erfc(√(x/2)) +
    * √(2x/π)·e^{−x/2}, and the Kaiser–Meyer–Olkin sampling adequacy
    *
    *   KMO = Σr²ᵢⱼ / (Σr²ᵢⱼ + Σq²ᵢⱼ)
    *
    * with q the anti-image partial correlations from R⁻¹ (closed-form
    * 3×3 adjugate). ONE moment aggregation; correlations 6-rounded so
    * everything downstream is driver arithmetic on pinned scalars.
    *
    * @return one row: (n, r12, r13, r23, det_r, chi2, df, p_value,
    *         kmo) */
  def factorability(df: DataFrame, c1: String, c2: String,
                    c3: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val cols = Seq(c1, c2, c3).map(c => F.col(c).cast("double"))
    val ok = cols.map(c => c.isNotNull && !F.isnan(c)).reduce(_ && _)
    val r = df.where(ok).agg(
      F.count(F.lit(1)).as("n"),
      F.round(F.corr(cols(0), cols(1)), 6).as("r12"),
      F.round(F.corr(cols(0), cols(2)), 6).as("r13"),
      F.round(F.corr(cols(1), cols(2)), 6).as("r23")).head()
    val n = r.getAs[Long]("n")
    require(n > 3L, "need more than 3 rows")
    val r12 = r.getAs[Double]("r12"); val r13 = r.getAs[Double]("r13")
    val r23 = r.getAs[Double]("r23")
    val det = 1.0 + 2.0 * r12 * r13 * r23 -
      r12 * r12 - r13 * r13 - r23 * r23
    require(det > 0.0, "singular correlation matrix")
    def r6(v: Double) = math.rint(v * 1e6) / 1e6
    val chi2 = r6(-((n - 1.0) - (2.0 * 3.0 + 5.0) / 6.0) *
      math.log(det))
    val p = r6(SpecialMath.erfc(math.sqrt(chi2 / 2.0)) +
      math.sqrt(2.0 * chi2 / math.Pi) * math.exp(-chi2 / 2.0))
    // 3x3 inverse via adjugate; anti-image partials q_ij =
    // -inv_ij / sqrt(inv_ii * inv_jj)
    val i11 = (1.0 - r23 * r23) / det
    val i22 = (1.0 - r13 * r13) / det
    val i33 = (1.0 - r12 * r12) / det
    val i12 = (r13 * r23 - r12) / det
    val i13 = (r12 * r23 - r13) / det
    val i23 = (r12 * r13 - r23) / det
    val q12 = -i12 / math.sqrt(i11 * i22)
    val q13 = -i13 / math.sqrt(i11 * i33)
    val q23 = -i23 / math.sqrt(i22 * i33)
    val sr = r12 * r12 + r13 * r13 + r23 * r23
    val sq = q12 * q12 + q13 * q13 + q23 * q23
    val kmo = r6(sr / (sr + sq))
    Seq((n, r12, r13, r23, r6(det), chi2, 3, p, kmo))
      .toDF("n", "r12", "r13", "r23", "det_r", "chi2", "df",
        "p_value", "kmo")
  }

  /** Pickands and moments (Dekkers–Einmahl–de Haan) extreme-value
    * indices over the top order statistics — the γ panel next to
    * [[hillTailIndex]]'s α (Hill is only consistent for γ > 0;
    * Pickands/moments cover ALL max-domains, so light tails read
    * γ ≤ 0 instead of a bogus heavy α):
    *
    *   γ_P = ln((x₍ₖ₎ − x₍₂ₖ₎)/(x₍₂ₖ₎ − x₍₄ₖ₎)) / ln 2,
    *   γ_M = M₁ + 1 − ½/(1 − M₁²/M₂),   M_r = (1/k)Σᵢ≤ₖ lnʳ(xᵢ/x₍ₖ₊₁₎)
    *
    * The top-4k take is TakeOrdered (no global sort) and the value
    * multiset is deterministic under ties; 4k is loudly bounded (the
    * order statistics collect). alpha = 1/γ_M reported when γ_M > 0.
    *
    * @return one row: (k, x_k, x_2k, x_4k, gamma_pickands,
    *         gamma_moments, alpha_moments) rounded to 6 */
  def evtTailPanel(df: DataFrame, column: String,
                   k: Int = 100): DataFrame = {
    require(k >= 2 && 4 * k <= 65536,
      "k must be >= 2 with 4k <= 65536 (the order statistics collect)")
    val spark = df.sparkSession
    import spark.implicits._
    val x = F.col(column).cast("double")
    val top = df
      .where(x.isNotNull && !F.isnan(x) && x > 0.0)
      .select(x.as("__x"))
      .orderBy(F.col("__x").desc)
      .limit(4 * k)
      .collect().map(_.getDouble(0))
    require(top.length == 4 * k,
      s"need at least ${4 * k} positive rows, got ${top.length}")
    val xk = top(k - 1); val x2k = top(2 * k - 1)
    val x4k = top(4 * k - 1)
    def r6(v: Double) = math.rint(v * 1e6) / 1e6
    val gp =
      if (xk > x2k && x2k > x4k)
        Some(r6(math.log((xk - x2k) / (x2k - x4k)) / math.log(2.0)))
      else None
    // moments over the top-k relative to the (k+1)-th largest
    val xr = top(k)
    val (m1, m2) =
      if (xr > 0.0 && xk > xr) {
        var s1 = 0.0; var s2 = 0.0; var i = 0
        while (i < k) {
          val l = math.log(top(i) / xr)
          s1 += l; s2 += l * l; i += 1
        }
        (s1 / k, s2 / k)
      } else (0.0, 0.0)
    val gm =
      if (m2 > 0.0 && m1 * m1 / m2 < 1.0)
        Some(r6(m1 + 1.0 - 0.5 / (1.0 - m1 * m1 / m2)))
      else None
    val alpha = gm.filter(_ > 0.0).map(g => r6(1.0 / g))
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("x_k", DoubleType), StructField("x_2k", DoubleType),
      StructField("x_4k", DoubleType),
      StructField("gamma_pickands", DoubleType),
      StructField("gamma_moments", DoubleType),
      StructField("alpha_moments", DoubleType)))
    spark.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row(
        k.toLong, xk, x2k, x4k, gp.orNull, gm.orNull, alpha.orNull)),
      schema)
  }

  /** Two-sample ENERGY distance per group — Székely–Rizzo's
    * D² = 2·E|X−Y| − E|X−X′| − E|Y−Y′|, the moment-free whole-
    * distribution distance that is zero iff the distributions match
    * (scipy.stats.energy_distance semantics, D = √D²). Complements
    * [[Drift.ksTwoSampleByGroup]] (sup-norm) and the Wasserstein form
    * (L¹ of the CDF gap): energy distance weights TAIL separation more
    * and is the statistic behind the energy two-sample test.
    *
    * All three pairwise means reduce to prefix sums over the values in
    * sorted order — Σᵢ|xᵢ−v| = v·(2c−n) − (2s−S) where c/s are the
    * count/sum of sample values ≤ v — so the whole computation is ONE
    * pass of RANGE-frame windows PARTITIONED by group (ties land in
    * the frame together; tied pairs contribute zero so the within-
    * sample fold counts every unordered pair exactly once) plus one
    * aggregation. No global window, no n² join; with integer-valued
    * data every prefix sum is an exactly-representable integer, so an
    * external engine replays the statistic bit-for-bit.
    *
    * @return one row per group: (groupCols..., n_a, n_b, e_cross,
    *         e_within_a, e_within_b, energy_dist), doubles rounded to
    *         6 decimals. Groups missing either cohort are omitted.
    */
  def energyDistance(df: DataFrame, cohortCol: String, valueCol: String,
                     labelA: String = "a", labelB: String = "b",
                     groupCols: Seq[String] = Nil): DataFrame = {
    require(labelA != labelB, "cohort labels must differ")
    val v = F.col(valueCol).cast("double")
    val gCols = if (groupCols.nonEmpty) groupCols else Seq("__g")
    val base0 = df
      .where(v.isNotNull && !F.isnan(v) &&
        F.col(cohortCol).cast("string").isin(labelA, labelB))
    val base = (if (groupCols.nonEmpty) base0
      else base0.withColumn("__g", F.lit(1)))
      .select(gCols.map(F.col) :+ v.as("__v") :+
        (F.col(cohortCol).cast("string") === labelA).as("__ia"): _*)
    val g = gCols.map(F.col)
    import org.apache.spark.sql.expressions.Window
    val wRange = Window.partitionBy(g: _*).orderBy(F.col("__v"))
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(g: _*)
    val ia = F.when(F.col("__ia"), 1L).otherwise(0L)
    val ib = F.lit(1L) - ia
    val rows = base
      .withColumn("__ca", F.sum(ia).over(wRange))
      .withColumn("__sa", F.sum(F.col("__v") * ia).over(wRange))
      .withColumn("__cb", F.sum(ib).over(wRange))
      .withColumn("__sb", F.sum(F.col("__v") * ib).over(wRange))
      .withColumn("__na", F.sum(ia).over(wAll))
      .withColumn("__nb", F.sum(ib).over(wAll))
      .withColumn("__ta", F.sum(F.col("__v") * ia).over(wAll))
      .withColumn("__tb", F.sum(F.col("__v") * ib).over(wAll))
    // Σ_{A rows i} |x_i − v| evaluated at this row's v
    val absA = F.col("__v") * (F.lit(2.0) * F.col("__ca") - F.col("__na")) -
      (F.lit(2.0) * F.col("__sa") - F.col("__ta"))
    val agged = rows.groupBy(g: _*).agg(
      F.max("__na").as("n_a0"), F.max("__nb").as("n_b0"),
      F.sum(F.when(!F.col("__ia"), absA).otherwise(0.0)).as("cross"),
      F.sum(F.when(F.col("__ia"),
        F.col("__v") * F.col("__ca") - F.col("__sa")).otherwise(0.0))
        .as("wa"),
      F.sum(F.when(!F.col("__ia"),
        F.col("__v") * F.col("__cb") - F.col("__sb")).otherwise(0.0))
        .as("wb"))
      .where(F.col("n_a0") > 0L && F.col("n_b0") > 0L)
    val na = F.col("n_a0").cast("double"); val nb = F.col("n_b0").cast("double")
    val eCross = F.col("cross") / (na * nb)
    val eA = F.lit(2.0) * F.col("wa") / (na * na)
    val eB = F.lit(2.0) * F.col("wb") / (nb * nb)
    val d2 = F.greatest(F.lit(2.0) * eCross - eA - eB, F.lit(0.0))
    agged.select((if (groupCols.nonEmpty) g else Nil) ++ Seq(
      F.col("n_a0").as("n_a"), F.col("n_b0").as("n_b"),
      F.round(eCross, 6).as("e_cross"),
      F.round(eA, 6).as("e_within_a"),
      F.round(eB, 6).as("e_within_b"),
      F.round(F.sqrt(d2), 6).as("energy_dist")): _*)
  }

  /** Mood's median test — k-sample location test on the COUNTS above
    * vs not-above the pooled median, the robust "are these cohorts
    * centered alike" check that stays valid under wildly non-normal
    * data where ANOVA's F is garbage (it throws away everything but
    * the side of the median, which is exactly why a single wild tail
    * can't move it).
    *
    * The pooled median is the exact `quantile_disc(0.5)` order
    * statistic (rank-select, no sort of the data — [[Outliers]]
    * convention); the 2×k contingency fold is one conditional-count
    * aggregation. X² = Σ (O−E)²/E over both rows of the table,
    * df = k−1, p = Q(df/2, X²_rounded/2) — even df replays exactly in
    * an external engine via the Poisson-sum closed form.
    *
    * @return one row: (median, chi2, dof, p_value, n, k)
    */
  def moodMedianTest(df: DataFrame, cohortCol: String,
                     valueCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val v = F.col(valueCol).cast("double")
    val clean = df.where(v.isNotNull && !F.isnan(v) &&
        F.col(cohortCol).isNotNull)
      .select(F.col(cohortCol).cast("string").as("g"), v.as("__v"))
    val med = Outliers.quantileDisc(clean, "__v", 0.5)
    val cells = clean.groupBy("g").agg(
      F.sum(F.when(F.col("__v") > med, 1L).otherwise(0L)).as("above"),
      F.count(F.lit(1)).as("tot")).collect()
      .sortBy(_.getAs[String]("g")) // deterministic driver fold order
    val k = cells.length.toLong
    require(k >= 2, "need at least two cohorts")
    val n = cells.map(_.getAs[Long]("tot")).sum
    val aboveTot = cells.map(_.getAs[Long]("above")).sum
    val pAbove = aboveTot.toDouble / n
    var chi2 = 0.0
    cells.foreach { r =>
      val t = r.getAs[Long]("tot").toDouble
      val a = r.getAs[Long]("above").toDouble
      val ea = t * pAbove; val eb = t * (1.0 - pAbove)
      chi2 += (a - ea) * (a - ea) / ea + ((t - a) - eb) * ((t - a) - eb) / eb
    }
    val dof = k - 1L
    val chiR = math.rint(chi2 * 1e6) / 1e6
    val p = math.rint(SpecialMath.gammaIncC(dof / 2.0, chiR / 2.0) * 1e6) / 1e6
    Seq((med, chiR, dof, p, n, k))
      .toDF("median", "chi2", "dof", "p_value", "n", "k")
  }

  /** Fisher's EXACT test on the 2×2 table of two boolean columns —
    * the small-cell companion to [[chiSquareTwoSample]]: the χ²
    * approximation degrades below ~5 expected per cell, which is
    * precisely the regime of rare-event × rare-segment tables; the
    * hypergeometric sum is exact at ANY cell size.
    *
    * One conditional-count aggregation reduces the data to (a,b,c,d);
    * the two-sided p is the textbook sum of hypergeometric pmfs ≤ the
    * observed pmf (relative gate 1+1e−7, the scipy/R convention that
    * keeps the inclusion boundary ULP-robust), evaluated on the driver
    * over ≤ min(r1,c1) terms via lgamma — and replayable in an
    * external engine as a generate_series sum over the same gate.
    *
    * @return one row: (a, b, c, d, odds_ratio, p_value) — odds ratio
    *         is the sample (a·d)/(b·c), null when b·c = 0.
    */
  def fisherExact(df: DataFrame, flagACol: String,
                  flagBCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val fa = F.col(flagACol).cast("boolean")
    val fb = F.col(flagBCol).cast("boolean")
    val r = df.where(fa.isNotNull && fb.isNotNull).agg(
      F.sum(F.when(fa && fb, 1L).otherwise(0L)).as("a"),
      F.sum(F.when(fa && !fb, 1L).otherwise(0L)).as("b"),
      F.sum(F.when(!fa && fb, 1L).otherwise(0L)).as("c"),
      F.sum(F.when(!fa && !fb, 1L).otherwise(0L)).as("d")).head()
    val a = r.getAs[Long]("a"); val b = r.getAs[Long]("b")
    val c = r.getAs[Long]("c"); val d = r.getAs[Long]("d")
    val n = a + b + c + d
    require(n > 0, "empty table")
    val r1 = a + b; val c1 = a + c
    def lpmf(k: Long): Double =
      SpecialMath.lgamma(r1 + 1.0) + SpecialMath.lgamma(n - r1 + 1.0) +
      SpecialMath.lgamma(c1 + 1.0) + SpecialMath.lgamma(n - c1 + 1.0) -
      SpecialMath.lgamma(n + 1.0) - SpecialMath.lgamma(k + 1.0) -
      SpecialMath.lgamma(r1 - k + 1.0) - SpecialMath.lgamma(c1 - k + 1.0) -
      SpecialMath.lgamma(n - r1 - c1 + k + 1.0)
    val lo = math.max(0L, r1 + c1 - n); val hi = math.min(r1, c1)
    val pObs = math.exp(lpmf(a))
    var p = 0.0
    var kk = lo
    while (kk <= hi) {
      val pk = math.exp(lpmf(kk))
      if (pk <= pObs * (1.0 + 1e-7)) p += pk
      kk += 1L
    }
    val pR = math.rint(math.min(1.0, p) * 1e6) / 1e6
    val or: Option[Double] =
      if (b * c == 0L) None
      else Some(math.rint(a.toDouble * d / (b.toDouble * c) * 1e6) / 1e6)
    Seq((a, b, c, d, or, pR))
      .toDF("a", "b", "c", "d", "odds_ratio", "p_value")
  }

  /** Friedman test — the k-treatment repeated-measures rank test, the
    * continuous-outcome sibling of [[cochranQ]] (and the nonparametric
    * stand-in for repeated-measures ANOVA): within each subject the k
    * treatment responses are ranked (average ranks at ties), and the
    * statistic asks whether any treatment's mean rank departs from the
    * null (k+1)/2. Complete blocks only; per-(subject, treatment)
    * multiples collapse by mean.
    *
    * Uses Conover's general rank-variance form (exact under ties,
    * reduces to the textbook 12/(bk(k+1))·ΣR²−3b(k+1) without them),
    * with r̄ = (k+1)/2 and Rⱼ the rank sum of treatment j:
    *
    *   χ² = (k−1)·Σⱼ(Rⱼ − b·r̄)² / Σᵢⱼ(rᵢⱼ − r̄)²
    *
    * Execution: one cell aggregation, a per-SUBJECT rank window over
    * the k-row blocks, one treatment fold. p = Q((k−1)/2, χ²/2) at the
    * rounded statistic — even df replays exactly.
    *
    * @return one row: (chi2, dof, p_value, n_subjects, n_incomplete)
    */
  def friedmanTest(df: DataFrame, subjectCol: String, treatmentCol: String,
                   valueCol: String, treatments: Seq[String]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val k = treatments.length
    require(k >= 2, "need at least two treatments")
    import org.apache.spark.sql.expressions.Window
    val v = F.col(valueCol).cast("double")
    val cell = df
      .where(F.col(subjectCol).isNotNull && v.isNotNull && !F.isnan(v) &&
        F.col(treatmentCol).cast("string").isin(treatments: _*))
      .groupBy(F.col(subjectCol).as("s"),
        F.col(treatmentCol).cast("string").as("t"))
      .agg(F.avg(v).as("v"))
    val wSub = Window.partitionBy("s")
    val complete = cell
      .withColumn("__kt", F.count(F.lit(1)).over(wSub))
      .where(F.col("__kt") === k.toLong)
    // average ranks: min-rank + (ties−1)/2 over the k-row block
    val wRank = Window.partitionBy("s").orderBy("v")
    val wTie = Window.partitionBy("s", "v")
    val ranked = complete
      .withColumn("__r", F.rank().over(wRank).cast("double") +
        (F.count(F.lit(1)).over(wTie).cast("double") - 1.0) / 2.0)
    val rBar = (k + 1.0) / 2.0
    val head = ranked.agg(
      F.countDistinct("s").as("b"),
      F.sum((F.col("__r") - rBar) * (F.col("__r") - rBar)).as("den"))
      .head()
    val b = head.getAs[Long]("b")
    require(b > 0, "no complete blocks")
    val den = head.getAs[Double]("den")
    val tj = ranked.groupBy("t").agg(F.sum("__r").as("rj")).collect()
      .sortBy(_.getAs[String]("t")).map(_.getAs[Double]("rj"))
    val num = (k - 1.0) * tj.map { r =>
      val d = r - b * rBar; d * d
    }.sum
    val nIncomplete = cell.groupBy("s").agg(F.count(F.lit(1)).as("kt"))
      .where(F.col("kt") =!= k.toLong).count()
    val dof = k - 1L
    val (chiR, p) =
      if (den <= 0.0) (0.0, 1.0)
      else {
        val c = math.rint(num / den * 1e6) / 1e6
        (c, math.rint(SpecialMath.gammaIncC(dof / 2.0, c / 2.0) * 1e6) / 1e6)
      }
    Seq((chiR, dof, p, b, nIncomplete))
      .toDF("chi2", "dof", "p_value", "n_subjects", "n_incomplete")
  }

  /** Cochran's Q — the k-treatment extension of [[mcnemar]]: do k
    * binary treatments (exposures, variants, model versions) have the
    * same success rate across matched subjects? Operates on COMPLETE
    * blocks only (subjects observed under every treatment; incomplete
    * subjects are excluded, their count reported), with per-(subject,
    * treatment) outcomes collapsed by ANY-success.
    *
    * Q = k(k−1)·Σⱼ(Tⱼ−B/k)² / (kB − ΣᵢRᵢ²) where Tⱼ are treatment
    * totals, Rᵢ subject totals, B = ΣRᵢ; Q ~ χ²(k−1) under H₀. Two
    * aggregations (subject fold, then treatment fold) — every
    * sufficient statistic is an exact integer, so the statistic
    * replays bit-for-bit; p from the rounded Q ([[chiSquareTwoSample]]
    * convention, even-df-replayable when k is odd).
    *
    * @return one row: (q_stat, dof, p_value, n_subjects, n_incomplete)
    */
  def cochranQ(df: DataFrame, subjectCol: String, treatmentCol: String,
               outcomeCol: String, treatments: Seq[String]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val k = treatments.length
    require(k >= 2, "need at least two treatments")
    val o = F.col(outcomeCol).cast("boolean")
    val cell = df
      .where(F.col(subjectCol).isNotNull && o.isNotNull &&
        F.col(treatmentCol).cast("string").isin(treatments: _*))
      .groupBy(F.col(subjectCol).as("s"),
        F.col(treatmentCol).cast("string").as("t"))
      .agg(F.max(F.when(o, 1L).otherwise(0L)).as("y"))
    val subj = cell.groupBy("s").agg(
      F.count(F.lit(1)).as("kt"), F.sum("y").as("ri"))
    val nIncomplete = subj.where(F.col("kt") =!= k.toLong).count()
    val complete = subj.where(F.col("kt") === k.toLong)
    val subjAgg = complete.agg(
      F.count(F.lit(1)).as("ns"), F.sum("ri").as("bb"),
      F.sum(F.col("ri") * F.col("ri")).as("r2")).head()
    val ns = subjAgg.getAs[Long]("ns")
    require(ns > 0, "no complete blocks")
    val bb = subjAgg.getAs[Long]("bb")
    val r2 = subjAgg.getAs[Long]("r2")
    val tj = cell.join(complete.select("s"), "s")
      .groupBy("t").agg(F.sum("y").as("tj")).collect()
      .map(_.getAs[Long]("tj"))
    val tBar = bb.toDouble / k
    val num = k.toDouble * (k - 1.0) *
      tj.map(t => (t - tBar) * (t - tBar)).sum
    val den = k.toDouble * bb - r2.toDouble
    val dof = k - 1L
    val (qR, p) =
      if (den <= 0.0) (0.0, 1.0)
      else {
        val q0 = math.rint(num / den * 1e6) / 1e6
        (q0, math.rint(SpecialMath.gammaIncC(dof / 2.0, q0 / 2.0) * 1e6) / 1e6)
      }
    Seq((qR, dof, p, ns, nIncomplete))
      .toDF("q_stat", "dof", "p_value", "n_subjects", "n_incomplete")
  }

  /** Beta-binomial method-of-moments fit over EQUAL-SIZE trials — the
    * overdispersion model for per-entity success COUNTS ("k returned
    * lines out of n=4 per order", "k positive labels out of n raters"):
    * when Var(k) exceeds the binomial n·p̄(1−p̄), the binomial p-values
    * on entity rates are fictions; the fitted (α, β) and the intraclass
    * correlation ρ = 1/(α+β+1) quantify how much. Classic MoM on the
    * first two moments (requires a COMMON n — filter upstream or pass
    * `trials`):
    *
    *   α̂ = (n·m₁ − m₂)/(n(m₂/m₁ − m₁ − 1) + m₁),
    *   β̂ = (n − m₁)(n − m₂/m₁)/(n(m₂/m₁ − m₁ − 1) + m₁)
    *
    * ONE aggregation of exact integer sums (k, k²); every output is a
    * rounded ratio of those.
    *
    * @return one row: (n_trials, n_groups, m1, m2, alpha, beta, rho) */
  def betaBinomialMoM(df: DataFrame, kCol: String, nCol: String,
                      trials: Int): DataFrame = {
    require(trials >= 2, "need at least two trials per group")
    val spark = df.sparkSession
    import spark.implicits._
    val k = F.col(kCol).cast("long")
    val nT = F.col(nCol).cast("long")
    val m = df
      .where(k.isNotNull && nT === trials.toLong && k >= 0L &&
        k <= trials.toLong)
      .agg(F.count(F.lit(1)).as("g"), F.sum(k).as("sk"),
        F.sum(k * k).as("skk")).head()
    val g = m.getAs[Long]("g")
    require(g >= 2L, "need at least two equal-size groups")
    val gD = g.toDouble
    val m1 = m.getAs[Long]("sk") / gD
    val m2 = m.getAs[Long]("skk") / gD
    require(m1 > 0.0 && m2 / m1 > m1, "degenerate moments (no variance)")
    val nD = trials.toDouble
    val den = nD * (m2 / m1 - m1 - 1.0) + m1
    require(math.abs(den) > 1e-12, "moment denominator vanishes")
    val alpha = (nD * m1 - m2) / den
    val beta = (nD - m1) * (nD - m2 / m1) / den
    def r6(v: Double) = math.rint(v * 1e6) / 1e6
    Seq((trials.toLong, g, r6(m1), r6(m2), r6(alpha), r6(beta),
      r6(1.0 / (alpha + beta + 1.0))))
      .toDF("n_trials", "n_groups", "m1", "m2", "alpha", "beta", "rho")
  }

  /** Wilcoxon signed-rank test — the rank-based companion to
    * [[pairedTTest]]: are paired differences symmetric about zero,
    * without the t-test's normality assumption? Zero differences are
    * dropped (their count reported); |d| midranks come from the
    * distinct-|d| counts, W⁺ = Σ midrank·#{d>0 at that |d|}, and the
    * tie-corrected normal approximation
    * σ² = n(n+1)(2n+1)/24 − Σ(t³−t)/48 with continuity correction
    * gives z; two-sided p = erfc(|z|/√2) at the 6-decimal-ROUNDED z
    * ([[mannWhitneyU]] convention).
    *
    * Scale shape: ONE distinct-|d| count aggregation, then the
    * [[PrefixSum]] walk — W⁺ and
    * the tie sum accumulate partition-locally, driver traffic
    * O(#partitions). W⁺ is a sum of count×midrank half-integers, so it
    * replays bit-for-bit.
    *
    * @return one row: (n, n_zero, w_plus, z, p_value) */
  def wilcoxonSignedRank(df: DataFrame, aCol: String,
                         bCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val a = F.col(aCol).cast("double")
    val b = F.col(bCol).cast("double")
    val d = a - b
    val clean = df
      .where(a.isNotNull && !F.isnan(a) && b.isNotNull && !F.isnan(b))
      .select(d.as("d"))
    val nZero = clean.where(F.col("d") === 0.0).count()
    val cells = clean.where(F.col("d") =!= 0.0)
      .groupBy(F.abs(F.col("d")).as("v"))
      .agg(F.sum(F.when(F.col("d") > 0.0, 1L).otherwise(0L)).as("cp"),
        F.count(F.lit(1)).as("ct"))
    PrefixSum(cells.as[(Double, Long, Long)], F.col("v")) { ps =>
      val off = ps.offsets(1)((s, r) => s(0) += r._3)
      val n = off.last(0)
      require(n >= 2L, "need at least two nonzero differences")
      val parts = ps.walk(off) { (o, it) =>
        var cum = o(0)
        var w = 0.0; var ties = 0.0
        it.foreach { case (_, cp, ct) =>
          w += cp * (cum + (ct + 1.0) / 2.0)
          ties += ct.toDouble * ct * ct - ct
          cum += ct
        }
        Iterator((w, ties))
      }.collect()
      val w = parts.map(_._1).sum
      val tieSum = parts.map(_._2).sum
      val nD = n.toDouble
      val mu = nD * (nD + 1.0) / 4.0
      val sigma = math.sqrt(
        nD * (nD + 1.0) * (2.0 * nD + 1.0) / 24.0 - tieSum / 48.0)
      val z =
        if (sigma == 0.0 || w == mu) 0.0
        else (w - mu - 0.5 * math.signum(w - mu)) / sigma
      val zr = math.rint(z * 1e6) / 1e6
      val p = math.rint(SpecialMath.erfc(
        math.abs(zr) / math.sqrt(2.0)) * 1e6) / 1e6
      Seq((n, nZero, w, zr, p))
        .toDF("n", "n_zero", "w_plus", "z", "p_value")
    }
  }

  /** Sign test — the assumption-free floor under [[wilcoxonSignedRank]]:
    * is the median paired difference zero, using only the SIGNS of the
    * differences? Robust to any symmetric-or-not distribution; the
    * price is power. Normal approximation with continuity correction
    * (z = (n₊ − n/2 ∓ ½)/√(n/4)); two-sided p = erfc(|z|/√2) at the
    * rounded z. ONE aggregation of exact integer counts — replays
    * bit-for-bit.
    *
    * @return one row: (n_pos, n_neg, n_zero, z, p_value) */
  def signTest(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val a = F.col(aCol).cast("double")
    val b = F.col(bCol).cast("double")
    val d = a - b
    val r = df
      .where(a.isNotNull && !F.isnan(a) && b.isNotNull && !F.isnan(b))
      .agg(F.sum(F.when(d > 0.0, 1L).otherwise(0L)).as("np"),
        F.sum(F.when(d < 0.0, 1L).otherwise(0L)).as("nn"),
        F.sum(F.when(d === 0.0, 1L).otherwise(0L)).as("nz"))
      .head()
    val np = r.getAs[Long]("np"); val nn = r.getAs[Long]("nn")
    val nz = r.getAs[Long]("nz")
    val n = np + nn
    require(n > 0L, "all differences are zero")
    val half = n / 2.0
    val z =
      if (np.toDouble == half) 0.0
      else (np - half - 0.5 * math.signum(np - half)) /
        math.sqrt(n / 4.0)
    val zr = math.rint(z * 1e6) / 1e6
    val p = math.rint(SpecialMath.erfc(
      math.abs(zr) / math.sqrt(2.0)) * 1e6) / 1e6
    Seq((np, nn, nz, zr, p)).toDF("n_pos", "n_neg", "n_zero", "z",
      "p_value")
  }

  /** Bartlett's test for variance homogeneity across k groups — the
    * parametric (normal-theory) sharp end next to the robust
    * [[brownForsythe]]: T = [(N−k)·ln s²_p − Σ(nᵢ−1)·ln s²ᵢ] / C with
    * C = 1 + (Σ1/(nᵢ−1) − 1/(N−k)) / (3(k−1)), T ~ χ²(k−1). More
    * powerful than Levene under normality, badly anti-conservative
    * under heavy tails — run both and disagree loudly.
    *
    * ONE (n, Σx, Σx²) aggregation over the group frame (bounded by the
    * factor's cardinality, collected like [[cochranQ]]'s treatment
    * totals); p from the ROUNDED T via the regularized Γ survival
    * ([[chiSquareTwoSample]] convention — exp(−T/2)-replayable when
    * k−1 = 2). Integer-valued inputs make the moment sums exact.
    *
    * @return one row: (k, n, t_stat, dof, p_value) */
  def bartlettTest(df: DataFrame, factorCol: String,
                   valueCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val v = F.col(valueCol).cast("double")
    val groups = df
      .where(v.isNotNull && !F.isnan(v) && F.col(factorCol).isNotNull)
      .groupBy(F.col(factorCol).cast("string").as("g"))
      .agg(F.count(F.lit(1)).as("n"), F.sum(v).as("sx"),
        F.sum(v * v).as("sxx"))
      .collect()
      // deterministic fold order: collect() order varies run-to-run,
      // and a 3-term double sum is order-sensitive in the last ulps
      .sortBy(_.getAs[String]("g"))
    val k = groups.length
    require(k >= 2, "need at least two groups")
    val stats = groups.map { r =>
      val n = r.getAs[Long]("n").toDouble
      val sx = r.getAs[Double]("sx"); val sxx = r.getAs[Double]("sxx")
      (n, (sxx - sx * sx / n) / (n - 1.0))
    }
    require(stats.forall { case (n, s2) => n >= 2.0 && s2 > 0.0 },
      "every group needs n >= 2 and positive variance")
    val bigN = stats.map(_._1).sum
    val pooled = stats.map { case (n, s2) => (n - 1.0) * s2 }.sum /
      (bigN - k)
    val c = 1.0 + (stats.map { case (n, _) => 1.0 / (n - 1.0) }.sum -
      1.0 / (bigN - k)) / (3.0 * (k - 1.0))
    val t = ((bigN - k) * math.log(pooled) -
      stats.map { case (n, s2) => (n - 1.0) * math.log(s2) }.sum) / c
    val tr = math.rint(t * 1e6) / 1e6
    val dof = k - 1L
    val p = math.rint(SpecialMath.gammaIncC(dof / 2.0, tr / 2.0) * 1e6) / 1e6
    Seq((k.toLong, bigN.toLong, tr, dof, p))
      .toDF("k", "n", "t_stat", "dof", "p_value")
  }

  /** Cliff's delta — the ordinal effect size under [[mannWhitneyU]]:
    * δ = (#{x>y} − #{x<y}) / (n_a·n_b) over all cross-cohort pairs,
    * the probability a random A-value beats a random B-value minus the
    * reverse. Reported with the Romano et al. (2006) magnitude bands
    * (0.147 / 0.33 / 0.474) — the "is the significant difference
    * actually big" number that should always ride next to a U test's
    * p-value.
    *
    * Same [[cohortCounts]] prefix-sum substrate as the U statistic:
    * the pair counts fold from per-distinct-value cohort counts in one
    * partition-local pass, all exact integers — replays bit-for-bit.
    *
    * @return one row: (delta, magnitude, n_gt, n_lt, n_tie, n_a, n_b) */
  def cliffsDelta(df: DataFrame, cohortCol: String, valueCol: String,
                  labelA: String = "a", labelB: String = "b"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    cohortCounts(df, cohortCol, valueCol, labelA, labelB) {
        (ps, na, nb, off) =>
      val parts = ps.walk(off) { (o, it) =>
        var cumB = o(1)
        var gt = 0L; var tie = 0L
        it.foreach { case (_, ca, cb) =>
          gt += ca * cumB
          tie += ca * cb
          cumB += cb
        }
        Iterator((gt, tie))
      }.collect()
      val gt = parts.map(_._1).sum
      val tie = parts.map(_._2).sum
      val lt = na * nb - gt - tie
      val delta = (gt - lt).toDouble / (na.toDouble * nb)
      val dr = math.rint(delta * 1e6) / 1e6
      val mag = math.abs(dr) match {
        case x if x < 0.147 => "negligible"
        case x if x < 0.33  => "small"
        case x if x < 0.474 => "medium"
        case _              => "large"
      }
      Seq((dr, mag, gt, lt, tie, na, nb))
        .toDF("delta", "magnitude", "n_gt", "n_lt", "n_tie", "n_a", "n_b")
    }
  }

  /** Page's L trend test — the ordered-alternative companion of
    * [[friedmanTest]] for MATCHED designs: when every block (user,
    * panel, batch) is measured under every treatment and the
    * treatments carry an a-priori order, L = Σⱼ j·Rⱼ (hypothesized
    * rank × within-block rank sums, midranks on ties) concentrates
    * power on a monotone shift the way [[jonckheereTerpstra]] does for
    * unmatched groups. Normal approximation E[L] = bk(k+1)²/4,
    * Var[L] = bk²(k+1)(k²−1)/144 (no-tie form — mildly conservative
    * with midranks, identical on both sides); two-sided p from the
    * rounded z.
    *
    * Blocks collapse per (block, treatment) by MEAN (decimal-exact);
    * incomplete blocks are dropped and counted. Within-block ranks
    * ride a k-row window — the bounded-frame contract.
    *
    * @param treatments the treatment levels in hypothesized ascending
    *                   order
    * @return one row: (l_stat, z, p_value, n_blocks, n_incomplete, k) */
  def pageTrend(df: DataFrame, blockCol: String, treatmentCol: String,
                valueCol: String, treatments: Seq[String]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val k = treatments.length
    require(k >= 3, "need at least three ordered treatments")
    val v = F.col(valueCol).cast("double")
    val g = F.col(treatmentCol).cast("string")
    val cell = df
      .where(F.col(blockCol).isNotNull && v.isNotNull && !F.isnan(v) &&
        g.isin(treatments: _*))
      .groupBy(F.col(blockCol).as("b"), g.as("t"))
      .agg((F.sum(v.cast("decimal(38,6)")).cast("double") /
        F.count(F.lit(1))).as("m"))
    val wB = Window.partitionBy("b")
    val complete = cell
      .withColumn("__kt", F.count(F.lit(1)).over(wB))
    val nIncomplete = complete.where(F.col("__kt") =!= k.toLong)
      .select("b").distinct().count()
    val wUp = wB.orderBy(F.col("m").asc)
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val wDn = wB.orderBy(F.col("m").desc)
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = complete.where(F.col("__kt") === k.toLong)
      // midrank = (#{m' <= m} + (k + 1 - #{m' >= m})) / 2
      .withColumn("__r",
        (F.count(F.lit(1)).over(wUp).cast("double") +
          (F.lit(k + 1.0) - F.count(F.lit(1)).over(wDn))) / 2.0)
    val orderIdx = treatments.zipWithIndex
      .map { case (t, i) => (t, (i + 1).toDouble) }.toMap
    val rankSums = ranked.groupBy("t")
      .agg(F.sum("__r").as("rj"), F.count(F.lit(1)).as("bj"))
      .collect().map(r => (r.getAs[String]("t"),
        r.getAs[Double]("rj"), r.getAs[Long]("bj")))
      .sortBy(r => orderIdx(r._1))
    require(rankSums.length == k, "a treatment has no complete blocks")
    val b = rankSums.head._3
    require(rankSums.forall(_._3 == b), "unbalanced complete blocks")
    val l = rankSums.zipWithIndex
      .map { case ((_, rj, _), i) => (i + 1.0) * rj }.sum
    val bD = b.toDouble; val kD = k.toDouble
    val mean = bD * kD * (kD + 1.0) * (kD + 1.0) / 4.0
    val variance = bD * kD * kD * (kD + 1.0) * (kD * kD - 1.0) / 144.0
    val sigma = math.sqrt(variance)
    val z = if (sigma == 0.0 || l == mean) 0.0 else (l - mean) / sigma
    val zr = math.rint(z * 1e6) / 1e6
    val p = math.rint(SpecialMath.erfc(
      math.abs(zr) / math.sqrt(2.0)) * 1e6) / 1e6
    Seq((l, zr, p, b, nIncomplete, k.toLong))
      .toDF("l_stat", "z", "p_value", "n_blocks", "n_incomplete", "k")
  }

  /** Kendall's W — coefficient of concordance: how consistently do b
    * independent blocks (raters, users, days) rank the same k items?
    * W = 12·S / (b²k(k²−1) − b·ΣT) with S the squared deviation of the
    * item rank sums from their mean and ΣT = Σ(t³−t) the within-block
    * tie correction (midranks); W = 1 is perfect agreement, 0 is
    * rank noise. χ² = b(k−1)W against df = k−1 (even-df replay when k
    * is odd).
    *
    * Same (block, item) mean-cell + bounded-window substrate as
    * [[pageTrend]]; all sums fold from exact midranks.
    *
    * @return one row: (w, chi2, dof, p_value, n_blocks, k) */
  def kendallW(df: DataFrame, blockCol: String, itemCol: String,
               valueCol: String, items: Seq[String]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val k = items.length
    require(k >= 3, "need at least three items")
    val v = F.col(valueCol).cast("double")
    val g = F.col(itemCol).cast("string")
    val cell = df
      .where(F.col(blockCol).isNotNull && v.isNotNull && !F.isnan(v) &&
        g.isin(items: _*))
      .groupBy(F.col(blockCol).as("b"), g.as("t"))
      .agg((F.sum(v.cast("decimal(38,6)")).cast("double") /
        F.count(F.lit(1))).as("m"))
    val wB = Window.partitionBy("b")
    val complete = cell
      .withColumn("__kt", F.count(F.lit(1)).over(wB))
      .where(F.col("__kt") === k.toLong)
    val wUp = wB.orderBy(F.col("m").asc)
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val wDn = wB.orderBy(F.col("m").desc)
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val wPeer = wB.orderBy(F.col("m").asc)
      .rangeBetween(Window.currentRow, Window.currentRow)
    val ranked = complete
      .withColumn("__r",
        (F.count(F.lit(1)).over(wUp).cast("double") +
          (F.lit(k + 1.0) - F.count(F.lit(1)).over(wDn))) / 2.0)
      .withColumn("__t", F.count(F.lit(1)).over(wPeer))
    val agg = ranked.agg(
      F.countDistinct(F.col("b")).as("nb"),
      // each tie GROUP of size t contributes t³−t, counted once per
      // member then divided by t: Σ over rows of (t³−t)/t = Σ t²−1
      F.sum(F.col("__t").cast("double") * F.col("__t") - 1.0)
        .as("ties")).head()
    val b = agg.getAs[Long]("nb")
    require(b >= 2L, "need at least two complete blocks")
    val tieSum = agg.getAs[Double]("ties")
    val rj = ranked.groupBy("t").agg(F.sum("__r").as("rj"))
      .collect().map(_.getAs[Double]("rj")).sorted
    val bD = b.toDouble; val kD = k.toDouble
    val meanR = bD * (kD + 1.0) / 2.0
    val s = rj.map(r => (r - meanR) * (r - meanR)).sum
    val den = bD * bD * kD * (kD * kD - 1.0) - bD * tieSum
    require(den > 0.0, "degenerate ranks (all tied)")
    val w = math.rint(12.0 * s / den * 1e6) / 1e6
    val chi2 = math.rint(bD * (kD - 1.0) * w * 1e6) / 1e6
    val dof = k - 1L
    val p = math.rint(SpecialMath.gammaIncC(dof / 2.0, chi2 / 2.0) *
      1e6) / 1e6
    Seq((w, chi2, dof, p, b, k.toLong))
      .toDF("w", "chi2", "dof", "p_value", "n_blocks", "k")
  }

  /** Exact distance correlation (Székely–Rizzo) over LOW-CARDINALITY
    * pairs: dCor = 0 iff X ⊥ Y (against ANY dependence, not just
    * monotone — the population-level guarantee Pearson and Spearman
    * lack), computed exactly on the joint (x, y, count) cell frame:
    * the double-centered distance matrices fold over cell PAIRS with
    * count weights, so n² row pairs collapse to |cells|² weighted cell
    * pairs. Requires both columns low-cardinality (binned/integer
    * drivers) — |cells|² is the frame the cross join materializes.
    *
    * dCov² = Σ w_k w_l A_kl B_kl / n², A = a − rowmean − colmean +
    * grandmean; dCor² = dCov²/√(dVarX·dVarY). One cells aggregation,
    * one broadcast cell cross join, one mean join-back, one fold.
    *
    * @return one row: (n, n_cells, dcov2, dvar_x, dvar_y, dcor) */
  def distanceCorrCells(df: DataFrame, xCol: String,
                        yCol: String): DataFrame = Persisted { scope =>
    val spark = df.sparkSession
    import spark.implicits._
    val x = F.col(xCol).cast("double")
    val y = F.col(yCol).cast("double")
    val cells = scope.checkpoint(df
      .where(x.isNotNull && !F.isnan(x) && y.isNotNull && !F.isnan(y))
      .groupBy(x.as("x"), y.as("y"))
      .agg(F.count(F.lit(1)).as("w")))
    val cn = cells.agg(F.sum("w").as("n"),
      F.count(F.lit(1)).as("cells")).head()
    val n = cn.getAs[Long]("n")
    // loud guard, not a silent cap: the cell cross join is |cells|²
    require(cn.getAs[Long]("cells") <= 4096L,
      s"${cn.getAs[Long]("cells")} joint cells — distanceCorrCells is " +
        "exact on LOW-CARDINALITY pairs; bin/quantize the columns first")
    require(n >= 2L, "need at least two rows")
    val nD = n.toDouble
    val l = cells.select(F.col("x").as("xk"), F.col("y").as("yk"),
      F.col("w").as("wk"))
    val r = cells.select(F.col("x").as("xl"), F.col("y").as("yl"),
      F.col("w").as("wl"))
    val pairs = l.crossJoin(F.broadcast(r))
      .withColumn("a", F.abs(F.col("xk") - F.col("xl")))
      .withColumn("bb", F.abs(F.col("yk") - F.col("yl")))
    // row means per left cell (the matrix is symmetric, so row = col)
    val rowMeans = pairs.groupBy("xk", "yk")
      .agg((F.sum(F.col("wl") * F.col("a")) / nD).as("am"),
        (F.sum(F.col("wl") * F.col("bb")) / nD).as("bm"))
    val grand = pairs.agg(
      (F.sum(F.col("wk").cast("double") * F.col("wl") * F.col("a")) /
        (nD * nD)).as("ag"),
      (F.sum(F.col("wk").cast("double") * F.col("wl") * F.col("bb")) /
        (nD * nD)).as("bg")).head()
    val ag = grand.getAs[Double]("ag"); val bg = grand.getAs[Double]("bg")
    val mk = rowMeans.select(F.col("xk"), F.col("yk"),
      F.col("am").as("amk"), F.col("bm").as("bmk"))
    val ml = rowMeans.select(F.col("xk").as("xl"), F.col("yk").as("yl"),
      F.col("am").as("aml"), F.col("bm").as("bml"))
    val centered = pairs
      .join(F.broadcast(mk), Seq("xk", "yk"))
      .join(F.broadcast(ml), Seq("xl", "yl"))
      .withColumn("ac", F.col("a") - F.col("amk") - F.col("aml") +
        F.lit(ag))
      .withColumn("bc", F.col("bb") - F.col("bmk") - F.col("bml") +
        F.lit(bg))
    val sums = centered.agg(
      F.sum(F.col("wk").cast("double") * F.col("wl") *
        F.col("ac") * F.col("bc")).as("sab"),
      F.sum(F.col("wk").cast("double") * F.col("wl") *
        F.col("ac") * F.col("ac")).as("saa"),
      F.sum(F.col("wk").cast("double") * F.col("wl") *
        F.col("bc") * F.col("bc")).as("sbb"),
      F.count(F.lit(1)).as("npairs")).head()
    val dcov2 = sums.getAs[Double]("sab") / (nD * nD)
    val dvarX = sums.getAs[Double]("saa") / (nD * nD)
    val dvarY = sums.getAs[Double]("sbb") / (nD * nD)
    require(dvarX > 0.0 && dvarY > 0.0, "a degenerate (constant) margin")
    val dcor = math.sqrt(math.max(dcov2, 0.0) /
      math.sqrt(dvarX * dvarY))
    def r6(v: Double) = math.rint(v * 1e6) / 1e6
    val nCells = math.sqrt(sums.getAs[Long]("npairs").toDouble).round
    Seq((n, nCells, r6(dcov2), r6(dvarX), r6(dvarY), r6(dcor)))
      .toDF("n", "n_cells", "dcov2", "dvar_x", "dvar_y", "dcor")
  }

  /** Jonckheere–Terpstra test for an ORDERED alternative across k
    * groups — the trend-aware upgrade of [[kruskalWallisByGroup]]:
    * when the factor levels carry an a-priori order (dose, severity,
    * priority), J = Σ_{i<j} U_ij (pairwise Mann–Whitney counts in the
    * hypothesized direction, ties at ½) concentrates all its power on
    * monotone location shift. Normal approximation with the no-tie
    * variance [N²(2N+3) − Σnᵢ²(2nᵢ+3)]/72 (ties make it mildly
    * conservative — documented, identical on both sides) and
    * continuity correction; two-sided p = erfc(|z|/√2) at the rounded
    * z.
    *
    * Scale shape: ONE per-distinct-value conditional-count aggregation
    * (k counts per value), then a range-partition prefix-sum walk with
    * per-level broadcast offsets — J accumulates partition-locally as
    * exact half-integers, driver traffic O(k·#partitions).
    *
    * @param levels the factor levels in hypothesized ascending order
    * @return one row: (j_stat, z, p_value, n, k) */
  def jonckheereTerpstra(df: DataFrame, factorCol: String,
                         valueCol: String,
                         levels: Seq[String]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val k = levels.length
    require(k >= 2, "need at least two ordered levels")
    val g = F.col(factorCol).cast("string")
    val v = F.col(valueCol).cast("double")
    val aggs = levels.zipWithIndex.map { case (l, i) =>
      F.sum(F.when(g === l, 1L).otherwise(0L)).as(s"c$i")
    }
    val counts = df
      .where(v.isNotNull && !F.isnan(v) && g.isin(levels: _*))
      .groupBy(v.as("v"))
      .agg(aggs.head, aggs.tail: _*)
    PrefixSum(counts, F.col("v")) { ps =>
      val off = ps.offsets(k) { (s, r) =>
        var j = 0; while (j < k) { s(j) += r.getLong(j + 1); j += 1 }
      }
      val totals = off.last
      val n = totals.sum
      require(totals.forall(_ > 0L), "every level needs rows")
      val jParts = ps.walk(off) { (o, it) =>
        val cum = o.clone()
        var jj = 0.0
        it.foreach { r =>
          val cs = Array.tabulate(k)(j => r.getLong(j + 1))
          var lo = 0L; var tieLo = 0L
          var j = 0
          while (j < k) {
            if (j > 0) jj += cs(j) * (lo + 0.5 * tieLo)
            lo += cum(j); tieLo += cs(j)
            cum(j) += cs(j)
            j += 1
          }
        }
        Iterator(jj)
      }.collect()
      // per-value lower-level prefix: lo folds cum(0..j-1) BEFORE this
      // value, tieLo the same-value counts of lower levels
      val jStat = jParts.sum
      val nD = n.toDouble
      val mean = (nD * nD - totals.map(t => t.toDouble * t).sum) / 4.0
      val variance = (nD * nD * (2.0 * nD + 3.0) -
        totals.map(t => t.toDouble * t * (2.0 * t + 3.0)).sum) / 72.0
      val sigma = math.sqrt(variance)
      val z =
        if (sigma == 0.0 || jStat == mean) 0.0
        else (jStat - mean - 0.5 * math.signum(jStat - mean)) / sigma
      val zr = math.rint(z * 1e6) / 1e6
      val p = math.rint(SpecialMath.erfc(
        math.abs(zr) / math.sqrt(2.0)) * 1e6) / 1e6
      Seq((jStat, zr, p, n, k.toLong))
        .toDF("j_stat", "z", "p_value", "n", "k")
    }
  }
  /** Vuong closed-form model comparison — "which of two fitted
    * families actually explains this column better, and is the gap
    * real": for non-nested candidates A, B with closed-form MLEs
    * (norm / lognorm / expon), the per-row log-likelihood difference
    * d_i = ll_A(x_i) − ll_B(x_i) gives
    *
    *   z = √n · d̄ / sd_pop(d)  ~  N(0,1) under "equally close"
    *
    * (Vuong 1989) — positive z prefers A. The closed-form MLEs are
    * 6-ROUNDED (so every per-row ll is a pure function of rounded
    * scalars), each d_i rounds to 6 before the DECIMAL-exact moment
    * fold, and p evaluates the shared Cody erfc at the rounded z —
    * the whole verdict replays. Strictly positive values only (the
    * lognorm support); the pairing the fit-ranking AIC table cannot
    * give you is the SIGNIFICANCE of the gap.
    *
    * @param distA,distB "norm", "lognorm" or "expon"
    * @return one row: (n, dist_a, dist_b, mean_ll_a, mean_ll_b, z,
    *         p_value, preferred) */
  def vuongTest(df: DataFrame, valueCol: String, distA: String,
                distB: String): DataFrame = Persisted { scope =>
    val allowed = Set("norm", "lognorm", "expon")
    require(allowed(distA) && allowed(distB), "dist must be norm/lognorm/expon")
    require(distA != distB, "candidates must differ")
    val spark = df.sparkSession
    import spark.implicits._
    val x = F.col(valueCol).cast("double")
    val clean = scope.checkpoint(df
      .where(x.isNotNull && !F.isnan(x) && x > 0.0)
      .select(x.as("__x")))
    val m = clean.agg(F.count(F.lit(1)).as("n"),
      dsum(F.col("__x")).as("s"),
      dsum(F.col("__x") * F.col("__x")).as("ss"),
      dsum(F.log("__x")).as("sl"),
      dsum(F.log("__x") * F.log("__x")).as("sll")).head()
    val n = m.getAs[Long]("n")
    require(n >= 8L, "need at least 8 positive rows")
    val nD = n.toDouble
    def r6(v: Double) = math.rint(v * 1e6) / 1e6
    val mu = r6(m.getAs[Double]("s") / nD)
    val v2 = r6(m.getAs[Double]("ss") / nD - (m.getAs[Double]("s") / nD)
      * (m.getAs[Double]("s") / nD))
    val ml = r6(m.getAs[Double]("sl") / nD)
    val vl = r6(m.getAs[Double]("sll") / nD -
      (m.getAs[Double]("sl") / nD) * (m.getAs[Double]("sl") / nD))
    require(v2 > 0.0 && vl > 0.0, "degenerate variance")
    val ln2pi = math.log(2.0 * math.Pi)
    def ll(dist: String): org.apache.spark.sql.Column = dist match {
      case "norm" =>
        F.lit(-0.5) * (F.lit(ln2pi) + F.lit(math.log(v2))) -
          (F.col("__x") - mu) * (F.col("__x") - mu) / (2.0 * v2)
      case "lognorm" =>
        -F.log("__x") +
          F.lit(-0.5) * (F.lit(ln2pi) + F.lit(math.log(vl))) -
          (F.log("__x") - ml) * (F.log("__x") - ml) / (2.0 * vl)
      case "expon" =>
        F.lit(-math.log(mu)) - F.col("__x") / mu
    }
    val d = F.round(ll(distA) - ll(distB), 6)
    val agg = clean.select(d.as("__d"),
        F.round(ll(distA), 6).as("__la"), F.round(ll(distB), 6).as("__lb"))
      .agg(dsum(F.col("__d")).as("sd"),
        dsum(F.col("__d") * F.col("__d")).as("sdd"),
        dsum(F.col("__la")).as("sa"), dsum(F.col("__lb")).as("sb"))
      .head()
    val md = agg.getAs[Double]("sd") / nD
    val vd = agg.getAs[Double]("sdd") / nD - md * md
    require(vd > 0.0, "identical likelihoods")
    val z = r6(math.sqrt(nD) * md / math.sqrt(vd))
    val pv = r6(graft.functions.SpecialMath.erfc(
      math.abs(z) / math.sqrt(2.0)))
    val preferred =
      if (pv >= 0.05) "indistinguishable"
      else if (z > 0.0) distA else distB
    Seq((n, distA, distB, r6(agg.getAs[Double]("sa") / nD),
      r6(agg.getAs[Double]("sb") / nD), z, pv, preferred))
      .toDF("n", "dist_a", "dist_b", "mean_ll_a", "mean_ll_b", "z",
        "p_value", "preferred")
  }

  /** Classifier two-sample test (C2ST, Lopez-Paz & Oquab 2017) with the
    * repo's deterministic logistic learner: label slice A 1 and slice B
    * 0, train [[Regression.logisticIrls]] (fixed Newton steps from
    * β = 0), and test whether the IN-SAMPLE accuracy of the sign rule
    * beats the majority-class baseline p₀ = max(|A|,|B|)/n,
    *
    *   z = (acc − p₀) / √(p₀(1−p₀)/n),   p = erfc(|z|/√2)
    *
    * — if no classifier separates the slices, the distributions are
    * indistinguishable TO THAT MODEL CLASS. The p₀ baseline (not ½)
    * keeps imbalanced slices honest: the fitted intercept alone reaches
    * max(|A|,|B|)/n accuracy on identical distributions. Caveat: the
    * accuracy is IN-SAMPLE, which biases it upward — the test is mildly
    * anti-conservative; hold out or split if false positives are
    * costly. A calibrated multivariate
    * complement to the per-column KS/MWU screens. β is 6-rounded before
    * the accuracy pass (the replay contract: the scoring comparisons
    * see identical predictors in both engines), accuracy/z/p 6-rounded.
    * Three aggregation passes + the Newton trajectory — every step a
    * chained-CTE replay, no row ever collected.
    *
    * @return one row: (n, accuracy, z, p_value, b0…bK) */
  def c2stLogistic(dfA: DataFrame, dfB: DataFrame,
                   featureCols: Seq[String],
                   iters: Int = 3): DataFrame = {
    require(featureCols.nonEmpty, "need at least one feature")
    val spark = dfA.sparkSession
    val a = dfA.select(featureCols.map(c =>
      F.col(c).cast("double").as(c)): _*).withColumn("__y", F.lit(1.0))
    val b = dfB.select(featureCols.map(c =>
      F.col(c).cast("double").as(c)): _*).withColumn("__y", F.lit(0.0))
    val u = a.unionByName(b)
    val m = Regression.logisticIrls(u, "__y", featureCols, iters = iters)
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    val beta = m.beta.map(r6)
    val feats = F.lit(1.0) +: featureCols.map(c => F.col(c).cast("double"))
    val z = feats.zipWithIndex.foldLeft(F.lit(0.0)) {
      case (acc, (f, i)) => acc + f * beta(i)
    }
    val ok = featureCols.map(c => F.col(c).cast("double"))
      .map(c => c.isNotNull && !F.isnan(c)).reduce(_ && _)
    val accRow = u.where(ok)
      .agg(F.avg(((z >= 0.0) === (F.col("__y") === 1.0)).cast("double")),
        F.sum(F.col("__y")))
      .head()
    val acc = accRow.getDouble(0)
    val nA = accRow.getDouble(1).toLong
    // majority-class baseline: with |A| != |B| the intercept alone
    // reaches max(nA,nB)/n accuracy even on identical distributions,
    // so chance is p0, not 1/2 (in-sample fitting still biases the
    // accuracy upward — the test is anti-conservative; see scaladoc)
    val p0 = math.max(nA, m.n - nA).toDouble / m.n
    val acc6 = r6(acc)
    val zStat = r6((acc6 - p0) / math.sqrt(p0 * (1.0 - p0) / m.n))
    val p = r6(SpecialMath.erfc(math.abs(zStat) / math.sqrt(2.0)))
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("n", LongType),
      StructField("accuracy", DoubleType), StructField("z", DoubleType),
      StructField("p_value", DoubleType)) ++
      beta.indices.map(i => StructField(s"b$i", DoubleType)))
    spark.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row.fromSeq(
        Seq[Any](m.n, acc6, zStat, p) ++ beta.toSeq)), schema)
  }
}
