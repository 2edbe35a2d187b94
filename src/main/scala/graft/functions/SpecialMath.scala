package graft.functions

import org.apache.commons.math3.special.{Beta => CBeta, Erf => CErf, Gamma => CGamma}
import org.apache.commons.math3.distribution.{GammaDistribution, BetaDistribution, TDistribution, FDistribution}

/** Special functions used by the distribution library.
  *
  * Thin, allocation-free wrappers over commons-math3 (available in
  * /opt/spark/jars). Semantics follow the standard definitions used by the
  * reference's scipy backend (see /root/reference/src/spark_bestfit/
  * fast_ppf.py:56-309 for the closed-form inverse-CDF catalogue we mirror).
  */
object SpecialMath extends Serializable {

  final val SqrtTwo = math.sqrt(2.0)
  final val SqrtTwoPi = math.sqrt(2.0 * math.Pi)
  final val LnSqrtTwoPi = 0.5 * math.log(2.0 * math.Pi)
  final val EulerGamma = 0.5772156649015329

  /** Standard normal PDF. */
  @inline def normPdf(z: Double): Double = math.exp(-0.5 * z * z) / SqrtTwoPi

  @inline def normLogPdf(z: Double): Double = -0.5 * z * z - LnSqrtTwoPi

  /** Standard normal CDF Φ(z) via erfc for tail accuracy. This sits in
    * the hottest loop of the engine (normCdf-bearing log-likelihoods run
    * it 10K× per Nelder-Mead evaluation), so it uses the rational-
    * polynomial erfc below instead of commons-math's iterative
    * regularized-gamma path (~15× faster at equal double precision). */
  def normCdf(z: Double): Double = 0.5 * erfc(-z / SqrtTwo)

  /** log Φc(z), finite far into the right tail where erfc underflows
    * (z ≳ 37.5): switches to the standard asymptotic
    * ln φ(z) − ln z + ln(1 − 1/z² + 3/z⁴) before the underflow point. */
  def normLogSf(z: Double): Double = {
    if (z < 25.0) math.log(normCdf(-z))
    else {
      val z2 = z * z
      -0.5 * z2 - math.log(z) - LnSqrtTwoPi +
        math.log1p((-1.0 + 3.0 / z2) / z2)
    }
  }

  /** log Φ(z), finite far into the left tail. */
  @inline def normLogCdf(z: Double): Double = normLogSf(-z)

  /** Standard normal inverse CDF Φ⁻¹(q). */
  def normPpf(q: Double): Double = {
    if (q <= 0.0) Double.NegativeInfinity
    else if (q >= 1.0) Double.PositiveInfinity
    else SqrtTwo * CErf.erfInv(2.0 * q - 1.0)
  }

  @inline def erf(x: Double): Double = 1.0 - erfc(x)

  // W. J. Cody's rational-Chebyshev erfc (the classic netlib CALERF
  // scheme, Math. Comp. 23 (1969) 631-637): three regions, fixed
  // polynomial degree, |rel err| < 6e-17 in the core and graceful
  // underflow past x ≈ 26.5. No iteration, no allocation.
  private val ErfA = Array(3.16112374387056560e0, 1.13864154151050156e2,
    3.77485237685302021e2, 3.20937758913846947e3, 1.85777706184603153e-1)
  private val ErfB = Array(2.36012909523441209e1, 2.44024637934444173e2,
    1.28261652607737228e3, 2.84423683343917062e3)
  private val ErfC = Array(5.64188496988670089e-1, 8.88314979438837594e0,
    6.61191906371416295e1, 2.98635138197400131e2, 8.81952221241769090e2,
    1.71204761263407058e3, 2.05107837782607147e3, 1.23033935479799725e3,
    2.15311535474403846e-8)
  private val ErfD = Array(1.57449261107098347e1, 1.17693950891312499e2,
    5.37181101862009858e2, 1.62138957456669019e3, 3.29079923573345963e3,
    4.36261909014324716e3, 3.43936767414372164e3, 1.23033935480374942e3)
  private val ErfP = Array(3.05326634961232344e-1, 3.60344899949804439e-1,
    1.25781726111229246e-1, 1.60837851487422766e-2, 6.58749161529837803e-4,
    1.63153871373020978e-2)
  private val ErfQ = Array(2.56852019228982242e0, 1.87295284992346047e0,
    5.27905102951428412e-1, 6.05183413124413191e-2, 2.33520497626869185e-3)
  private final val OneOverSqrtPi = 5.6418958354775628695e-1

  def erfc(x: Double): Double = {
    val y = math.abs(x)
    val r =
      if (y <= 0.46875) {
        // erfc = 1 - erf; erf(x) = x·R(x²)
        val z = if (y > 1.11e-16) y * y else 0.0
        var num = ErfA(4) * z
        var den = z
        var i = 0
        while (i < 3) { num = (num + ErfA(i)) * z; den = (den + ErfB(i)) * z; i += 1 }
        return 1.0 - x * (num + ErfA(3)) / (den + ErfB(3))
      } else if (y <= 4.0) {
        var num = ErfC(8) * y
        var den = y
        var i = 0
        while (i < 7) { num = (num + ErfC(i)) * y; den = (den + ErfD(i)) * y; i += 1 }
        val res = (num + ErfC(7)) / (den + ErfD(7))
        // split exp(-y²) as exp(-ysq²)·exp(-del) with ysq on a 1/16 grid —
        // Cody's trick to avoid double-rounding in the argument square
        val ysq = math.floor(y * 16.0) / 16.0
        val del = (y - ysq) * (y + ysq)
        math.exp(-ysq * ysq) * math.exp(-del) * res
      } else if (y < 26.543) {
        val z = 1.0 / (y * y)
        var num = ErfP(5) * z
        var den = z
        var i = 0
        while (i < 4) { num = (num + ErfP(i)) * z; den = (den + ErfQ(i)) * z; i += 1 }
        var res = z * (num + ErfP(4)) / (den + ErfQ(4))
        res = (OneOverSqrtPi - res) / y
        val ysq = math.floor(y * 16.0) / 16.0
        val del = (y - ysq) * (y + ysq)
        math.exp(-ysq * ysq) * math.exp(-del) * res
      } else 0.0
    if (x < 0.0) 2.0 - r else r
  }

  @inline def lgamma(x: Double): Double = CGamma.logGamma(x)
  @inline def digamma(x: Double): Double = CGamma.digamma(x)
  @inline def trigamma(x: Double): Double = CGamma.trigamma(x)

  /** Regularized lower incomplete gamma P(a, x). */
  @inline def gammaInc(a: Double, x: Double): Double =
    if (x <= 0.0) 0.0 else CGamma.regularizedGammaP(a, x)

  /** Regularized upper incomplete gamma Q(a, x). */
  @inline def gammaIncC(a: Double, x: Double): Double =
    if (x <= 0.0) 1.0 else CGamma.regularizedGammaQ(a, x)

  /** Inverse of the regularized lower incomplete gamma in x: P(a, x) = q. */
  def gammaIncInv(a: Double, q: Double): Double = {
    if (q <= 0.0) 0.0
    else if (q >= 1.0) Double.PositiveInfinity
    else new GammaDistribution(null, a, 1.0).inverseCumulativeProbability(q)
  }

  @inline def lbeta(a: Double, b: Double): Double =
    CGamma.logGamma(a) + CGamma.logGamma(b) - CGamma.logGamma(a + b)

  /** Regularized incomplete beta I_x(a, b). */
  @inline def betaInc(a: Double, b: Double, x: Double): Double = {
    if (x <= 0.0) 0.0 else if (x >= 1.0) 1.0 else CBeta.regularizedBeta(x, a, b)
  }

  /** Inverse of the regularized incomplete beta in x. */
  def betaIncInv(a: Double, b: Double, q: Double): Double = {
    if (q <= 0.0) 0.0
    else if (q >= 1.0) 1.0
    else new BetaDistribution(null, a, b).inverseCumulativeProbability(q)
  }

  /** Student-t CDF with df degrees of freedom (standardized). */
  def tCdf(df: Double, z: Double): Double = new TDistribution(null, df).cumulativeProbability(z)

  def fCdf(d1: Double, d2: Double, z: Double): Double =
    if (z <= 0.0) 0.0 else new FDistribution(null, d1, d2).cumulativeProbability(z)

  /** log(1 - exp(x)) for x < 0, numerically stable. */
  def log1mexp(x: Double): Double = {
    if (x >= 0.0) Double.NaN
    else if (x > -0.6931471805599453) math.log(-math.expm1(x))
    else math.log1p(-math.exp(x))
  }

  /** Kolmogorov distribution survival function: P(K > t) = 2 Σ (-1)^{j-1} e^{-2 j² t²}.
    * Matches the asymptotic tail the reference uses for discrete K-S
    * (reference: src/spark_bestfit/discrete_fitting.py:256-320).
    */
  def kolmogorovSf(t: Double): Double = {
    if (t <= 0.0) return 1.0
    if (t >= 4.0) return 0.0
    var sum = 0.0
    var j = 1
    var term = Double.MaxValue
    while (j <= 100 && math.abs(term) > 1e-16) {
      term = 2.0 * (if (j % 2 == 1) 1.0 else -1.0) * math.exp(-2.0 * j * j * t * t)
      sum += term
      j += 1
    }
    math.min(1.0, math.max(0.0, sum))
  }

  /** CDF of the Cramér–von Mises ω² limiting distribution (the
    * two-sample statistic's null law as n_a, n_b → ∞):
    * F(x) = 1/(π^{3/2}√x) · Σ_{k≥0} [Γ(k+½)/k!]·√(4k+1)·
    *        e^{−(4k+1)²/(16x)}·K_{¼}((4k+1)²/(16x)),
    * summed in log space through [[logBesselK]]. Terms decay like
    * exp(−k²/x), so a dozen terms cover the whole usable range; large x
    * saturates to 1 (the test only needs the upper tail anyway). */
  def cvmCdfInf(x: Double): Double = {
    if (x <= 0.0) return 0.0
    if (x > 50.0) return 1.0
    var tot = 0.0
    var k = 0
    var done = false
    while (k < 40 && !done) {
      val y = 4.0 * k + 1.0
      val q = y * y / (16.0 * x)
      val lt = lgamma(k + 0.5) - lgamma(k + 1.0) + 0.5 * math.log(y) -
        q + logBesselK(0.25, q)
      val term = math.exp(lt)
      tot += term
      if (k > 2 && term < 1e-18) done = true
      k += 1
    }
    math.min(1.0, math.max(0.0, tot / (math.Pi * math.sqrt(math.Pi * x))))
  }

  /** log I_v(x): modified Bessel function of the first kind, v >= 0,
    * x >= 0, in log space. Power series summed around its peak term with
    * a running-max logsumexp — stable for large x where I_v overflows.
    * Used by the Skellam pmf and the Rice density. */
  /** log I₀(x) via the A&S 9.8.1/9.8.2 polynomial fits (|ε| < 2e-7
    * relative) — ~20 flops instead of the O(√x) series; the Rice and
    * von Mises density loops call this per sample point. */
  def logBesselI0(x0: Double): Double = {
    val x = math.abs(x0)
    if (x <= 3.75) {
      val t = x / 3.75
      val t2 = t * t
      math.log(1.0 + t2 * (3.5156229 + t2 * (3.0899424 + t2 * (1.2067492 +
        t2 * (0.2659732 + t2 * (0.0360768 + t2 * 0.0045813))))))
    } else {
      val u = 3.75 / x
      val p = 0.39894228 + u * (0.01328592 + u * (0.00225319 + u * (-0.00157565 +
        u * (0.00916281 + u * (-0.02057706 + u * (0.02635537 + u * (-0.01647633 +
        u * 0.00392377)))))))
      x - 0.5 * math.log(x) + math.log(p)
    }
  }

  def logBesselI(v: Double, x: Double): Double = {
    if (x < 0 || v < 0) return Double.NaN
    if (v == 0.0) return logBesselI0(x)
    if (x == 0.0) return if (v == 0.0) 0.0 else Double.NegativeInfinity
    val lxh = math.log(x / 2)
    // term t_m = (2m+v)·ln(x/2) − lnΓ(m+1) − lnΓ(m+v+1); peak near
    // m* = (sqrt(v² + x²) − v)/2
    val mStar = math.max(0L, math.round((math.sqrt(v * v + x * x) - v) / 2))
    if (mStar > 40) {
      // Debye/Olver uniform asymptotic (A&S 9.7.7) with the u₁ correction:
      // log I_v(x) ≈ r + v·ln(x/(v+r)) − ½ln(2πr) + ln(1 + (3r²−5v²)/(24r³)),
      // r = sqrt(v²+x²); relative error O(r⁻²) in this regime
      val r = math.sqrt(v * v + x * x)
      val c1 = (3 * r * r - 5 * v * v) / (24 * r * r * r)
      return r + v * math.log(x / (v + r)) - 0.5 * math.log(2 * math.Pi * r) + math.log1p(c1)
    }
    @inline def term(m: Long): Double =
      (2 * m + v) * lxh - lgamma(m + 1.0) - lgamma(m + v + 1.0)
    val tMax = term(mStar)
    var sum = 1.0 // the peak term itself, scaled to exp(0)
    var m = mStar + 1
    var t = term(m)
    while (t - tMax > -37 && m < mStar + 100000) { sum += math.exp(t - tMax); m += 1; t = term(m) }
    m = mStar - 1
    while (m >= 0) {
      val tm = term(m)
      if (tm - tMax <= -37) m = -1
      else { sum += math.exp(tm - tMax); m -= 1 }
    }
    tMax + math.log(sum)
  }

  /** Marcum Q₁(a, b) complement: P(R <= b) for a Rician amplitude with
    * noncentrality a — 1 − Q₁(a, b) = Σ_m Poisson(m; a²/2)·P(m+1, b²/2). */
  def riceCdf(a: Double, b: Double): Double = {
    if (b <= 0) return 0.0
    val la = a * a / 2
    val lb = b * b / 2
    // Poisson-weighted incomplete-gamma mixture, summed around the
    // Poisson mode with early exit on negligible tails
    val mode = math.max(0L, math.floor(la).toLong)
    var total = 0.0
    @inline def w(m: Long): Double = math.exp(-la + m * math.log(la) - lgamma(m + 1.0))
    var m = mode
    while (m >= 0) {
      val wm = w(m)
      if (wm < 1e-18 && m < mode) m = -1
      else { total += wm * gammaInc(m + 1.0, lb); m -= 1 }
    }
    m = mode + 1
    var wm = w(m)
    while (wm > 1e-18 && m < mode + 100000) {
      total += wm * gammaInc(m + 1.0, lb)
      m += 1
      wm = w(m)
    }
    math.min(1.0, math.max(0.0, total))
  }

  /** log K₁(x): modified Bessel function of the second kind, order 1.
    * Abramowitz & Stegun 9.8.3/9.8.7 polynomial fits for x ≤ 2, the
    * 9.8.8 asymptotic rational for x > 2 — the standard public
    * approximations (|ε| < 1e-7 relative). */
  def logBesselK1(x: Double): Double = {
    if (x <= 0) return Double.NaN
    if (x <= 2.0) {
      val t = x / 3.75
      val t2 = t * t
      val i1 = x * (0.5 + t2 * (0.87890594 + t2 * (0.51498869 + t2 * (0.15084934 +
        t2 * (0.02658733 + t2 * (0.00301532 + t2 * 0.00032411))))))
      val u = x * x / 4.0
      val xk1 = x * math.log(x / 2) * i1 + 1.0 + u * (0.15443144 + u * (-0.67278579 +
        u * (-0.18156897 + u * (-0.01919402 + u * (-0.00110404 + u * -0.00004686)))))
      math.log(xk1 / x)
    } else {
      val u = 2.0 / x
      val p = 1.25331414 + u * (0.23498619 + u * (-0.03655620 + u * (0.01504268 +
        u * (-0.00780353 + u * (0.00325614 + u * -0.00068245)))))
      -x - 0.5 * math.log(x) + math.log(p)
    }
  }

  /** log K_v(x): modified Bessel function of the second kind, arbitrary
    * real order (K_{−v} = K_v), x > 0 — the standard two-regime evaluation
    * (Temme, J. Comput. Phys. 19 (1975) for x ≤ 2; the Thompson–Barnett
    * CF2 continued fraction for x > 2), reduced to order |μ| ≤ 1/2 and
    * walked up with the forward recurrence K_{ν+1} = K_{ν−1} + (2ν/x)K_ν,
    * which is stable for K. Everything is carried with an explicit log
    * offset (the e^{−x} prefactor for large x, power-of-two renorms during
    * the recurrence for large order), so the result neither overflows nor
    * underflows across the (|v| ≤ 100, 1e-8 ≤ x ≤ 700) region the
    * GIG/GH densities use. ~1 µs per call — safe in the per-point MLE
    * loop. Order-1/2 has the closed form K = √(π/2x)e^{−x} and order 1
    * has [[logBesselK1]]; agreement with both is property-tested. */
  def logBesselK(v0: Double, x: Double): Double = {
    if (x <= 0) return Double.NaN
    val v = math.abs(v0)
    val nl = math.floor(v + 0.5).toInt // recurrence steps
    val mu = v - nl                     // |mu| <= 1/2
    val mu2 = mu * mu
    val Eps = 1e-16

    var kmu = 0.0   // K_mu(x) scaled by e^{logOff}
    var kmu1 = 0.0  // K_{mu+1}(x) scaled identically
    var logOff = 0.0

    if (x <= 2.0) {
      // Temme's series
      val x2 = 0.5 * x
      val pimu = math.Pi * mu
      val fact = if (math.abs(pimu) < 1e-12) 1.0 else pimu / math.sin(pimu)
      var d = -math.log(x2)
      var e = mu * d
      val fact2 = if (math.abs(e) < 1e-12) 1.0 else math.sinh(e) / e
      val gampl = 1.0 / CGamma.gamma(1.0 + mu) // 1/Γ(1+μ)
      val gammi = 1.0 / CGamma.gamma(1.0 - mu) // 1/Γ(1−μ)
      // (1/Γ(1−μ) − 1/Γ(1+μ))/(2μ) cancels catastrophically near μ=0:
      // switch to the even Taylor series −(c₁ + c₃μ²) of 1/Γ(1+z)
      // (c₁ = γ, c₃ = γ³/6 − γπ²/12 + ζ(3)/3) below 1e-4
      val gam1 =
        if (math.abs(mu) < 1e-4)
          -(EulerGamma + (-0.04200263503409524) * mu2)
        else (gammi - gampl) / (2.0 * mu)
      val gam2 = 0.5 * (gammi + gampl)
      var ff = fact * (gam1 * math.cosh(e) + gam2 * fact2 * d)
      var sum = ff
      e = math.exp(e)
      var p = 0.5 * e / gampl
      var q = 0.5 / (e * gammi)
      var c = 1.0
      d = x2 * x2
      var sum1 = p
      var i = 1
      var go = true
      while (i <= 300 && go) {
        ff = (i * ff + p + q) / (i * i - mu2)
        c *= d / i
        p /= (i - mu)
        q /= (i + mu)
        val del = c * ff
        sum += del
        sum1 += c * (p - i * ff)
        go = math.abs(del) > math.abs(sum) * Eps
        i += 1
      }
      kmu = sum
      kmu1 = sum1 * (2.0 / x)
    } else {
      // Steed/CF2; result carries e^{−x} in logOff
      var b = 2.0 * (1.0 + x)
      var d = 1.0 / b
      var h = d
      var delh = d
      var q1 = 0.0
      var q2 = 1.0
      val a1 = 0.25 - mu2
      var q = a1
      var c = a1
      var a = -a1
      var s = 1.0 + q * delh
      var i = 2
      var go = true
      while (i <= 10000 && go) {
        a -= 2 * (i - 1)
        c = -a * c / i
        val qnew = (q1 - b * q2) / a
        q1 = q2; q2 = qnew
        q += c * qnew
        b += 2.0
        d = 1.0 / (b + a * d)
        delh = (b * d - 1.0) * delh
        h += delh
        val dels = q * delh
        s += dels
        go = math.abs(dels / s) > Eps
        i += 1
      }
      h = a1 * h
      kmu = math.sqrt(math.Pi / (2.0 * x)) / s
      kmu1 = kmu * (mu + x + 0.5 - h) / x
      logOff = -x
    }

    // forward recurrence to order v = mu + nl, with power renormalization
    var j = 1
    while (j <= nl) {
      // K_{ν+1} = K_{ν−1} + (2ν/x) K_ν with ν = mu + j
      val kTemp = kmu + (2.0 * (mu + j) / x) * kmu1
      kmu = kmu1
      kmu1 = kTemp
      if (kmu1 > 1e250) {
        kmu /= 1e250; kmu1 /= 1e250; logOff += 250.0 * math.log(10.0)
      }
      j += 1
    }
    // after nl steps kmu holds K_{mu+nl} = K_v
    math.log(kmu) + logOff
  }

  /** Sample moments matching numpy: population (ddof=0) variance,
    * Fisher skewness g1, excess kurtosis g2. Returns
    * (n, mean, std, skew, exkurtosis, min, max). */
  def moments(xs: Array[Double]): (Long, Double, Double, Double, Double, Double, Double) = {
    val n = xs.length
    if (n == 0) return (0L, Double.NaN, Double.NaN, Double.NaN, Double.NaN, Double.NaN, Double.NaN)
    var s = 0.0; var mn = Double.PositiveInfinity; var mx = Double.NegativeInfinity
    var i = 0
    while (i < n) { val v = xs(i); s += v; if (v < mn) mn = v; if (v > mx) mx = v; i += 1 }
    val mean = s / n
    var m2 = 0.0; var m3 = 0.0; var m4 = 0.0
    i = 0
    while (i < n) {
      val d = xs(i) - mean; val d2 = d * d
      m2 += d2; m3 += d2 * d; m4 += d2 * d2
      i += 1
    }
    m2 /= n; m3 /= n; m4 /= n
    val std = math.sqrt(m2)
    val skew = if (m2 > 0) m3 / math.pow(m2, 1.5) else 0.0
    val kurt = if (m2 > 0) m4 / (m2 * m2) - 3.0 else 0.0
    (n.toLong, mean, std, skew, kurt, mn, mx)
  }
}
