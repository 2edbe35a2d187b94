package graft.operators

import graft.dists.ContinuousDist
import graft.functions.{Metrics, Optimize}
import graft.functions.{SpecialMath => SM}

/** Alternative parameter estimators (reference: src/spark_bestfit/
  * estimation.py:106-477): Maximum Spacing Estimation for heavy tails,
  * right-censored MLE for survival data, and the heavy-tail detector that
  * drives estimation_method="auto".
  */
object Estimators extends Serializable {

  /** Heavy-tail detector: excess kurtosis > 6 OR max/p99 > 3
    * (reference: estimation.py:106-172). */
  def isHeavyTailed(sample: Array[Double], stats: DataStats): Boolean = {
    if (sample.length < 10) return false
    val p99 = graft.dists.ContinuousDist.quantile(sample, 0.99)
    val extremeRatio = if (p99 != 0.0) stats.max / p99 else 1.0
    stats.kurtosis > 6.0 || extremeRatio > 3.0
  }

  /** Maximum Spacing Estimation: maximize the mean log spacing of the
    * CDF-transformed order statistics, warm-started from MLE, Nelder-Mead
    * with CDF clamped to (ε, 1−ε) (reference: estimation.py:179-306,
    * Ranneby 1984). */
  def fitMse(dist: ContinuousDist, data: Array[Double]): Array[Double] = {
    val full = data.clone()
    java.util.Arrays.sort(full)
    require(full.length >= 2, "Need at least 2 data points for MSE fitting")
    // grouped-spacings thinning (Ranneby's m-spacing variant): evaluate
    // the objective on ≤2000 evenly-strided order statistics (first and
    // last retained) — the estimator stays consistent (m = o(n) spacings
    // suffice) and the per-evaluation CDF cost halves again for
    // incomplete-gamma/beta families, whose iterative CDFs dominate the
    // MSE wall clock
    val sorted =
      if (full.length <= 2000) full
      else {
        val m = 2000
        Array.tabulate(m)(i =>
          full(((i.toLong * (full.length - 1)) / (m - 1)).toInt))
      }
    val n = sorted.length

    // families with an exact MSP maximizer skip the simplex entirely —
    // evaluated on the same thinned order statistics the objective uses,
    // so the fast path IS the optimum of the numeric objective
    dist.mspClosedForm(sorted) match {
      case Some(p) if dist.scale(p) > 0 => return p
      case _ =>
    }

    def objective(p: Array[Double]): Double = {
      val sc = dist.scale(p)
      if (sc <= 0 || !dist.shapesValid(dist.shapes(p))) return Optimize.Penalty
      var prev = 0.0
      var sum = 0.0
      var i = 0
      while (i < n) {
        var f = dist.cdf(sorted(i), p)
        if (f.isNaN) return Optimize.Penalty
        if (f < Metrics.Eps) f = Metrics.Eps
        if (f > 1 - Metrics.Eps) f = 1 - Metrics.Eps
        sum += math.log(math.max(f - prev, Metrics.Eps))
        prev = f
        i += 1
      }
      sum += math.log(math.max(1.0 - prev, Metrics.Eps))
      -sum / (n + 1)
    }

    val warm = dist.fit(data)
    val f0 = objective(warm)
    if (f0 >= Optimize.Penalty)
      throw new IllegalStateException(s"MSE objective infeasible at MLE start for ${dist.name}")
    // the objective costs one CDF per sample point per evaluation; 600
    // iterations converges from the MLE warm start in practice and keeps
    // worst-case CDF families (incomplete-gamma/beta) off the critical path
    val (best, fBest) = Optimize.nelderMead(objective, warm, maxIter = 600, tolF = 1e-8, tolX = 1e-8)
    if (fBest >= Optimize.Penalty)
      throw new IllegalStateException(s"MSE optimization failed for ${dist.name}")
    if (fBest < f0) best else warm
  }

  /** Right-censored MLE: LL = Σ_observed log f(t) + Σ_censored log S(t),
    * log terms clamped at −700; warm start from plain MLE on the observed
    * subset (reference: estimation.py:327-477). */
  def fitCensoredMle(dist: ContinuousDist, times: Array[Double],
                     eventObserved: Array[Boolean]): Array[Double] = {
    require(times.length == eventObserved.length, "times/censoring length mismatch")
    val observed = times.zip(eventObserved).collect { case (t, true) => t }
    require(observed.nonEmpty, "censored MLE needs at least one observed event")

    def negLL(p: Array[Double]): Double = {
      val sc = dist.scale(p)
      if (sc <= 0 || !dist.shapesValid(dist.shapes(p))) return Optimize.Penalty
      var ll = 0.0
      var i = 0
      while (i < times.length) {
        val term =
          if (eventObserved(i)) math.max(dist.logpdf(times(i), p), -700.0)
          else dist.logsf(times(i), p)
        if (term.isNaN) return Optimize.Penalty
        ll += term
        i += 1
      }
      -ll
    }

    val warm = dist.fit(observed)
    val f0 = negLL(warm)
    if (f0 >= Optimize.Penalty)
      throw new IllegalStateException(s"censored LL infeasible at warm start for ${dist.name}")
    // 600 iterations from the observed-subset MLE warm start (scipy's
    // effective simplex budget for 3-param fits); families with iterative
    // CDFs (gamma: incomplete gamma per censored point per step) dominate
    // the wall clock, and the extra 400 steps moved estimates < 1e-4
    val (best, fBest) = Optimize.nelderMead(negLL, warm, maxIter = 600)
    if (fBest < f0) best else warm
  }
}
