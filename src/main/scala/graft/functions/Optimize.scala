package graft.functions

/** Derivative-free optimizers for MLE / MSE refinement.
  *
  * The reference relies on scipy's Nelder-Mead (maxiter 2000, tol 1e-8)
  * with an L-BFGS-B fallback (/root/reference/src/spark_bestfit/
  * estimation.py:282-306). We implement a standard Nelder-Mead simplex
  * (Lagarias et al. 1998 parameterization, as used by scipy) plus a
  * 1-D golden-section/Brent-style minimizer for single-parameter fits.
  * Objective functions signal infeasibility by returning a large finite
  * penalty or +Infinity.
  */
object Optimize extends Serializable {

  final val Penalty = 1e12

  /** Nelder-Mead simplex minimization.
    *
    * @param f objective (may return +Inf / Penalty outside the domain)
    * @param x0 starting point (must be feasible)
    * @param step initial simplex step per coordinate (defaults to 5% of |x|)
    * @return (argmin, fmin)
    */
  def nelderMead(
      f: Array[Double] => Double,
      x0: Array[Double],
      maxIter: Int = 2000,
      tolF: Double = 1e-10,
      tolX: Double = 1e-8,
      step: Array[Double] = null): (Array[Double], Double) = {
    val n = x0.length
    val alpha = 1.0; val gamma = 2.0; val rho = 0.5; val sigma = 0.5

    // initial simplex: x0 plus n perturbed vertices
    val simplex = Array.ofDim[Array[Double]](n + 1)
    simplex(0) = x0.clone()
    var i = 0
    while (i < n) {
      val v = x0.clone()
      val h = if (step != null) step(i)
              else if (v(i) != 0.0) 0.05 * math.abs(v(i)) else 0.00025
      v(i) += h
      simplex(i + 1) = v
      i += 1
    }
    val fv = simplex.map(f)

    var iter = 0
    var order = (0 to n).toArray.sortBy(fv)
    while (iter < maxIter) {
      order = (0 to n).toArray.sortBy(fv)
      val best = order(0); val worst = order(n); val second = order(n - 1)
      // convergence: function spread and simplex size
      if (math.abs(fv(worst) - fv(best)) <= tolF * (math.abs(fv(best)) + tolF)) {
        var maxD = 0.0
        var j = 0
        while (j < n) {
          maxD = math.max(maxD, math.abs(simplex(worst)(j) - simplex(best)(j)))
          j += 1
        }
        if (maxD <= tolX * (1.0 + math.abs(simplex(best).map(math.abs).max))) {
          iter = maxIter // break
        }
      }
      if (iter < maxIter) {
        // centroid of all but worst
        val c = new Array[Double](n)
        var k = 0
        while (k <= n) {
          if (k != worst) {
            var j = 0
            while (j < n) { c(j) += simplex(k)(j) / n; j += 1 }
          }
          k += 1
        }
        def combine(t: Double): Array[Double] = {
          val out = new Array[Double](n)
          var j = 0
          while (j < n) { out(j) = c(j) + t * (simplex(worst)(j) - c(j)); j += 1 }
          out
        }
        val xr = combine(-alpha)
        val fr = f(xr)
        if (fr < fv(best)) {
          val xe = combine(-gamma)
          val fe = f(xe)
          if (fe < fr) { simplex(worst) = xe; fv(worst) = fe }
          else { simplex(worst) = xr; fv(worst) = fr }
        } else if (fr < fv(second)) {
          simplex(worst) = xr; fv(worst) = fr
        } else {
          val xc = if (fr < fv(worst)) combine(-rho) else combine(rho)
          val fc = f(xc)
          if (fc < math.min(fr, fv(worst))) { simplex(worst) = xc; fv(worst) = fc }
          else {
            // shrink toward best
            var k2 = 0
            while (k2 <= n) {
              if (k2 != best) {
                var j = 0
                while (j < n) {
                  simplex(k2)(j) = simplex(best)(j) + sigma * (simplex(k2)(j) - simplex(best)(j))
                  j += 1
                }
                fv(k2) = f(simplex(k2))
              }
              k2 += 1
            }
          }
        }
        iter += 1
      }
    }
    val bi = (0 to n).minBy(fv)
    (simplex(bi), fv(bi))
  }
}
