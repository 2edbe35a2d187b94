package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder, functions => F}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** Principal component analysis over an embedding column — the
  * dimensionality layer of an embedding pipeline (whiten before
  * clustering, compact before ANN indexing, decorrelate before
  * SemDeDup-style cell assignment).
  *
  * Scale shape: the data-sized work is TWO typed aggregation passes —
  * means first, then Kahan-compensated centered second moments against
  * the broadcast mean — whose states are O(d²) doubles (d = 64 →
  * ~4 KB), merged associatively across partitions; rows never leave
  * executors. Centering BEFORE summing keeps every accumulated term at
  * the magnitude of the covariance itself (no Σxy ≫ cov cancellation),
  * so the task-completion-dependent merge order perturbs the result by
  * ~1e-15 relative — far below any 6-decimal rounding grain — where the
  * old raw-moment single pass could flip a rounding boundary run-to-run.
  * The d×d eigendecomposition (cyclic Jacobi, deterministic) runs once
  * on the driver — microseconds next to the scan. Projection back onto
  * the data is the codegen'd [[graft.functions.ArrayDot]] against
  * broadcast literal components: a map-side column, no shuffle, no UDF.
  */
object Pca {

  /** First-pass accumulator: buffer = [n, Σx(d)]. */
  private[graft] final class MeanAgg(d: Int)
      extends Aggregator[Seq[Double], Array[Double], Array[Double]] {
    private val len = 1 + d
    def zero: Array[Double] = new Array[Double](len)
    def reduce(b: Array[Double], x: Seq[Double]): Array[Double] = {
      require(x != null && x.length == d,
        s"embedding dim ${if (x == null) "null" else x.length} != $d")
      b(0) += 1.0
      var i = 0
      while (i < d) { b(1 + i) += x(i); i += 1 }
      b
    }
    def merge(a: Array[Double], b: Array[Double]): Array[Double] = {
      var i = 0
      while (i < len) { a(i) += b(i); i += 1 }
      a
    }
    def finish(b: Array[Double]): Array[Double] = b
    def bufferEncoder: Encoder[Array[Double]] = ExpressionEncoder()
    def outputEncoder: Encoder[Array[Double]] = ExpressionEncoder()
  }

  /** Second-pass accumulator: Kahan-compensated upper-triangle
    * Σ(x−μ)ᵢ(x−μ)ⱼ against a fixed (broadcast-literal) mean.
    * buffer = [n, sums(t), compensations(t)] where t = d(d+1)/2. */
  private[graft] final class CenteredMomentAgg(d: Int, mean: Array[Double])
      extends Aggregator[Seq[Double], Array[Double], Array[Double]] {
    private val tri = d * (d + 1) / 2
    private val len = 1 + 2 * tri
    @inline private def kadd(b: Array[Double], idx: Int, x: Double): Unit = {
      // Kahan: idx holds the running sum, idx + tri its compensation
      val y = x - b(idx + tri)
      val t = b(idx) + y
      b(idx + tri) = (t - b(idx)) - y
      b(idx) = t
    }
    def zero: Array[Double] = new Array[Double](len)
    def reduce(b: Array[Double], x: Seq[Double]): Array[Double] = {
      require(x != null && x.length == d,
        s"embedding dim ${if (x == null) "null" else x.length} != $d")
      val c = new Array[Double](d)
      var i = 0
      while (i < d) { c(i) = x(i) - mean(i); i += 1 }
      b(0) += 1.0
      i = 0
      var off = 1
      while (i < d) {
        var j = i
        while (j < d) { kadd(b, off, c(i) * c(j)); off += 1; j += 1 }
        i += 1
      }
      b
    }
    def merge(a: Array[Double], b: Array[Double]): Array[Double] = {
      a(0) += b(0)
      var k = 1
      while (k <= tri) {
        // fold b's compensated pair into a as two compensated adds
        kadd(a, k, b(k))
        kadd(a, k, -b(k + tri))
        k += 1
      }
      a
    }
    def finish(b: Array[Double]): Array[Double] = b
    def bufferEncoder: Encoder[Array[Double]] = ExpressionEncoder()
    def outputEncoder: Encoder[Array[Double]] = ExpressionEncoder()
  }

  /** A fitted PCA basis: eigenvalues descending, `components(k)` the
    * k-th eigenvector (canonical sign: its largest-|·| entry is
    * positive, so the basis is deterministic). */
  final case class PcaModel(dim: Int, n: Long, mean: Array[Double],
                            eigenvalues: Array[Double],
                            components: Array[Array[Double]]) {
    /** Share of total variance carried by the top-k components. */
    def explainedVariance(k: Int): Double = {
      val tot = eigenvalues.sum
      if (tot <= 0.0) 0.0 else eigenvalues.take(k).sum / tot
    }
    /** Centered projection onto component `j` as a codegen'd column:
      * dot(x, cⱼ) − dot(μ, cⱼ) (the constant folds at plan time). */
    def projection(embCol: Column, j: Int): Column = {
      val c = components(j)
      var meanDot = 0.0
      var i = 0
      while (i < dim) { meanDot += mean(i) * c(i); i += 1 }
      graft.functions.ArrayDot.dot(embCol.cast("array<double>"),
        F.typedlit(c.toSeq)) - meanDot
    }
    /** PCA-whitened coordinate j: projection(j)/√λⱼ — unit variance,
      * zero cross-correlation by construction. The decorrelation step
      * before cosine/Mahalanobis retrieval or as the contrastive-
      * training input transform; still a codegen'd column. */
    def whitenedProjection(embCol: Column, j: Int): Column = {
      require(eigenvalues(j) > 0.0,
        s"component $j carries no variance — cannot whiten")
      projection(embCol, j) / math.sqrt(eigenvalues(j))
    }
  }

  /** (n, mean, population covariance) from two aggregation passes:
    * means first, then centered + Kahan-compensated second moments, so
    * the covariance is deterministic to ~machine precision regardless
    * of partition merge order (the old raw-moment single pass could
    * flip a 6-decimal rounding boundary run-to-run). */
  private[graft] def moments(df: DataFrame, embCol: String,
                             d: Int): (Long, Array[Double], Array[Array[Double]]) = {
    val embD = F.col(embCol).cast("array<double>")
    val meanAgg = F.udaf(new MeanAgg(d))
    val m1 = df.select(meanAgg(embD).as("m"))
      .head().getAs[Seq[Double]]("m").toArray
    val n = m1(0)
    require(n >= 2.0, s"need at least 2 rows, got ${n.toLong}")
    val mean = Array.tabulate(d)(i => m1(1 + i) / n)
    val centeredAgg = F.udaf(new CenteredMomentAgg(d, mean))
    val m2 = df.select(centeredAgg(embD).as("m"))
      .head().getAs[Seq[Double]]("m").toArray
    val cov = Array.ofDim[Double](d, d)
    var off = 1
    var i = 0
    while (i < d) {
      var j = i
      while (j < d) {
        val c = m2(off) / n
        cov(i)(j) = c; cov(j)(i) = c
        off += 1; j += 1
      }
      i += 1
    }
    (n.toLong, mean, cov)
  }

  /** Fit PCA on `embCol` (uniform dimension required; rows with null
    * arrays are excluded). One cluster pass + a driver Jacobi solve. */
  def fit(df: DataFrame, embCol: String): PcaModel = {
    val clean = df.where(F.col(embCol).isNotNull)
    val d = clean.select(F.size(F.col(embCol))).head().getInt(0)
    val (n, mean, cov) = moments(clean, embCol, d)
    val (values, vectors) = jacobiEigSym(cov)
    PcaModel(d, n, mean, values, vectors)
  }

  /** The covariance matrix in long form — (i, j, cov) for i ≤ j,
    * 1-based indices (SQL-replayable: the moments are plain sums). */
  def covLongForm(df: DataFrame, embCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val clean = df.where(F.col(embCol).isNotNull)
    val d = clean.select(F.size(F.col(embCol))).head().getInt(0)
    val (_, _, cov) = moments(clean, embCol, d)
    (for { i <- 0 until d; j <- i until d }
      yield (i + 1, j + 1, cov(i)(j))).toDF("i", "j", "cov")
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix:
    * (eigenvalues desc, eigenvectors as rows, canonical sign).
    * Deterministic — fixed sweep order, tolerance on the off-diagonal
    * Frobenius mass. Driver-side, d ≤ a few hundred. */
  private[graft] def jacobiEigSym(aIn: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = aIn.length
    val a = Array.tabulate(d, d)((i, j) => aIn(i)(j))
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var frob = 0.0
    for { i <- 0 until d; j <- 0 until d } frob += a(i)(j) * a(i)(j)
    val tol = 1e-14 * math.max(frob, 1e-300)
    var sweep = 0
    var off = tol + 1.0
    while (off > tol && sweep < 100) {
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val apq = a(p)(q)
          if (math.abs(apq) > 1e-300) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            val t = math.signum(theta) /
              (math.abs(theta) + math.sqrt(theta * theta + 1.0)) match {
                case 0.0 => 1.0 // theta == 0 → 45° rotation
                case x => x
              }
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var k = 0
            while (k < d) {
              val akp = a(k)(p); val akq = a(k)(q)
              a(k)(p) = c * akp - s * akq
              a(k)(q) = s * akp + c * akq
              k += 1
            }
            k = 0
            while (k < d) {
              val apk = a(p)(k); val aqk = a(q)(k)
              a(p)(k) = c * apk - s * aqk
              a(q)(k) = s * apk + c * aqk
              val vkp = v(k)(p); val vkq = v(k)(q)
              v(k)(p) = c * vkp - s * vkq
              v(k)(q) = s * vkp + c * vkq
              k += 1
            }
          }
          q += 1
        }
        p += 1
      }
      off = 0.0
      for { i <- 0 until d; j <- i + 1 until d } off += 2.0 * a(i)(j) * a(i)(j)
      sweep += 1
    }
    val order = (0 until d).sortBy(i => -a(i)(i))
    val values = order.map(i => a(i)(i)).toArray
    val vectors = order.map { col =>
      val vec = Array.tabulate(d)(k => v(k)(col))
      // canonical sign: largest-|entry| positive
      var bi = 0
      var i = 1
      while (i < d) { if (math.abs(vec(i)) > math.abs(vec(bi))) bi = i; i += 1 }
      if (vec(bi) < 0.0) { i = 0; while (i < d) { vec(i) = -vec(i); i += 1 } }
      vec
    }.toArray
    (values, vectors)
  }

  /** Cross-moment accumulator for paired embeddings: Kahan-compensated
    * [n, Σ‖a‖², Σ‖b‖², M = Σ a·bᵀ (d² cells)] — state 2(2 + d²) + 1
    * doubles, rows never leave executors, merge order cannot move the
    * result (the q_embedding_cov determinism lesson). */
  private[graft] final class CrossMomentAgg(d: Int)
      extends Aggregator[(Seq[Double], Seq[Double]), Array[Double],
        Array[Double]] {
    private val cells = 2 + d * d
    private val len = 1 + 2 * cells
    @inline private def kadd(b: Array[Double], idx: Int, x: Double): Unit = {
      val y = x - b(idx + cells)
      val t = b(idx) + y
      b(idx + cells) = (t - b(idx)) - y
      b(idx) = t
    }
    def zero: Array[Double] = new Array[Double](len)
    def reduce(b: Array[Double], x: (Seq[Double], Seq[Double])): Array[Double] = {
      val (p, q) = x
      require(p != null && q != null && p.length == d && q.length == d,
        s"embedding dims (${if (p == null) "null" else p.length}, " +
          s"${if (q == null) "null" else q.length}) != $d")
      b(0) += 1.0
      var i = 0
      while (i < d) {
        kadd(b, 1, p(i) * p(i)); kadd(b, 2, q(i) * q(i)); i += 1
      }
      i = 0
      while (i < d) {
        var j = 0
        while (j < d) { kadd(b, 3 + i * d + j, p(i) * q(j)); j += 1 }
        i += 1
      }
      b
    }
    def merge(a: Array[Double], b: Array[Double]): Array[Double] = {
      a(0) += b(0)
      var k = 1
      while (k <= cells) {
        kadd(a, k, b(k)); kadd(a, k, -b(k + cells)); k += 1
      }
      a
    }
    def finish(b: Array[Double]): Array[Double] = b
    def bufferEncoder: Encoder[Array[Double]] = ExpressionEncoder()
    def outputEncoder: Encoder[Array[Double]] = ExpressionEncoder()
  }

  /** Orthogonal Procrustes alignment of two embedding spaces sharing
    * ids — "these two encoder versions/snapshots disagree only by a
    * rotation; find it and measure what's left": the W minimizing
    * ‖AW − B‖_F over orthogonal W is the polar factor
    *
    *   W = M (MᵀM)^{−1/2},   M = AᵀB,
    *
    * computed from ONE paired-pass cross-moment aggregation (the d×d M
    * plus ‖·‖² sums — rows never reach the driver) and a d×d Jacobi
    * eigensolve of MᵀM. Both error norms are closed forms of the same
    * sums (‖AW − B‖² = Σ‖a‖² + Σ‖b‖² − 2·tr(WᵀM)), so NO second data
    * pass. Engine-attested booleans (orthogonality of W, improvement,
    * near-exact recovery) carry the non-SQL part of the verdict; n, d
    * and the pre-alignment error replay exactly.
    *
    * @return one row: (n, d, err_before, orthogonal_ok, improved,
    *         recovered) where err_before = mean ‖a − b‖² rounded 6,
    *         recovered = post-alignment mean error < 1e−6 */
  def procrustesAlign(dfA: DataFrame, idColA: String, embColA: String,
                      dfB: DataFrame, idColB: String,
                      embColB: String): DataFrame = Persisted { scope =>
    val spark = dfA.sparkSession
    import spark.implicits._
    val a = dfA
      .where(F.col(idColA).isNotNull && F.col(embColA).isNotNull)
      .select(F.col(idColA).cast("long").as("__id"),
        F.col(embColA).cast("array<double>").as("__a"))
    val b = dfB
      .where(F.col(idColB).isNotNull && F.col(embColB).isNotNull)
      .select(F.col(idColB).cast("long").as("__id"),
        F.col(embColB).cast("array<double>").as("__b"))
    val joined = scope.cache(a.join(b, "__id"))
    // headOption: an empty id intersection must surface the intended
    // "no paired rows" message, not a NoSuchElementException from head()
    val head = joined.select(F.size(F.col("__a")).as("d"))
      .limit(1).collect().headOption
      .getOrElse(throw new IllegalArgumentException(
        "requirement failed: no paired rows"))
    val d = head.getAs[Int]("d")
    require(d >= 2, "need embedding dim >= 2")
    val st = joined.select(F.col("__a"), F.col("__b"))
      .as[(Seq[Double], Seq[Double])]
      .select(new CrossMomentAgg(d).toColumn).head()
    val n = st(0)
    require(n >= 1.0, "no paired rows")
    val saa = st(1); val sbb = st(2)
    val m = Array.tabulate(d, d)((i, j) => st(3 + i * d + j))
    // MᵀM, eigensolve, (MᵀM)^{-1/2}, W = M·invSqrt
    val mtm = Array.tabulate(d, d) { (i, j) =>
      var s = 0.0; var k = 0
      while (k < d) { s += m(k)(i) * m(k)(j); k += 1 }; s
    }
    val (evals, vecs) = jacobiEigSym(mtm)
    val sigMax = math.sqrt(math.max(evals.headOption.getOrElse(0.0), 0.0))
    val degenerate = sigMax <= 0.0 ||
      evals.exists(e => math.sqrt(math.max(e, 0.0)) < 1e-12 * sigMax)
    val w =
      if (degenerate) Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
      else {
        // invSqrt = Σ_k v_k v_kᵀ / σ_k (vecs(k) is the k-th eigenvector)
        val invSqrt = Array.tabulate(d, d) { (i, j) =>
          var s = 0.0; var k = 0
          while (k < d) {
            s += vecs(k)(i) * vecs(k)(j) / math.sqrt(math.max(evals(k), 0.0))
            k += 1
          }
          s
        }
        Array.tabulate(d, d) { (i, j) =>
          var s = 0.0; var k = 0
          while (k < d) { s += m(i)(k) * invSqrt(k)(j); k += 1 }; s
        }
      }
    var trM = 0.0; var trWM = 0.0
    var i = 0
    while (i < d) {
      trM += m(i)(i)
      var j = 0
      while (j < d) { trWM += w(i)(j) * m(i)(j); j += 1 }
      i += 1
    }
    val errBefore = (saa + sbb - 2.0 * trM) / n
    val errAfter = (saa + sbb - 2.0 * trWM) / n
    var orthDev = 0.0
    i = 0
    while (i < d) {
      var j = 0
      while (j < d) {
        var s = 0.0; var k = 0
        while (k < d) { s += w(k)(i) * w(k)(j); k += 1 }
        val target = if (i == j) 1.0 else 0.0
        orthDev = math.max(orthDev, math.abs(s - target))
        j += 1
      }
      i += 1
    }
    Seq((n.toLong, d.toLong, math.rint(errBefore * 1e6) / 1e6,
      !degenerate && orthDev < 1e-8,
      errAfter <= errBefore + 1e-12,
      errAfter < 1e-6))
      .toDF("n", "d", "err_before", "orthogonal_ok", "improved",
        "recovered")
  }
}
