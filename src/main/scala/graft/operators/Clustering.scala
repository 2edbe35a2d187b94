package graft.operators

import org.apache.spark.sql.{DataFrame, functions => F}

/** Distributed k-means (Lloyd) with a FIXED iteration count — the
  * public clustering layer a training-data pipeline uses directly
  * (topic bucketing, diversity-aware sampling, embedding-space data
  * maps), and the same primitive SemDeDup/IVF already use internally
  * with bounded training samples. This variant iterates over the FULL
  * data: per round, assignment is a broadcast-centroid map-side pass
  * (no shuffle of embeddings beyond the cell aggregation) and the
  * update is ONE groupBy(cell) aggregation whose state is k·(d+1)
  * doubles — only centroid sums ever reach the driver. Jobs = iters,
  * independent of N.
  *
  * Determinism: initial centroids are caller-provided (or the
  * lowest-`idCol` rows — a pure function of the data); with
  * `quantizeDecimals` ≥ 0 every updated centroid component is rounded
  * to that many decimals before the next assignment pass, which pins
  * the whole iterate trajectory across engines and run orders (the
  * "evaluate at the rounded statistic" discipline the test oracles
  * use) at a cost far below the cluster-separation scale.
  */
object Clustering {

  /** A fitted model: centroids in index order, per-cluster sizes from
    * the final assignment, within-cluster sum of squares (inertia). */
  final case class KMeansModel(centroids: Array[Array[Double]],
                               sizes: Array[Long], inertia: Double,
                               n: Long, iters: Int) {
    def k: Int = centroids.length
  }

  /** Assignment of `embCol` to the nearest of `centroids` (squared
    * Euclidean, strict-< tie-break to the lowest index) as a `cluster`
    * column plus the squared distance as `__d2`. */
  private def withAssignment(df: DataFrame, embCol: String,
                             centroids: Array[Array[Double]]): DataFrame = {
    val bc = df.sparkSession.sparkContext.broadcast(centroids)
    val assignUdf = F.udf((v: Seq[Double]) => {
      val cs = bc.value
      var best = 0; var bestD = Double.MaxValue
      var c = 0
      while (c < cs.length) {
        val ctr = cs(c)
        var d = 0.0; var j = 0
        val m = math.min(ctr.length, v.length)
        while (j < m) { val t = v(j) - ctr(j); d += t * t; j += 1 }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      (best, bestD)
    })
    df.withColumn("__a", assignUdf(F.col(embCol)))
      .withColumn("cluster", F.col("__a._1"))
      .withColumn("__d2", F.col("__a._2"))
      .drop("__a")
  }

  /** Fit k-means. `init` provides the starting centroids; when empty,
    * the embeddings of the k lowest `idCol` values are used (bounded
    * driver collect, deterministic). Empty clusters keep their previous
    * centroid. */
  def kMeans(df: DataFrame, embCol: String, idCol: String, k: Int,
             iters: Int = 10,
             init: Array[Array[Double]] = Array.empty,
             quantizeDecimals: Int = -1): KMeansModel = {
    require(k >= 2, "k must be >= 2")
    require(iters >= 1, "need at least one iteration")
    val clean = df
      .select(F.col(idCol).as("__id"),
        F.col(embCol).cast("array<double>").as("__emb"))
      .where(F.col("__emb").isNotNull)
    var centroids =
      if (init.nonEmpty) { require(init.length == k, s"init size != $k"); init }
      else clean.orderBy("__id").limit(k).select("__emb")
        .collect().map(_.getAs[Seq[Double]]("__emb").toArray)
    require(centroids.length == k, s"fewer than $k rows to initialize from")
    val d = centroids(0).length
    def quantize(c: Array[Double]): Array[Double] =
      if (quantizeDecimals < 0) c
      else {
        val s = math.pow(10.0, quantizeDecimals)
        c.map(x => math.rint(x * s) / s)
      }
    centroids = centroids.map(quantize)
    var it = 0
    while (it < iters) {
      val meanAgg = F.udaf(new Pca.MeanAgg(d))
      val sums = withAssignment(clean, "__emb", centroids)
        .groupBy("cluster").agg(meanAgg(F.col("__emb")).as("m"))
        .collect()
        .map(r => r.getAs[Int]("cluster") ->
          r.getAs[Seq[Double]]("m").toArray).toMap
      centroids = centroids.zipWithIndex.map { case (old, c) =>
        sums.get(c) match {
          case Some(m) if m(0) >= 1.0 =>
            quantize(Array.tabulate(d)(i => m(1 + i) / m(0)))
          case _ => old // empty cluster: keep the previous centroid
        }
      }
      it += 1
    }
    val fin = withAssignment(clean, "__emb", centroids)
      .groupBy("cluster").agg(F.count(F.lit(1)).as("n"),
        F.sum(F.col("__d2")).as("ss"))
      .collect().map(r => r.getAs[Int]("cluster") ->
        (r.getAs[Long]("n"), r.getAs[Double]("ss"))).toMap
    val sizes = Array.tabulate(k)(c => fin.get(c).map(_._1).getOrElse(0L))
    val inertia = fin.values.map(_._2).sum
    KMeansModel(centroids, sizes, inertia, sizes.sum, iters)
  }

  /** Davies–Bouldin and Calinski–Harabasz cluster validity indices for
    * a fitted [[KMeansModel]] — the "is k right / are these clusters
    * real" acceptance metrics next to [[silhouetteByLabel]]:
    *
    *   DB = (1/k')·Σᵢ maxⱼ≠ᵢ (Sᵢ + Sⱼ)/‖cᵢ − cⱼ‖   (lower better),
    *   CH = (B/(k'−1)) / (W/(n − k'))               (higher better)
    *
    * with Sᵢ the mean member→centroid distance, W the within sum of
    * squares, B = Σ nᵢ‖cᵢ − c̄‖² the between sum (c̄ the size-weighted
    * centroid mean), and k' the non-empty cluster count. ONE
    * assignment pass + a per-cluster aggregation; the k×k ratio scan
    * runs on the driver over the k-row stats (k bounded by the model).
    *
    * @return one row: (k, k_effective, n, db_index, ch_index, w_ssq,
    *         b_ssq) — doubles rounded to 6 */
  def validityIndices(df: DataFrame, embCol: String, idCol: String,
                      model: KMeansModel): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val clean = df
      .select(F.col(idCol).as("__id"),
        F.col(embCol).cast("array<double>").as("__emb"))
      .where(F.col("__emb").isNotNull)
    val per = withAssignment(clean, "__emb", model.centroids)
      .groupBy("cluster")
      .agg(F.count(F.lit(1)).as("n"), F.sum("__d2").as("w"),
        F.sum(F.sqrt(F.col("__d2"))).as("sd"))
      .collect()
      .map(r => r.getAs[Int]("cluster") ->
        (r.getAs[Long]("n"), r.getAs[Double]("w"),
          r.getAs[Double]("sd"))).toMap
    val k = model.k
    val live = (0 until k).filter(c => per.get(c).exists(_._1 > 0L))
    require(live.length >= 2,
      s"only ${live.length} non-empty clusters — validity indices " +
        "need at least 2")
    val n = live.map(per(_)._1).sum
    val kEff = live.length
    require(n > kEff, "need more rows than clusters")
    val d = model.centroids(0).length
    // size-weighted global centroid, then B — driver arithmetic over
    // the quantized model centroids, cluster-ascending order
    val mean = Array.tabulate(d) { j =>
      live.map(c => per(c)._1 * model.centroids(c)(j)).sum / n
    }
    val b = live.map { c =>
      var s = 0.0; var j = 0
      while (j < d) {
        val t = model.centroids(c)(j) - mean(j); s += t * t; j += 1
      }
      per(c)._1 * s
    }.sum
    val w = live.map(per(_)._2).sum
    val sMean = live.map(c => c -> per(c)._3 / per(c)._1).toMap
    def cDist(a: Int, bb: Int): Double = {
      var s = 0.0; var j = 0
      while (j < d) {
        val t = model.centroids(a)(j) - model.centroids(bb)(j)
        s += t * t; j += 1
      }
      math.sqrt(s)
    }
    val db = live.map { i =>
      live.filter(_ != i).map { j =>
        val dist = cDist(i, j)
        require(dist > 0.0,
          s"clusters $i and $j share a centroid — k is too large")
        (sMean(i) + sMean(j)) / dist
      }.max
    }.sum / kEff
    val ch = (b / (kEff - 1.0)) / (w / (n - kEff).toDouble)
    def r6(v: Double) = math.rint(v * 1e6) / 1e6
    Seq((k, kEff, n, r6(db), r6(ch), r6(w), r6(b)))
      .toDF("k", "k_effective", "n", "db_index", "ch_index", "w_ssq",
        "b_ssq")
  }

  /** The final assignment as a DataFrame: input columns + `cluster`. */
  def assign(df: DataFrame, embCol: String,
             model: KMeansModel): DataFrame =
    withAssignment(
      df.withColumn("__emb_d", F.col(embCol).cast("array<double>")),
      "__emb_d", model.centroids)
      .drop("__emb_d", "__d2")

  /** Centroid-variant silhouette per label — "are these labels real
    * CLUSTERS in embedding space": for each row, a = distance to its
    * own label's centroid, b = the smallest distance to any OTHER
    * label's centroid, s = (b − a)/max(a, b); the per-label mean s is
    * the separation verdict (≈1 tight and far, ≈0 touching, <0 the
    * label sits closer to someone else's center). The simplified
    * (medoid-free) silhouette — exact pairwise silhouette is O(n²)
    * and this is the form that scales.
    *
    * Fully relational: embeddings go LONG (posexplode), centroids are
    * ONE (label, dim) aggregation, per-row distances to all k
    * centroids ride a dim join against the broadcast k·d centroid
    * frame — rows never pairwise-join, nothing collects.
    *
    * @return one row per label: (label, n, a_mean, b_mean, silhouette)
    *         rounded to 6 */
  def silhouetteByLabel(df: DataFrame, idCol: String, embCol: String,
                        labelCol: String): DataFrame = {
    val long = df
      .where(F.col(idCol).isNotNull && F.col(labelCol).isNotNull &&
        F.col(embCol).isNotNull)
      .select(F.col(idCol).as("__id"),
        F.col(labelCol).cast("string").as("__lb"),
        F.posexplode(F.col(embCol).cast("array<double>"))
          .as(Seq("__dim", "__v")))
    val centroids = long.groupBy(F.col("__lb").as("__cl"), F.col("__dim"))
      .agg(F.avg("__v").as("__c"))
    val d2 = long
      .join(F.broadcast(centroids), Seq("__dim"))
      .groupBy("__id", "__lb", "__cl")
      .agg(F.sum((F.col("__v") - F.col("__c")) *
        (F.col("__v") - F.col("__c"))).as("__d2"))
    val perRow = d2.groupBy("__id", "__lb").agg(
      F.sqrt(F.sum(F.when(F.col("__cl") === F.col("__lb"),
        F.col("__d2")))).as("__a"),
      F.sqrt(F.min(F.when(F.col("__cl") =!= F.col("__lb"),
        F.col("__d2")))).as("__b"))
    perRow
      .where(F.col("__a").isNotNull && F.col("__b").isNotNull)
      .withColumn("__s",
        F.when(F.greatest(F.col("__a"), F.col("__b")) > 0.0,
          (F.col("__b") - F.col("__a")) /
            F.greatest(F.col("__a"), F.col("__b"))).otherwise(0.0))
      .groupBy(F.col("__lb").as(labelCol))
      .agg(F.count(F.lit(1)).as("n"),
        F.round(F.avg("__a"), 6).as("a_mean"),
        F.round(F.avg("__b"), 6).as("b_mean"),
        F.round(F.avg("__s"), 6).as("silhouette"))
  }

  /** Greedy k-center coreset over an embedding column (Gonzalez 1985,
    * 2-approximation to the optimal k-center cover): start from the
    * lowest-id vector, then k−1 times pick the point FARTHEST from the
    * selected set — the deterministic "most diverse k examples"
    * selection a training-data pipeline uses to seed curricula, dedup
    * review samples, or prototype sets. Reported with each pick's
    * selection distance (the coverage radius shrinks monotonically)
    * and the final coverage radius max-min distance of the whole set.
    *
    * Scale shape: k argmax jobs (one TakeOrdered each), centers
    * broadcast as literals, squared distances fold LEFT-TO-RIGHT over
    * the dimensions (`aggregate` over `zip_with`) so every comparison
    * replays bit-for-bit; the tie-break is the lowest id. Selection
    * compares SQUARED distances (argmax commutes with squaring);
    * outputs take the sqrt so sel_dist / coverage_radius are true
    * Euclidean distances, not squared ones.
    *
    * @return k rows: (rank, idCol, sel_dist, coverage_radius) */
  def kCenterCoreset(df: DataFrame, idCol: String, embCol: String,
                     k: Int): DataFrame = Persisted { scope =>
    require(k >= 2, "need k >= 2")
    val spark = df.sparkSession
    import spark.implicits._
    val pts = scope.cache(df
      .where(F.col(idCol).isNotNull && F.col(embCol).isNotNull)
      .select(F.col(idCol).cast("long").as("__id"),
        F.transform(F.col(embCol), x => x.cast("double")).as("__e")))
    def sqDist(center: Array[Double]): org.apache.spark.sql.Column =
      F.aggregate(
        F.zip_with(F.col("__e"), F.lit(center),
          (a, b) => (a - b) * (a - b)),
        F.lit(0.0), (acc, x) => acc + x)
    val seedRow = pts.orderBy(F.col("__id").asc).limit(1)
      .select(F.col("__id"), F.col("__e")).head()
    var centers = Vector((seedRow.getLong(0),
      seedRow.getSeq[Double](1).toArray, 0.0))
    (2 to k).foreach { _ =>
      val minDist = centers.map(c => sqDist(c._2)).reduce(F.least(_, _))
      val far = pts
        .select(F.col("__id"), F.col("__e"), minDist.as("__d"))
        .orderBy(F.col("__d").desc, F.col("__id").asc)
        .limit(1).head()
      centers = centers :+ ((far.getLong(0),
        far.getSeq[Double](1).toArray, far.getDouble(2)))
    }
    val minAll = centers.map(c => sqDist(c._2)).reduce(F.least(_, _))
    val radius = pts.agg(F.max(minAll)).head().getDouble(0)
    centers.zipWithIndex.map { case ((id, _, d), i) =>
      (i + 1L, id, math.rint(math.sqrt(d) * 1e6) / 1e6,
        math.rint(math.sqrt(radius) * 1e6) / 1e6)
    }.toDF("rank", idCol, "sel_dist", "coverage_radius")
  }
}
