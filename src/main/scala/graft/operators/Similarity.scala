package graft.operators

import org.apache.spark.sql.{Column, DataFrame, functions => F}

/** Similarity search over an embedding column (`array<float>`).
  *
  * Baseline: brute-force cosine top-k with the dot product expressed in
  * native `zip_with`/`aggregate` functions — fully codegen'd, scales as
  * one scan + a k-row ordered take (Spark's TakeOrderedAndProject), no
  * UDF and no driver collect of vectors.
  *
  * Scale path: random-hyperplane LSH — a 16-bit signature per vector
  * (again native expressions over a broadcast-literal hyperplane set),
  * bucketed so queries touch only matching buckets. At 100 TB the
  * signature computation is embarrassingly parallel and the bucket join
  * is a hash join on a 16-bit key.
  */
object Similarity {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Recursive-split depth cap for oversize SemDeDup cells: with each
    * round fanning a cell into ≥ ceil(size/maxCell)+1 sub-cells, 4 rounds
    * separate anything k-means can separate; what remains is a point mass. */
  private[operators] val maxSplitRounds = 4

  /** Oversize leaves trained per split round (largest first), bounded
    * so the per-round sub-centroid driver collect stays ≤ ~256 MB at
    * ANY embedding dimension (each leaf returns ≤ 64 centroids of
    * `dim` doubles): 4096 leaves up to dim 128, shrinking as 1/dim
    * beyond — dim 768 caps at ~682 leaves. The rest retry next round
    * (logged). */
  private[operators] def maxLeavesPerRound(dim: Int): Int = {
    val budgetBytes = 256L * 1024 * 1024
    val perLeafBytes = 64L * math.max(1, dim) * 8
    math.min(4096L, math.max(64L, budgetBytes / perLeafBytes)).toInt
  }

  /** Σ aᵢ·bᵢ over two array columns via the codegen'd ArrayDotProduct
    * expression (higher-order `zip_with`/`aggregate` are interpreted —
    * CodegenFallback — and dominated the brute-force scan). Elements are
    * cast to double BEFORE multiplying and folded strictly left-to-right,
    * the exact arithmetic of the HOF formulation and the DuckDB oracle. */
  def dot(a: Column, b: Column): Column = graft.functions.ArrayDot.dot(a, b)

  def norm(a: Column): Column = F.sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Brute-force cosine top-k against a literal query vector. */
  def bruteForceTopK(df: DataFrame, embCol: String, idCol: String,
                     query: Array[Float], k: Int): DataFrame = {
    val q = F.lit(query)
    df.select(F.col(idCol),
        F.round(cosine(F.col(embCol), q), 6).as("cosine"))
      .orderBy(F.col("cosine").desc, F.col(idCol).asc)
      .limit(k)
  }

  /** Dimension-truncation retrieval QA — "can we serve the first
    * `dims` coordinates and keep the neighbors" (the Matryoshka /
    * storage-tiering question): recall@k of truncated-cosine retrieval
    * against full-dimension retrieval, per probe query. Both sides are
    * rounded-cosine TakeOrdered top-k scans with the id tie-break (the
    * [[bruteForceTopK]] discipline — never a global sort); the probe
    * vectors are a bounded driver-side take, the per-query overlap one
    * broadcast join over k rows.
    *
    * @param queryIds probe ids (each excluded from its own candidates)
    * @return one row per probe: (query_id, dims, k, n_overlap, recall) */
  def truncationRecall(df: DataFrame, idCol: String, embCol: String,
                       queryIds: Seq[Long], dims: Int,
                       k: Int): DataFrame = {
    require(queryIds.nonEmpty, "need at least one probe id")
    require(dims >= 1, "dims must be >= 1")
    require(k >= 1, "k must be >= 1")
    val probes = df
      .where(F.col(idCol).isin(queryIds.map(Long.box): _*))
      .select(F.col(idCol).cast("long"), F.col(embCol))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
      .sortBy(_._1)
    val results = probes.map { case (qid, qv) =>
      val others = df.where(F.col(idCol) =!= qid)
      val full = bruteForceTopK(others, embCol, idCol, qv, k)
        .select(F.col(idCol).as("__nid"), F.lit(true).as("__in_full"))
      val trunc = others
        .select(F.col(idCol).as("__tid"),
          F.round(cosine(F.slice(F.col(embCol), 1, dims),
            F.lit(qv.take(dims))), 6).as("__cos"))
        .orderBy(F.col("__cos").desc, F.col("__tid").asc)
        .limit(k)
      trunc
        .join(F.broadcast(full), trunc("__tid") === full("__nid"),
          "left")
        .agg(F.sum(F.when(F.col("__in_full"), 1L).otherwise(0L))
          .as("n_overlap"))
        .select(F.lit(qid).as("query_id"), F.lit(dims.toLong).as("dims"),
          F.lit(k.toLong).as("k"), F.col("n_overlap"),
          F.round(F.col("n_overlap").cast("double") / k, 6).as("recall"))
    }
    results.reduce(_ unionAll _)
  }

  /** Maximal-marginal-relevance re-ranking (Carbonell & Goldstein
    * 1998) — diversify a retrieval pool: greedily pick
    *
    *   argmax_c  λ·rel(c) − (1−λ)·max_{s ∈ selected} sim(c, s)
    *
    * so near-duplicates of an already-selected result stop winning on
    * raw relevance — the retrieval-diversity step between ANN top-k
    * and what a user (or a RAG context window) actually sees. The
    * pool is a [[bruteForceTopK]] rounded-cosine TakeOrdered scan;
    * the greedy loop runs on the COLLECTED pool (≤ poolK rows — a
    * bounded take, the q_ann_recall discipline), with relevances and
    * pairwise similarities 6-rounded BEFORE selection so every argmax
    * (ties → smaller id) replays externally.
    *
    * @return selectK rows: (rank, id, relevance, mmr_score) */
  def mmrRerank(df: DataFrame, idCol: String, embCol: String,
                query: Array[Float], poolK: Int, selectK: Int,
                lambda: Double = 0.7): DataFrame = {
    require(poolK >= selectK && selectK >= 1, "need poolK >= selectK >= 1")
    require(lambda >= 0.0 && lambda <= 1.0, "lambda must be in [0, 1]")
    val q = F.lit(query)
    val pool = df
      .select(F.col(idCol).cast("long").as("__id"),
        F.round(cosine(F.col(embCol), q), 6).as("__rel"),
        F.col(embCol).cast("array<double>").as("__e"))
      .orderBy(F.col("__rel").desc, F.col("__id").asc)
      .limit(poolK)
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1),
        r.getSeq[Double](2).toArray))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var ab = 0.0; var aa = 0.0; var bb = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { ab += a(i) * b(i); aa += a(i) * a(i)
        bb += b(i) * b(i); i += 1 }
      math.rint(ab / (math.sqrt(aa) * math.sqrt(bb)) * 1e6) / 1e6
    }
    val selected = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Double, Double)] // (id, rel, mmr)
    val remaining = scala.collection.mutable.ArrayBuffer(pool: _*)
    while (selected.length < selectK && remaining.nonEmpty) {
      val scored = remaining.map { case (id, rel, e) =>
        val maxSim =
          if (selected.isEmpty) 0.0
          else selected.map { case (sid, _, _) =>
            cos(e, pool.find(_._1 == sid).get._3)
          }.max
        val mmr = math.rint((lambda * rel -
          (1.0 - lambda) * maxSim) * 1e6) / 1e6
        (id, rel, mmr)
      }
      val best = scored.minBy { case (id, _, mmr) => (-mmr, id) }
      selected += best
      remaining --= remaining.filter(_._1 == best._1)
    }
    val spark = df.sparkSession
    import spark.implicits._
    selected.zipWithIndex.map { case ((id, rel, mmr), i) =>
      (i.toLong + 1L, id, rel, mmr)
    }.toSeq.toDF("rank", "id", "relevance", "mmr_score")
  }

  /** Deterministic pseudo-random hyperplanes (seeded, executor-free). */
  private[operators] def hyperplanes(nPlanes: Int, dim: Int, seed: Long): Array[Array[Double]] = {
    Array.tabulate(nPlanes) { p =>
      Array.tabulate(dim) { d =>
        // splitmix64 → uniform in (-1, 1)
        val z = Dedup.mix64(seed + p * 1000003L + d)
        (z.toDouble / Long.MaxValue)
      }
    }
  }

  /** Sign-of-dot-product LSH signature: bit b set iff ⟨v, h_b⟩ > 0.
    * A compact UDF with the plane matrix in its closure — building this
    * from nPlanes × dim native expressions makes a thousand-node Catalyst
    * tree whose analysis/codegen costs more than the scan itself. */
  def lshSignature(emb: Column, planes: Array[Array[Double]]): Column = {
    val udf = F.udf((v: Seq[Float]) => {
      var sig = 0L
      var p = 0
      while (p < planes.length) {
        val h = planes(p)
        var s = 0.0
        var d = 0
        val n = math.min(h.length, v.length)
        while (d < n) { s += v(d) * h(d); d += 1 }
        if (s > 0) sig |= (1L << p)
        p += 1
      }
      sig
    })
    udf(emb)
  }

  /** Planes sized to the corpus: 2^p buckets targeting ~64 vectors per
    * bucket, clamped to [8, 24] — 8 planes on 2K vectors, ~24 on 10⁹;
    * selectivity then tracks corpus growth instead of degenerating. */
  def autoPlanes(n: Long, targetBucket: Int = 64): Int = {
    val p = math.ceil(math.log(math.max(n, 1L).toDouble / targetBucket) / math.log(2.0)).toInt
    math.min(24, math.max(8, p))
  }

  /** Bucketed approximate top-k: vectors sharing the query's LSH bucket
    * (or differing in ≤ 1 signature bit via probing) are ranked exactly.
    * nPlanes ≤ 0 sizes the signature from the corpus row count. */
  def lshTopK(df: DataFrame, embCol: String, idCol: String,
              query: Array[Float], k: Int,
              nPlanes: Int = 0, seed: Long = 42L): DataFrame = {
    val dim = query.length
    val np = if (nPlanes > 0) nPlanes else autoPlanes(df.count())
    val planes = hyperplanes(np, dim, seed)
    // query signature computed driver-side with the same arithmetic
    val qSig = planes.zipWithIndex.map { case (h, i) =>
      var s = 0.0
      var d = 0
      while (d < dim) { s += query(d) * h(d); d += 1 }
      if (s > 0) 1L << i else 0L
    }.sum
    // multiprobe: exact bucket + all 1-bit-flipped buckets
    val probes = qSig +: Array.tabulate(np)(b => qSig ^ (1L << b))
    val withSig = df.withColumn("lsh_bucket", lshSignature(F.col(embCol), planes))
    withSig.where(F.col("lsh_bucket").isin(probes.map(Long.box).toIndexedSeq: _*))
      .select(F.col(idCol), F.round(cosine(F.col(embCol), F.lit(query)), 6).as("cosine"))
      .orderBy(F.col("cosine").desc, F.col(idCol).asc)
      .limit(k)
  }

  /** IVF (inverted-file) index: a k-means coarse quantizer splits the
    * corpus into `nCells` cells; a query probes only its `nProbe` nearest
    * cells and ranks exactly inside them. This is the billion-scale ANN
    * path (FAISS IVF-Flat structure re-expressed on Spark): the quantizer
    * trains on a bounded sample, assignment is one distributed
    * `model.transform` pass, and the assigned table — repartitioned by
    * cell — serves every query with a cell-pruned scan instead of a full
    * one. Vectors are L2-normalized up front so in-cell ranking is a
    * plain dot product (= cosine). */
  final case class IvfIndex(centroids: Array[Array[Double]], assigned: DataFrame)

  /** ~√n cells (clamped [16, 65536]) keeps cells ~√n large — the standard
    * IVF balance between probe fan-out and in-cell scan cost. */
  def autoCells(n: Long): Int =
    math.min(65536, math.max(16, math.round(math.sqrt(math.max(n, 1L).toDouble)).toInt))

  /** Lloyd's k-means on a driver-resident sample — the quantizer trains
    * on ≤ trainCap rows BY DESIGN (FAISS trains IVF quantizers the same
    * way), so a distributed k-means would spend its time on job
    * scheduling, not arithmetic. 6 iterations: probed cells are re-ranked
    * exactly, so quantizer polish buys no recall. */
  private[operators] def lloyd(train: Array[Array[Double]], k: Int,
                               iters: Int, seed: Long): Array[Array[Double]] = {
    val rng = new java.util.Random(seed)
    val n = train.length
    val dim = train.headOption.map(_.length).getOrElse(0)
    val idx = rng.ints(0, n).distinct().limit(k).toArray
    var centroids = idx.map(train(_).clone())
    var it = 0
    while (it < iters) {
      val sums = Array.ofDim[Double](k, dim)
      val counts = new Array[Long](k)
      var i = 0
      while (i < n) {
        val v = train(i)
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < k) {
          val ctr = centroids(c)
          var d = 0.0; var j = 0
          while (j < dim) { val t = v(j) - ctr(j); d += t * t; j += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        val s = sums(best)
        var j = 0
        while (j < dim) { s(j) += v(j); j += 1 }
        counts(best) += 1
        i += 1
      }
      centroids = Array.tabulate(k) { c =>
        if (counts(c) == 0) train(rng.nextInt(n)).clone() // reseed empty cell
        else { val s = sums(c); Array.tabulate(dim)(j => s(j) / counts(c)) }
      }
      it += 1
    }
    centroids
  }

  /** L2-normalized (id, emb) projection of an embedding column. */
  private def normalizedOf(df: DataFrame, embCol: String, idCol: String): DataFrame =
    df.select(F.col(idCol).cast("long").as("id"), F.col(embCol).as("__e"),
        norm(F.col(embCol)).as("__n"))
      .select(F.col("id"),
        F.transform(F.col("__e"), x => x.cast("double") / F.col("__n")).as("emb"))

  /** One distributed nearest-centroid scoring pass against the broadcast
    * centroid matrix (k·dim doubles), co-locating rows by cell. */
  private def assignCells(normalized: DataFrame,
                          centroids: Array[Array[Double]]): DataFrame = {
    val bc = normalized.sparkSession.sparkContext.broadcast(centroids)
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
      best
    })
    normalized
      .withColumn("cell", assignUdf(F.col("emb")))
      .repartition(F.col("cell"))
  }

  def ivfBuild(df: DataFrame, embCol: String, idCol: String,
               nCells: Int = 0, seed: Long = 42L,
               trainCap: Int = 100000): IvfIndex = {
    val n = df.count()
    val cells = if (nCells > 0) nCells else autoCells(n)
    val normalized = normalizedOf(df, embCol, idCol)
    // quantizer trains on ≤ trainCap rows regardless of corpus size — at
    // 100 TB the k-means never sees more than a bounded sample
    val trainFrac = math.min(1.0, trainCap.toDouble * 1.2 / math.max(n, 1L))
    val train = normalized.select("emb")
      .sample(withReplacement = false, trainFrac, seed)
      .limit(trainCap)
      .collect().map(_.getSeq[Double](0).toArray)
    val k = math.max(2, math.min(cells.toLong, math.min(n, train.length.toLong)).toInt)
    val centroids = lloyd(train, k, iters = 6, seed = seed)
    IvfIndex(centroids, assignCells(normalized, centroids))
  }

  /** IVF index with caller-pinned centroids — the deterministic twin of
    * [[ivfBuild]] (no sampled k-means), used by frozen-cell incremental
    * pipelines and the hash-audit harness. */
  def ivfBuildWith(df: DataFrame, embCol: String, idCol: String,
                   centroids: Array[Array[Double]]): IvfIndex =
    IvfIndex(centroids, assignCells(normalizedOf(df, embCol, idCol), centroids))

  /** Incrementally extend an IVF index with a NEW vector batch without
    * retraining: centroids stay frozen (past assignments and probe
    * behavior are untouched), the batch gets one distributed scoring
    * pass, and the union is the maintained index — the ingest path for
    * a corpus that grows daily. Re-train (ivfBuild) only when drift
    * degrades cell balance. */
  def ivfAssign(index: IvfIndex, newDf: DataFrame, embCol: String,
                idCol: String): IvfIndex = {
    // an embedding-model swap (different dimension) would otherwise be
    // silently truncated by the distance loop and mis-assign every new
    // vector — fail fast like the minhash index does on config drift
    val centroidDim = index.centroids.head.length
    val firstRow = newDf
      .where(F.col(embCol).isNotNull)
      .select(F.size(F.col(embCol))).head(1)
    if (firstRow.isEmpty) return index // empty batch: nothing to ingest
    val newDim = firstRow(0).getInt(0)
    require(newDim == centroidDim,
      s"embedding dimension mismatch: batch=$newDim index=$centroidDim — " +
        "the index was built from a different embedding model; rebuild it")
    // pin the new batch's assignment so N daily calls don't stack N
    // normalize+score layers of lineage under every later query
    Persisted { scope =>
      val batch = scope.checkpoint(
        assignCells(normalizedOf(newDf, embCol, idCol), index.centroids))
      IvfIndex(index.centroids, index.assigned.unionByName(batch))
    }
  }

  /** Approximate top-k against a prebuilt IVF index: rank exactly inside
    * the `nProbe` cells whose centroids are Euclidean-nearest the
    * normalized query (the same metric the quantizer assigned with). */
  def ivfTopK(index: IvfIndex, query: Array[Float], k: Int,
              nProbe: Int = 8): DataFrame = {
    val qn = {
      var s = 0.0; query.foreach(v => s += v.toDouble * v.toDouble)
      val nrm = math.sqrt(s)
      query.map(v => if (nrm == 0) 0.0 else v.toDouble / nrm)
    }
    val probes = index.centroids.zipWithIndex.map { case (c, i) =>
      var d = 0.0
      val m = math.min(c.length, qn.length)
      var j = 0
      while (j < m) { val t = c(j) - qn(j); d += t * t; j += 1 }
      (i, d)
    }.sortBy(_._2).take(math.max(1, nProbe)).map(_._1)
    index.assigned
      .where(F.col("cell").isin(probes.map(Int.box).toSeq: _*))
      .select(F.col("id"),
        F.round(dot(F.col("emb"), F.lit(qn)), 6).as("cosine"))
      .orderBy(F.col("cosine").desc, F.col("id").asc)
      .limit(k)
  }

  // ---- product quantization (PQ) ----

  /** PQ codebooks: `m` contiguous subspaces of `dSub` dims, each with `k`
    * Lloyd's centers. m·k·dSub doubles total — kilobytes at any corpus
    * size, broadcast whole. */
  final case class PqCodebooks(m: Int, k: Int, dSub: Int,
                               centroids: Array[Array[Array[Double]]])

  /** Train PQ codebooks on a bounded driver sample (the FAISS
    * discipline — quantizer quality saturates long before trainCap).
    * Compression after [[pqEncode]] is d·4 bytes → m bytes per vector
    * (32× at d=64, m=8): the serving-tier representation that keeps a
    * trillion-vector corpus scannable. */
  def pqTrain(df: DataFrame, embCol: String, m: Int = 8, k: Int = 16,
              trainCap: Int = 10000, seed: Long = 42L): PqCodebooks = {
    require(m > 0 && k > 1, "need m >= 1 subspaces and k >= 2 centers")
    val n = df.count()
    val trainFrac = math.min(1.0, trainCap.toDouble * 1.2 / math.max(n, 1L))
    val train = df.select(embCol)
      .sample(withReplacement = false, trainFrac, seed).limit(trainCap)
      .collect().map(_.getSeq[Float](0).toArray.map(_.toDouble))
    require(train.nonEmpty, "empty training sample")
    val d = train.head.length
    require(d % m == 0, s"dim $d not divisible by m=$m")
    val dSub = d / m
    val kk = math.min(k, train.length)
    val cbs = Array.tabulate(m) { sub =>
      val slice = train.map(v =>
        java.util.Arrays.copyOfRange(v, sub * dSub, (sub + 1) * dSub))
      lloyd(slice, kk, iters = 8, seed = seed + sub)
    }
    PqCodebooks(m, kk, dSub, cbs)
  }

  /** Distributed PQ encoding: per row, argmin centroid per subspace
    * against the broadcast codebooks — a pure map, no shuffle. */
  def pqEncode(df: DataFrame, embCol: String, cb: PqCodebooks,
               codeCol: String = "pq_code"): DataFrame = {
    val bc = df.sparkSession.sparkContext.broadcast(cb)
    val enc = F.udf((v: Seq[Float]) => {
      val c = bc.value
      val out = new Array[Short](c.m)
      var sub = 0
      while (sub < c.m) {
        val base = sub * c.dSub
        val ctrs = c.centroids(sub)
        var best = 0; var bestD = Double.MaxValue
        var ci = 0
        while (ci < ctrs.length) {
          val ctr = ctrs(ci)
          var dAcc = 0.0; var j = 0
          while (j < c.dSub) {
            val t = v(base + j).toDouble - ctr(j); dAcc += t * t; j += 1
          }
          if (dAcc < bestD) { bestD = dAcc; best = ci }
          ci += 1
        }
        out(sub) = best.toShort
        sub += 1
      }
      out
    })
    df.withColumn(codeCol, enc(F.col(embCol)))
  }

  /** Asymmetric-distance (ADC) top-k over PQ codes: ONE m·k lookup table
    * of query-to-centroid squared distances is built on the driver and
    * broadcast; each row scores with m table lookups — no per-row vector
    * arithmetic, the cheap serving path over the m-byte codes. Exact
    * re-ranking of the short list (against the full vectors) is the
    * caller's follow-up where recall matters. */
  def pqTopK(encoded: DataFrame, codeCol: String, idCol: String,
             query: Array[Float], cb: PqCodebooks, k: Int): DataFrame = {
    val lut: Array[Array[Double]] = Array.tabulate(cb.m) { sub =>
      val base = sub * cb.dSub
      cb.centroids(sub).map { ctr =>
        var dAcc = 0.0; var j = 0
        while (j < cb.dSub) {
          val t = query(base + j).toDouble - ctr(j); dAcc += t * t; j += 1
        }
        dAcc
      }
    }
    val bc = encoded.sparkSession.sparkContext.broadcast(lut)
    val score = F.udf((code: Seq[Short]) => {
      val t = bc.value
      var s = 0.0; var i = 0
      while (i < code.length) { s += t(i)(code(i)); i += 1 }
      s
    })
    encoded.select(F.col(idCol),
        F.round(score(F.col(codeCol)), 6).as("pq_dist"))
      .orderBy(F.col("pq_dist").asc, F.col(idCol).asc)
      .limit(k)
  }

  /** Per-dimension |max| scales for symmetric int8 quantization. The
    * posexplode aggregation is map-side combined, so the shuffle carries
    * dims·partitions rows, not rows·dims — one cheap pass at any corpus
    * size. All-zero dimensions get scale 1 so they quantize to 0. */
  def quantizeScales(df: DataFrame, embCol: String): Array[Double] = {
    val rows = df
      .select(F.posexplode(F.col(embCol)).as(Seq("pos", "v")))
      .groupBy("pos").agg(F.max(F.abs(F.col("v").cast("double"))).as("s"))
      .collect()
    require(rows.nonEmpty, s"no vectors in column '$embCol'")
    val scales = Array.fill(rows.map(_.getInt(0)).max + 1)(1.0)
    rows.foreach(r => if (r.getDouble(1) > 0) scales(r.getInt(0)) = r.getDouble(1))
    scales
  }

  /** Symmetric int8 quantization of an embedding column — the standard
    * 4× memory shrink before ANN serving (q_d = round(127·x_d/s_d),
    * |x_d| ≤ s_d so the byte range is never exceeded). Scales ship as a
    * broadcast literal inside a zip_with, so the quantize is a pure
    * per-row map: no shuffle, partitioning preserved. Dequantization is
    * q_d·s_d/127 — [[dequantizeEmbeddings]] — with ≤ s_d/254 per-dim
    * error, which keeps cosine neighborhoods intact (asserted in spec). */
  def quantizeEmbeddings(df: DataFrame, embCol: String, scales: Array[Double],
                         outCol: String = "q_embedding"): DataFrame =
    df.withColumn(outCol,
      F.zip_with(F.col(embCol), F.lit(scales),
        (x, s) => F.round(x.cast("double") / s * F.lit(127.0), 0).cast("tinyint")))

  /** Per-group embedding centroids (cluster summaries, per-language
    * means, drift baselines). The posexplode aggregation is map-side
    * combined, so the shuffle carries (group, dim) partial sums — never
    * vectors — and the result is groups·dims rows at any corpus size. */
  def groupCentroids(df: DataFrame, groupCol: String, embCol: String): DataFrame =
    df.select(F.col(groupCol).as("grp"),
        F.posexplode(F.col(embCol)).as(Seq("dim", "v")))
      .groupBy("grp", "dim")
      .agg(F.avg(F.col("v").cast("double")).as("centroid"))

  /** Pairwise cosine similarity between GROUP CENTROIDS — the domain
    * similarity matrix ("which sources/languages occupy the same
    * embedding region"), the first input to a dedup-across-domains or
    * mixture-rebalancing decision. Rides [[groupCentroids]] (map-side
    * combined, shuffle carries (group, dim) partials — never vectors);
    * the pair join runs on the groups·dims long table, so cost is
    * k²·d/2 cell pairs, independent of corpus size.
    *
    * @return one row per group pair (a < b): (group_a, group_b,
    *         cosine rounded 6); zero-norm centroids omitted */
  def centroidSimilarity(df: DataFrame, groupCol: String,
                         embCol: String): DataFrame = Persisted { scope =>
    val c = scope.checkpoint(groupCentroids(df, groupCol, embCol))
    val l = c.select(F.col("grp").cast("string").as("group_a"),
      F.col("dim"), F.col("centroid").as("__ca"))
    val r = c.select(F.col("grp").cast("string").as("group_b"),
      F.col("dim"), F.col("centroid").as("__cb"))
    l.join(r, Seq("dim"))
      .where(F.col("group_a") < F.col("group_b"))
      .groupBy("group_a", "group_b")
      .agg(F.sum(F.col("__ca") * F.col("__cb")).as("__dot"),
        F.sum(F.col("__ca") * F.col("__ca")).as("__na"),
        F.sum(F.col("__cb") * F.col("__cb")).as("__nb"))
      .where(F.col("__na") > 0.0 && F.col("__nb") > 0.0)
      .withColumn("cosine", F.round(F.col("__dot") /
        (F.sqrt(F.col("__na")) * F.sqrt(F.col("__nb"))), 6))
      .select("group_a", "group_b", "cosine")
  }

  /** Inverse of [[quantizeEmbeddings]]: x̂_d = q_d·s_d/127. */
  def dequantizeEmbeddings(df: DataFrame, qCol: String, scales: Array[Double],
                           outCol: String = "embedding"): DataFrame =
    df.withColumn(outCol,
      F.zip_with(F.col(qCol), F.lit(scales),
        (q, s) => (q.cast("double") * s / F.lit(127.0)).cast("float")))

  /** Exact near-duplicate pairs: every (id_a < id_b) with cosine ≥
    * threshold — the verification baseline the LSH path is measured
    * against. O(n²) by definition, so callers bound the corpus (recall
    * audits run on a sample); the right side is broadcast so the pair
    * enumeration is shuffle-free, and the cosine is the same
    * dot/(norm·norm) arithmetic as [[bruteForceTopK]]. */
  def nearDupPairsExact(df: DataFrame, embCol: String, idCol: String,
                        threshold: Double = 0.95,
                        maxRows: Int = 65536): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // the corpus (or audit sample) is collected and broadcast — bounded by
    // this op's contract — and each task scores a slice of rows against
    // all later rows in primitive-array loops. A broadcast join expressing
    // the same thing pays per-pair array deserialization + boxing, which
    // at 2M pairs is ~50× the arithmetic cost. The contract is ENFORCED:
    // the collect itself is capped at maxRows+1 rows, so a caller pointing
    // this audit baseline at a corpus-scale table gets a loud failure, not
    // a driver OOM (same discipline as clusterAgreement's cell guard).
    val capped = df.select(F.col(idCol).cast("long"), F.col(embCol))
      .limit(maxRows + 1).as[(Long, Array[Float])].collect()
    require(capped.length <= maxRows,
      s"nearDupPairsExact is an O(n²) audit baseline: input exceeds " +
        s"maxRows=$maxRows rows; sample the corpus (or raise maxRows) — " +
        s"use semDedup/LSH for production-scale near-dup")
    val vecs = capped.sortBy(_._1)
    val norms = vecs.map { case (_, e) =>
      var s = 0.0; var i = 0
      while (i < e.length) { s += e(i).toDouble * e(i).toDouble; i += 1 }
      math.sqrt(s)
    }
    val bc = spark.sparkContext.broadcast((vecs, norms))
    val n = vecs.length
    val parts = math.max(1, math.min(n, 4 * spark.sparkContext.defaultParallelism))
    spark.createDataset(0 until n).repartition(parts)
      .flatMap { i =>
        val (vs, ns) = bc.value
        val (idA, ea) = vs(i)
        val na = ns(i)
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
        var j = i + 1
        while (j < vs.length) {
          val eb = vs(j)._2
          var s = 0.0; var d = 0
          val m = math.min(ea.length, eb.length)
          while (d < m) { s += ea(d).toDouble * eb(d).toDouble; d += 1 }
          // half-up at 6 decimals — the same rounding F.round/DuckDB use
          // for the positive cosines that can pass the threshold
          val c = math.floor(s / (na * ns(j)) * 1e6 + 0.5) / 1e6
          if (c >= threshold) out += ((idA, vs(j)._1, c))
          j += 1
        }
        out
      }.toDF("id_a", "id_b", "cosine")
  }

  /** All near-duplicate embedding pairs with cosine ≥ threshold, via LSH
    * bucketing + exact verification inside buckets (id_a < id_b).
    *
    * Scale-safety: vectors are L2-normalized ONCE before bucketing (so
    * verification is a dot product, no per-pair norm recompute), and the
    * `maxBucket` cap is enforced — buckets larger than the cap are
    * dropped rather than joined quadratically (a degenerate LSH bucket is
    * otherwise an unguarded O(n²) self-join); dropped buckets are
    * observed and warn-logged via [[Observability]], never silent. */
  def nearDupPairs(df: DataFrame, embCol: String, idCol: String,
                   threshold: Double = 0.95, nPlanes: Int = 12,
                   seed: Long = 42L, maxBucket: Int = 2000): DataFrame = {
    val dim = df.select(F.size(F.col(embCol))).head().getInt(0)
    val np = if (nPlanes > 0) nPlanes else autoPlanes(df.count())
    val planes = hyperplanes(np, dim, seed)
    val normalized = df.select(F.col(idCol).cast("long").as("id"),
        F.col(embCol).as("__e"),
        norm(F.col(embCol)).as("__n"),
        lshSignature(F.col(embCol), planes).as("bucket"))
      .select(F.col("id"),
        F.transform(F.col("__e"), x => x.cast("double") / F.col("__n")).as("emb"),
        F.col("bucket"))

    val buckets = Observability.observeDropped(
        normalized.groupBy("bucket")
          .agg(F.collect_list(F.struct(F.col("id"), F.col("emb"))).as("members")),
        "embeddingNearDup", F.size(F.col("members")), maxBucket)
      .where(F.size(F.col("members")).between(2, maxBucket))

    val pairUdf = F.udf((members: Seq[org.apache.spark.sql.Row]) => {
      val sorted = members
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
      var i = 0
      while (i < sorted.length) {
        var j = i + 1
        while (j < sorted.length) {
          val a = sorted(i)._2; val b = sorted(j)._2
          var s = 0.0
          var d = 0
          val n = math.min(a.length, b.length)
          while (d < n) { s += a(d) * b(d); d += 1 }
          val c = math.rint(s * 1e6) / 1e6
          if (c >= threshold) out += ((sorted(i)._1, sorted(j)._1, c))
          j += 1
        }
        i += 1
      }
      out.toSeq
    })
    buckets
      .select(F.explode(pairUdf(F.col("members"))).as("p"))
      .select(F.col("p._1").as("id_a"), F.col("p._2").as("id_b"),
        F.col("p._3").as("cosine"))
  }

  /** Batched k-NN JOIN: the top-k corpus neighbors of EVERY query row in
    * one plan — the retrieval-eval / cross-corpus-linkage shape, where
    * per-query [[ivfTopK]] calls would launch Q jobs. Each query probes
    * its `nProbe` nearest cells (a map-side explode against the
    * broadcast centroids), the probe table hash-joins the cell-assigned
    * corpus, and per-query ranking is a window the optimizer rewrites to
    * WindowGroupLimit (top-k pushed below the shuffle). A corpus vector
    * lives in exactly one cell, so multiprobe never duplicates a
    * candidate pair. `nProbe >= nCells` makes the join exhaustive —
    * exact brute-force semantics through the full IVF machinery, the
    * deterministic form the oracle replays.
    *
    * @return (q_id, c_id, cosine, rank) with rank 1..k per query */
  def ivfKnnJoin(index: IvfIndex, queries: DataFrame, embCol: String,
                 idCol: String, k: Int, nProbe: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1 && nProbe >= 1, "k and nProbe must be positive")
    val bc = queries.sparkSession.sparkContext.broadcast(index.centroids)
    val np = math.min(nProbe, index.centroids.length)
    val probeUdf = F.udf((v: Seq[Double]) => {
      // np-element insertion selection over primitive arrays — no boxed
      // (Double, Int) tuples, no full sort: on a billion-row assignment
      // the per-row garbage of zipWithIndex.sortBy.take dominates.
      // Scanning centroids in index order with strict-< insertion keeps
      // the exact (distance, index) tie order of the sorted formulation.
      val cs = bc.value
      val bestIdx = new Array[Int](np)
      val bestD = new Array[Double](np)
      java.util.Arrays.fill(bestD, Double.PositiveInfinity)
      var c = 0
      while (c < cs.length) {
        val ctr = cs(c)
        var d = 0.0; var j = 0
        val m = math.min(ctr.length, v.length)
        while (j < m) { val t = v(j) - ctr(j); d += t * t; j += 1 }
        if (d < bestD(np - 1)) {
          var p = np - 1
          while (p > 0 && d < bestD(p - 1)) {
            bestD(p) = bestD(p - 1); bestIdx(p) = bestIdx(p - 1); p -= 1
          }
          bestD(p) = d; bestIdx(p) = c
        }
        c += 1
      }
      bestIdx // np <= cs.length, so every slot is filled
    })
    val probed = normalizedOf(queries, embCol, idCol)
      .select(F.col("id").as("q_id"), F.col("emb").as("q_emb"),
        F.explode(probeUdf(F.col("emb"))).as("cell"))
    val scored = probed
      .join(index.assigned.select(F.col("id").as("c_id"),
        F.col("emb").as("c_emb"), F.col("cell")), Seq("cell"))
      .select(F.col("q_id"), F.col("c_id"),
        // rint (half-even) to pair with the oracle's round_even — the
        // repo's convention for rounding BEFORE a rank comparison
        (F.rint(dot(F.col("q_emb"), F.col("c_emb")) * 1e6) / 1e6).as("cosine"))
    val w = Window.partitionBy("q_id")
      .orderBy(F.col("cosine").desc, F.col("c_id").asc)
    scored.withColumn("rank", F.row_number().over(w).cast("long"))
      .where(F.col("rank") <= k)
  }

  // ---- semantic dedup (SemDeDup) ----

  /** Semantic near-duplicate pairs by embedding-cluster partitioning —
    * SemDeDup (Abbas et al. 2023, arXiv:2303.09540): k-means cells bound
    * the pairwise work to within-cell comparisons, the pruning that made
    * semantic dedup tractable on LAION-scale corpora. Reuses the IVF
    * coarse-quantizer discipline (bounded driver-side Lloyd training,
    * one distributed assignment pass); within each cell ≤ maxCell
    * normalized members pair up in primitive-array loops, so total work
    * is Σ cells m_c² · dim with m_c capped — never corpus². Pairs whose
    * duplicates straddle a cell boundary are missed by construction;
    * that recall trade IS the published algorithm (cells ≈ √n keeps it
    * small).
    *
    * @return (cell, id_a, id_b, cosine) with id_a < id_b, cosine ≥
    *         threshold, half-even-rounded to 6 decimals */
  def semDedupPairs(df: DataFrame, embCol: String, idCol: String,
                    threshold: Double = 0.95, nCells: Int = 0,
                    seed: Long = 42L, maxCell: Int = 10000): DataFrame = {
    val idx = ivfBuild(df, embCol, idCol, nCells, seed)
    semDedupPairsWith(df, embCol, idCol, idx.centroids, threshold, maxCell)
  }

  /** [[semDedupPairs]] against caller-pinned centroids — the
    * deterministic form (assignment and pairing are then pure
    * arithmetic, SQL-replayable end-to-end), and the form an incremental
    * pipeline uses to dedup a new batch against frozen cells.
    *
    * Oversize cells are SPLIT, not skipped: a k-means cell larger than
    * `maxCell` is a dense semantic region — exactly where near-duplicates
    * concentrate — so dropping it (an LSH-style skew guard) would zero
    * out recall where it matters most. Instead each oversize cell is
    * recursively re-clustered: per-leaf sub-centroids train INSIDE the
    * executors (`groupByKey(cell, sub).mapGroups` running Lloyd over a
    * bounded deterministic id-hash sample, lowest ids first — the driver
    * receives only the trained centroids, ≤ 64·dim doubles per leaf,
    * never an embedding), one distributed pass re-assigns the members,
    * and the loop repeats up to [[maxSplitRounds]] times until every
    * leaf holds ≤ `maxCell` rows. At most [[maxLeavesPerRound]] leaves
    * (the largest first) train per round, bounding the centroid
    * broadcast; deferred leaves are logged and retried next round.
    * Pairs are emitted within leaves (leaves are subsets of their parent
    * cell, so the within-cell contract is unchanged and the `cell`
    * output column still carries the top-level cell id). A leaf still
    * oversize after the round cap — adversarially identical points that
    * k-means cannot separate — is deterministically truncated to its
    * `maxCell` lowest ids and the dropped-member count is logged, never
    * silently zeroed.
    *
    * Cost shape: the assignment is pinned (lineage-free localCheckpoint)
    * before the oversize audit, so the audit and the pairing aggregation
    * both read the materialized blocks — the common no-oversize path
    * pays ONE normalize+assign pass plus a map-side count, not two
    * assignment passes. */
  def semDedupPairsWith(df: DataFrame, embCol: String, idCol: String,
                        centroids: Array[Array[Double]],
                        threshold: Double, maxCell: Int = 10000,
                        splitSeed: Long = 42L): DataFrame = Persisted { scope =>
    val spark = df.sparkSession
    import spark.implicits._
    var assigned = scope.checkpoint(assignCells(normalizedOf(df, embCol, idCol), centroids)
      .withColumn("sub", F.lit("")))
    // ---- oversize-cell splitting (bounded rounds, bounded training) ----
    val splitTrainCap = 4096
    var round = 0
    var settled = false
    while (round < maxSplitRounds && !settled) {
      val counts = assigned.groupBy("cell", "sub").count()
        .where(F.col("count") > maxCell)
        .collect()
        .map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2))
      if (counts.isEmpty) settled = true
      else {
        val leafCap = maxLeavesPerRound(
          if (centroids.nonEmpty) centroids(0).length else 0)
        val oversize = counts.sortBy(-_._2).take(leafCap).toMap
        if (counts.length > leafCap)
          log.warn(s"semDedup: ${counts.length - leafCap} oversize " +
            s"leaves beyond the per-round cap $leafCap deferred " +
            "to the next split round")
        // ~splitTrainCap training members per oversize leaf, selected by a
        // deterministic id-hash stride (no RNG, no embedding collect)
        val meta = oversize.map { case (k, n) =>
          k -> (math.max(1L, n / splitTrainCap), n)
        }
        val bcMeta = spark.sparkContext.broadcast(meta)
        val sampleUdf = F.udf((cell: Int, sub: String, id: Long) =>
          bcMeta.value.get((cell, sub)).exists { case (s, _) =>
            java.lang.Long.remainderUnsigned(Dedup.mix64(id), s) == 0L })
        val seedBase = splitSeed
        val trainCap = splitTrainCap
        val cellCap = maxCell
        val subCentroids: Map[(Int, String), Array[Array[Double]]] = assigned
          .where(sampleUdf(F.col("cell"), F.col("sub"), F.col("id")))
          .select(F.col("cell"), F.col("sub"), F.col("id"), F.col("emb"))
          .as[(Int, String, Long, Seq[Double])]
          .groupByKey { case (c, s, _, _) => (c, s) }
          .mapGroups { (key: (Int, String),
                        it: Iterator[(Int, String, Long, Seq[Double])]) =>
            val (c, s) = key
            // deterministic training set: the hash sample's lowest-id
            // members in id order — invariant to shuffle arrival order.
            // Buffer ≤ ~2·trainCap vectors (the stride guarantees it).
            val buf = it.map { case (_, _, id, e) => (id, e.toArray) }.toArray
            java.util.Arrays.sort(buf,
              Ordering.by((t: (Long, Array[Double])) => t._1))
            val sample = buf.take(trainCap).map(_._2)
            val (_, n) = bcMeta.value((c, s))
            val kc = math.min(64,
              math.max(2, math.ceil(n.toDouble / cellCap).toInt + 1))
            val seed = seedBase ^ ((c, s).hashCode.toLong << 17) ^ n
            val ctrs =
              if (sample.length < 2) Array.empty[Array[Double]]
              else lloyd(sample, math.min(kc, sample.length), 6, seed)
            ((c, s), ctrs)
          }
          .collect()
          .filter(_._2.nonEmpty) // indistinguishable members: give up
          .toMap
        if (subCentroids.isEmpty) { settled = false; round = maxSplitRounds }
        else {
          val bcSub = spark.sparkContext.broadcast(subCentroids)
          val reassignUdf = F.udf((cell: Int, sub: String, v: Seq[Double]) =>
            bcSub.value.get((cell, sub)) match {
              case Some(cs) =>
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
                s"$sub/$best"
              case None => sub
            })
          // pin each round's assignment (lineage-free, eager): without
          // this, round k's size audit re-runs every earlier round's
          // re-assign UDF plus the base assignment — O(rounds²) scans.
          // The no-oversize common path never reaches here.
          assigned = scope.round(assigned, assigned.withColumn("sub",
            reassignUdf(F.col("cell"), F.col("sub"), F.col("emb"))))
          round += 1
        }
      }
    }
    if (!settled) {
      // round cap exhausted: truncate residual oversize leaves to their
      // maxCell lowest ids (deterministic) and say so — never silent
      val residual = assigned.groupBy("cell", "sub").count()
        .where(F.col("count") > maxCell)
        .agg(F.coalesce(F.sum(F.col("count") - maxCell), F.lit(0L)).as("d"))
        .head().getLong(0)
      if (residual > 0) {
        log.warn(s"semDedup: $residual members in unsplittable oversize " +
          s"cells truncated to the $maxCell lowest ids per cell " +
          s"(after $maxSplitRounds split rounds)")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("cell", "sub").orderBy(F.col("id").asc)
        assigned = assigned
          .withColumn("__rn", F.row_number().over(w))
          .where(F.col("__rn") <= maxCell).drop("__rn")
      }
    }
    val cells = assigned.groupBy("cell", "sub")
      .agg(F.collect_list(F.struct(F.col("id"), F.col("emb"))).as("members"))
      .where(F.size(F.col("members")) >= 2)
    val pairUdf = F.udf((members: Seq[org.apache.spark.sql.Row]) => {
      val sorted = members
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
      var i = 0
      while (i < sorted.length) {
        var j = i + 1
        while (j < sorted.length) {
          val a = sorted(i)._2; val b = sorted(j)._2
          var s = 0.0; var d = 0
          val n = math.min(a.length, b.length)
          while (d < n) { s += a(d) * b(d); d += 1 }
          val c = math.rint(s * 1e6) / 1e6
          if (c >= threshold) out += ((sorted(i)._1, sorted(j)._1, c))
          j += 1
        }
        i += 1
      }
      out.toSeq
    })
    cells
      .select(F.col("cell"), F.explode(pairUdf(F.col("members"))).as("p"))
      .select(F.col("cell"), F.col("p._1").as("id_a"),
        F.col("p._2").as("id_b"), F.col("p._3").as("cosine"))
  }

  /** Rows surviving semantic dedup: the larger id of every within-cell
    * near-dup pair is dropped (keep-min, the same survivor rule as the
    * MinHash path, so mixed text+embedding pipelines agree on which copy
    * lives). */
  def semDedupSurvivors(df: DataFrame, embCol: String, idCol: String,
                        threshold: Double = 0.95, nCells: Int = 0,
                        seed: Long = 42L, maxCell: Int = 10000): DataFrame = {
    val drop = semDedupPairs(df, embCol, idCol, threshold, nCells, seed, maxCell)
      .select(F.col("id_b").as(idCol)).distinct()
    df.join(drop, Seq(idCol), "left_anti")
  }

  /** Johnson–Lindenstrauss random projection of the embedding column
    * to `outDim` dimensions with the deterministic ±1/√k matrix
    * (Achlioptas 2001): entry (i, j) is the md5("jl#i#j") parity —
    * no RNG state, so the SAME matrix materializes on every executor,
    * every run, and in the oracle. The 100 TB use: shrink 64-dim
    * embeddings to 16 before LSH/IVF candidate generation — 4× less
    * shuffle and memory at a distance distortion the JL lemma bounds
    * (audit with [[jlDistortion]] before trusting it).
    *
    * Fully in-plan and codegen'd: nested `transform`/`zip_with`/
    * `aggregate` higher-order functions, components folded
    * LEFT-TO-RIGHT over the dimensions (bit-reproducible, the
    * [[Clustering.kCenterCoreset]] discipline) and rounded to 6.
    *
    * @return one row per input: (idCol, proj array<double>[outDim]) */
  def jlProject(df: DataFrame, idCol: String, embCol: String,
                inDim: Int, outDim: Int): DataFrame = {
    require(inDim >= 1 && outDim >= 1 && outDim <= inDim,
      "need 1 <= outDim <= inDim")
    val emb = F.transform(F.col(embCol), x => x.cast("double"))
    def signOf(i: Column, j: Column): Column =
      F.when(F.conv(F.substring(F.md5(F.concat_ws("#", F.lit("jl"),
        i.cast("string"), j.cast("string")).cast("binary")), 1, 8),
        16, 10).cast("long") % 2L === 0L, F.lit(1.0))
        .otherwise(F.lit(-1.0))
    val proj = F.transform(F.sequence(F.lit(0), F.lit(outDim - 1)), j =>
      F.round(F.aggregate(
        F.zip_with(emb,
          F.transform(F.sequence(F.lit(0), F.lit(inDim - 1)),
            i => signOf(i, j)),
          (x, s) => x * s),
        F.lit(0.0), (acc, v) => acc + v) /
        math.sqrt(outDim.toDouble), 6))
    df.where(F.col(idCol).isNotNull && F.col(embCol).isNotNull &&
        F.size(F.col(embCol)) === inDim)
      .select(F.col(idCol), proj.as("proj"))
  }

  /** Anisotropy audit of an embedding space (Ethayarajh 2019's
    * observation, made operational): cosine similarity across
    * consecutive-id pairs — an isotropic space centers near 0, while
    * contextual-model spaces often sit near +1 ACROSS UNRELATED
    * pairs, silently breaking every cosine threshold tuned on an
    * isotropic assumption (semDedup cutoffs, ANN recall targets).
    * Run this before trusting any fixed cosine threshold on a new
    * embedding source.
    *
    * Ordered array folds per pair (bit-reproducible), per-pair cosine
    * rounded 6, DECIMAL-exact summary fold. Nothing collects.
    *
    * @return one row: (n_pairs, mean_cos, min_cos, max_cos,
    *         share_above_half) */
  def pairCosineStats(df: DataFrame, idCol: String,
                      embCol: String): DataFrame = {
    val base = df
      .where(F.col(idCol).isNotNull && F.col(embCol).isNotNull)
      .select(F.col(idCol).cast("long").as("id"),
        F.transform(F.col(embCol), x => x.cast("double")).as("e"))
    val a = base.where(F.col("id") % 2L === 0L)
      .select(F.col("id").as("id_a"), F.col("e").as("ea"))
    val b = base.select(F.col("id").as("id_b"), F.col("e").as("eb"))
    def fold(c: org.apache.spark.sql.Column) =
      F.aggregate(c, F.lit(0.0), (acc, x) => acc + x)
    val dot = fold(F.zip_with(F.col("ea"), F.col("eb"),
      (x, y) => x * y))
    val na = F.sqrt(fold(F.zip_with(F.col("ea"), F.col("ea"),
      (x, y) => x * y)))
    val nb = F.sqrt(fold(F.zip_with(F.col("eb"), F.col("eb"),
      (x, y) => x * y)))
    a.join(b, F.col("id_b") === F.col("id_a") + 1L)
      .where(na > 0.0 && nb > 0.0)
      .select(F.round(dot / (na * nb), 6).as("__c"))
      .agg(F.count(F.lit(1)).as("n_pairs"),
        F.round(dsum(F.col("__c")) / F.count(F.lit(1)), 6)
          .as("mean_cos"),
        F.min("__c").as("min_cos"), F.max("__c").as("max_cos"),
        F.round(F.sum(F.when(F.col("__c") > 0.5, 1L).otherwise(0L))
          .cast("double") / F.count(F.lit(1)), 6)
          .as("share_above_half"))
  }

  /** Distance-distortion audit of [[jlProject]] on consecutive-id
    * pairs: ‖a−b‖ in the original space vs the projected one and
    * their ratio — the acceptance check the JL lemma invites before
    * routing ANN candidate generation through the smaller space
    * (ratios concentrating near 1 = the projection is safe for this
    * corpus). Ordered folds over both arrays; nothing collects.
    *
    * @return one row per (even, even+1) id pair: (id_a, id_b,
    *         dist_orig, dist_proj, ratio) — ratio null when the
    *         original distance is zero */
  def jlDistortion(df: DataFrame, idCol: String, embCol: String,
                   inDim: Int, outDim: Int): DataFrame = {
    val p = jlProject(df, idCol, embCol, inDim, outDim)
      .select(F.col(idCol).cast("long").as("id"), F.col("proj"))
    val base = df
      .where(F.col(idCol).isNotNull && F.col(embCol).isNotNull &&
        F.size(F.col(embCol)) === inDim)
      .select(F.col(idCol).cast("long").as("id"),
        F.transform(F.col(embCol), x => x.cast("double")).as("e"))
      .join(p, "id")
    val a = base.where(F.col("id") % 2L === 0L)
      .select(F.col("id").as("id_a"), F.col("e").as("ea"),
        F.col("proj").as("pa"))
    val b = base
      .select(F.col("id").as("id_b"), F.col("e").as("eb"),
        F.col("proj").as("pb"))
    def sq(x: Column, y: Column): Column = (x - y) * (x - y)
    def dist(u: String, v: String): Column =
      F.sqrt(F.aggregate(F.zip_with(F.col(u), F.col(v), sq),
        F.lit(0.0), (acc, x) => acc + x))
    val dO = dist("ea", "eb")
    val dP = dist("pa", "pb")
    a.join(b, F.col("id_b") === F.col("id_a") + 1L)
      .select(F.col("id_a"), F.col("id_b"),
        F.round(dO, 6).as("dist_orig"),
        F.round(dP, 6).as("dist_proj"),
        F.when(dO > 0.0, F.round(dP / dO, 6)).as("ratio"))
  }
}
