package graft.operators

import org.apache.spark.sql.{Column, DataFrame, functions => F}

/** Deduplication operators for training-data pipelines, each designed for
  * the 100 TB regime:
  *
  *  - exact: one hash-shuffle on a 32-char digest, never on raw text;
  *  - MinHash+LSH: per-doc signatures computed in a single executor-local
  *    pass (no shingle explosion), banded so candidate generation is a
  *    groupBy on small (band, hash) keys; bucket-size cap guards against
  *    degenerate-key skew;
  *  - SimHash: 64-bit signatures, banded on 16-bit chunks, verified by
  *    codegen'd xor+bit_count;
  *  - n-gram Jaccard: exact verification on LSH candidates only, never
  *    all-pairs.
  */
object Dedup {

  /** splitmix64 — stable 64-bit avalanche mix, pure integer math. */
  @inline private[operators] def mix64(x0: Long): Long = {
    var z = x0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  @inline private[operators] def hashString(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) { h = (h ^ s.charAt(i)) * 0x100000001b3L; i += 1 }
    mix64(h)
  }

  /** Exact dedup: group identical texts by md5 digest, keep the smallest
    * id as survivor. Returns (hash, survivor_id, n_copies). */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(F.md5(F.col(textCol).cast("binary")).as("text_md5"))
      .agg(F.min(idCol).as("survivor_id"), F.count(F.lit(1)).as("n_copies"))

  /** Rows that survive exact dedup (min id per distinct text). */
  def exactSurvivors(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keep = exact(df, idCol, textCol).select(F.col("survivor_id").as(idCol))
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** Corpus snapshot diff — the dataset-versioning primitive: which
    * documents were ADDED, REMOVED, or CHANGED between two corpus
    * versions. Content identity is the md5 digest the exact-dedup path
    * uses, so "changed" means same id, different bytes. Both sides
    * reduce to (id, digest) BEFORE the join — text never shuffles — so
    * at 100 TB the diff costs two digest scans plus one id-key shuffle,
    * and AQE broadcasts the small side when one snapshot is an
    * incremental batch. Unchanged rows are omitted: the output is the
    * changeset, small by construction in an incremental pipeline.
    *
    * @return (id, status ∈ added|removed|changed), one row per delta */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, idCol: String,
                   textCol: String): DataFrame = {
    // ids keep their native type — UUID/URL/string keys must join as
    // themselves (a numeric cast would null them out and report the
    // whole overlap as added+removed)
    def digests(df: DataFrame, as: String) = df.select(
      F.col(idCol).as("id"),
      F.md5(F.coalesce(F.col(textCol), F.lit("")).cast("binary")).as(as))
    digests(oldDf, "h_old")
      .join(digests(newDf, "h_new"), Seq("id"), "full_outer")
      .withColumn("status",
        F.when(F.col("h_old").isNull, "added")
          .when(F.col("h_new").isNull, "removed")
          .when(F.col("h_old") =!= F.col("h_new"), "changed"))
      .where(F.col("status").isNotNull)
      .select(F.col("id"), F.col("status"))
  }

  // ---- MinHash ----

  /** Word n-gram shingles of a normalized text. */
  private[operators] def shingles(text: String, n: Int): Array[String] = {
    val toks = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
    if (toks.length < n) { if (toks.isEmpty) Array.empty else Array(toks.mkString(" ")) }
    else Array.tabulate(toks.length - n + 1)(i => toks.slice(i, i + n).mkString(" "))
  }

  /** STRICT token n-grams: lowercase whitespace tokens, empty for
    * documents shorter than n (no whole-document fallback — that
    * leniency is right for MinHash signatures, wrong for gram matching).
    * The ONE gram definition behind decontamination and duplicated-span
    * detection, so their gram spaces can never diverge. */
  private[operators] def tokenNgrams(text: String, n: Int): Array[String] = {
    val toks = Option(text).getOrElse("").toLowerCase.split("\\s+").filter(_.nonEmpty)
    if (toks.length < n) Array.empty
    else Array.tabulate(toks.length - n + 1)(i => toks.slice(i, i + n).mkString(" "))
  }

  /** [[tokenNgrams]] with start positions (gram i starts at token i) —
    * only the span path pays for the tuples. */
  private[operators] def positionalNgrams(text: String, n: Int): Array[(Int, String)] = {
    val gs = tokenNgrams(text, n)
    Array.tabulate(gs.length)(i => (i, gs(i)))
  }

  /** Per-slot permutation coefficients: odd multipliers + offsets derived
    * once from the golden-ratio mix — deterministic across JVMs. */
  private def permCoeffs(k: Int): (Array[Long], Array[Long]) = {
    val a = Array.tabulate(k)(j => mix64(0xa076_1d64_78bd_642fL + j) | 1L)
    val b = Array.tabulate(k)(j => mix64(0xe703_7ed1_a0b4_28dbL + j))
    (a, b)
  }
  private val permA = permCoeffs(512)._1
  private val permB = permCoeffs(512)._2

  /** MinHash signature: hash each shingle once (FNV + avalanche), derive
    * the k permutation minima with multiply-shift 2-universal hashing
    * (`a_j·h + b_j`, odd a_j) — 2 integer ops per slot instead of a full
    * mix, which is the textbook minwise-permutation family over an
    * already well-mixed input. O(shingles · k) per document, computed
    * where the document lives (no shuffle). */
  private[operators] def minhashSignature(text: String, k: Int, shingleSize: Int): Array[Long] = {
    require(k <= permA.length, s"numHashes capped at ${permA.length}")
    val sh = shingles(text, shingleSize)
    val sig = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < sh.length) {
      val h = hashString(sh(i))
      var j = 0
      while (j < k) {
        val v = permA(j) * h + permB(j)
        if (v < sig(j)) sig(j) = v
        j += 1
      }
      i += 1
    }
    sig
  }

  /** Estimated Jaccard = fraction of equal signature slots. */
  private[operators] def estJaccard(a: Seq[Long], b: Seq[Long]): Double = {
    var eq = 0
    var i = 0
    while (i < a.length) { if (a(i) == b(i)) eq += 1; i += 1 }
    eq.toDouble / a.length
  }

  /** Exact n-gram Jaccard between two texts. */
  def ngramJaccard(a: String, b: String, n: Int = 3): Double = {
    val sa = shingles(a, n).toSet
    val sb = shingles(b, n).toSet
    if (sa.isEmpty && sb.isEmpty) 1.0
    else if (sa.isEmpty || sb.isEmpty) 0.0
    else sa.intersect(sb).size.toDouble / sa.union(sb).size
  }

  /** Near-duplicate pairs via MinHash + banded LSH.
    *
    * @param numHashes   signature length k (bands · rowsPerBand)
    * @param bands       LSH bands; collision threshold ≈ (1/bands)^(1/rows)
    * @param threshold   minimum estimated Jaccard to emit
    * @param maxBucket   skip degenerate buckets larger than this (skew guard)
    * @return (id_a, id_b, est_jaccard) with id_a < id_b
    */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
                   numHashes: Int = 128, bands: Int = 32,
                   threshold: Double = 0.7, maxBucket: Int = 1000): DataFrame = Persisted { scope =>
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val rows = numHashes / bands
    // signatures feed the band explode AND both verification joins —
    // cache so the text is hashed exactly once
    val sigs = scope.cache(minhashSignatures(df, idCol, textCol, numHashes, 3))

    // bands carry ONLY (id, band, bkey) — the 128-slot signatures stay
    // out of the band shuffle (at 5K docs that is already a ~160 MB
    // saving; at 100 TB it is the difference between shuffling ids and
    // shuffling the corpus)
    val banded = bandedOf(sigs, bands, rows)

    // candidate id pairs from co-bucketed docs; cap degenerate buckets
    // (dropped-bucket counts are observed + warn-logged, never silent)
    val buckets = Observability.observeDropped(
        banded.groupBy("band", "bkey")
          .agg(F.collect_list(F.col("id")).as("members")),
        "minhashPairs", F.size(F.col("members")), maxBucket)
      .where(F.size(F.col("members")).between(2, maxBucket))

    val pairUdf = F.udf((members: Seq[Long]) => {
      val sorted = members.sorted
      for (i <- sorted.indices; j <- (i + 1) until sorted.length)
        yield (sorted(i), sorted(j))
    })
    val candidates = buckets
      .select(F.explode(pairUdf(F.col("members"))).as("p"))
      .select(F.col("p._1").as("id_a"), F.col("p._2").as("id_b"))
      .dropDuplicates("id_a", "id_b")

    // verify each unique candidate ONCE: join the signatures back and
    // compare slot-wise
    val estUdf = F.udf((a: Seq[Long], b: Seq[Long]) => estJaccard(a, b))
    val pairs = candidates
      .join(sigs.select(F.col("id").as("id_a"), F.col("sig").as("sig_a")), "id_a")
      .join(sigs.select(F.col("id").as("id_b"), F.col("sig").as("sig_b")), "id_b")
      .select(F.col("id_a"), F.col("id_b"),
        F.round(estUdf(F.col("sig_a"), F.col("sig_b")), 6).as("est_jaccard"))
      .where(F.col("est_jaccard") >= threshold)
    // materialize the (small) pairs table lineage-free — signatures are
    // ~1 KB/doc and must not outlive the call at corpus scale
    scope.checkpoint(pairs)
  }

  /** Persistable MinHash dedup index: one (id, sig) row per document.
    * Band keys derive from the signature map-side (a few integer mixes
    * per band), so the index carries no banding state and any
    * bands/rows configuration can query it later. */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        numHashes: Int = 128, shingleSize: Int = 3): DataFrame = {
    val sigUdf = F.udf((t: String) => minhashSignature(t, numHashes, shingleSize))
    df.select(F.col(idCol).cast("long").as("id"), sigUdf(F.col(textCol)).as("sig"))
  }

  /** (id, band, bkey) band table derived map-side from signatures. */
  private def bandedOf(sigs: DataFrame, bands: Int, rows: Int): DataFrame = {
    val bandKey = F.udf((sig: Seq[Long], band: Int) => {
      var h = 0xcbf29ce484222325L ^ band.toLong
      var i = band * rows
      while (i < (band + 1) * rows) { h = mix64(h ^ sig(i)); i += 1 }
      h
    })
    sigs.select(
      F.col("id"),
      F.explode(F.array((0 until bands).map(b =>
        F.struct(F.lit(b).as("band"), bandKey(F.col("sig"), F.lit(b)).as("bkey"))): _*)).as("bk"))
      .select(F.col("id"), F.col("bk.band"), F.col("bk.bkey"))
  }

  /** Incremental near-dup detection: (new, old) candidate pairs between a
    * NEW document batch and an EXISTING signature index — the ingest-time
    * shape of dedup at corpus scale. Old text is never re-read or
    * re-hashed: the index is the (id, sig) table from
    * [[minhashSignatures]] (typically a parquet table maintained across
    * batches), bands derive map-side on both sides, the join shuffles
    * (id, band, bkey) only, and old-old pairs are never generated or
    * verified. Degenerate index buckets are capped like the batch path.
    *
    * @return (new_id, old_id, est_jaccard) */
  def minhashPairsAgainst(index: DataFrame, newDocs: DataFrame,
                          idCol: String, textCol: String,
                          numHashes: Int = 128, bands: Int = 32,
                          threshold: Double = 0.7,
                          maxBucket: Int = 1000,
                          shingleSize: Int = 3): DataFrame = Persisted { scope =>
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val rows = numHashes / bands
    val newSigs = scope.cache(
      minhashSignatures(newDocs, idCol, textCol, numHashes, shingleSize))
    // the index is consumed twice (band derivation + verification join);
    // cache it so a lazily-built index isn't re-hashed per subtree (a
    // caller's maintained-index cache stays the caller's)
    val idx = scope.cache(index)
    val oldBanded = bandedOf(idx, bands, rows)
    val okBuckets = oldBanded.groupBy("band", "bkey")
      .agg(F.count(F.lit(1)).as("__n"))
      .where(F.col("__n") <= maxBucket).drop("__n")
    val candidates = bandedOf(newSigs, bands, rows)
      .select(F.col("id").as("new_id"), F.col("band"), F.col("bkey"))
      .join(oldBanded.join(okBuckets, Seq("band", "bkey"), "left_semi")
        .select(F.col("id").as("old_id"), F.col("band"), F.col("bkey")),
        Seq("band", "bkey"))
      .where(F.col("new_id") =!= F.col("old_id"))
      .select("new_id", "old_id").dropDuplicates("new_id", "old_id")
    val estUdf = F.udf((a: Seq[Long], b: Seq[Long]) => {
      // a config drift between the persisted index and this call would
      // otherwise be an IndexOutOfBounds (shorter index sigs) or a
      // silently-deflated estimate (longer) — the worst failure mode for
      // a dedup gate
      require(a.length == b.length,
        s"signature length mismatch: new=${a.length} index=${b.length} — " +
          "the index was built with a different numHashes")
      estJaccard(a, b)
    })
    val pairs = candidates
      .join(newSigs.select(F.col("id").as("new_id"), F.col("sig").as("sig_n")), "new_id")
      .join(idx.select(F.col("id").as("old_id"), F.col("sig").as("sig_o")), "old_id")
      .select(F.col("new_id"), F.col("old_id"),
        F.round(estUdf(F.col("sig_n"), F.col("sig_o")), 6).as("est_jaccard"))
      .where(F.col("est_jaccard") >= threshold)
    scope.checkpoint(pairs)
  }

  /** Survivors after MinHash near-dup removal: drop the larger id of
    * every near-dup pair (union-find light — one pass is the standard
    * large-scale approximation). */
  def minhashSurvivors(df: DataFrame, idCol: String, textCol: String,
                       threshold: Double = 0.8): DataFrame = {
    val dupIds = minhashPairs(df, idCol, textCol, threshold = threshold)
      .select(F.col("id_b").as(idCol)).distinct()
    df.join(dupIds, Seq(idCol), "left_anti")
  }

  // ---- SimHash ----

  /** 64-bit SimHash over word tokens. */
  def simhash64(text: String): Long = {
    val toks = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
    val acc = new Array[Int](64)
    var i = 0
    while (i < toks.length) {
      val h = hashString(toks(i))
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) { if (acc(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }

  private val simhashUdf = F.udf(simhash64 _)

  def withSimhash(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("simhash", simhashUdf(F.col(textCol)))

  /** Near-dup pairs by SimHash: band the 64-bit signature into
    * maxHamming+1 chunks — by pigeonhole, any pair within the Hamming
    * budget shares at least one exact chunk — then verify candidates with
    * codegen'd xor+bit_count. Classic dedup uses maxHamming=3 (4×16-bit
    * chunks); larger budgets shrink chunks and grow buckets, so keep the
    * budget small at scale. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3, maxBucket: Int = 1000): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 32, "maxHamming must be in [0, 32)")
    val nBands = maxHamming + 1
    val bits = 64 / nBands
    val sigs = withSimhash(df, textCol)
      .select(F.col(idCol).cast("long").as("id"), F.col("simhash"))
    val banded = sigs.select(F.col("id"), F.col("simhash"),
      F.explode(F.array((0 until nBands).map { b =>
        val width = if (b == nBands - 1) 64 - b * bits else bits
        val mask = if (width >= 64) -1L else (1L << width) - 1
        F.struct(
          F.lit(b).as("band"),
          F.shiftrightunsigned(F.col("simhash"), b * bits).bitwiseAND(mask).as("chunk"))
      }: _*)).as("bk"))
      .select(F.col("id"), F.col("simhash"), F.col("bk.band"), F.col("bk.chunk"))

    // candidate pairs from co-bucketed docs; the bucket-size cap (between
    // 2 and maxBucket) is the skew guard — one degenerate chunk value can
    // otherwise turn the band join quadratic. The 64-bit signature rides
    // along in the bucket (8 bytes/doc), so no join-back is needed.
    val buckets = Observability.observeDropped(
        banded.groupBy("band", "chunk")
          .agg(F.collect_list(F.struct(F.col("id"), F.col("simhash"))).as("members")),
        "simhashPairs", F.size(F.col("members")), maxBucket)
      .where(F.size(F.col("members")).between(2, maxBucket))

    val pairUdf = F.udf((members: Seq[org.apache.spark.sql.Row]) => {
      val sorted = members.map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      for {
        i <- sorted.indices
        j <- (i + 1) until sorted.length
        h = java.lang.Long.bitCount(sorted(i)._2 ^ sorted(j)._2)
        if h <= maxHamming
      } yield (sorted(i)._1, sorted(j)._1, h)
    })
    buckets
      .select(F.explode(pairUdf(F.col("members"))).as("p"))
      .select(F.col("p._1").as("id_a"), F.col("p._2").as("id_b"),
        F.col("p._3").as("hamming"))
      .dropDuplicates("id_a", "id_b")
  }

  // ---- Connected components (duplicate-cluster resolution) ----

  /** Candidate pairs of documents sharing at least one word n-gram — the
    * inverted-index join behind shingle-overlap clustering. Each doc
    * explodes to its distinct shingles (id + shingle only, never the
    * text), shingles more frequent than `maxShingleFreq` are dropped as
    * stop-shingles (the skew guard: a boilerplate phrase shared by
    * millions of docs would otherwise produce a quadratic bucket), and
    * the self-join runs on the shingle hash key. Shuffle carries
    * (shingle, id) rows — linear in corpus token count. */
  def shingleSharePairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 4, maxShingleFreq: Int = 100): DataFrame = {
    val shUdf = F.udf((t: String) => shingles(if (t == null) "" else t, n).distinct)
    val ex = df.select(F.col(idCol).cast("long").as("id"),
        F.explode(shUdf(F.col(textCol))).as("g"))
    val ok = ex.groupBy("g").agg(F.count(F.lit(1)).as("n"))
      .where(F.col("n").between(2, maxShingleFreq))
      .select("g")
    val keyed = ex.join(ok, Seq("g"), "left_semi")
    keyed.as("a").join(keyed.as("b"),
        F.col("a.g") === F.col("b.g") && F.col("a.id") < F.col("b.id"))
      .select(F.col("a.id").as("id_a"), F.col("b.id").as("id_b"))
      .distinct()
  }

  /** Asymmetric n-gram containment pairs — the doc-contains-doc case
    * Jaccard structurally misses: a 50-gram doc fully embedded in a
    * 5000-gram doc has Jaccard ≈ 0.01 but containment 1.0 (quote farms,
    * boilerplate wrappers, page-of-a-book dupes).
    *
    * Same inverted-index shape as [[shingleSharePairs]]: distinct grams
    * explode (id + gram, never text), stop-grams above `maxShingleFreq`
    * drop map-side (observed by the caller via the returned plan's
    * filter, same skew-guard contract), the self-join runs on the gram
    * key, and ONE count aggregation per pair yields the shared-gram
    * count. Containment in each direction divides by the full distinct-
    * gram size of that doc (computed before the frequency cap, so a doc
    * made of pure boilerplate scores low rather than spuriously high).
    *
    * @return (id_a, id_b, shared, size_a, size_b, c_a, c_b) with
    *         id_a < id_b and max(c_a, c_b) ≥ threshold */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       n: Int = 3, threshold: Double = 0.8,
                       maxShingleFreq: Int = 100): DataFrame = {
    val shUdf = F.udf((t: String) => tokenNgrams(if (t == null) "" else t, n).distinct)
    val ex = df.select(F.col(idCol).cast("long").as("id"),
        F.explode(shUdf(F.col(textCol))).as("g"))
    val sizes = ex.groupBy("id").agg(F.count(F.lit(1)).as("sz"))
    val freq = ex.groupBy("g").agg(F.count(F.lit(1)).as("nf"))
    // stop-gram drops (nf > cap) are observed + warn-logged, never
    // silent; the observed subtree rides ONLY the "a" branch of the
    // self-join — the same CollectMetrics node twice in one plan is an
    // analysis error, and one branch streams every gram exactly once
    val okObs = Observability.observeDropped(freq, "containmentPairs",
        F.col("nf"), maxShingleFreq)
      .where(F.col("nf").between(2, maxShingleFreq))
      .select("g")
    val ok = freq.where(F.col("nf").between(2, maxShingleFreq)).select("g")
    val keyedA = ex.join(okObs, Seq("g"), "left_semi")
    val keyedB = ex.join(ok, Seq("g"), "left_semi")
    val shared = keyedA.as("a").join(keyedB.as("b"),
        F.col("a.g") === F.col("b.g") && F.col("a.id") < F.col("b.id"))
      .groupBy(F.col("a.id").as("id_a"), F.col("b.id").as("id_b"))
      .agg(F.count(F.lit(1)).as("shared"))
    shared
      .join(sizes.select(F.col("id").as("id_a"), F.col("sz").as("size_a")), "id_a")
      .join(sizes.select(F.col("id").as("id_b"), F.col("sz").as("size_b")), "id_b")
      .withColumn("c_a", F.col("shared").cast("double") / F.col("size_a"))
      .withColumn("c_b", F.col("shared").cast("double") / F.col("size_b"))
      .where(F.greatest(F.col("c_a"), F.col("c_b")) >= threshold)
      .select("id_a", "id_b", "shared", "size_a", "size_b", "c_a", "c_b")
  }

  /** Blocked fuzzy (edit-distance) join — record linkage's workhorse:
    * comparing every key pair is quadratic, so candidates are generated
    * only WITHIN blocks (caller-chosen blocking key: a phonetic code, a
    * name token, a sorted-ngram prefix) and verified with exact
    * Levenshtein. Blocks more frequent than `maxBlockFreq` on either
    * side are dropped map-side (the skew guard — one degenerate block
    * would otherwise reintroduce the quadratic join).
    *
    * Inputs need columns (id, key, block). Shuffle carries (block, id,
    * key) — linear; per-block work is bounded by the freq cap.
    *
    * @return (id_a, id_b, key_a, key_b, distance) with
    *         distance ≤ maxDistance */
  def fuzzyJoinBlocked(a: DataFrame, b: DataFrame, maxDistance: Int,
                       maxBlockFreq: Int = 1000): DataFrame = {
    require(maxDistance >= 0, "maxDistance must be >= 0")
    // oversize-block drops observed + warn-logged per side, never silent
    def ok(df: DataFrame, side: String) = Observability.observeDropped(
        df.groupBy("block").agg(F.count(F.lit(1)).as("__n")),
        s"fuzzyJoinBlocked/$side", F.col("__n"), maxBlockFreq)
      .where(F.col("__n") <= maxBlockFreq).select("block")
    val ka = a.join(ok(a, "a"), Seq("block"), "left_semi")
    val kb = b.join(ok(b, "b"), Seq("block"), "left_semi")
    ka.as("a").join(kb.as("b"), F.col("a.block") === F.col("b.block"))
      .select(F.col("a.id").as("id_a"), F.col("b.id").as("id_b"),
        F.col("a.key").as("key_a"), F.col("b.key").as("key_b"),
        F.levenshtein(F.col("a.key"), F.col("b.key")).cast("long")
          .as("distance"))
      .where(F.col("distance") <= maxDistance)
  }

  /** Blocked Jaro–Winkler join — [[fuzzyJoinBlocked]]'s record-linkage
    * twin for identifier-like strings where transpositions shouldn't
    * cost full edits (names, titles, SKUs). Same contract: frames carry
    * (id, key, block); candidates pair only within blocks (the
    * frequency cap is observed + warn-logged, never silent), verified
    * with [[graft.functions.StringSim.jaroWinkler]] ≥ `minSim`.
    *
    * The comparator is a JVM function (Spark has no built-in JW, and a
    * custom codegen expression buys nothing here: it runs only on the
    * block-bounded candidate pairs, never in a scan). Similarity is
    * rounded to 6 BEFORE thresholding so the kept-pair set replays
    * across engines regardless of last-ULP arithmetic order.
    *
    * @return (id_a, id_b, key_a, key_b, sim) */
  def jaroWinklerJoinBlocked(a: DataFrame, b: DataFrame, minSim: Double,
                             maxBlockFreq: Int = 1000): DataFrame = {
    require(minSim > 0.0 && minSim <= 1.0, "minSim must be in (0,1]")
    def ok(df: DataFrame, side: String) = Observability.observeDropped(
        df.groupBy("block").agg(F.count(F.lit(1)).as("__n")),
        s"jaroWinklerJoinBlocked/$side", F.col("__n"), maxBlockFreq)
      .where(F.col("__n") <= maxBlockFreq).select("block")
    val ka = a.join(ok(a, "a"), Seq("block"), "left_semi")
    val kb = b.join(ok(b, "b"), Seq("block"), "left_semi")
    val jw = F.udf((x: String, y: String) =>
      math.rint(graft.functions.StringSim.jaroWinkler(x, y) * 1e6) / 1e6)
    ka.as("a").join(kb.as("b"), F.col("a.block") === F.col("b.block"))
      .select(F.col("a.id").as("id_a"), F.col("b.id").as("id_b"),
        F.col("a.key").as("key_a"), F.col("b.key").as("key_b"),
        jw(F.col("a.key"), F.col("b.key")).as("sim"))
      .where(F.col("sim") >= minSim)
  }

  /** Duplicated-substring span detection — the exact-substring dedup of
    * Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    * Better") re-expressed relationally, trading their suffix array for
    * shuffle-friendly fixed-k gram matching: any k-token gram occurring
    * ≥ `minCount` times across the corpus (including within one
    * document) marks a duplicated window, and overlapping/adjacent
    * marked windows merge into maximal per-document spans (the regions a
    * cleaning pass would cut).
    *
    * Scale shape: one gram-hash shuffle over the token stream, one
    * count filter, one semi-join back, then per-document windows (hash
    * partitioned by id — no global window). No all-pairs work anywhere.
    * Fixed k makes the merge a lag test: sorted window starts belong to
    * one span iff the gap ≤ k.
    *
    * @return (id, island, span_start, span_end, n_grams) in token
    *         coordinates, span_end inclusive */
  def duplicatedSpans(df: DataFrame, idCol: String, textCol: String,
                      k: Int = 8, minCount: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gramUdf = F.udf((t: String) => positionalNgrams(t, k))
    val g = df.select(F.col(idCol).cast("long").as("id"),
        F.explode(gramUdf(F.col(textCol))).as("pg"))
      .select(F.col("id"), F.col("pg._1").cast("long").as("pos"), F.col("pg._2").as("gram"))
    val dup = g.groupBy("gram").agg(F.count(F.lit(1)).as("__c"))
      .where(F.col("__c") >= minCount).select("gram")
    val marked = g.join(dup, Seq("gram"), "left_semi")
    val w = Window.partitionBy("id").orderBy("pos")
    marked
      .withColumn("nf",
        F.when(F.lag("pos", 1).over(w).isNull ||
          F.col("pos") > F.lag("pos", 1).over(w) + k, 1).otherwise(0))
      .withColumn("island", F.sum("nf")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("id", "island")
      .agg(F.min("pos").as("span_start"),
        (F.max("pos") + (k - 1)).as("span_end"),
        F.count(F.lit(1)).as("n_grams"))
  }

  /** Connected components over an undirected edge list via alternating
    * large-star / small-star (Kiveris et al., "Connected Components in
    * MapReduce and Beyond", SoCC'14). Converges in O(log² n) rounds
    * regardless of component diameter — unlike plain label propagation,
    * whose round count is the graph diameter — and each round is two
    * grouped shuffles over (node, node) pairs with no driver-side state,
    * so a 100 TB candidate graph needs only edge-list-sized shuffles.
    * Lineage is truncated per round with an eager localCheckpoint (an
    * iterative loop would otherwise stack O(rounds) shuffle stages into
    * one plan).
    *
    * Returns (id, component) for every node incident to an edge, where
    * component is the minimum node id in its component. Isolated nodes
    * don't appear — callers left-join and coalesce(component, id).
    * Mirrors the duplicate-cluster resolution step production dedup runs
    * after MinHash/SimHash candidate generation (reference surfaces only
    * pairwise duplicates; clustering is the scale-out completion). */
  def connectedComponents(edges: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 50, numPartitions: Int = 0,
                          localThreshold: Long = 200000L): DataFrame = {
    // the candidate-pair graph is orders of magnitude smaller than the
    // corpus (pairs survive banding + caps), so the session's
    // corpus-sized shuffle-partition count overpays per round; a
    // caller-pinned partition count sizes each star-join round to the
    // EDGE count. Same conf-pin/restore discipline as the streaming
    // state sizing; the loop is driver-synchronous, so the temporary
    // setting cannot leak into a concurrently-planned query of ours.
    val spark = edges.sparkSession
    val confKey = "spark.sql.shuffle.partitions"
    val prevParts = spark.conf.get(confKey)
    if (numPartitions > 0) spark.conf.set(confKey, numPartitions)
    try connectedComponentsImpl(edges, aCol, bCol, maxIter, localThreshold)
    finally if (numPartitions > 0) spark.conf.set(confKey, prevParts)
  }

  /** Driver union-find over a collected edge array — the small-graph
    * fast path. Union-by-minimum root, so every component's label is its
    * minimum node id: identical output contract to the star rounds. */
  private def localComponents(arr: Array[(Long, Long)]): Array[(Long, Long)] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    arr.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    arr.iterator.flatMap(p => Iterator(p._1, p._2)).toArray.distinct
      .map(i => (i, find(i)))
  }

  private def connectedComponentsImpl(edges: DataFrame, aCol: String,
                                      bCol: String, maxIter: Int,
                                      localThreshold: Long): DataFrame = Persisted { scope =>
    val u = F.col("u"); val v = F.col("v")
    // canonical orientation (u > v), self-loops dropped
    var e = scope.checkpoint(edges
      .select(F.col(aCol).cast("long").as("x"), F.col(bCol).cast("long").as("y"))
      .where(F.col("x") =!= F.col("y"))
      .select(F.greatest(F.col("x"), F.col("y")).as("u"),
        F.least(F.col("x"), F.col("y")).as("v"))
      .distinct())
    // (count, Σu, Σv, Σhash) fingerprint: one map-side-combined agg job
    // per round instead of the two shuffle jobs an `except` would cost.
    // A fingerprint match is only a CANDIDATE for convergence — it is
    // confirmed with one exact set-difference before the loop exits, so
    // a hash collision can delay termination by a round but never return
    // a wrong result.
    def fingerprint(df: DataFrame): (Long, Long, Long, Long) = {
      val r = df.agg(F.count(F.lit(1)), F.sum("u"), F.sum("v"),
        F.sum(F.hash(F.col("u"), F.col("v")).cast("long"))).head()
      if (r.isNullAt(1)) (0L, 0L, 0L, 0L)
      else (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    }
    var fpE = fingerprint(e)
    // small-graph fast path: candidate-pair graphs survive banding and
    // bucket caps, so they are normally orders of magnitude smaller than
    // the corpus. Below the threshold a one-pass union-find replaces
    // O(log² n) rounds of star shuffles; the output contract
    // (component = min id) is identical, asserted equal in OpsSpec. The
    // default is conservative because the driver-side cost is boxed
    // tuples + a HashMap, ~100 B/edge transient (not raw 16 B/edge) —
    // 200K edges ≈ tens of MB on any sane driver. The distributed
    // rounds below remain the path for genuinely huge edge lists.
    if (fpE._1 > 0L && fpE._1 <= localThreshold) {
      val spark = e.sparkSession
      import spark.implicits._
      localComponents(e.select("u", "v").as[(Long, Long)].collect())
        .toSeq.toDF("id", "component")
    } else {
      var converged = fpE._1 == 0L
      var it = 0
      while (!converged && it < maxIter) {
        // large-star: symmetrize, attach each strictly-larger neighbor to
        // the minimum of the closed neighborhood (emitted edge keeps u > v)
        val sym = e.union(e.select(v.as("u"), u.as("v")))
        val lsMin = sym.groupBy("u").agg(F.min("v").as("mn"))
        val ls = sym.join(lsMin, "u").where(v > u)
          .select(v.as("u"), F.least(F.col("mn"), u).as("v"))
          .distinct()
        // small-star: group by the larger endpoint, attach it and its
        // non-minimal smaller neighbors to the minimal one
        val ssMin = ls.groupBy("u").agg(F.min("v").as("mn"))
        val next = scope.checkpoint(ls.join(ssMin, "u")
          .where(v =!= F.col("mn"))
          .select(v.as("u"), F.col("mn").as("v"))
          .union(ssMin.select(u, F.col("mn").as("v")))
          .distinct())
        val fpN = fingerprint(next)
        converged = fpN == fpE && next.except(e).isEmpty
        scope.release(e)
        e = next
        fpE = fpN
        it += 1
      }
      // at convergence every edge is (node, root): roots label themselves
      e.select(u.as("id"), v.as("component"))
        .union(e.select(v.as("id"), v.as("component")).distinct())
        .distinct()
    }
  }

  /** One survivor per duplicate cluster: the minimum id. Docs absent
    * from the edge list survive trivially. */
  def clusterSurvivors(df: DataFrame, idCol: String, edges: DataFrame,
                       aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    val cc = connectedComponents(edges, aCol, bCol)
    val drop = cc.where(F.col("id") =!= F.col("component"))
      .select(F.col("id").as(idCol))
    df.join(drop, Seq(idCol), "left_anti")
  }

  /** LSH banding planner: for every (bands, rows) factorization of the
    * signature budget, the S-curve's crossover similarity (1/b)^(1/r)
    * and the catch probability 1 − (1 − t^r)^b at the TARGET threshold
    * — the table you read before picking [[minhashPairs]]' shape
    * instead of cargo-culting (16, 8). Pure closed-form planning math
    * as a one-aggregation frame (driver enumerates ≤ √n divisors).
    *
    * @return one row per factorization: (bands, rows, crossover,
    *         p_catch_at_threshold), rounded to 6, bands ascending */
  def lshPlan(spark: org.apache.spark.sql.SparkSession,
              threshold: Double, nHashes: Int): DataFrame = {
    require(threshold > 0.0 && threshold < 1.0,
      "threshold must be in (0, 1)")
    require(nHashes >= 2, "nHashes must be >= 2")
    import spark.implicits._
    val rows = (1 to nHashes).filter(nHashes % _ == 0).map { b =>
      val r = nHashes / b
      val crossover = math.pow(1.0 / b, 1.0 / r)
      val pCatch = 1.0 - math.pow(1.0 - math.pow(threshold, r), b)
      (b.toLong, r.toLong, math.rint(crossover * 1e6) / 1e6,
        math.rint(pCatch * 1e6) / 1e6)
    }
    rows.toDF("bands", "rows", "crossover", "p_catch_at_threshold")
  }
}
