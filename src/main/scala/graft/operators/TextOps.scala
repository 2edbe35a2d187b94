package graft.operators

import org.apache.spark.sql.{Column, DataFrame, functions => F}

/** Text-analysis operators for large-scale training-data pipelines:
  * token counting, quality scoring, language ID, and document
  * fingerprinting. Everything except langId/fingerprint stays in native
  * Catalyst expressions (codegen'd, no UDF in the scan hot path), so
  * filters push down and the ops scale to arbitrary corpus sizes.
  */
object TextOps {

  /** Whitespace-delimited token count via a codegen'd regexp — the
    * BPE-ish approximation used for budget accounting. */
  def tokenCount(text: Column): Column =
    F.size(F.regexp_extract_all(text, F.lit("\\S+"), F.lit(0)))

  /** Word tokens (lowercased alphabetic runs). */
  def wordTokens(text: Column): Column =
    F.regexp_extract_all(F.lower(text), F.lit("[a-z]+"), F.lit(0))

  private val stopwords = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "are", "was",
    "for", "on", "with", "as", "at", "by", "it", "be", "this", "that")

  /** Per-document quality features + a composite score, all native
    * expressions: token count, type-token ratio, mean token length,
    * stopword ratio, punctuation ratio. */
  def qualityFeatures(df: DataFrame, textCol: String): DataFrame = {
    val t = F.col(textCol)
    val toks = tokenCount(t)
    val words = wordTokens(t)
    val nonWs = F.length(F.regexp_replace(t, "\\s+", ""))
    val punct = F.length(t) - F.length(F.regexp_replace(t, "[.,!?;:]", ""))
    val stopArr = F.array(stopwords.map(F.lit): _*)
    df.withColumn("n_tokens", toks)
      .withColumn("n_chars", F.length(t))
      .withColumn("mean_token_len",
        F.when(toks > 0, F.round(nonWs.cast("double") / toks, 6)).otherwise(0.0))
      .withColumn("type_token_ratio",
        F.when(F.size(words) > 0,
          F.round(F.size(F.array_distinct(words)).cast("double") / F.size(words), 6))
          .otherwise(0.0))
      .withColumn("stopword_ratio",
        F.when(F.size(words) > 0,
          F.round(F.size(F.filter(words, w => F.array_contains(stopArr, w)))
            .cast("double") / F.size(words), 6)).otherwise(0.0))
      .withColumn("punct_ratio",
        F.when(F.length(t) > 0,
          F.round(punct.cast("double") / F.length(t), 6)).otherwise(0.0))
  }

  /** Composite quality score in [0,1]: length in a sane band, some
    * lexical diversity, punctuation not dominating — the standard cheap
    * pre-training heuristics. */
  def qualityScore(df: DataFrame, textCol: String): DataFrame = {
    val f = qualityFeatures(df, textCol)
    f.withColumn("quality_score", F.round(
      F.least(F.col("n_tokens") / 50.0, F.lit(1.0)) * 0.4 +
      F.col("type_token_ratio") * 0.3 +
      (F.lit(1.0) - F.least(F.col("punct_ratio") * 5.0, F.lit(1.0))) * 0.2 +
      F.least(F.col("mean_token_len") / 8.0, F.lit(1.0)) * 0.1, 6))
  }

  /** Per-cohort corpus data card — the one-call summary a training-data
    * curation pass reports before/after each filter stage: doc and
    * char/token volumes, exact-dup pressure (distinct md5 digests vs row
    * count), and the quality-score profile. One scan computes every
    * per-row feature codegen'd, then a single groupBy aggregates; the
    * distinct count shuffles 16-byte digests, never text. */
  def corpusReport(df: DataFrame, textCol: String, groupCol: String): DataFrame = {
    val scored = qualityScore(df, textCol)
    scored.groupBy(F.col(groupCol))
      .agg(
        F.count(F.lit(1)).as("n_docs"),
        F.sum(F.col("n_chars").cast("long")).as("total_chars"),
        F.sum(F.col("n_tokens").cast("long")).as("total_tokens"),
        F.count_distinct(F.md5(F.col(textCol).cast("binary")))
          .as("n_unique_texts"),
        F.round(F.avg("quality_score"), 6).as("avg_quality"),
        F.round(F.avg(F.col("n_tokens").cast("double")), 2).as("avg_tokens"),
        F.min("n_tokens").cast("long").as("min_tokens"),
        F.max("n_tokens").cast("long").as("max_tokens"))
      .orderBy(groupCol)
  }

  // --- language identification (executor-local heuristic) ---

  /** Tiny per-language marker-word + script profiles. Real corpora would
    * use char-trigram models; the shape (UDF over the text column,
    * broadcastable profile data) is identical. */
  private val langMarkers: Map[String, Set[String]] = Map(
    "en" -> Set("the", "and", "of", "to", "is", "that", "with", "for", "this"),
    "de" -> Set("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "für"),
    "fr" -> Set("le", "la", "les", "et", "est", "une", "dans", "pour", "que"),
    "es" -> Set("el", "los", "las", "es", "una", "para", "con", "por", "como"),
    "it" -> Set("il", "che", "di", "non", "per", "una", "sono", "con"),
    "pt" -> Set("o", "os", "um", "uma", "não", "para", "com", "por"),
    "nl" -> Set("de", "het", "een", "van", "niet", "met", "voor", "zijn"))

  /** Voting order is pinned (sorted lang codes) so ties resolve to the
    * lexicographically smallest language — a well-defined contract the
    * DuckDB oracle can replay, instead of Map iteration order. */
  private val langMarkersSorted: Array[(String, Set[String])] =
    langMarkers.toArray.sortBy(_._1)

  /** Heuristic language ID: script detection first (CJK/Cyrillic/Arabic),
    * then marker-word voting; "und" (undetermined) when nothing scores. */
  def detectLanguage(text: String): String = {
    if (text == null || text.isEmpty) return "und"
    var cjk = 0; var cyr = 0; var ara = 0; var latin = 0
    var i = 0
    val n = math.min(text.length, 2000)
    while (i < n) {
      val c = text.charAt(i)
      if ((c >= 0x4E00 && c <= 0x9FFF) || (c >= 0x3040 && c <= 0x30FF)) cjk += 1
      else if (c >= 0x0400 && c <= 0x04FF) cyr += 1
      else if (c >= 0x0600 && c <= 0x06FF) ara += 1
      else if (Character.isLetter(c)) latin += 1
      i += 1
    }
    val scripted = cjk + cyr + ara
    if (scripted > latin) {
      if (cjk >= cyr && cjk >= ara) return "zh"
      if (cyr >= ara) return "ru"
      return "ar"
    }
    val words = text.toLowerCase.split("[^\\p{L}]+").filter(_.nonEmpty).take(500)
    if (words.isEmpty) return "und"
    var best = "und"; var bestScore = 0
    for ((lang, markers) <- langMarkersSorted) {
      val score = words.count(markers)
      if (score > bestScore) { bestScore = score; best = lang }
    }
    if (bestScore == 0) "und" else best
  }

  private val langIdUdf = F.udf(detectLanguage _)

  def withLanguage(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("detected_lang", langIdUdf(F.col(textCol)))

  /** Language-ID confusion matrix against a labeled column — the
    * acceptance report for [[withLanguage]]'s marker heuristic ("on
    * which languages does the cheap detector break, and into what"):
    * per (label, detected) cell the count and the row-share within
    * the label. One detection pass + one cell aggregation.
    *
    * @return one row per (label, detected) cell: (label_lang,
    *         detected_lang, n, share_of_label) */
  def languageConfusion(df: DataFrame, textCol: String,
                        labelCol: String): DataFrame = {
    val cells = withLanguage(
      df.where(F.col(labelCol).isNotNull), textCol)
      .groupBy(F.col(labelCol).cast("string").as("label_lang"),
        F.col("detected_lang"))
      .agg(F.count(F.lit(1)).as("n"))
    val tot = cells.groupBy("label_lang")
      .agg(F.sum("n").as("__t"))
    cells.join(tot, "label_lang")
      .select(F.col("label_lang"), F.col("detected_lang"), F.col("n"),
        F.round(F.col("n").cast("double") / F.col("__t"), 6)
          .as("share_of_label"))
  }

  // --- document fingerprinting ---

  /** 64-bit content fingerprint: polynomial rolling hash over the
    * whitespace-normalized text. Pure integer arithmetic — identical on
    * every executor/JVM. */
  def fingerprint64(text: String): Long = {
    if (text == null) return 0L
    var h = 1125899906842597L // large prime seed
    var i = 0
    var prevSpace = false
    while (i < text.length) {
      val c = text.charAt(i)
      val isSpace = Character.isWhitespace(c)
      if (!isSpace) { h = 31L * h + c; prevSpace = false }
      else if (!prevSpace) { h = 31L * h + ' '; prevSpace = true }
      i += 1
    }
    // splitmix64 finalizer for avalanche
    var z = h
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private val fingerprintUdf = F.udf(fingerprint64 _)

  def withFingerprint(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("fingerprint", fingerprintUdf(F.col(textCol)))

  /** Whitespace tokens, lowercased, as an exploded (id, token) frame —
    * the shared first stage of the corpus-statistics ops below. Pure
    * native expressions; the explode happens where the rows live. */
  private def tokens(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(F.col(idCol).as("id"),
        F.explode(F.filter(
          F.split(F.lower(F.coalesce(F.col(textCol), F.lit(""))), "\\s+"),
          t => t =!= "")).as("token"))

  /** Corpus vocabulary statistics: top-k tokens by occurrence count with
    * document frequency — the vocabulary-building pass of a training-data
    * pipeline. ONE shuffle on token (count + countDistinct share it),
    * then a bounded top-k take; scales to any corpus since the
    * aggregation state is the vocabulary, not the corpus. */
  def vocabTopK(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    tokens(df, idCol, textCol)
      .groupBy("token")
      .agg(F.count(F.lit(1)).as("n_occurrences"),
        F.countDistinct(F.col("id")).as("n_docs"))
      .orderBy(F.col("n_occurrences").desc, F.col("token").asc)
      .limit(k)

  /** Per-document top-k terms by smoothed TF-IDF
    * (idf = ln((1+N)/(1+df)) + 1, sklearn's smooth_idf): document
    * frequencies aggregate over the WHOLE corpus, term frequencies over
    * the target slice, joined on token and ranked per document with a
    * rank-limited window. The BROADCAST side is the slice's tf table —
    * bounded by the caller's slice by construction — while the df table
    * is vocabulary-sized and therefore unbounded at corpus scale (a
    * web-scale vocabulary does not fit in a broadcast). */
  def tfidfTopTerms(corpus: DataFrame, slice: DataFrame,
                    idCol: String, textCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nDocs = corpus.select(F.col(idCol)).distinct().count()
    val dfreq = tokens(corpus, idCol, textCol)
      .groupBy("token").agg(F.countDistinct(F.col("id")).as("df"))
    val tf = tokens(slice, idCol, textCol)
      .groupBy("id", "token").agg(F.count(F.lit(1)).as("tf"))
    val scored = dfreq.join(F.broadcast(tf), "token")
      .withColumn("tfidf",
        F.col("tf") * (F.log((F.lit(1.0) + F.lit(nDocs.toDouble)) /
          (F.lit(1.0) + F.col("df"))) + F.lit(1.0)))
    val w = Window.partitionBy("id")
      .orderBy(F.col("tfidf").desc, F.col("token").asc)
    scored.withColumn("rank", F.row_number().over(w))
      .where(F.col("rank") <= k)
      .select(F.col("id"), F.col("rank").cast("long").as("rank"),
        F.col("token"), F.round(F.col("tfidf"), 6).as("tfidf_r"))
  }

  /** Mean per-token unigram log-probability under the corpus's own
    * unigram model — the cheap stand-in for the LM-perplexity quality
    * filter (CCNet-style): documents whose tokens are corpus-typical
    * score high, out-of-register junk scores low. Corpus frequencies
    * aggregate in ONE token shuffle (vocabulary-sized state); the
    * bounded target slice's tf table broadcasts to the frequency table
    * the same way [[tfidfTopTerms]] joins — the vocabulary side never
    * broadcasts. Empty documents produce no row.
    *
    * @return (id, n_tokens, mean_logprob) */
  def unigramLogProb(corpus: DataFrame, slice: DataFrame,
                     idCol: String, textCol: String): DataFrame = {
    val freq = tokens(corpus, idCol, textCol)
      .groupBy("token").agg(F.count(F.lit(1)).as("cnt"))
    val totalTokens = freq.agg(F.sum("cnt")).head().getLong(0).toDouble
    val tf = tokens(slice, idCol, textCol)
      .groupBy("id", "token").agg(F.count(F.lit(1)).as("tf"))
    freq.join(F.broadcast(tf), "token")
      .groupBy("id")
      .agg(F.sum("tf").cast("long").as("n_tokens"),
        F.round(
          F.sum(F.col("tf") * F.log(F.col("cnt").cast("double") / totalTokens))
            / F.sum("tf"), 6).as("mean_logprob"))
  }

  /** Sparse TF-IDF cosine similarity pairs — the lexical complement to
    * the dense-embedding ANN path: no model required, and it catches
    * vocabulary-level near-dups (template text, translations of
    * boilerplate) embeddings may smear.
    *
    * Shape: tf per (doc, token) and df per token aggregate in one token
    * shuffle each; weights w = tf·(smooth-idf) ([[tfidfTopTerms]]'s
    * idf); per-doc norms once over ALL terms; the pair join runs
    * inverted-index style on tokens with df ≤ `maxDf` (the stop-token
    * skew guard — a token in half the corpus would contribute a
    * quadratic bucket and ~zero idf mass). Norms keep capped tokens, so
    * dropping boilerplate can only UNDER-estimate a cosine, never
    * inflate it. One pair aggregation sums wₐ·w_b; cosine =
    * dot/(‖a‖·‖b‖) ≥ `threshold`.
    *
    * @return (id_a, id_b, cosine) with id_a < id_b */
  def tfidfCosinePairs(df: DataFrame, idCol: String, textCol: String,
                       threshold: Double = 0.8,
                       maxDf: Int = 100): DataFrame = {
    val nDocs = df.select(F.col(idCol)).distinct().count()
    val tf = tokens(df, idCol, textCol)
      .groupBy("id", "token").agg(F.count(F.lit(1)).as("tf"))
    val dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).as("df"))
    val w = tf.join(dfreq, "token")
      .withColumn("w", F.col("tf") *
        (F.log((F.lit(1.0) + F.lit(nDocs.toDouble)) /
          (F.lit(1.0) + F.col("df"))) + F.lit(1.0)))
    val norms = w.groupBy("id")
      .agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).as("norm"))
    // stop-token drops (df > cap) observed + warn-logged, never silent.
    // The observed df-count frame rides ONLY the "a" branch of the
    // self-join (the same CollectMetrics node twice in one plan is an
    // analysis error); the "b" branch and the norms use unobserved
    // copies, so every capped token is still counted exactly once.
    val dfreqObs = Observability.observeDropped(dfreq,
      "tfidfCosinePairs", F.col("df"), maxDf)
    def postings(freq: DataFrame) = tf
      .join(freq.where(F.col("df") <= maxDf), "token")
      .withColumn("w", F.col("tf") *
        (F.log((F.lit(1.0) + F.lit(nDocs.toDouble)) /
          (F.lit(1.0) + F.col("df"))) + F.lit(1.0)))
      .select(F.col("token"), F.col("id"), F.col("w"))
    val keyedA = postings(dfreqObs)
    val keyedB = postings(dfreq)
    keyedA.as("a").join(keyedB.as("b"),
        F.col("a.token") === F.col("b.token") &&
          F.col("a.id") < F.col("b.id"))
      .groupBy(F.col("a.id").as("id_a"), F.col("b.id").as("id_b"))
      .agg(F.sum(F.col("a.w") * F.col("b.w")).as("__dot"))
      .join(norms.select(F.col("id").as("id_a"), F.col("norm").as("__na")), "id_a")
      .join(norms.select(F.col("id").as("id_b"), F.col("norm").as("__nb")), "id_b")
      .withColumn("cosine", F.col("__dot") / (F.col("__na") * F.col("__nb")))
      .where(F.col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  // --- normalization + PII masking (pre-training text hygiene) ---

  /** Conservative text normalization: lowercase, ASCII control chars to
    * spaces, whitespace runs collapsed to one space, ends trimmed. Pure
    * codegen'd regexp chain — no UDF, scan-friendly at corpus scale.
    * Patterns stay in the Java∩RE2 regex subset so downstream SQL
    * engines replay them identically. */
  def normalizeText(text: Column): Column =
    F.regexp_replace(
      F.trim(F.regexp_replace(F.lower(text), "[\\x00-\\x1f\\x7f]", " ")),
      "\\s+", " ")

  /** PII patterns (Java∩RE2-portable). Masking order matters: emails
    * first so their host dots can't be re-matched as addresses. */
  private[operators] val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[operators] val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  private[operators] val SsnRe = "\\b\\d{3}-\\d{2}-\\d{4}\\b"

  /** Mask emails, IPv4 addresses and SSN-shaped ids with typed tokens —
    * the standard scrubbing pass before a corpus ships to
    * training. Codegen'd regexp_replace chain, no shuffle. */
  def maskPii(text: Column): Column =
    F.regexp_replace(
      F.regexp_replace(
        F.regexp_replace(text, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      SsnRe, "<ID>")

  /** Fixed-window document chunking with overlap — the pre-training
    * segmentation pass (context-window-sized pieces, overlapping so no
    * boundary context is lost). Chunks are produced by an executor-local
    * explode where the document lives: no shuffle, output size
    * ≈ corpus_tokens / (chunkSize − overlap) rows regardless of document
    * count. Chunk k covers tokens [k·stride, k·stride + chunkSize);
    * the final chunk keeps whatever remains. Empty documents yield no
    * chunks.
    *
    * @return (idCol, chunk_id, chunk_text, n_tokens) */
  def chunkDocuments(df: DataFrame, idCol: String, textCol: String,
                     chunkSize: Int = 512, overlap: Int = 64): DataFrame = {
    require(chunkSize > 0, "chunkSize must be positive")
    require(overlap >= 0 && overlap < chunkSize, "need 0 <= overlap < chunkSize")
    val stride = chunkSize - overlap
    val toks = F.filter(
      F.split(F.coalesce(F.col(textCol), F.lit("")), "\\s+"), t => t =!= "")
    val chunk = F.slice(F.col("__toks"),
      (F.col("chunk_id") * stride + 1).cast("int"), F.lit(chunkSize))
    df.select(F.col(idCol), toks.as("__toks"))
      .withColumn("__n", F.size(F.col("__toks")))
      .where(F.col("__n") > 0)
      .withColumn("__nc", F.greatest(
        F.ceil((F.col("__n") - F.lit(chunkSize)).cast("double") / stride)
          .cast("long") + 1L, F.lit(1L)))
      .withColumn("chunk_id", F.explode(F.sequence(F.lit(0L), F.col("__nc") - 1)))
      .select(F.col(idCol), F.col("chunk_id"),
        F.array_join(chunk, " ").as("chunk_text"),
        F.size(chunk).cast("long").as("n_tokens"))
  }

  /** Repetition features (the Gopher/C4-style curation filters): token
    * duplication ratio and the share of all bigrams held by the most
    * frequent bigram — high values mean boilerplate/looping text. All
    * native array expressions, executor-local, no shuffle; per-doc cost
    * is O(distinct_bigrams · tokens), bounded by document length. The
    * `is_repetitive` flag applies the thresholds callers tune. */
  def repetitionFeatures(df: DataFrame, textCol: String,
                         maxDupTokenRatio: Double = 0.6,
                         maxTopBigramShare: Double = 0.18): DataFrame = {
    val toks = F.filter(
      F.split(F.lower(F.coalesce(F.col(textCol), F.lit(""))), "\\s+"),
      t => t =!= "")
    val n = F.size(F.col("__toks"))
    val bg = F.transform(
      F.slice(F.col("__toks"), F.lit(1),
        F.greatest(F.size(F.col("__toks")) - 1, F.lit(0))),
      (_, i) => F.concat(
        F.element_at(F.col("__toks"), i + 1), F.lit(" "),
        F.element_at(F.col("__toks"), i + 2)))
    val topBigram = F.array_max(F.transform(F.array_distinct(F.col("__bg")),
      d => F.size(F.filter(F.col("__bg"), x => x === d))))
    df.withColumn("__toks", toks)
      .withColumn("n_tokens", n.cast("long"))
      .withColumn("dup_token_ratio",
        F.when(n > 0, F.round(F.lit(1.0) -
          F.size(F.array_distinct(F.col("__toks"))).cast("double") / n, 6))
          .otherwise(0.0))
      .withColumn("__bg", bg)
      .withColumn("top_bigram_share",
        F.when(F.size(F.col("__bg")) > 0,
          F.round(topBigram.cast("double") / F.size(F.col("__bg")), 6))
          .otherwise(0.0))
      .withColumn("is_repetitive",
        F.col("dup_token_ratio") > maxDupTokenRatio ||
          F.col("top_bigram_share") > maxTopBigramShare)
      .drop("__toks", "__bg")
  }

  // --- tokenizer training primitives (BPE) ---

  /** First-round BPE statistics: adjacent character-pair frequencies
    * over the corpus, weighted by word frequency — the pair table whose
    * argmax is BPE's first merge.
    *
    * Scale shape: the only corpus-sized pass is the word-count
    * aggregation (one token shuffle, vocabulary-sized state); pair
    * generation then runs over DISTINCT words — at web scale the vocab
    * is orders of magnitude smaller than the corpus, which is exactly
    * why BPE training is tractable at all. Pairs are emitted as the
    * 2-char substring (chars are single symbols in round one, so the
    * encoding is unambiguous) via a codegen'd substr transform, no UDF.
    *
    * `tokenRegex`, when set, keeps only matching tokens (the usual BPE
    * pre-normalization — and it pins the symbol alphabet to a charset
    * whose `substr` semantics replay identically in any SQL engine).
    *
    * @return top-k (pair, n) by count desc, pair asc — deterministic */
  def bpePairCounts(df: DataFrame, idCol: String, textCol: String,
                    k: Int, tokenRegex: String = null): DataFrame = {
    val toks0 = tokens(df, idCol, textCol)
    val filtered =
      if (tokenRegex == null) toks0
      else toks0.where(F.col("token").rlike(tokenRegex))
    val words = filtered
      .groupBy("token").agg(F.count(F.lit(1)).as("wc"))
    val pairs = F.transform(
      F.sequence(F.lit(1), F.length(F.col("token")) - 1),
      i => F.col("token").substr(i, F.lit(2)))
    words.where(F.length(F.col("token")) >= 2)
      .select(F.explode(pairs).as("pair"), F.col("wc"))
      .groupBy("pair").agg(F.sum("wc").as("n"))
      .orderBy(F.col("n").desc, F.col("pair").asc)
      .limit(k)
  }

  private val bpeMergeUdf = F.udf {
    (syms: Seq[String], l: String, r: String) =>
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
          out += (l + r); i += 2
        } else { out += syms(i); i += 1 }
      }
      out.toSeq
  }

  /** Greedy BPE merge learning (Sennrich et al. 2016, re-expressed for
    * the cluster): run `numMerges` rounds of [count adjacent symbol
    * pairs over the distinct-word table, weighted by word frequency;
    * merge the argmax pair everywhere].
    *
    * The corpus is touched ONCE (word-count shuffle); every round after
    * that is an aggregation + a narrow map over the vocabulary, which is
    * what makes N merges affordable — N jobs over vocab-sized data, not
    * corpus-sized. Each round's rewrite is localCheckpointed so the plan
    * stays O(1) deep instead of O(rounds). Ties break (count desc, left
    * asc, right asc) — fully deterministic.
    *
    * `tokenRegex`, when set, keeps only matching tokens (the same
    * pre-normalization hook as [[bpePairCounts]] — pinning the symbol
    * alphabet also makes the merge loop replayable in external SQL).
    *
    * @return (merge_rank, left, right, n) — the learned merge table in
    *         order, the artifact a tokenizer ships */
  def bpeMerges(df: DataFrame, idCol: String, textCol: String,
                numMerges: Int, minPairCount: Long = 2L,
                tokenRegex: String = null): DataFrame = Persisted { scope =>
    val spark = df.sparkSession
    import spark.implicits._
    val toks0 = tokens(df, idCol, textCol)
    val filtered =
      if (tokenRegex == null) toks0
      else toks0.where(F.col("token").rlike(tokenRegex))
    val learned = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var vocab = scope.checkpoint(filtered
      .groupBy("token").agg(F.count(F.lit(1)).as("wc"))
      .select(F.split(F.col("token"), "").as("syms"), F.col("wc")))
    var round = 0
    var exhausted = false
    while (round < numMerges && !exhausted) {
      val top = vocab
        .select(F.posexplode(F.col("syms")).as(Seq("i", "l")), F.col("wc"),
          F.col("syms"))
        .where(F.col("i") < F.size(F.col("syms")) - 1)
        .select(F.col("l"), F.get(F.col("syms"), F.col("i") + 1).as("r"),
          F.col("wc"))
        .groupBy("l", "r").agg(F.sum("wc").as("n"))
        .orderBy(F.col("n").desc, F.col("l").asc, F.col("r").asc)
        .head(1)
      if (top.isEmpty || top(0).getAs[Long]("n") < minPairCount) exhausted = true
      else {
        val (l, r, n) = (top(0).getAs[String]("l"), top(0).getAs[String]("r"),
          top(0).getAs[Long]("n"))
        learned += ((round + 1, l, r, n))
        vocab = scope.round(vocab, vocab.select(
          bpeMergeUdf(F.col("syms"), F.lit(l), F.lit(r)).as("syms"),
          F.col("wc")))
      }
      round += 1
    }
    learned.toSeq.toDF("merge_rank", "left", "right", "n")
  }

  /** Apply a learned BPE merge table ([[bpeMerges]]' artifact) to the
    * corpus vocabulary: each distinct word is split to characters and
    * rewritten through ALL merges in rank order executor-side (the
    * standard encoder loop — the merge list is tokenizer-sized and
    * broadcasts as literals; the corpus is touched once for the word
    * count and never again). The left-to-right non-overlapping rewrite
    * per merge matches the training loop exactly, so encoding the
    * training corpus with its own merges reproduces the training-end
    * vocabulary state.
    *
    * @param merges (left, right) in merge-rank order (collect a
    *               [[bpeMerges]] result, or ship a saved artifact)
    * @return (token, encoded, n_pieces, wc): the space-joined symbol
    *         sequence, its length, and the word's corpus frequency */
  def bpeEncode(df: DataFrame, idCol: String, textCol: String,
                merges: Seq[(String, String)],
                tokenRegex: String = null): DataFrame = {
    val toks0 = tokens(df, idCol, textCol)
    val filtered =
      if (tokenRegex == null) toks0
      else toks0.where(F.col("token").rlike(tokenRegex))
    val mergeList = merges.toArray
    val encodeUdf = F.udf { (w: String) =>
      var syms: Array[String] = w.split("")
      var m = 0
      while (m < mergeList.length) {
        val (l, r) = mergeList(m)
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
            out += (l + r); i += 2
          } else { out += syms(i); i += 1 }
        }
        syms = out.toArray
        m += 1
      }
      syms.mkString(" ")
    }
    filtered
      .groupBy("token").agg(F.count(F.lit(1)).as("wc"))
      .withColumn("encoded", encodeUdf(F.col("token")))
      .withColumn("n_pieces",
        F.size(F.split(F.col("encoded"), " ")).cast("long"))
      .select("token", "encoded", "n_pieces", "wc")
  }

  /** Shared parameter contract of the unigram-LM family (see
    * [[unigramLmTrain]] for the algorithm: Kudo 2018 seed → EM →
    * prune, with the 3-state-carry replay constraints). */
  private def unigramRequires(maxPieceLen: Int, maxSeed: Int,
                              emRounds: Int, minCount: Double,
                              maxWordLen: Int): Unit = {
    require(maxPieceLen >= 2 && maxPieceLen <= 3,
      "maxPieceLen must be 2 or 3 (the 3-state-carry replay contract)")
    require(emRounds >= 1 && emRounds <= 8,
      "emRounds must be in 1..8 (fixed-round loop)")
    require(maxSeed >= 1 && maxSeed <= 65536,
      "maxSeed must be in 1..65536 — the piece table collects")
    require(maxWordLen >= maxPieceLen && maxWordLen <= 64,
      "maxWordLen must be in [maxPieceLen, 64]")
    require(minCount >= 0.0, "minCount must be >= 0")
  }

  /** The exact forward–backward occurrence-posterior UDF shared by the
    * unigram-LM trainer and its fertility report — one arithmetic
    * shape, so both replay against the same recursive-CTE oracle. */
  private def unigramGamma(
      bc: org.apache.spark.broadcast.Broadcast[Map[String, Double]],
      mpl: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    F.udf { (w: String) =>
      val pm = bc.value
      val nn = w.length
      val alpha = new Array[Double](nn + 1); alpha(0) = 1.0
      var j = 1
      while (j <= nn) {
        val t1 = alpha(j - 1) * pm.getOrElse(w.substring(j - 1, j), 0.0)
        val t2 = if (j >= 2)
          alpha(j - 2) * pm.getOrElse(w.substring(j - 2, j), 0.0)
        else 0.0
        val t3 = if (mpl >= 3 && j >= 3)
          alpha(j - 3) * pm.getOrElse(w.substring(j - 3, j), 0.0)
        else 0.0
        alpha(j) = (t1 + t2) + t3
        j += 1
      }
      val beta = new Array[Double](nn + 1); beta(nn) = 1.0
      j = nn - 1
      while (j >= 0) {
        val t1 = pm.getOrElse(w.substring(j, j + 1), 0.0) * beta(j + 1)
        val t2 = if (j + 2 <= nn)
          pm.getOrElse(w.substring(j, j + 2), 0.0) * beta(j + 2)
        else 0.0
        val t3 = if (mpl >= 3 && j + 3 <= nn)
          pm.getOrElse(w.substring(j, j + 3), 0.0) * beta(j + 3)
        else 0.0
        beta(j) = (t1 + t2) + t3
        j -= 1
      }
      val an = alpha(nn)
      if (an <= 0.0) Seq.empty[(String, Double)]
      else {
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(String, Double)]
        var i = 0
        while (i < nn) {
          var l = 1
          while (l <= mpl && i + l <= nn) {
            val pc = w.substring(i, i + l)
            val p = pm.getOrElse(pc, 0.0)
            if (p > 0.0)
              out += ((pc, ((alpha(i) * p) * beta(i + l)) / an))
            l += 1
          }
          i += 1
        }
        out.toSeq
      }
    }

  /** The seed + fixed-round EM/prune loop shared by
    * [[unigramLmTrain]] and [[unigramFertility]]: returns the final
    * piece probabilities and the final surviving expected counts. */
  private def unigramEm(scope: Persisted, words: DataFrame, maxPieceLen: Int,
                        maxSeed: Int, emRounds: Int, minCount: Double):
      (Map[String, Double], Seq[(String, Double)]) = {
    val spark = words.sparkSession
    // seed: substring occurrences weighted by wc, cap the multi-char
    // tail, keep every single char (coverage)
    val n = F.length(F.col("word"))
    val pcs = F.flatten(F.transform(F.sequence(F.lit(1), n), i =>
      F.filter(
        F.transform(F.sequence(F.lit(1), F.lit(maxPieceLen)), l =>
          F.when(i + l - F.lit(1) <= n, F.col("word").substr(i, l))),
        p => p.isNotNull)))
    val freq = scope.checkpoint(words
      .select(F.explode(pcs).as("piece"), F.col("wc"))
      .groupBy("piece").agg(F.sum("wc").as("freq")))
    val chars = freq.where(F.length(F.col("piece")) === 1)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    require(chars.nonEmpty, "empty corpus vocabulary")
    require(chars.length <= 65536, "alphabet exceeds 65536 chars")
    val multis = freq.where(F.length(F.col("piece")) >= 2)
      .orderBy(F.col("freq").desc, F.col("piece").asc)
      .limit(maxSeed)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val seed = chars ++ multis
    val totF = seed.map(_._2).sum
    var pieces: Map[String, Double] =
      seed.map { case (p, f) => p -> f.toDouble / totF.toDouble }.toMap
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    var lastCnt: Seq[(String, Double)] = Seq.empty
    var round = 0
    while (round < emRounds) {
      val bc = spark.sparkContext.broadcast(pieces)
      val mpl = maxPieceLen
      val gammaUdf = unigramGamma(bc, mpl)
      val cnts = words
        .select(F.col("wc"), F.explode(gammaUdf(F.col("word"))).as("__o"))
        .select(F.col("__o._1").as("piece"),
          (F.col("wc") * F.col("__o._2")).as("__wg"))
        .groupBy("piece")
        .agg(F.expr("rint(sum(__wg) * 1e6) / 1e6").as("cnt"))
        .collect().map(r => (r.getString(0), r.getDouble(1)))
      bc.destroy()
      // prune: chars always survive; multis need minCount
      val surv = cnts.filter { case (p, c) =>
        p.length == 1 || c >= minCount
      }.sortBy(_._1)
      require(surv.nonEmpty, "EM pruned every piece — lower minCount")
      val totR = r6(surv.map(_._2).sum)
      pieces = surv.map { case (p, c) => p -> c / totR }.toMap
      lastCnt = surv.toSeq
      round += 1
    }
    (pieces, lastCnt)
  }

  /** Unigram-LM tokenizer training (Kudo 2018, arXiv:1804.10959 — the
    * SentencePiece unigram algorithm) with a fixed-round, fully
    * deterministic EM + prune loop: seed pieces from substring
    * frequencies (exact integer ratios), expected counts by EXACT
    * forward–backward in raw probability space (fixed association —
    * the 3-state-carry recursive-CTE replay shape), rint-1e-6 count
    * rounding, per-round pruning with single chars always surviving
    * (the coverage invariant). The corpus shuffles ONCE into the
    * vocabulary; each round is one vocabulary-sized aggregation plus
    * a bounded piece-table collect — the [[bpeMerges]] cost shape.
    *
    * @return the final piece table, top `topK` by (count desc, piece
    *         asc): (piece, piece_len, cnt, p) */
  def unigramLmTrain(df: DataFrame, idCol: String, textCol: String,
                     maxPieceLen: Int = 3, maxSeed: Int = 2048,
                     emRounds: Int = 2, minCount: Double = 1.0,
                     topK: Int = 64, maxWordLen: Int = 24): DataFrame = Persisted { scope =>
    unigramRequires(maxPieceLen, maxSeed, emRounds, minCount, maxWordLen)
    require(topK >= 1, "topK must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    val words = scope.checkpoint(tokens(df, idCol, textCol)
      .where(F.length(F.col("token")) <= maxWordLen)
      .groupBy(F.col("token").as("word"))
      .agg(F.count(F.lit(1)).as("wc")))
    val (pieces, lastCnt) =
      unigramEm(scope, words, maxPieceLen, maxSeed, emRounds, minCount)
    lastCnt
      .sortBy { case (p, c) => (-c, p) }
      .take(topK)
      .map { case (p, c) => (p, p.length.toLong, c, pieces(p)) }
      .toDF("piece", "piece_len", "cnt", "p")
  }

  /** Tokenizer fertility report under the trained unigram LM — the
    * acceptance metric tokenizer work actually ships ("how many pieces
    * does a word cost"): per vocabulary word, the EXPECTED piece count
    * under the final EM distribution, which is just the sum of the
    * occurrence posteriors the E-step already computes,
    *
    *   E[#pieces(w)] = Σ_{(i,l)} γ(i, l)
    *
    * — no Viterbi backtrace needed, and the same forward–backward
    * arithmetic shape as [[unigramLmTrain]] (one more γ pass at the
    * final pieces, per-WORD aggregation). Words the piece table cannot
    * cover (α_N = 0 — impossible while chars survive) emit no row.
    *
    * @return one row per vocabulary word: (word, wc, n_chars,
    *         expected_pieces) — rint-1e-6 rounded */
  def unigramFertility(df: DataFrame, idCol: String, textCol: String,
                       maxPieceLen: Int = 3, maxSeed: Int = 2048,
                       emRounds: Int = 2, minCount: Double = 1.0,
                       maxWordLen: Int = 24): DataFrame = Persisted { scope =>
    unigramRequires(maxPieceLen, maxSeed, emRounds, minCount, maxWordLen)
    val spark = df.sparkSession
    val words = scope.checkpoint(tokens(df, idCol, textCol)
      .where(F.length(F.col("token")) <= maxWordLen)
      .groupBy(F.col("token").as("word"))
      .agg(F.count(F.lit(1)).as("wc")))
    val (pieces, _) =
      unigramEm(scope, words, maxPieceLen, maxSeed, emRounds, minCount)
    val bc = spark.sparkContext.broadcast(pieces)
    val gammaUdf = unigramGamma(bc, maxPieceLen)
    words
      .select(F.col("word"), F.col("wc"),
        F.explode(gammaUdf(F.col("word"))).as("__o"))
      .groupBy("word", "wc")
      .agg(F.expr("rint(sum(__o._2) * 1e6) / 1e6")
        .as("expected_pieces"))
      .select(F.col("word"), F.col("wc"),
        F.length(F.col("word")).cast("long").as("n_chars"),
        F.col("expected_pieces"))
  }

  /** Interpolated bigram-LM quality score — the next rung above
    * [[unigramLogProb]] on the CCNet ladder: mean per-bigram
    * ln(λ·P(w₂|w₁) + (1−λ)·P(w₂)) under the corpus's own counts.
    *
    * Bigrams are built map-side from each doc's token array (a codegen'd
    * transform — no positional self-join), keyed as "w₁ w₂" (tokens
    * cannot contain whitespace, so the key is unambiguous). The three
    * corpus tables (bigram counts, bigram left-margins, unigram counts)
    * are vocabulary-sized and aggregate in their own shuffles; the
    * bounded slice's tf table broadcasts to each, never the reverse —
    * the [[tfidfTopTerms]] discipline. Docs with < 2 tokens emit no row.
    *
    * @return (id, n_bigrams, mean_logprob) */
  def bigramLogProb(corpus: DataFrame, slice: DataFrame,
                    idCol: String, textCol: String,
                    lambda: Double = 0.7): DataFrame = {
    require(lambda >= 0.0 && lambda <= 1.0, "lambda must be in [0, 1]")
    def bigrams(df: DataFrame): DataFrame = bigramsOf(df, idCol, textCol)
    val big = bigrams(corpus).groupBy("b").agg(F.count(F.lit(1)).as("cb"))
    val margin = big
      .select(F.split(F.col("b"), " ").getItem(0).as("w1"), F.col("cb"))
      .groupBy("w1").agg(F.sum("cb").as("c1"))
    val uni = tokens(corpus, idCol, textCol)
      .groupBy("token").agg(F.count(F.lit(1)).as("cu"))
    val totalTokens = uni.agg(F.sum("cu")).head().getLong(0).toDouble
    val tf = bigrams(slice).groupBy("id", "b").agg(F.count(F.lit(1)).as("tf"))
    val withBig = big.join(F.broadcast(tf), Seq("b"))
    val withMargin = margin.join(
      F.broadcast(withBig.withColumn("w1",
        F.split(F.col("b"), " ").getItem(0))), Seq("w1"))
    val scored = uni.join(
      F.broadcast(withMargin.withColumn("token",
        F.split(F.col("b"), " ").getItem(1))), Seq("token"))
    scored.groupBy("id")
      .agg(F.sum("tf").cast("long").as("n_bigrams"),
        F.round(F.sum(F.col("tf") *
          F.log(F.lit(lambda) * F.col("cb") / F.col("c1") +
            F.lit(1.0 - lambda) * F.col("cu") / totalTokens))
          / F.sum("tf"), 6).as("mean_logprob"))
  }

  /** (id, "w₁ w₂") adjacent-bigram rows, built map-side from each doc's
    * token array (a codegen'd transform — no positional self-join);
    * tokens cannot contain whitespace, so the key is unambiguous. */
  private def bigramsOf(df: DataFrame, idCol: String,
                        textCol: String): DataFrame = {
    val w = F.filter(
      F.split(F.lower(F.coalesce(F.col(textCol), F.lit(""))), "\\s+"),
      t => t =!= "")
    // the <2-token guard matters: sequence(0, -1) would DESCEND
    df.select(F.col(idCol).as("id"), w.as("__w"))
      .where(F.size(F.col("__w")) >= 2)
      .select(F.col("id"),
        F.explode(F.transform(
          F.sequence(F.lit(0), F.size(F.col("__w")) - 2),
          i => F.concat(F.get(F.col("__w"), i), F.lit(" "),
            F.get(F.col("__w"), i + 1)))).as("b"))
  }

  /** (id, "w₁ w₂ w₃") adjacent-trigram rows, the [[bigramsOf]] shape
    * one order up — map-side transform, no positional self-join. */
  private def trigramsOf(df: DataFrame, idCol: String,
                         textCol: String): DataFrame = {
    val w = F.filter(
      F.split(F.lower(F.coalesce(F.col(textCol), F.lit(""))), "\\s+"),
      t => t =!= "")
    df.select(F.col(idCol).as("id"), w.as("__w"))
      .where(F.size(F.col("__w")) >= 3)
      .select(F.col("id"),
        F.explode(F.transform(
          F.sequence(F.lit(0), F.size(F.col("__w")) - 3),
          i => F.concat(F.get(F.col("__w"), i), F.lit(" "),
            F.get(F.col("__w"), i + 1), F.lit(" "),
            F.get(F.col("__w"), i + 2)))).as("tri"))
  }

  /** Trigram language-model score with STUPID BACKOFF (Brants et al.
    * 2007 — the count-based score that scales where Kneser-Ney's
    * held-out tuning doesn't):
    *
    *   s(w₃|w₁w₂) = c(w₁w₂w₃)/c(w₁w₂)          if the trigram is seen,
    *              = 0.4 · c(w₂w₃)/c(w₂)         else if the bigram is,
    *              = 0.4² · c(w₃)/N               otherwise
    *
    * — the [[bigramLogProb]] ladder one order up. Scale shape: the
    * corpus n-gram tables are each SEMI-JOINED down to the slice's
    * keys first (LeftSemi + broadcast slice keys — the only join
    * combination that both preserves the probe side and builds the
    * small side), so the corpus is scanned once per table and nothing
    * corpus-sized ever shuffles; the shrunken tables then broadcast
    * into the slice. Positions whose w₃ is out-of-vocabulary are
    * dropped (n_trigrams counts scored positions).
    *
    * @return one row per slice doc: (id, n_trigrams, mean_logprob) */
  def trigramLogProb(corpus: DataFrame, slice: DataFrame,
                     idCol: String, textCol: String,
                     backoff: Double = 0.4): DataFrame = {
    require(backoff > 0.0 && backoff <= 1.0, "backoff must be in (0, 1]")
    val tri = trigramsOf(corpus, idCol, textCol)
      .groupBy("tri").agg(F.count(F.lit(1)).as("c3"))
    val big = bigramsOf(corpus, idCol, textCol)
      .groupBy("b").agg(F.count(F.lit(1)).as("cb"))
    val uni = tokens(corpus, idCol, textCol)
      .groupBy("token").agg(F.count(F.lit(1)).as("cu"))
    val totalTokens = uni.agg(F.sum("cu")).head().getLong(0).toDouble
    val sp = F.split(F.col("tri"), " ")
    val tf = trigramsOf(slice, idCol, textCol)
      .groupBy("id", "tri").agg(F.count(F.lit(1)).as("tf"))
      .withColumn("w2", sp.getItem(1))
      .withColumn("w3", sp.getItem(2))
      .withColumn("b12",
        F.concat(sp.getItem(0), F.lit(" "), sp.getItem(1)))
      .withColumn("b23",
        F.concat(sp.getItem(1), F.lit(" "), sp.getItem(2)))
    val triKeys = tf.select("tri").distinct()
    val bigKeys = tf.select(F.col("b12").as("b"))
      .union(tf.select(F.col("b23").as("b"))).distinct()
    val uniKeys = tf.select(F.col("w2").as("token"))
      .union(tf.select(F.col("w3").as("token"))).distinct()
    val triS = tri.join(F.broadcast(triKeys), Seq("tri"), "left_semi")
    val bigS = big.join(F.broadcast(bigKeys), Seq("b"), "left_semi")
    val uniS = uni.join(F.broadcast(uniKeys), Seq("token"), "left_semi")
    val joined = tf
      .join(F.broadcast(triS), Seq("tri"), "left")
      .join(F.broadcast(bigS.select(F.col("b").as("b12"),
        F.col("cb").as("c12"))), Seq("b12"), "left")
      .join(F.broadcast(bigS.select(F.col("b").as("b23"),
        F.col("cb").as("c23"))), Seq("b23"), "left")
      .join(F.broadcast(uniS.select(F.col("token").as("w2"),
        F.col("cu").as("c2"))), Seq("w2"), "left")
      .join(F.broadcast(uniS.select(F.col("token").as("w3"),
        F.col("cu").as("c3u"))), Seq("w3"))
    val p = F.when(F.col("c3").isNotNull && F.col("c12").isNotNull,
        F.col("c3").cast("double") / F.col("c12"))
      .when(F.col("c23").isNotNull && F.col("c2").isNotNull,
        F.lit(backoff) * F.col("c23") / F.col("c2"))
      .otherwise(F.lit(backoff * backoff) * F.col("c3u") / totalTokens)
    joined.groupBy("id")
      .agg(F.sum("tf").cast("long").as("n_trigrams"),
        F.round(F.sum(F.col("tf") * F.log(p)) / F.sum("tf"), 6)
          .as("mean_logprob"))
  }

  /** Top-k collocations by pointwise mutual information:
    *
    *   PMI(w₁, w₂) = ln( (n_b/N_b) / ((c₁/N_u)·(c₂/N_u)) )
    *
    * over adjacent bigrams with count ≥ `minCount` — the multi-word-
    * expression miner ("new york", "machine learning") that feeds
    * tokenizer merge lists and stop-phrase tables. Bigram and unigram
    * tables aggregate in vocabulary-sized shuffles; the two totals are
    * exact integer counts folded in as plan literals. The min-count
    * floor is what keeps PMI from crowning one-off typo pairs (bare PMI
    * is maximized by hapax pairs). Ranked on the 6-dp-ROUNDED pmi with
    * a bigram tie-break so the top-k replays deterministically;
    * orderBy+limit = TakeOrdered, never a global sort.
    *
    * @return k rows: (bigram, n, c1, c2, pmi), pmi rounded to 6 */
  def pmiCollocations(df: DataFrame, idCol: String, textCol: String,
                      minCount: Long = 5L, k: Int = 50): DataFrame = {
    require(minCount >= 1L, "minCount must be >= 1")
    require(k >= 1, "k must be >= 1")
    val big = bigramsOf(df, idCol, textCol)
      .groupBy("b").agg(F.count(F.lit(1)).as("n"))
    val uni = tokens(df, idCol, textCol)
      .groupBy("token").agg(F.count(F.lit(1)).as("cu"))
    val nb = big.agg(F.sum("n")).head().getLong(0).toDouble
    val nu = uni.agg(F.sum("cu")).head().getLong(0).toDouble
    val cand = big.where(F.col("n") >= minCount)
      .withColumn("w1", F.split(F.col("b"), " ").getItem(0))
      .withColumn("w2", F.split(F.col("b"), " ").getItem(1))
    cand
      .join(uni.select(F.col("token").as("w1"), F.col("cu").as("c1")),
        Seq("w1"))
      .join(uni.select(F.col("token").as("w2"), F.col("cu").as("c2")),
        Seq("w2"))
      .withColumn("pmi", F.round(F.log(
        (F.col("n") / nb) /
          ((F.col("c1") / nu) * (F.col("c2") / nu))), 6))
      .orderBy(F.col("pmi").desc, F.col("b").asc)
      .limit(k)
      .select(F.col("b").as("bigram"), F.col("n"), F.col("c1"),
        F.col("c2"), F.col("pmi"))
  }

  /** TextRank keyword extraction (Mihalcea & Tarau 2004) — corpus
    * keywords as the PageRank of the token co-occurrence graph:
    * tokens are nodes, tokens within `window` positions of each other
    * in any document share an (undirected, deduplicated) edge, and
    * [[Graph.pageRank]] scores centrality. The graph-based
    * complement to [[tfidfTopTerms]] (frequency-weighted) and
    * [[distinctiveTerms]] (contrastive): TextRank rewards tokens that
    * CONNECT the vocabulary.
    *
    * Co-occurrence pairs ride `lead` under the per-document window
    * (no self-join), the edge set is vocabulary²-bounded after the
    * distinct, and the fixed-iteration PageRank replays externally as
    * chained CTEs — the q_pagerank discipline. Top-k by (rounded rank
    * desc, token asc), a rank-limited take.
    *
    * @return topK rows: (token, rank) with rank rounded to 6 */
  def textRank(df: DataFrame, idCol: String, textCol: String,
               window: Int = 2, iters: Int = 2,
               k: Int = 20): DataFrame = {
    require(window >= 1 && window <= 5, "window must be in 1..5")
    require(iters >= 1 && iters <= 10, "iters must be in 1..10")
    require(k >= 1, "k must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val toks = df.select(F.col(idCol).as("id"),
      F.posexplode(F.filter(
        F.split(F.lower(F.coalesce(F.col(textCol), F.lit(""))), "\\s+"),
        t => t =!= "")).as(Seq("pos", "token")))
    val wOrd = Window.partitionBy("id").orderBy("pos")
    val withLeads = (1 to window).foldLeft(toks) { (acc, off) =>
      acc.withColumn(s"__l$off", F.lead("token", off).over(wOrd))
    }
    val pairs = (1 to window).map { off =>
      withLeads.where(F.col(s"__l$off").isNotNull &&
          F.col(s"__l$off") =!= F.col("token"))
        .select(F.col("token").as("a"), F.col(s"__l$off").as("b"))
    }.reduce(_ unionAll _)
    val e = pairs
      .union(pairs.select(F.col("b").as("a"), F.col("a").as("b")))
      .distinct()
      .select(F.col("a").as("src"), F.col("b").as("dst"))
    Graph.pageRank(e, "src", "dst", iters)
      .select(F.col("node").as("token"),
        F.round(F.col("rank"), 6).as("rank"))
      .orderBy(F.col("rank").desc, F.col("token").asc)
      .limit(k)
  }

  /** Zipf-law fit of the vocabulary: OLS of ln(count) on ln(rank) over
    * the top-N terms — the data-card scalar ("slope ≈ −1 is natural
    * text; flat means boilerplate/dedup debt, steep means template
    * spam"). ONE vocabulary aggregation, a bounded top-N take
    * (count desc, token asc — deterministic under ties), a rank window
    * over ≤ N rows, and one closed-form moment fold.
    *
    * @return one row: (n_terms, slope, intercept, r2) rounded to 6;
    *         slope/r2 null when the top-N has < 2 terms or zero
    *         rank variance */
  def zipfFit(df: DataFrame, idCol: String, textCol: String,
              topN: Int = 1000): DataFrame = {
    require(topN >= 2, "topN must be >= 2")
    import org.apache.spark.sql.expressions.Window
    val vocab = tokens(df, idCol, textCol)
      .groupBy("token").agg(F.count(F.lit(1)).as("n"))
      .orderBy(F.col("n").desc, F.col("token").asc)
      .limit(topN)
    val w = Window.orderBy(F.col("n").desc, F.col("token").asc)
    val xy = vocab
      .withColumn("__r", F.row_number().over(w).cast("long"))
      .select(F.log(F.col("__r").cast("double")).as("__x"),
        F.log(F.col("n").cast("double")).as("__y"))
    val a = xy.agg(
      F.count(F.lit(1)).as("n_terms"),
      F.sum("__x").as("__sx"), F.sum("__y").as("__sy"),
      F.sum(F.col("__x") * F.col("__x")).as("__sxx"),
      F.sum(F.col("__y") * F.col("__y")).as("__syy"),
      F.sum(F.col("__x") * F.col("__y")).as("__sxy"))
    val nD = F.col("n_terms").cast("double")
    val varX = nD * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    val varY = nD * F.col("__syy") - F.col("__sy") * F.col("__sy")
    val cov = nD * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    a.withColumn("slope", F.when(varX > 0.0, F.round(cov / varX, 6)))
      .withColumn("intercept", F.when(varX > 0.0, F.round(
        (F.col("__sy") - (cov / varX) * F.col("__sx")) / nD, 6)))
      .withColumn("r2", F.when(varX > 0.0 && varY > 0.0,
        F.round(cov * cov / (varX * varY), 6)))
      .select("n_terms", "slope", "intercept", "r2")
  }

  /** Distinctive terms per group by weighted log-odds with a Dirichlet
    * prior (Monroe, Colaresi & Quinn 2008 — "Fightin' Words"): for each
    * (group, token),
    *
    *   δ = ln((y_gw+α)/(n_g+α₀−y_gw−α)) − ln((y_rw+α)/(n_r+α₀−y_rw−α)),
    *   z = δ / √(1/(y_gw+α) + 1/(y_rw+α))
    *
    * against the REST of the corpus — the "what words characterize
    * THIS source" table that raw TF-IDF gets wrong (it rewards rare
    * typos; the prior and the variance term shrink low-evidence terms
    * toward zero). One token shuffle; margins ride windows over the
    * (group, token) cells; the top-k take is a rank-limited window
    * (WindowGroupLimit, never a global sort).
    *
    * @param alpha per-word Dirichlet pseudo-count (α₀ = α·|vocab|)
    * @return k rows per group: (group, token, n_in_group, n_rest,
    *         z rounded 6, rank) */
  def distinctiveTerms(df: DataFrame, idCol: String, textCol: String,
                       groupCol: String, alpha: Double = 0.01,
                       k: Int = 10): DataFrame = {
    require(alpha > 0.0, "alpha must be > 0")
    require(k >= 1, "k must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val toks = df
      .where(F.col(groupCol).isNotNull)
      .select(F.col(groupCol).cast("string").as("g"),
        F.explode(F.filter(
          F.split(F.lower(F.coalesce(F.col(textCol), F.lit(""))),
            "\\s+"), t => t =!= "")).as("token"))
    val cells = toks.groupBy("g", "token")
      .agg(F.count(F.lit(1)).as("__y"))
    val vocab = cells.select("token").distinct().count()
    val a0 = alpha * vocab
    val wTok = Window.partitionBy("token")
    val wGrp = Window.partitionBy("g")
    val wAll = Window.partitionBy()
    val yg = F.col("__y").cast("double")
    val yr = (F.col("__yw") - F.col("__y")).cast("double")
    val ng = F.col("__ng").cast("double")
    val nr = (F.col("__nt") - F.col("__ng")).cast("double")
    val delta = F.log((yg + alpha) / (ng + a0 - yg - alpha)) -
      F.log((yr + alpha) / (nr + a0 - yr - alpha))
    val z = delta / F.sqrt(F.lit(1.0) / (yg + alpha) +
      F.lit(1.0) / (yr + alpha))
    val wRank = Window.partitionBy("g")
      .orderBy(F.col("z").desc, F.col("token").asc)
    cells
      .withColumn("__yw", F.sum("__y").over(wTok))
      .withColumn("__ng", F.sum("__y").over(wGrp))
      .withColumn("__nt", F.sum("__y").over(wAll))
      .withColumn("z", F.round(z, 6))
      .withColumn("rank", F.row_number().over(wRank).cast("long"))
      .where(F.col("rank") <= k)
      .select(F.col("g").as("group"), F.col("token"),
        F.col("__y").as("n_in_group"),
        (F.col("__yw") - F.col("__y")).as("n_rest"), F.col("z"),
        F.col("rank"))
  }

  /** Coleman–Liau readability index per document:
    *
    *   CLI = 0.0588·L − 0.296·S − 15.8,
    *   L = letters per 100 words, S = sentences per 100 words
    *
    * — the readability formula that needs NO syllable heuristic (its
    * design goal), so every count is a codegen'd regexp and the score
    * replays exactly: letters = [A-Za-z] matches, words = whitespace
    * tokens, sentences = [.!?]+ runs (min 1 — a fragment is one
    * sentence). The curriculum/quality feature that separates
    * grade-school text from legalese where length alone cannot.
    *
    * @return df + (n_letters, n_words, n_sentences, cli rounded 6);
    *         null cli for wordless documents */
  def withReadability(df: DataFrame, textCol: String): DataFrame = {
    val t = F.coalesce(F.col(textCol), F.lit(""))
    val letters = F.size(F.regexp_extract_all(t, F.lit("[A-Za-z]"),
      F.lit(0))).cast("long")
    val words = F.size(F.filter(F.split(t, "\\s+"), x => x =!= ""))
      .cast("long")
    val sentences = F.greatest(F.lit(1L),
      F.size(F.regexp_extract_all(t, F.lit("[.!?]+"), F.lit(0)))
        .cast("long"))
    df.withColumn("n_letters", letters)
      .withColumn("n_words", words)
      .withColumn("n_sentences", sentences)
      .withColumn("cli", F.when(F.col("n_words") > 0L, F.round(
        F.lit(0.0588) * (F.col("n_letters").cast("double") * 100.0 /
          F.col("n_words")) -
          F.lit(0.296) * (F.col("n_sentences").cast("double") * 100.0 /
            F.col("n_words")) - F.lit(15.8), 6)))
  }

  /** Normalization + masking + per-kind match counts in one projection. */
  def withCleanText(df: DataFrame, textCol: String,
                    outCol: String = "clean_text"): DataFrame = {
    val t = F.coalesce(F.col(textCol), F.lit(""))
    df.withColumn("n_emails", F.size(F.regexp_extract_all(t, F.lit(EmailRe), F.lit(0))))
      .withColumn("n_ips", F.size(F.regexp_extract_all(t, F.lit(Ipv4Re), F.lit(0))))
      .withColumn("n_ids", F.size(F.regexp_extract_all(t, F.lit(SsnRe), F.lit(0))))
      .withColumn(outCol, maskPii(normalizeText(t)))
  }

  /** Simple Good–Turing frequency table: for each observed occurrence
    * count r, the frequency-of-frequency Nᵣ and the Turing-smoothed
    * adjusted count r* = (r+1)·N_{r+1}/Nᵣ — the estimate behind
    * unseen-mass smoothing in n-gram LMs ([[unigramLogProb]] uses
    * add-α; this is the classical alternative whose leftover mass
    * N₁/N is THE standard estimate of how much probability the corpus
    * has never seen). r* is null where N_{r+1} = 0 (the unsmoothable
    * tail — Gale–Sampson would regress; emitting null keeps the table
    * honest).
    *
    * Two token-keyed aggregations (token counts → count-of-counts) —
    * the second one is vocabulary-sized; the r-table that leaves it is
    * at most √(2·tokens) rows. Pure integer counts, bit-exact replay.
    *
    * @return one row per observed r: (r, n_r, r_star, p_smoothed) with
    *         p_smoothed the adjusted count over total token count N,
    *         rounded to 9.
    */
  def goodTuring(df: DataFrame, idCol: String,
                 textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = tokens(df, idCol, textCol)
      .groupBy("token").agg(F.count(F.lit(1)).as("r"))
    val nr = counts.groupBy("r").agg(F.count(F.lit(1)).as("n_r"))
    val wNext = Window.orderBy("r")
    // the r-table is tiny (≤ √(2N) rows) — a single-partition window
    // over it is bounded by the support, not the data
    val withNext = nr
      .withColumn("__rn", F.lead("r", 1).over(wNext))
      .withColumn("__nn", F.lead("n_r", 1).over(wNext))
    val total = F.sum(F.col("r") * F.col("n_r")).over(
      Window.partitionBy())
    withNext
      .withColumn("r_star",
        F.when(F.col("__rn") === F.col("r") + 1L,
          F.round((F.col("r") + 1L).cast("double") * F.col("__nn") /
            F.col("n_r"), 6)))
      .withColumn("p_smoothed",
        F.round(F.col("r_star") / total.cast("double"), 9))
      .select("r", "n_r", "r_star", "p_smoothed")
  }

  /** χ² feature selection: top-k tokens per class by the χ² statistic
    * of the 2×2 (document contains token) × (document in class) table —
    * the classical filter-selection companion to [[distinctiveTerms]]
    * (Monroe shrinks by a prior; χ² ranks by raw association strength,
    * the convention sklearn's SelectKBest(chi2) users expect) and the
    * vocabulary pruner in front of [[nbTrain]].
    *
    *   χ² = N·(ad − bc)² / ((a+b)(c+d)(a+c)(b+d))
    *
    * over DOCUMENT frequencies (presence, not counts — the standard
    * form). One (class, token) distinct-presence aggregation + a
    * broadcast class-size table + a rank-limited top-k window
    * PARTITIONED by class; every input to χ² is an exact integer, so
    * the scores and the (χ² desc, token asc) ranking replay
    * bit-for-bit.
    *
    * @return top-k rows per class: (cls, token, n_class_docs,
    *         df_in_class, df_rest, chi2, rank)
    */
  def chi2Terms(df: DataFrame, idCol: String, textCol: String,
                classCol: String, topK: Int = 25): DataFrame = {
    require(topK >= 1, "need topK >= 1")
    import org.apache.spark.sql.expressions.Window
    val base = df.where(F.col(classCol).isNotNull)
      .select(F.col(idCol).as("id"), F.col(textCol).as("__text"),
        F.col(classCol).cast("string").as("cls"))
    val present = tokens(base.select("id", "__text"), "id", "__text")
      .select("id", "token").distinct()
      .join(base.select("id", "cls"), "id")
    val cellCounts = present.groupBy("cls", "token")
      .agg(F.count(F.lit(1)).as("a"))
    val dfTotal = present.groupBy("token")
      .agg(F.count(F.lit(1)).as("df_all"))
    val classSizes = base.groupBy("cls").agg(F.count(F.lit(1)).as("nc"))
    val nTotal = base.count()
    val scored = cellCounts
      .join(dfTotal, "token")
      .join(F.broadcast(classSizes), "cls")
      .withColumn("b", F.col("df_all") - F.col("a"))
      .withColumn("c", F.col("nc") - F.col("a"))
      .withColumn("d",
        F.lit(nTotal) - F.col("nc") - (F.col("df_all") - F.col("a")))
      .withColumn("chi2", {
        // doubles from the start: long products of 10¹⁰-scale counts
        // would overflow at corpus scale
        val ad = F.col("a").cast("double") * F.col("d") -
          F.col("b").cast("double") * F.col("c")
        F.round(F.lit(nTotal.toDouble) * ad * ad /
          ((F.col("a").cast("double") + F.col("b")) *
            (F.col("c").cast("double") + F.col("d"))) /
          ((F.col("a").cast("double") + F.col("c")) *
            (F.col("b").cast("double") + F.col("d"))), 6)
      })
    val w = Window.partitionBy("cls")
      .orderBy(F.desc("chi2"), F.asc("token"))
    scored
      .withColumn("rank", F.row_number().over(w).cast("long"))
      .where(F.col("rank") <= topK)
      .select(F.col("cls"), F.col("token"),
        F.col("nc").as("n_class_docs"), F.col("a").as("df_in_class"),
        F.col("b").as("df_rest"), F.col("chi2"), F.col("rank"))
  }

  /** Multinomial Naive Bayes trained distributed — the classical
    * high-throughput text classifier (language ID, topic routing,
    * spam/quality gating) as THREE aggregations, no driver-side data:
    * per-(class, token) counts, per-class token totals + doc priors,
    * and the overall vocabulary size. Laplace-α smoothing; the model
    * is a pair of DataFrames (vocab-sized likelihood table + k-row
    * class table), so a 10⁸-token vocabulary never has to broadcast.
    *
    * [[nbScore]] scores docs by ln P(c) + Σₜ nₜ·ln P(t|c), factored as
    * Σₜ nₜ·ln(cnt+α) − N_d·ln(tot_c+αV) so UNSEEN tokens cost exactly
    * their smoothed mass without materializing zero cells: one token
    * shuffle joins doc tokens to the likelihood table per class, the
    * k-row class table broadcasts. The predicted class ranks by the
    * 6-dp-ROUNDED score with ties to the lexicographically smaller
    * class — deterministic and engine-replayable (ULP noise in the
    * log-sums cannot flip an argmax).
    */
  final case class NbModel(tokenLik: DataFrame, classes: DataFrame,
                           alpha: Double)

  /** Train: df must carry (idCol, textCol, classCol); null classes are
    * dropped. Returns the model tables:
    * tokenLik(token, cls, cnt), classes(cls, n_docs, log_prior,
    * tok_total) plus vocabulary size folded into classes.ln_denom. */
  def nbTrain(df: DataFrame, idCol: String, textCol: String,
              classCol: String, alpha: Double = 1.0): NbModel = {
    require(alpha > 0.0, "alpha must be positive")
    val base = df.where(F.col(classCol).isNotNull)
      .select(F.col(idCol).as("id"),
        F.col(textCol).as("__text"),
        F.col(classCol).cast("string").as("cls"))
    val tok = tokens(base.select(F.col("id"), F.col("__text")),
        "id", "__text")
      .join(base.select("id", "cls"), "id")
    val counts = tok.groupBy("cls", "token")
      .agg(F.count(F.lit(1)).as("cnt"))
    val vocab = counts.select("token").distinct().count()
    val docTotals = base.groupBy("cls").agg(F.count(F.lit(1)).as("n_docs"))
    val totalDocs = base.count()
    val tokTotals = counts.groupBy("cls").agg(F.sum("cnt").as("tok_total"))
    val classes = docTotals.join(tokTotals, Seq("cls"), "left")
      .na.fill(0L, Seq("tok_total"))
      .withColumn("log_prior",
        F.log(F.col("n_docs").cast("double") / totalDocs.toDouble))
      .withColumn("ln_denom",
        F.log(F.col("tok_total").cast("double") + alpha * vocab))
    NbModel(counts, classes, alpha)
  }

  /** Score + classify new docs under [[nbTrain]]'s model.
    * @return one row per (doc, class): (id, cls, score_r) plus the
    *         per-doc argmax as `predicted` (round-6 score, ties to the
    *         smaller class label). */
  def nbScore(df: DataFrame, idCol: String, textCol: String,
              model: NbModel): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val alpha = model.alpha
    val dt = tokens(df.select(F.col(idCol).as("id"),
        F.col(textCol).as("__text")), "id", "__text")
      .groupBy("id", "token").agg(F.count(F.lit(1)).as("nt"))
    val docLen = dt.groupBy("id").agg(F.sum("nt").as("nd"))
    val classes = F.broadcast(model.classes)
    // (doc token, class) × likelihood: unseen tokens contribute
    // nt·ln(α); the −N_d·ln_denom constant folds in afterwards
    val perClass = dt
      .crossJoin(classes.select("cls"))
      .join(model.tokenLik, Seq("cls", "token"), "left")
      .na.fill(0L, Seq("cnt"))
      .groupBy("id", "cls")
      .agg(F.sum(F.col("nt") *
        F.log(F.col("cnt").cast("double") + alpha)).as("tok_ll"))
    // docLen is doc-sized — a plain id-key join, never a broadcast
    val scored = perClass
      .join(docLen, "id")
      .join(classes.select("cls", "log_prior", "ln_denom"), "cls")
      .withColumn("score_r", F.round(
        F.col("log_prior") + F.col("tok_ll") -
          F.col("nd").cast("double") * F.col("ln_denom"), 6))
    val w = Window.partitionBy("id")
      .orderBy(F.desc("score_r"), F.asc("cls"))
    scored
      .withColumn("__rk", F.row_number().over(w))
      .withColumn("predicted",
        F.max(F.when(F.col("__rk") === 1, F.col("cls"))).over(
          Window.partitionBy("id")))
      .select("id", "cls", "score_r", "predicted")
  }

  /** Heaps'-law vocabulary-growth fit: V(N) ≈ K·N^β measured at
    * `buckets` nested md5-deterministic corpus prefixes — the curve
    * that answers "how much NEW vocabulary will 10× more data buy"
    * (β ≈ 0.5 typical English; β near 1 ⇒ unbounded novelty — OCR
    * noise or ids; β near 0 ⇒ the corpus is saturating).
    *
    * Nested prefixes come from [[Sampling.md5Bucket]] on the doc id —
    * prefix f = docs with bucket < f·B — so each point is a SUPERSET
    * of the last and both N(f) and V(f) are CUMULATIVE sums over
    * per-bucket cells: tokens-per-bucket from one doc-keyed pass,
    * first-seen bucket per token (min bucket) from one token-keyed
    * pass. The log-log OLS runs over the `buckets` points inside the
    * same plan ([[zipfFit]] shape). Deterministic, engine-replayable,
    * two shuffles total.
    *
    * @return one row per prefix: (bucket, n_tokens, vocab, beta, ln_k,
    *         r2) — the fit columns repeat on every row.
    */
  def heapsLaw(df: DataFrame, idCol: String, textCol: String,
               buckets: Int = 10): DataFrame = {
    require(buckets >= 3, "need at least 3 growth points")
    import org.apache.spark.sql.expressions.Window
    val toks = tokens(df, idCol, textCol)
      .withColumn("__b", Sampling.md5Bucket(F.col("id"), buckets))
    val perBucket = toks.groupBy("__b")
      .agg(F.count(F.lit(1)).as("__nt"))
    val firstSeen = toks.groupBy("token")
      .agg(F.min("__b").as("__b"))
      .groupBy("__b").agg(F.count(F.lit(1)).as("__nv"))
    val wCum = Window.orderBy("__b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // bucket-indexed cells: ≤ `buckets` rows from here on
    val pts = perBucket
      .join(firstSeen, Seq("__b"), "outer")
      .na.fill(0L, Seq("__nt", "__nv"))
      .withColumn("n_tokens", F.sum("__nt").over(wCum))
      .withColumn("vocab", F.sum("__nv").over(wCum))
      .where(F.col("n_tokens") > 0L && F.col("vocab") > 0L)
      .select(F.col("__b").as("bucket"), F.col("n_tokens"),
        F.col("vocab"),
        F.log(F.col("n_tokens").cast("double")).as("__x"),
        F.log(F.col("vocab").cast("double")).as("__y"))
    val wAll = Window.partitionBy()
    val nD = F.count(F.lit(1)).over(wAll).cast("double")
    val sx = F.sum("__x").over(wAll); val sy = F.sum("__y").over(wAll)
    val sxx = F.sum(F.col("__x") * F.col("__x")).over(wAll)
    val syy = F.sum(F.col("__y") * F.col("__y")).over(wAll)
    val sxy = F.sum(F.col("__x") * F.col("__y")).over(wAll)
    val varX = nD * sxx - sx * sx
    val varY = nD * syy - sy * sy
    val cov = nD * sxy - sx * sy
    pts
      .withColumn("beta", F.when(varX > 0.0, F.round(cov / varX, 6)))
      .withColumn("ln_k", F.when(varX > 0.0,
        F.round((sy - (cov / varX) * sx) / nD, 6)))
      .withColumn("r2", F.when(varX > 0.0 && varY > 0.0,
        F.round(cov * cov / (varX * varY), 6)))
      .select("bucket", "n_tokens", "vocab", "beta", "ln_k", "r2")
  }

  /** RAKE keyword extraction (Rose et al. 2010) over the whole corpus:
    * candidate phrases are maximal stopword-free token runs (text is
    * lowercased, non-letters collapse to spaces, the shared stopword
    * list becomes phrase delimiters); each word scores
    * deg(w)/freq(w) where deg(w) sums the lengths of every phrase
    * occurrence containing w (co-occurrence degree), and a phrase
    * scores the sum of its word scores — multi-word domain terms beat
    * bare frequency. Top-k distinct phrases by (score, phrase).
    *
    * Scale shape: two exploded aggregations (word stats, phrase
    * counts) + one broadcastable join from the per-phrase word list
    * to the word-score table — no windows, no driver data. deg/freq
    * are exact integers; the phrase score rounds at 6.
    *
    * @return topK rows: (phrase, n_words, count, score) */
  def rakeKeywords(df: DataFrame, textCol: String,
                   topK: Int = 20): DataFrame = {
    require(topK > 0, "topK must be positive")
    val stopAlt = stopwords.mkString("\\b(", "|", ")\\b")
    val cleaned = F.regexp_replace(
      F.lower(F.coalesce(F.col(textCol), F.lit(""))), "[^a-z]+", " ")
    val marked = F.regexp_replace(cleaned, stopAlt, "|")
    val phrases = df
      .select(F.explode(F.filter(
        F.transform(F.split(marked, "\\|"),
          p => F.trim(F.regexp_replace(p, " +", " "))),
        p => p =!= "")).as("phrase"))
    val occ = phrases
      .withColumn("words", F.split(F.col("phrase"), " "))
      .withColumn("nw", F.size(F.col("words")).cast("long"))
    val wordStats = occ
      .select(F.explode(F.col("words")).as("w"), F.col("nw"))
      .groupBy("w")
      .agg(F.count(F.lit(1)).as("freq"), F.sum("nw").as("deg"))
      .withColumn("wscore",
        F.col("deg").cast("double") / F.col("freq"))
    val phraseTable = occ
      .groupBy("phrase")
      .agg(F.count(F.lit(1)).as("count"), F.max("nw").as("n_words"))
    phraseTable
      .withColumn("w", F.explode(F.split(F.col("phrase"), " ")))
      .join(wordStats.select("w", "wscore"), "w")
      .groupBy("phrase", "n_words", "count")
      .agg(F.round(F.sum("wscore"), 6).as("score"))
      .orderBy(F.col("score").desc, F.col("phrase").asc)
      .limit(topK)
      .select("phrase", "n_words", "count", "score")
  }

  /** Term burstiness (Church–Gale): for the topN corpus terms, does a
    * term spread evenly across documents or clump into bursts? Reports
    * document frequency, the repeat probability
    * P(count ≥ 2 | count ≥ 1) (adaptation — THE burstiness signature:
    * function words ≈ corpus rate, content words much higher), the
    * within-document rate, and the variance-to-mean ratio over ALL
    * documents (zeros included; VMR = 1 is Poisson). Every statistic
    * is a ratio of exact integers from ONE (term, doc) count
    * aggregation.
    *
    * @return topN rows: (term, total, doc_freq, repeat_docs,
    *         adaptation, rate_in_docs, vmr) */
  def burstiness(df: DataFrame, idCol: String, textCol: String,
                 topN: Int = 30): DataFrame = {
    require(topN > 0, "topN must be positive")
    val nDocs = df.where(F.col(idCol).isNotNull).count()
    require(nDocs > 0L, "no documents")
    val perDoc = df
      .where(F.col(idCol).isNotNull)
      .select(F.col(idCol).as("__id"),
        F.explode(wordTokens(F.col(textCol))).as("w"))
      .groupBy("__id", "w").agg(F.count(F.lit(1)).as("c"))
    val nD = F.lit(nDocs.toDouble)
    perDoc
      .groupBy("w")
      .agg(F.sum("c").as("total"),
        F.count(F.lit(1)).as("doc_freq"),
        F.sum(F.when(F.col("c") >= 2L, 1L).otherwise(0L))
          .as("repeat_docs"),
        F.sum(F.col("c") * F.col("c")).as("__c2"))
      .withColumn("adaptation",
        F.round(F.col("repeat_docs").cast("double") /
          F.col("doc_freq"), 6))
      .withColumn("rate_in_docs",
        F.round(F.col("total").cast("double") / F.col("doc_freq"), 6))
      .withColumn("vmr", F.round(
        (F.col("__c2").cast("double") / nD -
          (F.col("total").cast("double") / nD) *
            (F.col("total").cast("double") / nD)) /
          (F.col("total").cast("double") / nD), 6))
      .orderBy(F.col("total").desc, F.col("w").asc)
      .limit(topN)
      .select(F.col("w").as("term"), F.col("total"), F.col("doc_freq"),
        F.col("repeat_docs"), F.col("adaptation"),
        F.col("rate_in_docs"), F.col("vmr"))
  }

  /** Corpus entropy rate — "how predictable is the next token":
    * H(w₂|w₁) = H(bigram) − H(context margin), the information a
    * bigram model actually has to encode per token (the gap
    * H(unigram) − H(w₂|w₁) is what context buys). exp(H-rate) is the
    * per-token perplexity floor for any bigram-order model of this
    * corpus — the number to beat before training anything bigger.
    * One bigram-count aggregation (adjacent pairs within documents,
    * the [[bigramLogProb]] substrate) + two entropy folds; rounded 6.
    *
    * @return one row: (n_bigrams, vocab_bigrams, vocab_contexts,
    *         h_bigram, h_context, h_rate, perplexity) */
  def entropyRate(df: DataFrame, idCol: String,
                  textCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val big = bigramsOf(df, idCol, textCol)
      .groupBy("b").agg(F.count(F.lit(1)).as("cb"))
    val tot = big.agg(F.sum("cb").as("n"),
      F.count(F.lit(1)).as("vb")).head()
    val n = tot.getAs[Long]("n")
    require(n > 0L, "no bigrams")
    val nD = n.toDouble
    val hB = big.agg(
      F.sum(-(F.col("cb") / nD) * F.log(F.col("cb") / nD)).as("h"))
      .head().getDouble(0)
    val ctx = big
      .groupBy(F.split(F.col("b"), " ").getItem(0).as("w1"))
      .agg(F.sum("cb").as("c1"))
    val ctxAgg = ctx.agg(F.count(F.lit(1)).as("vc"),
      F.sum(-(F.col("c1") / nD) * F.log(F.col("c1") / nD)).as("h"))
      .head()
    val hC = ctxAgg.getAs[Double]("h")
    def r6(v: Double) = math.rint(v * 1e6) / 1e6
    val rate = hB - hC
    Seq((n, tot.getAs[Long]("vb"), ctxAgg.getAs[Long]("vc"),
      r6(hB), r6(hC), r6(rate), r6(math.exp(rate))))
      .toDF("n_bigrams", "vocab_bigrams", "vocab_contexts",
        "h_bigram", "h_context", "h_rate", "perplexity")
  }

  /** Hill diversity numbers of the corpus vocabulary — the unified
    * diversity ladder (ecology's answer to "which diversity index"):
    * D0 = richness (types), D1 = exp(Shannon H) (the number of
    * EQUALLY-COMMON types that would give this entropy — the
    * "effective vocabulary"), D2 = inverse Simpson (effective count
    * weighted toward the head). D1/D0 is the evenness — how far the
    * corpus is from uniform usage. One token-count aggregation; exact
    * integer ratios into two rounded folds.
    *
    * @return one row: (n_tokens, d0, d1, d2, evenness) */
  def hillNumbers(df: DataFrame, textCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val counts = df
      .select(F.explode(wordTokens(F.col(textCol))).as("w"))
      .groupBy("w").agg(F.count(F.lit(1)).as("c"))
    val m = counts.agg(F.sum("c").as("n"),
      F.count(F.lit(1)).as("v")).head()
    val n = m.getAs[Long]("n"); val v = m.getAs[Long]("v")
    require(n > 0L, "no tokens")
    val nD = n.toDouble
    val folds = counts.agg(
      F.sum(-(F.col("c") / nD) * F.log(F.col("c") / nD)).as("h"),
      F.sum((F.col("c") / nD) * (F.col("c") / nD)).as("simp"))
      .head()
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    val d1 = math.exp(folds.getAs[Double]("h"))
    Seq((n, v, r6(d1), r6(1.0 / folds.getAs[Double]("simp")),
      r6(d1 / v)))
      .toDF("n_tokens", "d0", "d1", "d2", "evenness")
  }

  /** Pairwise Jensen–Shannon distance matrix between the unigram
    * distributions of corpus slices (languages, sources, snapshots) —
    * "which slices speak the same language, statistically": for each
    * pair, JSD = ½Σp₁ln(2p₁/(p₁+p₂)) + ½Σp₂ln(2p₂/(p₁+p₂)), with the
    * words absent from the other side contributing their mass × ln 2
    * (handled via the matched-mass complement, so ONE inner join on
    * the word carries the whole computation — no per-pair outer
    * joins). √JSD is a metric; both reported.
    *
    * Scale shape: one (slice, word) count aggregation, one
    * word-keyed self-join restricted to slice_a < slice_b, one fold
    * per pair — the join is |vocab|·|slices|² only where words are
    * SHARED. The pair list itself comes from a slice-totals cross
    * join (slices are few), so pairs sharing ZERO vocabulary still
    * appear — at the metric's maximum JSD = ln 2 — instead of
    * silently dropping out of the matrix.
    *
    * @return one row per pair: (slice_a, slice_b, n_shared_words,
    *         jsd, js_dist) */
  def jsdMatrix(df: DataFrame, sliceCol: String,
                textCol: String): DataFrame = {
    val g = F.col(sliceCol).cast("string")
    val counts = df
      .where(g.isNotNull)
      .select(g.as("s"), F.explode(wordTokens(F.col(textCol))).as("w"))
      .groupBy("s", "w").agg(F.count(F.lit(1)).as("c"))
    val totals = counts.groupBy("s").agg(F.sum("c").as("t"))
    val withP = counts.join(F.broadcast(totals), "s")
      .select(F.col("s"), F.col("w"),
        (F.col("c").cast("double") / F.col("t")).as("p"))
    val a = withP.select(F.col("s").as("sa"), F.col("w"),
      F.col("p").as("pa"))
    val b = withP.select(F.col("s").as("sb"), F.col("w"),
      F.col("p").as("pb"))
    val ln2 = math.log(2.0)
    val matched = a.join(b, Seq("w"))
      .where(F.col("sa") < F.col("sb"))
      .groupBy("sa", "sb")
      .agg(F.count(F.lit(1)).as("n_shared_words"),
        F.sum(F.col("pa") * F.log(F.lit(2.0) * F.col("pa") /
          (F.col("pa") + F.col("pb")))).as("ta"),
        F.sum(F.col("pb") * F.log(F.lit(2.0) * F.col("pb") /
          (F.col("pa") + F.col("pb")))).as("tb"),
        F.sum(F.col("pa")).as("ma"), F.sum(F.col("pb")).as("mb"))
    // every pair appears, even with zero shared vocabulary: the
    // coalesced zero matched-mass puts such pairs at JSD = ln 2
    val allPairs = totals.select(F.col("s").as("sa"))
      .crossJoin(totals.select(F.col("s").as("sb")))
      .where(F.col("sa") < F.col("sb"))
      .join(matched, Seq("sa", "sb"), "left")
      .select(F.col("sa"), F.col("sb"),
        F.coalesce(F.col("n_shared_words"), F.lit(0L))
          .as("n_shared_words"),
        F.coalesce(F.col("ta"), F.lit(0.0)).as("ta"),
        F.coalesce(F.col("tb"), F.lit(0.0)).as("tb"),
        F.coalesce(F.col("ma"), F.lit(0.0)).as("ma"),
        F.coalesce(F.col("mb"), F.lit(0.0)).as("mb"))
    val jsd = (F.col("ta") + (F.lit(1.0) - F.col("ma")) * ln2 +
      F.col("tb") + (F.lit(1.0) - F.col("mb")) * ln2) / 2.0
    allPairs
      .select(F.col("sa").as("slice_a"), F.col("sb").as("slice_b"),
        F.col("n_shared_words"),
        F.round(jsd, 6).as("jsd"),
        F.round(F.sqrt(F.greatest(jsd, F.lit(0.0))), 6).as("js_dist"))
  }

  /** Chao1 vocabulary-richness estimate + Good's coverage — "how many
    * word types exist that this corpus has NOT seen yet": from the
    * frequency-of-frequencies (hapax f₁, dis legomena f₂),
    *
    *   Chao1 = V + f₁(f₁−1)/(2(f₂+1))   (bias-corrected, f₂=0-safe),
    *   coverage = 1 − f₁/N               (Good 1953)
    *
    * — the acceptance number for "is this corpus big enough", and the
    * same estimator that audits how many NEAR-DUP clusters a dedup
    * pass missed. Two aggregations (token counts → fof), all exact
    * integers until the final two ratios.
    *
    * @return one row: (n_tokens, vocab, f1, f2, chao1, coverage) */
  def chao1(df: DataFrame, textCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val counts = df
      .select(F.explode(wordTokens(F.col(textCol))).as("w"))
      .groupBy("w").agg(F.count(F.lit(1)).as("c"))
    val m = counts.agg(
      F.sum("c").as("n"),
      F.count(F.lit(1)).as("v"),
      F.sum(F.when(F.col("c") === 1L, 1L).otherwise(0L)).as("f1"),
      F.sum(F.when(F.col("c") === 2L, 1L).otherwise(0L)).as("f2"))
      .head()
    val n = m.getAs[Long]("n"); val vv = m.getAs[Long]("v")
    require(n > 0L, "no tokens")
    val f1 = m.getAs[Long]("f1"); val f2 = m.getAs[Long]("f2")
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    val chao = vv + f1.toDouble * (f1 - 1.0) / (2.0 * (f2 + 1.0))
    Seq((n, vv, f1, f2, r6(chao), r6(1.0 - f1.toDouble / n)))
      .toDF("n_tokens", "vocab", "f1", "f2", "chao1", "coverage")
  }

  /** First- and second-order jackknife richness estimators over
    * INCIDENCE data (which documents a word type occurs in, not how
    * often — the presence/absence complement of [[chao1]]'s
    * abundance form; Burnham & Overton 1978):
    *
    *   Jack1 = S + Q₁(n−1)/n,
    *   Jack2 = S + Q₁(2n−3)/n − Q₂(n−2)²/(n(n−1))
    *
    * with Qⱼ the species found in exactly j of the n sampling units.
    * Two aggregations over distinct (unit, type) pairs; every term an
    * exact integer until the final ratios.
    *
    * @return one row: (n_units, s_obs, q1, q2, jack1, jack2) */
  def jackknifeRichness(df: DataFrame, idCol: String,
                        textCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val pairs = df
      .where(F.col(idCol).isNotNull)
      .select(F.col(idCol).as("__u"),
        F.explode(wordTokens(F.col(textCol))).as("__w"))
      .distinct()
    val perSpecies = pairs.groupBy("__w")
      .agg(F.count(F.lit(1)).as("__q"))
    val m = perSpecies.agg(
      F.count(F.lit(1)).as("s"),
      F.sum(F.when(F.col("__q") === 1L, 1L).otherwise(0L)).as("q1"),
      F.sum(F.when(F.col("__q") === 2L, 1L).otherwise(0L)).as("q2"))
      .head()
    val n = pairs.select(F.countDistinct(F.col("__u"))).head().getLong(0)
    require(n >= 2L, "need at least two sampling units")
    val s = m.getAs[Long]("s")
    val q1 = m.getAs[Long]("q1"); val q2 = m.getAs[Long]("q2")
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    val nD = n.toDouble
    val jack1 = s + q1 * (nD - 1.0) / nD
    val jack2 = s + q1 * (2.0 * nD - 3.0) / nD -
      q2 * (nD - 2.0) * (nD - 2.0) / (nD * (nD - 1.0))
    Seq((n, s, q1, q2, r6(jack1), r6(jack2)))
      .toDF("n_units", "s_obs", "q1", "q2", "jack1", "jack2")
  }

  /** BM25 relevance of every document against a fixed query-term set,
    * top-k — the retrieval primitive of corpus curation ("pull the
    * documents most about X for review / targeted dedup / eval-set
    * mining"): the Lucene-shape Okapi BM25,
    *
    *   score(d) = Σ_{t∈q} ln(1 + (N − df_t + ½)/(df_t + ½)) ·
    *              tf·(k₁+1) / (tf + k₁·(1 − b + b·dl/avgdl))
    *
    * Scale shape: ONE token explode feeds both the per-doc lengths
    * and the per-(doc, query-term) tf counts (non-query tokens never
    * shuffle for tf — an isin literal prunes them map-side); df_t is
    * a |q|-bounded broadcast, corpus length stats one scalar frame;
    * the ranking is a TakeOrdered top-k on the 6-ROUNDED score with
    * the id as tie-break. Inputs stay exact integers until the final
    * formula.
    *
    * @return topK rows: (idCol, n_terms_matched, score) */
  def bm25TopK(df: DataFrame, idCol: String, textCol: String,
               terms: Seq[String], topK: Int, k1: Double = 1.2,
               b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "need at least one query term")
    val lower = terms.map(_.toLowerCase)
    require(lower.distinct.length == lower.length, "duplicate query term")
    require(topK >= 1, "topK must be >= 1")
    require(k1 > 0.0 && b >= 0.0 && b <= 1.0, "k1 > 0, b in [0,1]")
    val toks = df
      .where(F.col(idCol).isNotNull && F.col(textCol).isNotNull)
      .select(F.col(idCol).as("id"),
        F.explode(wordTokens(F.col(textCol))).as("w"))
    val dls = toks.groupBy("id").agg(F.count(F.lit(1)).as("dl"))
    val corpus = dls.agg(F.count(F.lit(1)).as("nd"),
      F.sum("dl").as("tt"))
    val tf = toks.where(F.col("w").isin(lower: _*))
      .groupBy("id", "w").agg(F.count(F.lit(1)).as("tf"))
    val dfT = tf.groupBy("w").agg(F.count(F.lit(1)).as("df"))
    val scored = tf
      .join(F.broadcast(dfT), "w")
      .join(dls, "id")
      .crossJoin(F.broadcast(corpus))
    val nD = F.col("nd").cast("double")
    val avgdl = F.col("tt").cast("double") / F.col("nd")
    val idf = F.log(F.lit(1.0) +
      (nD - F.col("df") + 0.5) / (F.col("df") + 0.5))
    val tfD = F.col("tf").cast("double")
    val term = idf * (tfD * (k1 + 1.0)) /
      (tfD + F.lit(k1) * (F.lit(1.0) - b + F.lit(b) * F.col("dl")
        / avgdl))
    scored
      .groupBy("id")
      .agg(F.count(F.lit(1)).as("n_terms_matched"),
        F.round(F.sum(term), 6).as("score"))
      .orderBy(F.col("score").desc, F.col("id").asc)
      .limit(topK)
      .select(F.col("id").as(idCol), F.col("n_terms_matched"),
        F.col("score"))
  }

  /** Moore–Lewis cross-entropy-difference data selection (Moore &
    * Lewis 2010) — THE classic "pull the most in-domain documents out
    * of a huge general pool" primitive of LLM data curation: score
    * every pool document by its mean per-token log-likelihood RATIO
    * under two add-one-smoothed unigram LMs,
    *
    *   score(d) = (1/|d|) Σ_{t∈d} [ln p_target(t) − ln p_pool(t)],
    *   p_slice(t) = (c_t + 1) / (N_slice + V_union)
    *
    * — high score = reads like the target corpus; take the top-k as
    * the selected training slice.
    *
    * Scale shape: two token-count aggregations meet in ONE
    * vocabulary-bounded full-outer join (the LM table), the pool
    * tokens join it on the word key, one per-doc fold, TakeOrdered
    * top-k on the 6-ROUNDED score with the id tie-break. Counts stay
    * exact Longs; corpus totals are two scalars.
    *
    * @return topK rows: (idCol, n_tokens, score) */
  def mooreLewisSelect(dfTarget: DataFrame, dfPool: DataFrame,
                       idCol: String, textCol: String,
                       topK: Int): DataFrame = Persisted { scope =>
    require(topK >= 1, "topK must be >= 1")
    def toks(df: DataFrame) = df
      .where(F.col(idCol).isNotNull && F.col(textCol).isNotNull)
      .select(F.col(idCol).as("id"),
        F.explode(wordTokens(F.col(textCol))).as("w"))
    val tPool = toks(dfPool)
    val cTgt = toks(dfTarget).groupBy("w")
      .agg(F.count(F.lit(1)).as("ct"))
    val cPool = tPool.groupBy("w").agg(F.count(F.lit(1)).as("cp"))
    val vocab = scope.checkpoint(cTgt.join(cPool, Seq("w"), "full_outer")
      .select(F.col("w"),
        F.coalesce(F.col("ct"), F.lit(0L)).as("ct"),
        F.coalesce(F.col("cp"), F.lit(0L)).as("cp")))
    val tot = vocab.agg(F.sum("ct").as("nt"), F.sum("cp").as("np"),
      F.count(F.lit(1)).as("v")).head()
    val nt = tot.getAs[Long]("nt"); val np = tot.getAs[Long]("np")
    val v = tot.getAs[Long]("v")
    require(nt > 0L && np > 0L, "both corpora need tokens")
    val lr = vocab.select(F.col("w"),
      (F.log((F.col("ct") + 1L).cast("double") /
        F.lit((nt + v).toDouble)) -
        F.log((F.col("cp") + 1L).cast("double") /
          F.lit((np + v).toDouble))).as("lr"))
    tPool.join(lr, "w")
      .groupBy("id")
      .agg(F.count(F.lit(1)).as("n_tokens"),
        F.round(F.sum(F.col("lr")) / F.count(F.lit(1)), 6).as("score"))
      .orderBy(F.col("score").desc, F.col("id").asc)
      .limit(topK)
      .select(F.col("id").as(idCol), F.col("n_tokens"),
        F.col("score"))
  }

  /** Out-of-vocabulary rate per document against a REFERENCE slice's
    * top-V vocabulary — the tokenizer-coverage screen ("how much of
    * this candidate corpus would a tokenizer trained on slice A spell
    * out as unknowns"; high OOV → domain mismatch or junk). The vocab
    * is the reference's top V tokens by (count DESC, token ASC — the
    * deterministic head discipline), built once and broadcast; corpus
    * tokens LEFT-join it, so the row-scale side never shuffles on the
    * vocabulary. Documents with zero tokens are omitted.
    *
    * @return one row per corpus doc: (idCol, n_tokens, n_oov,
    *         oov_rate 6-rounded) */
  def oovRate(corpus: DataFrame, ref: DataFrame, idCol: String,
              textCol: String, topV: Int = 1000): DataFrame = {
    require(topV >= 1, "topV must be >= 1")
    val refTok = ref
      .where(F.col(textCol).isNotNull)
      .select(F.explode(wordTokens(F.col(textCol))).as("w"))
      .groupBy("w").agg(F.count(F.lit(1)).as("c"))
    // TakeOrdered head, never a global sort — the deterministic
    // (count DESC, token ASC) top-V
    val vocab = refTok
      .orderBy(F.col("c").desc, F.col("w").asc)
      .limit(topV)
      .select(F.col("w"), F.lit(true).as("__in"))
    val corpusTok = corpus
      .where(F.col(idCol).isNotNull && F.col(textCol).isNotNull)
      .select(F.col(idCol).as("__id"),
        F.explode(wordTokens(F.col(textCol))).as("w"))
    corpusTok.join(F.broadcast(vocab), Seq("w"), "left")
      .groupBy("__id")
      .agg(F.count(F.lit(1)).as("n_tokens"),
        F.sum(F.when(F.col("__in").isNull, 1L).otherwise(0L))
          .as("n_oov"))
      .withColumn("oov_rate", F.round(
        F.col("n_oov").cast("double") / F.col("n_tokens"), 6))
      .select(F.col("__id").as(idCol), F.col("n_tokens"),
        F.col("n_oov"), F.col("oov_rate"))
  }
}
