package graft.operators

import org.apache.spark.sql.{Column, DataFrame, functions => F}

/** Benchmark decontamination: find (and drop) training documents that
  * share token n-grams with an evaluation/benchmark set, the standard
  * n-gram-overlap hygiene step before LLM pretraining.
  *
  * Scale design (the asymmetry is the whole trick): benchmark suites are
  * megabytes while the corpus is terabytes, so the benchmark's distinct
  * n-gram set is built once and BROADCAST — corpus n-grams are generated
  * per-row by codegen'd array expressions, filtered against the broadcast
  * hash relation where the document lives, and only the surviving
  * (id, gram) matches — a near-empty set on clean data — ever reach a
  * shuffle. No corpus-sized exchange exists in the plan at any SF.
  */
object Decontam {

  /** Lowercased whitespace-token n-grams of a text column. Documents
    * shorter than `n` tokens contribute no n-grams.
    *
    * A compact UDF over the shared [[Dedup.tokenNgrams]] kernel
    * (one gram definition across decontamination and duplicated-span
    * detection), not a Catalyst HOF chain: the equivalent
    * `transform(sequence, i -> array_join(slice(...)))` is interpreted
    * (HOFs are CodegenFallback) and measured 9× slower on the sf0.1
    * corpus (2.8 s vs 0.3 s for the same 236K grams, identical output). */
  def gramsCol(textCol: Column, n: Int): Column = {
    val udf = F.udf((t: String) => Dedup.tokenNgrams(t, n))
    udf(textCol)
  }

  /** Per-document contamination report: corpus documents sharing at least
    * one token n-gram with any benchmark document, with total and
    * distinct matched-gram counts. Clean documents produce no row.
    *
    * @return (id, n_hits, n_uniq_grams) */
  def contaminationReport(corpus: DataFrame, benchmark: DataFrame,
                          idCol: String, textCol: String,
                          n: Int = 8): DataFrame = {
    val benchGrams = benchmark
      .select(F.explode(gramsCol(F.col(textCol), n)).as("gram"))
      .distinct()
    corpus
      .select(F.col(idCol).as("id"),
        F.explode(gramsCol(F.col(textCol), n)).as("gram"))
      .join(F.broadcast(benchGrams), "gram")
      .groupBy("id")
      .agg(F.count(F.lit(1)).as("n_hits"),
        F.count_distinct(F.col("gram")).as("n_uniq_grams"))
  }

  /** Corpus rows that survive decontamination: no token n-gram shared
    * with the benchmark set. The broadcast filter runs map-side; the
    * left-anti join shuffles only the contaminated id list. */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
                    idCol: String, textCol: String, n: Int = 8): DataFrame = {
    val dirty = contaminationReport(corpus, benchmark, idCol, textCol, n)
      .select(F.col("id").as(idCol))
    corpus.join(F.broadcast(dirty), Seq(idCol), "left_anti")
  }

  /** Near-verbatim contamination — the fuzzy tier above exact n-gram
    * overlap. Benchmark text that leaked into training data with small
    * edits (tokenizer noise, punctuation drift, light paraphrase) defeats
    * exact 8-gram matching as soon as every gram crosses an edit, so:
    * candidates come from a SHORTER shared k-gram (map-side filter
    * against the broadcast benchmark gram set — same asymmetry as the
    * exact tier), boilerplate grams are dropped by a stop-gram cap
    * (a gram in > maxGramDocs corpus docs is uninformative and would
    * explode the pair set), and each surviving (corpus doc, benchmark
    * doc) pair is verified with Levenshtein distance over normalized
    * text prefixes. The O(len²) exact check touches only the near-empty
    * candidate stream — never the corpus — so the plan stays
    * broadcast-join-shaped at any corpus size.
    *
    * @param k            candidate gram length (< the exact tier's n)
    * @param maxGramDocs  stop-gram cap on corpus document frequency
    * @param prefixChars  normalized prefix length compared
    * @param maxEditRatio contaminated ⇔ dist ≤ ratio · max(lenA, lenB)
    * @return (id, bench_id, edit_dist, len_a, len_b, is_contaminated) */
  def fuzzyContaminationReport(corpus: DataFrame, benchmark: DataFrame,
                               idCol: String, textCol: String,
                               k: Int = 5, maxGramDocs: Long = 50,
                               prefixChars: Int = 400,
                               maxEditRatio: Double = 0.2): DataFrame = {
    def norm(c: Column): Column =
      F.trim(F.regexp_replace(F.lower(F.coalesce(c, F.lit(""))), "\\s+", " "))
    val cg = corpus.select(F.col(idCol).as("id"),
      F.explode(gramsCol(F.col(textCol), k)).as("gram"))
    val bg = benchmark.select(F.col(idCol).as("bench_id"),
      F.explode(gramsCol(F.col(textCol), k)).as("gram")).distinct()
    // matched corpus grams only (map-side broadcast filter), then the
    // stop-gram cap over that small stream — the df agg shuffles gram
    // keys of MATCHED grams, bounded by the benchmark's gram count
    val mg = cg.join(F.broadcast(bg.select("gram").distinct()), "gram")
    val keep = mg.groupBy("gram")
      .agg(F.count_distinct(F.col("id")).as("df"))
      .where(F.col("df") <= maxGramDocs).select("gram")
    val pairs = mg.join(F.broadcast(keep), "gram")
      .join(F.broadcast(bg), "gram")
      .select("id", "bench_id").distinct()
    val cPre = corpus.select(F.col(idCol).as("id"),
      F.substring(norm(F.col(textCol)), 1, prefixChars).as("ca"))
    val bPre = benchmark.select(F.col(idCol).as("bench_id"),
      F.substring(norm(F.col(textCol)), 1, prefixChars).as("cb"))
    pairs.join(cPre, "id").join(F.broadcast(bPre), "bench_id")
      .select(F.col("id"), F.col("bench_id"),
        F.levenshtein(F.col("ca"), F.col("cb")).as("edit_dist"),
        F.length(F.col("ca")).as("len_a"),
        F.length(F.col("cb")).as("len_b"))
      .withColumn("is_contaminated",
        F.col("edit_dist") <=
          F.lit(maxEditRatio) * F.greatest(F.col("len_a"), F.col("len_b")))
  }

  /** [[contaminationReport]] for benchmark suites too large to broadcast
    * as strings: a Bloom filter over the benchmark's distinct n-grams
    * (~12 bits/gram at fpp 1% — 50-100× smaller than the gram strings)
    * prunes corpus grams MAP-SIDE, and only the tiny bloom-survivor
    * stream reaches the exact verification join that removes false
    * positives. The output is therefore EXACTLY the exact report — the
    * bloom changes the plan, never the answer — which is what makes the
    * scale path hash-checkable against the plain n-gram-join oracle.
    *
    * At 100 TB: a 100M-gram benchmark is a ~150 MB bloom (broadcastable)
    * vs ~10 GB of gram strings (not); corpus grams stay codegen'd and
    * unshuffled; the verify join's inputs are the matches-plus-fpp
    * stream and the benchmark grams, both ≪ corpus.
    *
    * @return (id, n_hits, n_uniq_grams), identical to contaminationReport */
  def bloomContaminationReport(corpus: DataFrame, benchmark: DataFrame,
                               idCol: String, textCol: String,
                               n: Int = 8, fpp: Double = 0.01): DataFrame = Persisted { scope =>
    // cached for the two driver actions, count + bloom build; the verify
    // join below recomputes the benchmark-sized gram set from lineage
    // instead of pinning blocks for the caller's whole session
    val benchGrams = scope.cache(benchmark
      .select(F.explode(gramsCol(F.col(textCol), n)).as("gram"))
      .distinct())
    val nGrams = math.max(benchGrams.count(), 1L)
    val bf = benchGrams.stat.bloomFilter("gram", nGrams, fpp)
    val bfB = corpus.sparkSession.sparkContext.broadcast(bf)
    val mightContain = F.udf((g: String) => bfB.value.mightContain(g))
    corpus
      .select(F.col(idCol).as("id"),
        F.explode(gramsCol(F.col(textCol), n)).as("gram"))
      .where(mightContain(F.col("gram")))
      .join(benchGrams, "gram") // exact verify: drops bloom false positives
      .groupBy("id")
      .agg(F.count(F.lit(1)).as("n_hits"),
        F.count_distinct(F.col("gram")).as("n_uniq_grams"))
  }

  /** EMBEDDING-space decontamination — the semantic rung above the
    * n-gram/bloom/fuzzy lexical screens (a paraphrased benchmark item
    * shares no 8-gram but sits at cosine ≈ 1): every corpus vector is
    * scored against the WHOLE benchmark set for its max cosine, and
    * flagged when it clears `threshold`.
    *
    * The same asymmetry as the lexical screens does the work: the bench
    * set is small (and LOUDLY bounded — the collect caps at maxBench+1
    * rows, same discipline as nearDupPairsExact), normalized once and
    * broadcast; each corpus row scores against it in primitive-array
    * loops — one embarrassingly-parallel map over the corpus, no
    * shuffle, no join. Folds run dimension-ascending from 0.0 (the
    * list_reduce replay shape); argmax ties keep the smallest bench id.
    *
    * @return one row per corpus vector: (id, bench_id, max_cosine
    *         6-rounded, contaminated) */
  def decontamEmbedding(corpus: DataFrame, bench: DataFrame,
                        embCol: String, idCol: String,
                        threshold: Double = 0.9,
                        maxBench: Int = 65536): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      "threshold must be in (0,1]")
    require(maxBench >= 1, "maxBench must be >= 1")
    val spark = corpus.sparkSession
    import spark.implicits._
    val capped = bench.select(F.col(idCol).cast("long"), F.col(embCol))
      .limit(maxBench + 1).as[(Long, Array[Float])].collect()
    require(capped.nonEmpty, "empty benchmark set")
    require(capped.length <= maxBench,
      s"benchmark set exceeds maxBench=$maxBench rows; sample it (or " +
        "raise maxBench) — the bench side broadcasts whole")
    // loud-guard contract (matches the lexical screens): one uniform
    // embedding dimension, no zero-norm vectors — a zero norm would
    // silently emit NaN cosines and a short/long corpus vector would
    // truncate or throw deep in the executor loop otherwise
    val dim = capped.head._2.length
    capped.foreach { case (id, e) =>
      require(e != null && e.length == dim,
        s"bench embedding $id has dimension " +
          s"${if (e == null) "null" else e.length}, expected $dim — " +
          "all bench vectors must share one dimension")
      require(e.exists(_ != 0.0f),
        s"bench embedding $id has zero norm — cosine is undefined; " +
          "drop or re-embed it")
    }
    val bNorm = capped.sortBy(_._1).map { case (id, e) =>
      var ss = 0.0; var i = 0
      while (i < e.length) { ss += e(i).toDouble * e(i).toDouble; i += 1 }
      val n = math.sqrt(ss)
      (id, e.map(_.toDouble / n))
    }
    val bc = spark.sparkContext.broadcast(bNorm)
    val scoreUdf = F.udf((e: Seq[Float]) => {
      val arr = e.toArray
      require(arr.length == dim,
        s"corpus embedding has dimension ${arr.length}, expected " +
          s"$dim (the benchmark dimension)")
      var ss = 0.0; var i = 0
      while (i < arr.length) { ss += arr(i).toDouble * arr(i).toDouble; i += 1 }
      val n = math.sqrt(ss)
      require(n > 0.0, "corpus embedding has zero norm — cosine is " +
        "undefined; filter zero vectors upstream")
      val q = arr.map(_.toDouble / n)
      var bestId = -1L; var best = Double.NegativeInfinity
      bc.value.foreach { case (id, be) =>
        var d = 0.0; var j = 0
        while (j < q.length) { d += q(j) * be(j); j += 1 }
        // strict > keeps the smallest bench id on exact ties (sorted)
        if (d > best) { best = d; bestId = id }
      }
      (bestId, math.rint(best * 1e6) / 1e6)
    })
    corpus
      .where(F.col(idCol).isNotNull && F.col(embCol).isNotNull)
      .select(F.col(idCol).cast("long").as("id"), F.col(embCol).as("__e"))
      .withColumn("__s", scoreUdf(F.col("__e")))
      .select(F.col("id"), F.col("__s._1").as("bench_id"),
        F.col("__s._2").as("max_cosine"),
        (F.col("__s._2") >= threshold).as("contaminated"))
  }
}
