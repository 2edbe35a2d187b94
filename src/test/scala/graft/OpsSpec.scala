package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.{SparkSession, functions => F}
import graft.operators._

/** Tests for the training-data pipeline operators (dedup, text analysis,
  * similarity search, multimodal plumbing). */
class OpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-ops-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  import scala.jdk.CollectionConverters._

  private def docsDf(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("bpeMerges reproduces the classic Sennrich example") {
    import spark.implicits._
    // vocab {low:5, lower:2, newest:6, widest:3} — the worked example
    // from the BPE paper: merges are (e,s,9), (es,t,9), (l,o,7)
    val words = Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")
    val df = words.zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("doc_id", "text")
    val merges = TextOps.bpeMerges(df, "doc_id", "text", numMerges = 3)
      .orderBy("merge_rank").collect()
    val got = merges.map(r => (r.getAs[String]("left"),
      r.getAs[String]("right"), r.getAs[Long]("n"))).toSeq
    assert(got == Seq(("e", "s", 9L), ("es", "t", 9L), ("l", "o", 7L)))
    // pair counts agree with the round-1 statistics op on the same data
    val top = TextOps.bpePairCounts(df, "doc_id", "text", 2).collect()
    assert(top.head.getAs[String]("pair") == "es" &&
      top.head.getAs[Long]("n") == 9L)
  }

  test("bpeMerges stops early when no pair clears minPairCount") {
    import spark.implicits._
    val df = Seq((1L, "ab cd"), (2L, "ef gh")).toDF("doc_id", "text")
    // every pair occurs once; minPairCount=2 → zero merges learned
    val merges = TextOps.bpeMerges(df, "doc_id", "text", numMerges = 5)
    assert(merges.count() == 0L)
  }

  test("bigramLogProb matches a hand-computed interpolated model") {
    import spark.implicits._
    val corpus = Seq((1L, "a b a b"), (2L, "a b c")).toDF("doc_id", "text")
    val slice = corpus.where($"doc_id" === 2L)
    val out = TextOps.bigramLogProb(corpus, slice, "doc_id", "text")
      .collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("n_bigrams") == 2L)
    // big: "a b"→3, "b c"→1; margins a→3, b→1+1=2; uni a:3 b:3 c:1 T=7
    val pAb = 0.7 * 3.0 / 3.0 + 0.3 * 3.0 / 7.0
    val pBc = 0.7 * 1.0 / 2.0 + 0.3 * 1.0 / 7.0
    val want = (math.log(pAb) + math.log(pBc)) / 2.0
    assert(math.abs(r.getAs[Double]("mean_logprob") - want) < 1e-6,
      s"got ${r.getAs[Double]("mean_logprob")}, want $want")
    // a one-token doc contributes no row
    val single = Seq((3L, "a")).toDF("doc_id", "text")
    assert(TextOps.bigramLogProb(corpus, single, "doc_id", "text")
      .count() == 0L)
  }

  test("containmentPairs flags doc-contained-in-doc that Jaccard misses") {
    import spark.implicits._
    val big = (1 to 20).map(i => s"w$i").mkString(" ")
    val sub = (5 to 12).map(i => s"w$i").mkString(" ")  // embedded in big
    val other = (1 to 10).map(i => s"u$i").mkString(" ")
    val df = Seq((1L, big), (2L, sub), (3L, other)).toDF("doc_id", "text")
    val pairs = Dedup.containmentPairs(df, "doc_id", "text", n = 3,
      threshold = 0.5, maxShingleFreq = 100).collect()
    assert(pairs.length == 1)
    val p = pairs.head
    assert(p.getAs[Long]("id_a") == 1L && p.getAs[Long]("id_b") == 2L)
    assert(p.getAs[Long]("size_a") == 18L && p.getAs[Long]("size_b") == 6L)
    assert(p.getAs[Long]("shared") == 6L)
    assert(math.abs(p.getAs[Double]("c_b") - 1.0) < 1e-12)
    assert(math.abs(p.getAs[Double]("c_a") - 6.0 / 18.0) < 1e-12)
    // plain Jaccard on the same pair is 6/18 ≈ 0.33 — under any
    // normal dedup threshold; containment is the signal here
  }

  test("rankInverseTransform: plotting positions through the exact ppf") {
    import spark.implicits._
    val df = (1 to 100).map(i => (i.toLong, i.toDouble)).toDF("id", "v")
    val out = Ranks.rankInverseTransform(df, "v", "expon", Seq(0.0, 1.0))
      .orderBy("id").collect()
    out.foreach { r =>
      val i = r.getAs[Long]("id").toDouble
      val u = (i - 0.5) / 100.0
      assert(math.abs(r.getAs[Double]("u") - u) < 1e-12)
      assert(math.abs(r.getAs[Double]("transformed") - (-math.log1p(-u))) < 1e-9)
    }
    // ties share a min-rank and therefore a transform value
    val tied = Seq(1.0, 2.0, 2.0, 3.0).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    val tv = Ranks.rankInverseTransform(tied, "v", "norm", Seq(0.0, 1.0))
      .where($"v" === 2.0).select("transformed").collect()
      .map(_.getDouble(0))
    assert(tv.length == 2 && tv(0) == tv(1))
  }

  test("skewReport computes exact key-distribution diagnostics") {
    import spark.implicits._
    val rows = Seq.fill(80)("hot") ++ (1 to 20).map(i => s"k$i")
    val df = rows.zipWithIndex.map { case (k, i) => (k, i) }.toDF("k", "x")
      .repartition(4)
    val r = SkewJoin.skewReport(df, Seq("k"), partitions = 10).head()
    assert(r.getAs[Long]("n_keys") == 21L)
    assert(r.getAs[Long]("n_rows") == 100L)
    assert(r.getAs[Long]("max_cnt") == 80L)
    assert(r.getAs[Double]("p50_cnt") == 1.0)
    assert(math.abs(r.getAs[Double]("skew_ratio") - 16.8) < 1e-9)
    assert(r.getAs[Long]("salt_suggest") == 8L)
    // approx variant keeps the schema and lands on the same integers
    val ra = SkewJoin.skewReport(df, Seq("k"), partitions = 10,
      exact = false).head()
    assert(ra.getAs[Long]("max_cnt") == 80L &&
      ra.getAs[Long]("salt_suggest") == 8L)
  }

  test("flagByGroup scores outliers against their OWN group's median/MAD") {
    import spark.implicits._
    // group a: tight around 10 with one spike; group b: tight around
    // 1000 — a value of 50 is an outlier in a, unremarkable scale-wise
    // only relative to b
    val rows = (1 to 20).map(i => ("a", 10.0 + (i % 5) * 0.5)) ++
      Seq(("a", 50.0)) ++
      (1 to 20).map(i => ("b", 1000.0 + (i % 5) * 20.0)) ++ Seq(("b", 1040.0))
    val df = rows.zipWithIndex.map { case ((g, v), i) => (i.toLong, g, v) }
      .toDF("id", "g", "v")
    val out = Outliers.flagByGroup(df, "v", Seq("g"), threshold = 3.5)
    val flagged = out.where(F.col("is_outlier")).collect()
    assert(flagged.length == 1)
    assert(flagged.head.getAs[String]("g") == "a" &&
      flagged.head.getAs[Double]("v") == 50.0)
    // b's 1040 is within b's own spread — not flagged
    assert(out.where($"v" === 1040.0).head().getAs[Boolean]("is_outlier") == false)
  }

  test("tfidfCosinePairs finds template near-dups and honors the df cap") {
    import spark.implicits._
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon eta"),   // near-dup of 1
      (3L, "totally different words here entirely now"),
      (4L, "common common common filler filler filler")).toDF("doc_id", "text")
    val pairs = TextOps.tfidfCosinePairs(df, "doc_id", "text",
      threshold = 0.5, maxDf = 100).collect()
    assert(pairs.length == 1)
    assert(pairs.head.getAs[Long]("id_a") == 1L &&
      pairs.head.getAs[Long]("id_b") == 2L)
    assert(pairs.head.getAs[Double]("cosine") > 0.6)
    // a df cap of 1 drops every shared token → no pairs at all
    assert(TextOps.tfidfCosinePairs(df, "doc_id", "text",
      threshold = 0.1, maxDf = 1).count() == 0L)
  }

  test("hits separates hubs from authorities on a known graph") {
    import spark.implicits._
    // h1, h2 both point at x; h1 also points at y. After convergence
    // h1 is the stronger hub, x the stronger authority.
    val e = Seq(("h1", "x"), ("h2", "x"), ("h1", "y")).toDF("src", "dst")
    val out = Graph.hits(e, "src", "dst", iters = 4)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Double]("hub"), r.getAs[Double]("authority"))).toMap
    assert(out("h1")._1 > out("h2")._1)
    assert(out("x")._2 > out("y")._2)
    // pure hubs carry no authority; pure authorities no hub mass
    assert(out("h1")._2 == 0.0 && out("x")._1 == 0.0)
    // unit 2-norms after the final normalization steps
    val hubNorm = out.values.map(v => v._1 * v._1).sum
    val authNorm = out.values.map(v => v._2 * v._2).sum
    assert(math.abs(hubNorm - 1.0) < 1e-9)
    assert(math.abs(authNorm - 1.0) < 1e-9)
  }

  test("fuzzyJoinBlocked links within blocks and honors the freq cap") {
    import spark.implicits._
    val left = Seq((1L, "jon smith", "smith"), (2L, "john smith", "smith"),
      (3L, "jane doe", "doe")).toDF("id", "key", "block")
    val right = Seq((10L, "john smith", "smith"), (11L, "joan doe", "doe"),
      (12L, "zzz qqq", "qqq")).toDF("id", "key", "block")
    val out = Dedup.fuzzyJoinBlocked(left, right, maxDistance = 2)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Long]("distance"))).toSet
    // jon→john d=1, john→john d=0, jane→joan d=2; zzz has no block peer
    assert(out == Set((1L, 10L, 1L), (2L, 10L, 0L), (3L, 11L, 2L)))
    // a degenerate block above the cap is dropped on both sides
    val hot = (1 to 50).map(i => (100L + i, s"k$i", "hot")).toDF("id", "key", "block")
    assert(Dedup.fuzzyJoinBlocked(hot, hot, maxDistance = 5,
      maxBlockFreq = 10).count() == 0L)
  }

  test("pageRank matches a hand-iterated small graph") {
    import spark.implicits._
    // a→b, c→b, b→a; r₀=1:
    //   it1: r(b)=0.15+0.85·2=1.85, r(a)=0.15+0.85·1=1.0, r(c)=0.15
    //   it2: r(b)=0.15+0.85·(1.0+0.15)=1.1275, r(a)=0.15+0.85·1.85=1.7225
    val e = Seq(("a", "b"), ("c", "b"), ("b", "a")).toDF("src", "dst")
    val r = Graph.pageRank(e, "src", "dst", iters = 2)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(math.abs(r("b") - 1.1275) < 1e-12)
    assert(math.abs(r("a") - 1.7225) < 1e-12)
    assert(math.abs(r("c") - 0.15) < 1e-12)
  }

  test("esWeightedSample: exact k, deterministic, weight-responsive") {
    import spark.implicits._
    val df = ((1 to 100).map(i => (i.toLong, 100L)) ++
      (101 to 200).map(i => (i.toLong, 1L))).toDF("id", "w")
    val s1 = Sampling.esWeightedSample(df, "w", "id", k = 50)
      .select("id").collect().map(_.getLong(0)).sorted
    val s2 = Sampling.esWeightedSample(df, "w", "id", k = 50)
      .select("id").collect().map(_.getLong(0)).sorted
    assert(s1.length == 50 && s1.sameElements(s2))
    // heavy items (weight 100) should dominate a 50-of-200 sample
    assert(s1.count(_ <= 100) > 40, s"heavy picks: ${s1.count(_ <= 100)}")
    // the key formula replays from the md5 draw exactly
    val row = Sampling.esWeightedSample(df, "w", "id", k = 200)
      .where($"id" === 7L).head()
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest("7".getBytes("UTF-8")).take(4)
      .map(b => f"${b & 0xff}%02x").mkString
    val u = (java.lang.Long.parseLong(hex, 16).toDouble + 1.0) / 4294967296.0
    assert(math.abs(row.getAs[Double]("es_key") - (-math.log(u) / 100.0)) < 1e-15)
  }

  test("jacobiEigSym: pinned symmetric 2x2 with canonical signs") {
    val (values, vectors) = Pca.jacobiEigSym(
      Array(Array(2.0, 1.0), Array(1.0, 2.0)))
    assert(math.abs(values(0) - 3.0) < 1e-12)
    assert(math.abs(values(1) - 1.0) < 1e-12)
    val s = 1.0 / math.sqrt(2.0)
    assert(math.abs(vectors(0)(0) - s) < 1e-12 &&
      math.abs(vectors(0)(1) - s) < 1e-12)
    assert(math.abs(math.abs(vectors(1)(0)) - s) < 1e-12 &&
      math.abs(vectors(1)(0) + vectors(1)(1)) < 1e-12)
  }

  test("Pca recovers a planted 2D subspace and projects consistently") {
    import spark.implicits._
    val d = 6
    val v1 = Array(1.0, 1.0, 1.0, 1.0, 1.0, 1.0).map(_ / math.sqrt(6.0))
    val v2 = Array(1.0, -1.0, 1.0, -1.0, 1.0, -1.0).map(_ / math.sqrt(6.0))
    // 442 = 2·17·13 rows — full periods, so the two planted factors are
    // exactly uncorrelated and the principal axes are v1/v2 up to the
    // float32 storage rounding
    val rows = (0 until 442).map { i =>
      val a = ((i % 17) - 8).toDouble * 10.0
      val b = (((i * 7) % 13) - 6).toDouble * 2.0
      (i.toLong, Array.tabulate(d)(k => (a * v1(k) + b * v2(k)).toFloat).toSeq)
    }
    val df = rows.toDF("vec_id", "embedding")
    val m = Pca.fit(df, "embedding")
    assert(m.n == 442 && m.dim == d)
    assert(m.explainedVariance(2) > 0.999999)
    val cos1 = m.components(0).zip(v1).map { case (x, y) => x * y }.sum
    assert(math.abs(math.abs(cos1) - 1.0) < 1e-5, s"cos1=$cos1")
    // projection column variance equals the eigenvalue it belongs to
    val varP = df.select(m.projection(F.col("embedding"), 0).as("p"))
      .agg(F.var_pop(F.col("p"))).head().getDouble(0)
    assert(math.abs(varP / m.eigenvalues(0) - 1.0) < 1e-9)
    // deterministic: a second fit reproduces the basis bit-for-bit
    val m2 = Pca.fit(df, "embedding")
    assert(m.components(0).sameElements(m2.components(0)))
    assert(m.eigenvalues.sameElements(m2.eigenvalues))
  }

  test("exact dedup keeps min id per distinct text") {
    val df = docsDf(Seq(
      (1L, "hello world"), (2L, "hello world"), (3L, "goodbye"),
      (7L, "hello world"), (4L, "goodbye"), (5L, "unique text")))
    val survivors = Dedup.exactSurvivors(df, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(survivors.sameElements(Array(1L, 3L, 5L)))
    val groups = Dedup.exact(df, "doc_id", "text").collect()
    assert(groups.length == 3)
    assert(groups.map(_.getAs[Long]("n_copies")).sum == 6)
  }

  test("ksTwoSampleSketch: estimate lands inside the KLL+grid bound") {
    import spark.implicits._
    val a = (1 to 20000).map(i => ("a", i.toDouble))
    val b = (1 to 20000).map(i => ("b", i.toDouble + 2000.0)) // D = 0.1
    val df = (a ++ b).toDF("g", "v").repartition(16)
    val r = operators.Drift.ksTwoSampleSketch(df, "g", "v").head()
    assert(math.abs(r.getAs[Double]("ks_est") - 0.1) <= 0.02,
      s"sketch KS ${r.getAs[Double]("ks_est")} outside the error bound")
    assert(r.getAs[Long]("n_a") == 20000 && r.getAs[Long]("n_b") == 20000)
    // the sketch-pair form (shard-union use case) lands in the same
    // bound — not bit-equal: KLL compaction is randomized, so two build
    // paths (single-pass pair vs per-cohort) legitimately differ by ulps
    // of rank error while both honoring the guarantee
    val ska = operators.Sketches.kllSketch(df.where($"g" === "a"), "v")
    val skb = operators.Sketches.kllSketch(df.where($"g" === "b"), "v")
    val d2 = operators.Drift.ksFromSketches(ska, skb)
    assert(math.abs(d2 - 0.1) <= 0.02, s"sketch-pair KS $d2 outside bound")
  }

  test("sketch KS significance: p tracks the exact construction; labels parameterized") {
    import spark.implicits._
    // shifted uniforms sized so t = √nEff·D ≈ 1 → p lands mid-range
    // (~0.27), where a broken p computation can't hide behind 0 or 1;
    // a foreign "z" cohort must be ignored by contract, not sketched
    val n = 2000
    val a = (1 to n).map(i => ("u", i.toDouble))
    val b = (1 to n).map(i => ("w", i.toDouble + 63.0))
    val noise = (1 to 500).map(i => ("z", 1e9 + i.toDouble))
    val df = (a ++ b ++ noise).toDF("g", "v").repartition(8)
    val ex = operators.Drift.ksTwoSample(df, "g", "v",
      labelA = "u", labelB = "w").head()
    val dEx = ex.getAs[Double]("ks_d"); val pEx = ex.getAs[Double]("p_value")
    assert(ex.getAs[Long]("n_a") == n && ex.getAs[Long]("n_b") == n,
      "foreign labels must not count toward either cohort")
    assert(math.abs(dEx - 63.0 / n) < 1e-12, s"D=$dEx")
    assert(pEx > 0.05 && pEx < 0.9, s"p=$pEx")
    val sk = operators.Drift.ksTwoSampleSketch(df, "g", "v",
      labelA = "u", labelB = "w").head()
    assert(sk.getAs[Long]("n_a") == n && sk.getAs[Long]("n_b") == n)
    assert(math.abs(sk.getAs[Double]("ks_est") - dEx) <= 0.02)
    // p̂ must land inside the p-band the d-tolerance implies
    // (kolmogorovSf is decreasing in D, so the band brackets exactly)
    val nEff = n.toDouble * n / (2.0 * n)
    val lo = functions.SpecialMath.kolmogorovSf(math.sqrt(nEff) * (dEx + 0.02))
    val hi = functions.SpecialMath.kolmogorovSf(
      math.sqrt(nEff) * math.max(0.0, dEx - 0.02))
    val pEst = sk.getAs[Double]("p_value")
    assert(pEst >= lo - 1e-6 && pEst <= hi + 1e-6,
      s"sketch p=$pEst outside [$lo, $hi]")
    // the sketch-pair API reports the same (d, p) contract
    val ska = operators.Sketches.kllSketch(df.where($"g" === "u"), "v")
    val skb = operators.Sketches.kllSketch(df.where($"g" === "w"), "v")
    val (d2, p2) = operators.Drift.ksFromSketchesTest(ska, skb)
    assert(math.abs(d2 - dEx) <= 0.02)
    assert(p2 >= lo - 1e-6 && p2 <= hi + 1e-6, s"pair p=$p2 outside [$lo, $hi]")
  }

  test("Observability: skew-guard drops are observed with exact counts and warn") {
    // 60 identical docs → identical minhash signatures → for EVERY one of
    // the 32 bands a single bucket of exactly 60 members; maxBucket = 50
    // drops them all, so the observation must read 32 buckets / 1920
    // members — and the pair output must be empty (the guard really fired)
    val dup = (1L to 60L).map(i => (i, "the very same text repeated verbatim"))
    val distinct = (100L to 104L).map(i => (i, s"unique text number $i with filler"))
    val df = docsDf(dup ++ distinct)
    val captured =
      new java.util.concurrent.ConcurrentLinkedQueue[(String, org.apache.spark.sql.Row)]()
    val cap = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             d: Long): Unit =
        // the hardened extraction: with every bucket dropped, AQE's
        // empty-relation propagation prunes the CollectMetrics node from
        // the final plan and plain qe.observedMetrics comes back empty
        Observability.observedMetricsOf(qe).foreach { case (n, r) =>
          if (n.startsWith("graft.dropped/minhashPairs")) captured.add((n, r))
        }
      override def onFailure(f: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             e: Exception): Unit = ()
    }
    spark.listenerManager.register(cap)
    try {
      assert(Dedup.minhashPairs(df, "doc_id", "text", maxBucket = 50).count() == 0L,
        "all multi-member buckets exceed the cap, so no pairs may survive")
      // the execution-listener bus is async; poll briefly
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      while (captured.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      assert(!captured.isEmpty, "observed metric never reached the listener")
      val (name, row) = captured.peek()
      assert(row.getAs[Long]("dropped_buckets") == 32L,
        s"one oversize bucket per band expected: $row")
      assert(row.getAs[Long]("dropped_members") == 32L * 60L, s"$row")
      // the warn decision the session listener applies to that same row
      val msg = Observability.droppedWarning(name, row)
      assert(msg.exists(m => m.contains("32 oversize") && m.contains("1920 members")),
        s"warn message wrong: $msg")
      // non-dropping rows and foreign observations stay silent
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("dropped_buckets",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("dropped_members",
          org.apache.spark.sql.types.LongType)))
      val zero = new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
        Array[Any](0L, 0L), schema)
      assert(Observability.droppedWarning("graft.dropped/minhashPairs/9", zero).isEmpty)
      assert(Observability.droppedWarning("other.metric", row).isEmpty)
    } finally spark.listenerManager.unregister(cap)
  }

  test("aucRoc is the Mann–Whitney pair probability, ties half-credited") {
    import spark.implicits._
    // pos {0.9, 0.8, 0.3} vs neg {0.7, 0.2}: 5 of 6 pairs won → 0.833333
    val df = Seq((true, 0.9), (true, 0.8), (true, 0.3),
      (false, 0.7), (false, 0.2)).toDF("y", "s")
    val r = Evaluation.aucRoc(df, "y", "s").head()
    assert(math.abs(r.getAs[Double]("auc") - 0.833333) < 1e-6)
    assert(math.abs(r.getAs[Double]("u_stat") - 5.0) < 1e-12)
    assert(math.abs(r.getAs[Double]("gini") - 0.666666) < 1e-6)
    assert(r.getAs[Long]("n_pos") == 3L && r.getAs[Long]("n_neg") == 2L)
    // a constant score ties every pair → AUC exactly ½
    val tied = Seq((true, 0.5), (true, 0.5), (false, 0.5))
      .toDF("y", "s")
    assert(Evaluation.aucRoc(tied, "y", "s").head()
      .getAs[Double]("auc") == 0.5)
    // perfect separation → 1.0
    val perfect = Seq((true, 0.9), (false, 0.1)).toDF("y", "s")
    assert(Evaluation.aucRoc(perfect, "y", "s").head()
      .getAs[Double]("auc") == 1.0)
  }

  test("rankingMetrics: hand-computed RR/AP/NDCG with score ties and a no-relevant query") {
    import spark.implicits._
    // q1 ranked by (s desc, id asc): id1(rel0,.9), id2(rel2,.8),
    // id3(rel1,.8), id4(rel0,.1) — first relevant at rank 2,
    // AP = (1/2 + 2/3)/2, DCG@5 = 3/log2(3) + 1/log2(4),
    // IDCG@5 = 3/log2(2) + 1/log2(3)
    val df = Seq(
      ("q1", 1L, 0.0, 0.9), ("q1", 2L, 2.0, 0.8),
      ("q1", 3L, 1.0, 0.8), ("q1", 4L, 0.0, 0.1),
      ("q2", 1L, 0.0, 0.5)).toDF("q", "id", "rel", "s")
    val out = Evaluation.rankingMetrics(df, "q", "id", "rel", "s", k = 5)
      .orderBy("q").collect()
    val r1 = out(0)
    assert(r1.getAs[Long]("n") == 4L && r1.getAs[Long]("n_rel") == 2L)
    assert(math.abs(r1.getAs[Double]("rr") - 0.5) < 1e-12)
    assert(math.abs(r1.getAs[Double]("ap") - 0.583333) < 1e-6)
    assert(math.abs(r1.getAs[Double]("dcg_k") - 2.392789) < 1e-6)
    assert(math.abs(r1.getAs[Double]("idcg_k") - 3.63093) < 1e-6)
    assert(math.abs(r1.getAs[Double]("ndcg_k") - 0.659002) < 1e-6)
    // q2 has no relevant item: rr/ap/ndcg are null, gains zero
    val r2 = out(1)
    assert(r2.getAs[Long]("n_rel") == 0L)
    assert(r2.isNullAt(r2.fieldIndex("rr")) &&
      r2.isNullAt(r2.fieldIndex("ap")) &&
      r2.isNullAt(r2.fieldIndex("ndcg_k")))
    assert(r2.getAs[Double]("dcg_k") == 0.0 &&
      r2.getAs[Double]("idcg_k") == 0.0)
    // k truncation: with k = 1 only rank-1 items carry gain — q1's
    // rank 1 is irrelevant, so DCG@1 = 0 while IDCG@1 = 3
    val k1 = Evaluation.rankingMetrics(df, "q", "id", "rel", "s", k = 1)
      .where(F.col("q") === "q1").head()
    assert(k1.getAs[Double]("dcg_k") == 0.0)
    assert(math.abs(k1.getAs[Double]("idcg_k") - 3.0) < 1e-12)
    assert(k1.getAs[Double]("ndcg_k") == 0.0)
  }

  test("calibrationBins buckets scores and reports observed positive rates") {
    import spark.implicits._
    val df = Seq((true, 0.95), (false, 0.9), (true, 0.15),
      (false, 0.1), (false, 0.12), (true, 1.0), (false, -0.1))
      .toDF("y", "s")
    val bins = Evaluation.calibrationBins(df, "y", "s", bins = 10)
      .orderBy("bin").collect()
    // clamping: 1.0 joins bin 9, −0.1 joins bin 0
    val byBin = bins.map(r => r.getAs[Int]("bin") ->
      (r.getAs[Long]("n"), r.getAs[Double]("frac_pos"))).toMap
    assert(byBin(0) == ((1L, 0.0)))
    assert(byBin(1) == ((3L, 1.0 / 3.0 match {
      case v => math.rint(v * 1e6) / 1e6 })))
    assert(byBin(9) == ((3L, math.rint(2.0 / 3.0 * 1e6) / 1e6)))
  }

  test("rollingAggregates and interArrival follow per-key time frames") {
    import spark.implicits._
    val df = Seq(
      (1L, "u", 100L, 1.0), (2L, "u", 150L, 2.0), (3L, "u", 300L, 4.0),
      (4L, "v", 100L, 8.0))
      .toDF("event_id", "k", "ts", "value")
    val roll = Features.rollingAggregates(df, "k", "ts", "value", Seq(100L))
      .orderBy("event_id").collect()
    // frames are [ts−100, ts] inclusive: event 2 sees 1+2; event 3
    // (ts 300) sees only itself; v's row never mixes with u's
    assert(roll.map(_.getAs[Long]("rolling_cnt_0")).toSeq ==
      Seq(1L, 2L, 1L, 1L))
    assert(roll.map(_.getAs[Double]("rolling_sum_0")).toSeq ==
      Seq(1.0, 3.0, 4.0, 8.0))
    val ia = Features.interArrival(df, "k", "ts",
      tieBreakCols = Seq("event_id")).orderBy("event_id").collect()
    assert(ia(0).isNullAt(ia(0).fieldIndex("delta_ts")))
    assert(ia(1).getAs[Long]("delta_ts") == 50L)
    assert(ia(2).getAs[Long]("delta_ts") == 150L)
    assert(ia(3).isNullAt(ia(3).fieldIndex("delta_ts")))
  }

  test("targetEncode smooths to the prior and excludes own labels in LOO") {
    import spark.implicits._
    // cat a: ys {1, 0}; cat b: {1}; prior = 2/3, m = 1
    val df = Seq((1L, "a", 1.0), (2L, "a", 0.0), (3L, "b", 1.0))
      .toDF("id", "cat", "y")
    val out = Features.targetEncode(df, "cat", "y", smoothing = 1.0)
      .orderBy("id").collect()
    val prior = 2.0 / 3.0
    // a: (1 + 1·prior)/(2 + 1); b: (1 + prior)/2
    assert(math.abs(out(0).getAs[Double]("te_smooth") -
      math.rint((1.0 + prior) / 3.0 * 1e6) / 1e6) < 1e-12)
    assert(math.abs(out(2).getAs[Double]("te_smooth") -
      math.rint((1.0 + prior) / 2.0 * 1e6) / 1e6) < 1e-12)
    // LOO: row 1 sees only row 2's label (0), row 2 sees 1; singleton
    // b has no peers → null
    assert(out(0).getAs[Double]("te_loo") == 0.0)
    assert(out(1).getAs[Double]("te_loo") == 1.0)
    assert(out(2).isNullAt(out(2).fieldIndex("te_loo")))
  }

  test("ewmaByKey runs the recurrence per key in (ts, tie) order") {
    import spark.implicits._
    val df = Seq(
      (1L, "u", 100L, 10.0), (2L, "u", 200L, 20.0), (3L, "u", 300L, 0.0),
      (4L, "v", 100L, 4.0), (5L, "v", 100L, 8.0))  // ties → event_id order
      .toDF("event_id", "k", "ts", "value")
    val out = Features.ewmaByKey(df, "k", "ts", "value", alpha = 0.5,
      tieBreakCols = Seq("event_id")).orderBy("event_id").collect()
      .map(_.getAs[Double]("ewma"))
    // u: 10 → .5·20+.5·10 = 15 → .5·0+.5·15 = 7.5; v: 4 → .5·8+.5·4 = 6
    assert(out.toSeq == Seq(10.0, 15.0, 7.5, 4.0, 6.0))
    // null values emit null and do not advance the state
    val wNull = Seq((1L, "u", 100L, Some(10.0)), (2L, "u", 200L, None),
      (3L, "u", 300L, Some(20.0))).toDF("event_id", "k", "ts", "value")
    val o2 = Features.ewmaByKey(wNull, "k", "ts", "value", 0.5,
      Seq("event_id")).orderBy("event_id").collect()
    assert(o2(1).isNullAt(o2(1).fieldIndex("ewma")))
    assert(o2(2).getAs[Double]("ewma") == 15.0)
  }

  test("kMeans separates well-split blobs and assigns deterministically") {
    import spark.implicits._
    // two tight blobs around (0,0) and (10,10); init from the lowest
    // ids (one point in each blob by construction)
    val rows = (0 until 20).map { i =>
      val blob = i % 2
      val base = if (blob == 0) 0.0 else 10.0
      (i.toLong, Seq(base + (i / 2) * 0.01, base - (i / 2) * 0.01))
    }
    val df = rows.toDF("vec_id", "embedding")
    val m = Clustering.kMeans(df, "embedding", "vec_id", k = 2,
      iters = 3, quantizeDecimals = 6)
    assert(m.sizes.toSeq == Seq(10L, 10L))
    assert(m.n == 20L)
    // centroids near the blob centers
    assert(math.abs(m.centroids(0)(0)) < 0.1)
    assert(math.abs(m.centroids(1)(0) - 10.0) < 0.1)
    // inertia is the within-blob spread only — far below the 2-blob span
    assert(m.inertia < 1.0)
    // assignment column routes every row to its blob
    val assigned = Clustering.assign(df, "embedding", m)
      .select("vec_id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert((0 until 20).forall(i => assigned(i.toLong) == i % 2))
    // same input, same init rule → identical model
    val m2 = Clustering.kMeans(df, "embedding", "vec_id", k = 2,
      iters = 3, quantizeDecimals = 6)
    assert(m2.centroids.flatten.toSeq == m.centroids.flatten.toSeq)
  }

  test("recallAtK intersects per query and zero-fills missed queries") {
    import spark.implicits._
    val exact = Seq((1L, 10L), (1L, 11L), (1L, 12L),
      (2L, 20L), (2L, 21L)).toDF("q", "id")
    val approx = Seq((1L, 10L), (1L, 12L), (1L, 99L)).toDF("q", "id")
    val out = Evaluation.recallAtK(approx, exact, "q", "id")
      .collect().map(r => r.getAs[Long]("q") ->
        (r.getAs[Long]("hits"), r.getAs[Double]("recall"))).toMap
    assert(out(1L) == ((2L, math.rint(2.0 / 3.0 * 1e6) / 1e6)))
    assert(out(2L) == ((0L, 0.0)))  // approx returned nothing for q=2
  }

  test("aucByGroup ranks per group and omits single-class groups") {
    import spark.implicits._
    val df = Seq(
      ("g1", true, 0.9), ("g1", true, 0.8), ("g1", true, 0.3),
      ("g1", false, 0.7), ("g1", false, 0.2),
      ("g2", true, 0.1), ("g2", false, 0.9),   // inverted ranking → 0
      ("g3", true, 0.5), ("g3", true, 0.6))    // no negatives → omitted
      .toDF("g", "y", "s")
    val out = Evaluation.aucByGroup(df, Seq("g"), "y", "s")
      .collect().map(r => r.getAs[String]("g") -> r.getAs[Double]("auc"))
      .toMap
    assert(math.abs(out("g1") - 0.833333) < 1e-6)
    assert(out("g2") == 0.0)
    assert(!out.contains("g3"))
  }

  test("categoricalProfile computes entropy/HHI/top-share per group") {
    import spark.implicits._
    // g1: uniform over 4 symbols → entropy ln4, norm 1, hhi .25, top .25
    // g2: one symbol → entropy 0, norm null, hhi 1, top 1
    val df = (Seq("a", "b", "c", "d").map(v => ("g1", v)) ++
      Seq(("g2", "x"), ("g2", "x"))).toDF("g", "v")
    val out = Evaluation.categoricalProfile(df, Seq("g"), "v")
      .collect().map(r => r.getAs[String]("g") -> r).toMap
    val g1 = out("g1")
    assert(math.abs(g1.getAs[Double]("entropy") - math.log(4.0)) < 1e-5)
    assert(g1.getAs[Double]("norm_entropy") == 1.0)
    assert(g1.getAs[Double]("hhi") == 0.25)
    assert(g1.getAs[Double]("top_share") == 0.25)
    val g2 = out("g2")
    assert(g2.getAs[Double]("entropy") == 0.0)
    assert(g2.isNullAt(g2.fieldIndex("norm_entropy")))
    assert(g2.getAs[Double]("hhi") == 1.0 && g2.getAs[Long]("k") == 1L)
  }

  test("StringSim.jaroWinkler matches the classic reference values") {
    import graft.functions.StringSim
    def jw(a: String, b: String) = StringSim.jaroWinkler(a, b)
    assert(math.abs(jw("MARTHA", "MARHTA") - 0.961111) < 1e-6)
    assert(math.abs(jw("DIXON", "DICKSONX") - 0.813333) < 1e-6)
    assert(math.abs(jw("DWAYNE", "DUANE") - 0.84) < 1e-6)
    // jaro above threshold but zero common prefix: no boost
    assert(math.abs(jw("CRATE", "TRACE") - 0.733333) < 1e-6)
    // prefix capped at 4
    assert(math.abs(jw("aaaaaaaaab", "aaaaaaaaba") - 0.98) < 1e-9)
    assert(jw("abc", "abc") == 1.0)
    assert(jw("", "abc") == 0.0 && jw("", "") == 0.0)
    assert(jw("a", "b") == 0.0)
  }

  test("isotonicCalibrate pools adjacent violators to exact block ratios") {
    import spark.implicits._
    // bin rates [1/2, 1/5, 4/5]: the 0.5 > 0.2 violation pools bins
    // 0-1 into 2/7; bin 2 stays at 0.8
    val rows =
      Seq((true, 0.05), (false, 0.05)) ++
      (Seq(true, false, false, false, false).map((_, 0.15))) ++
      (Seq(true, true, true, true, false).map((_, 0.25)))
    val out = Evaluation.isotonicCalibrate(rows.toDF("y", "s"), "y", "s",
      bins = 10).orderBy("bin").collect()
    assert(out.map(_.getAs[Int]("bin")).toSeq == Seq(0, 1, 2))
    assert(math.abs(out(0).getAs[Double]("iso_rate") - 0.285714) < 1e-6)
    assert(math.abs(out(1).getAs[Double]("iso_rate") - 0.285714) < 1e-6)
    assert(math.abs(out(2).getAs[Double]("iso_rate") - 0.8) < 1e-9)
    // already-monotone rates pass through unchanged
    val mono = Seq((false, 0.05), (true, 0.15), (true, 0.25), (true, 0.25))
    val m = Evaluation.isotonicCalibrate(mono.toDF("y", "s"), "y", "s",
      bins = 10).orderBy("bin").collect()
    assert(m.map(_.getAs[Double]("iso_rate")).toSeq == Seq(0.0, 1.0, 1.0))
  }

  test("giniByGroup: zero for equal shares, (n-1)/n for one-takes-all") {
    import spark.implicits._
    val df = (Seq.fill(4)(5.0).map(("eq", _)) ++
      Seq(0.0, 0.0, 0.0, 12.0).map(("uneq", _))).toDF("g", "v")
    val out = operators.Ranks.giniByGroup(df, Seq("g"), "v")
      .collect().map(r => r.getAs[String]("g") -> r).toMap
    assert(out("eq").getAs[Double]("gini") == 0.0)
    assert(math.abs(out("uneq").getAs[Double]("gini") - 0.75) < 1e-9)
    assert(out("uneq").getAs[Double]("total") == 12.0)
  }

  test("paretoByGroup finds the smallest prefix reaching the share") {
    import spark.implicits._
    // supplier totals 80/15/5: one supplier already carries 80%
    val df = (Seq.fill(8)(("g", "a", 10.0)) ++
      Seq(("g", "b", 15.0), ("g", "c", 5.0))).toDF("g", "k", "v")
    val r = operators.Ranks.paretoByGroup(df, Seq("g"), "k", "v",
      share = 0.8).head()
    assert(r.getAs[Long]("n_keys") == 3L)
    assert(r.getAs[Double]("total") == 100.0)
    assert(r.getAs[Long]("k_top") == 1L)
    assert(math.abs(r.getAs[Double]("k_frac") - 0.333333) < 1e-6)
    // at share = 0.9 it takes two suppliers (80 + 15 = 95)
    assert(operators.Ranks.paretoByGroup(df, Seq("g"), "k", "v",
      share = 0.9).head().getAs[Long]("k_top") == 2L)
  }

  test("factorability: correlated block fires sphericity, KMO in range") {
    import spark.implicits._
    // x2 = x1 + ripple, x3 independent-ish: |R| well below 1
    val rows = (0 until 200).map { i =>
      val x1 = (i % 10).toDouble
      (x1, x1 + (i % 3).toDouble, ((i * 7) % 13).toDouble)
    }
    val r = StatTests.factorability(rows.toDF("a", "b", "c"),
      "a", "b", "c").head()
    assert(r.getAs[Long]("n") == 200L)
    assert(r.getAs[Double]("r12") > 0.9)
    assert(r.getAs[Double]("det_r") < 0.2)
    assert(r.getAs[Double]("chi2") > 100.0)
    assert(r.getAs[Double]("p_value") < 1e-6)
    val kmo = r.getAs[Double]("kmo")
    assert(kmo > 0.0 && kmo < 1.0)
    // det identity: 1 for a perfectly uncorrelated block
    val ind = (0 until 120).map { i =>
      ((i % 2).toDouble, ((i / 2) % 2).toDouble, ((i / 4) % 2).toDouble)
    }
    val ri = StatTests.factorability(ind.toDF("a", "b", "c"),
      "a", "b", "c").head()
    assert(math.abs(ri.getAs[Double]("det_r") - 1.0) < 1e-6)
    assert(ri.getAs[Double]("p_value") > 0.9)
  }

  test("pressStatistic: exact line gives r2_pred 1; noise is penalized") {
    import spark.implicits._
    val exact = (1 to 50).map(i => (i.toDouble, 3.0 + 2.0 * i))
    val re = Regression.pressStatistic(exact.toDF("x", "y"), "y", "x")
      .head()
    assert(re.getAs[Double]("beta1") == 2.0)
    assert(re.getAs[Double]("beta0") == 3.0)
    assert(re.getAs[Double]("rmse_loocv") == 0.0)
    assert(re.getAs[Double]("r2_pred") == 1.0)
    // add an off-line point: r2_pred must fall BELOW in-sample r2
    // (the LOO residual divides by 1−h, so PRESS > SSE always)
    val noisy = exact ++ Seq((51.0, 3.0 + 2.0 * 51 + 40.0))
    val rn = Regression.pressStatistic(noisy.toDF("x", "y"), "y", "x")
      .head()
    assert(rn.getAs[Double]("r2_pred") < rn.getAs[Double]("r2"))
    assert(rn.getAs[Double]("rmse_loocv") > 0.0)
  }

  test("cochraneOrcutt: AR(1) errors shrink toward the true trend") {
    import spark.implicits._
    // y = 0.5 t + sawtooth(16) residual — a deterministic error with
    // strong positive lag-1 autocorrelation (an AR recursion fed by a
    // short-period ripple would NOT be: the filtered waveform's lag-1
    // autocorr is what matters, not the filter)
    val rows = (0 until 64).map { i =>
      ("k", i.toLong * 10L, 0.5 * i + ((i % 16) - 7.5) / 2.0)
    }
    val r = Features.cochraneOrcuttByKey(rows.toDF("k", "ts", "v"),
      "k", "ts", "v", periodUnit = 10L).head()
    assert(r.getAs[Long]("n_periods") == 64L)
    val rho = r.getAs[Double]("rho")
    assert(rho > 0.5 && rho < 0.99, s"rho $rho")
    assert(math.abs(r.getAs[Double]("slope_co") - 0.5) < 0.1)
    assert(math.abs(r.getAs[Double]("slope_ols") - 0.5) < 0.1)
  }

  test("evtTailPanel: Pareto tail reads gamma > 0, uniform reads <= 0") {
    import spark.implicits._
    // exact Pareto(alpha=2) quantiles: x_i = (i/n)^(-1/2) → gamma 0.5
    val par = (1 to 2000).map(i => math.pow(i / 2000.0, -0.5))
    val rp = StatTests.evtTailPanel(par.toDF("v"), "v", k = 100).head()
    val gmP = rp.getAs[Double]("gamma_moments")
    assert(math.abs(gmP - 0.5) < 0.1, s"moments gamma $gmP")
    assert(math.abs(rp.getAs[Double]("alpha_moments") - 2.0) < 0.5)
    assert(rp.getAs[Double]("gamma_pickands") > 0.2)
    // uniform tail: gamma at or below 0 on both estimators
    val uni = (1 to 2000).map(i => i / 2000.0 * 10.0)
    val ru = StatTests.evtTailPanel(uni.toDF("v"), "v", k = 100).head()
    assert(ru.getAs[Double]("gamma_moments") < 0.1)
    assert(ru.getAs[Double]("gamma_pickands") < 0.1)
    // x_k order statistics exact
    assert(rp.getAs[Double]("x_k") == math.pow(100 / 2000.0, -0.5))
  }

  test("varEsByGroup: hand-checked tail on 100 integer values") {
    import spark.implicits._
    // values 1..100 once each: VaR95 = 95 (cum hits ceil(95)),
    // tail = {95..100}: ES = 97.5, tail_n = 6
    val df = (1 to 100).map(i => ("g", i.toDouble)).toDF("g", "v")
    val r = Outliers.varEsByGroup(df, Seq("g"), "v", q = 0.95).head()
    assert(r.getAs[Long]("n") == 100L)
    assert(r.getAs[Double]("var_q") == 95.0)
    assert(r.getAs[Double]("es_q") == 97.5)
    assert(r.getAs[Long]("tail_n") == 6L)
    // duplicated mass: 90x value 1, 10x value 50: ceil(95) = 95 → VaR
    // = 50, tail = the ten 50s
    val dup = (Seq.fill(90)(1.0) ++ Seq.fill(10)(50.0))
      .map(("g", _)).toDF("g", "v")
    val r2 = Outliers.varEsByGroup(dup, Seq("g"), "v", q = 0.95).head()
    assert(r2.getAs[Double]("var_q") == 50.0)
    assert(r2.getAs[Double]("es_q") == 50.0)
    assert(r2.getAs[Long]("tail_n") == 10L)
  }

  test("adwinByKey cuts at a planted shift, stays silent on stationary") {
    import spark.implicits._
    // 30 flat periods then 30 shifted: the Hoeffding cut must fire
    // and point inside the neighborhood of the true change
    val rows = (0 until 60).map { i =>
      val v = (i % 5) / 10.0 + (if (i >= 30) 10.0 else 0.0)
      ("k", i.toLong * 10L, v)
    }
    val out = Features.adwinByKey(rows.toDF("k", "ts", "v"),
      "k", "ts", "v", periodUnit = 10L, delta = 0.05).head()
    assert(out.getAs[Long]("n_periods") == 60L)
    // the EARLIEST bound-exceeding split can precede the true change
    // when the shift dwarfs the bound — detection semantics, not
    // localization (binarySegment does localization)
    val cut = out.getAs[Long]("cut_period")
    assert(cut <= 30L, s"cut at $cut")
    assert(out.getAs[Double]("gap") >= out.getAs[Double]("eps_cut"))
    // stationary series: no row
    val flat = (0 until 60).map(i => ("k", i.toLong * 10L,
      (i % 5) / 10.0))
    assert(Features.adwinByKey(flat.toDF("k", "ts", "v"),
      "k", "ts", "v", periodUnit = 10L).count() == 0L)
  }

  test("imputeByRegression fills from the fit, not the mean") {
    import spark.implicits._
    // y = 2x exactly on observed; missing rows at x = 10 must fill
    // with 20 (mean imputation would put ~5.5 there)
    val rows = (1 to 9).map(i => (i.toDouble, Some(2.0 * i))) ++
      Seq((10.0, None), (10.0, None))
    val df = rows.toDF("x", "y")
    val out = Validation.imputeByRegression(df, "y", Seq("x"))
      .collect()
    val imputed = out.filter(_.getAs[Boolean]("was_imputed"))
    assert(imputed.length == 2)
    imputed.foreach(r =>
      assert(math.abs(r.getAs[Double]("filled") - 20.0) < 1e-6))
    val kept = out.filter(!_.getAs[Boolean]("was_imputed"))
    kept.foreach(r => assert(r.getAs[Double]("filled") ==
      2.0 * r.getAs[Double]("x")))
    // a missing FEATURE keeps the null (no model to apply)
    val df2 = (rows ++ Seq((Double.NaN, None))).toDF("x", "y")
    val out2 = Validation.imputeByRegression(df2, "y", Seq("x"))
      .where(F.isnan(F.col("x"))).head()
    assert(!out2.getAs[Boolean]("was_imputed"))
    assert(out2.isNullAt(out2.fieldIndex("filled")))
  }

  test("time-series randomness screens: trend vs noise-like fixtures") {
    import spark.implicits._
    // monotone staircase: almost no turning points, RVN ≪ 2, all
    // second-half pairs up
    val trend = (0 until 40).map(i => ("t", i.toLong * 10L, i.toDouble))
    val tdf = trend.toDF("k", "ts", "v")
    val tp = Features.turningPointsByKey(tdf, "k", "ts", "v", 10L)
      .head()
    assert(tp.getAs[Long]("turning_points") == 0L)
    assert(tp.getAs[Double]("z") < -4.0)
    assert(tp.getAs[Double]("p_value") < 0.001)
    val bt = Features.bartelsRankByKey(tdf, "k", "ts", "v", 10L).head()
    assert(bt.getAs[Double]("rvn") < 0.2)
    assert(bt.getAs[Double]("p_value") < 0.001)
    val cs = Features.coxStuartByKey(tdf, "k", "ts", "v", 10L).head()
    assert(cs.getAs[Long]("n_pairs") == 20L)
    assert(cs.getAs[Long]("s_up") == 20L)
    assert(cs.getAs[Double]("p_value") < 0.001)
    // strict alternation: every interior point is an extremum, RVN ≫ 2
    val alt = (0 until 40).map(i =>
      ("a", i.toLong * 10L, if (i % 2 == 0) 0.0 else 1.0))
    val adf = alt.toDF("k", "ts", "v")
    val tpa = Features.turningPointsByKey(adf, "k", "ts", "v", 10L)
      .head()
    assert(tpa.getAs[Long]("turning_points") == 38L)
    assert(tpa.getAs[Double]("z") > 3.0)
    val bta = Features.bartelsRankByKey(adf, "k", "ts", "v", 10L).head()
    assert(bta.getAs[Double]("rvn") > 3.0)
    // alternation with an even half-shift ties EVERY pair (same
    // parity) — the operator correctly reports nothing rather than a
    // zero-information verdict
    assert(Features.coxStuartByKey(adf, "k", "ts", "v", 10L)
      .count() == 0L)
  }

  test("conoverSquaredRanks: unequal spreads fire, equal spreads don't") {
    import spark.implicits._
    // same mean, 4x the spread in cohort b
    val a = (0 until 60).map(i => ("a", 10.0 + (i % 5) - 2.0))
    val b = (0 until 60).map(i => ("b", 10.0 + 4.0 * ((i % 5) - 2.0)))
    val r = StatTests.conoverSquaredRanks((a ++ b).toDF("g", "v"),
      "g", "v").head()
    assert(r.getAs[Long]("n_a") == 60L && r.getAs[Long]("n_b") == 60L)
    assert(r.getAs[Double]("z") < -3.0) // a's squared ranks run low
    assert(r.getAs[Double]("p_value") < 0.001)
    val same = (a ++ a.map { case (_, v) => ("b", v) }).toDF("g", "v")
    assert(StatTests.conoverSquaredRanks(same, "g", "v").head()
      .getAs[Double]("p_value") > 0.9)
  }

  test("dagostinoK2 matches the independent reference implementation") {
    import spark.implicits._
    val xs = (0 until 30).map(i =>
      math.pow(((i * 7) % 13).toDouble, 2) / 10.0)
    val r = StatTests.dagostinoK2(xs.toDF("v"), "v").head()
    assert(r.getAs[Long]("n") == 30L)
    assert(math.abs(r.getAs[Double]("skew") - 0.739118) < 2e-6)
    assert(math.abs(r.getAs[Double]("z_skew") - 1.816773) < 2e-6)
    assert(math.abs(r.getAs[Double]("z_kurt") - (-0.583129)) < 2e-6)
    assert(math.abs(r.getAs[Double]("k2") - 3.640705) < 1e-5)
    assert(math.abs(r.getAs[Double]("p_value") - 0.161969) < 1e-5)
    // an exactly symmetric fixture zeroes the skew channel; the flat
    // shape still fires the kurtosis channel (uniform IS non-normal)
    val sym = (0 until 55).map(i => ((i % 11) - 5).toDouble)
    val rs = StatTests.dagostinoK2(sym.toDF("v"), "v").head()
    assert(rs.getAs[Double]("skew") == 0.0)
    assert(math.abs(rs.getAs[Double]("z_skew")) < 1e-6)
    assert(rs.getAs[Double]("z_kurt") < -2.0)
  }

  test("roganGladen inverts a known noisy-flagger mixture") {
    import spark.implicits._
    // true prevalence 0.2 pushed through sens .8 / spec .9:
    // p_obs = .2*.8 + .8*.1 = 0.24 → inversion recovers 0.2 exactly
    val rows = Seq.fill(240)(true) ++ Seq.fill(760)(false)
    val r = Evaluation.roganGladen(rows.toDF("flag"), "flag",
      sens = 0.8, spec = 0.9).head()
    assert(r.getAs[Long]("n") == 1000L)
    assert(r.getAs[Double]("p_obs") == 0.24)
    assert(math.abs(r.getAs[Double]("p_true") - 0.2) < 1e-9)
    assert(r.getAs[Double]("lo95") < 0.2 && r.getAs[Double]("hi95") > 0.2)
    // uninformative test rejected loudly
    val ex = intercept[IllegalArgumentException] {
      Evaluation.roganGladen(rows.toDF("flag"), "flag", 0.5, 0.5)
    }
    assert(ex.getMessage.contains("uninformative"))
  }

  test("youdenThreshold finds the separating cut") {
    import spark.implicits._
    // positives score {3,4}, negatives {1,2} with slight overlap at 2
    val rows = Seq.fill(40)((4.0, true)) ++ Seq.fill(40)((3.0, true)) ++
      Seq.fill(10)((2.0, true)) ++ Seq.fill(40)((2.0, false)) ++
      Seq.fill(50)((1.0, false))
    val r = Evaluation.youdenThreshold(rows.toDF("s", "y"), "s", "y")
      .head()
    // t = 3: TPR = 80/90, FPR = 0 → J = 0.888889 (beats t = 2's
    // 1 − 0.444 = 0.555)
    assert(r.getAs[Double]("threshold") == 3.0)
    assert(math.abs(r.getAs[Double]("j") - 0.888889) < 1e-6)
    assert(r.getAs[Double]("fpr") == 0.0)
    assert(r.getAs[Long]("n_pos") == 90L && r.getAs[Long]("n_neg") == 90L)
  }

  test("spiegelhalterZ: calibrated scores pass, deflated rates fire") {
    import spark.implicits._
    val cal = (0 until 10).flatMap { b =>
      val p = b / 10.0 + 0.05
      val o1 = math.round(40 * p).toInt
      (0 until 40).map(i => (p, i < o1))
    }
    val ok = Evaluation.spiegelhalterZ(cal.toDF("p", "y"), "p", "y")
      .head()
    assert(ok.getAs[Long]("n") == 400L)
    assert(math.abs(ok.getAs[Double]("z")) < 1.0)
    assert(ok.getAs[Double]("p_value") > 0.3)
    // NOTE: the p-squared pattern is exactly NULL for this statistic
    // on a symmetric score grid (the (y-p)(1-2p) terms cancel in
    // pairs) — Spiegelhalter tests a specific miscalibration
    // direction; use a uniform rate deflation instead
    val miss = (0 until 10).flatMap { b =>
      val p = b / 10.0 + 0.05
      val o1 = math.round(40 * 0.6 * p).toInt
      (0 until 40).map(i => (p, i < o1))
    }
    val bad = Evaluation.spiegelhalterZ(miss.toDF("p", "y"), "p", "y")
      .head()
    assert(math.abs(bad.getAs[Double]("z")) > 3.0)
    assert(bad.getAs[Double]("p_value") < 0.01)
    // p in {0,1} rows are untestable and excluded
    val edge = (cal ++ Seq((0.0, false), (1.0, true))).toDF("p", "y")
    assert(Evaluation.spiegelhalterZ(edge, "p", "y").head()
      .getAs[Long]("n") == 400L)
  }

  test("bloomPlanByGroup reproduces the textbook 1%-fpp sizing") {
    import spark.implicits._
    // n = 1000, p = 0.01: m = ceil(9585.06) = 9586 bits, k = 7,
    // realized fpp just over 1%
    val df = (0 until 1000).map(i => ("s", i.toLong)).toDF("g", "k")
    val r = Validation.bloomPlanByGroup(df, Seq("g"), "k", 0.01).head()
    assert(r.getAs[Long]("n_distinct") == 1000L)
    assert(r.getAs[Long]("m_bits") == 9586L)
    assert(r.getAs[Long]("k_hashes") == 7L)
    val fpp = r.getAs[Double]("est_fpp")
    assert(fpp > 0.009 && fpp < 0.011, s"fpp $fpp")
    // duplicate keys count once
    val dup = (df.collect().map(r => (r.getString(0), r.getLong(1))) ++
      Seq(("s", 1L), ("s", 2L))).toSeq.toDF("g", "k")
    assert(Validation.bloomPlanByGroup(dup, Seq("g"), "k", 0.01)
      .head().getAs[Long]("n_distinct") == 1000L)
  }

  test("languageConfusion: the diagonal dominates on marker-rich text") {
    import spark.implicits._
    val df = Seq(
      (1L, "the cat and the dog is with this for that", "en"),
      (2L, "der hund ist nicht mit der katze und", "de"),
      (3L, "el perro es una cosa para los gatos como", "es"),
      (4L, "xyzzy qwerty", "en")).toDF("doc_id", "text", "lang")
    val out = TextOps.languageConfusion(df, "text", "lang")
      .collect()
      .map(r => (r.getAs[String]("label_lang"),
        r.getAs[String]("detected_lang")) -> r).toMap
    assert(out(("en", "en")).getAs[Long]("n") == 1L)
    assert(out(("de", "de")).getAs[Long]("n") == 1L)
    assert(out(("es", "es")).getAs[Long]("n") == 1L)
    // the markerless doc lands in (en, und) with share 1/2
    assert(out(("en", "und")).getAs[Double]("share_of_label") == 0.5)
  }

  test("mmdTest: shifted cohorts score far above identical ones") {
    import spark.implicits._
    val a = (0 until 100).map(i => ("a", (i % 10).toDouble))
    val b = (0 until 100).map(i => ("b", (i % 10).toDouble + 20.0))
    val shifted = StatTests.mmdTest((a ++ b).toDF("g", "v"), "g", "v",
      sigma = 2.0).head()
    // disjoint supports at sigma 2: kxy ~ 0, mmd2 ~ kxx + kyy means
    assert(shifted.getAs[Double]("kxy_mean") < 1e-6)
    assert(shifted.getAs[Double]("mmd2") > 0.2)
    val same = (a ++ a.map { case (_, v) => ("b", v) }).toDF("g", "v")
    val s0 = StatTests.mmdTest(same, "g", "v", sigma = 2.0).head()
    assert(math.abs(s0.getAs[Double]("mmd2")) < 1e-9)
    // cardinality guard
    val wide = (0 until 300).map(i => ("a", i.toDouble)) ++
      (0 until 300).map(i => ("b", i.toDouble))
    val ex = intercept[IllegalArgumentException] {
      StatTests.mmdTest(wide.toDF("g", "v"), "g", "v", sigma = 1.0,
        maxCells = 100)
    }
    assert(ex.getMessage.contains("QUANTIZED"))
  }

  test("unigramFertility: expected pieces match the hand-worked EM") {
    import spark.implicits._
    // the q_unigram_tokenizer worked example: the FINAL distribution
    // after 2 rounds is p = {a: .32, b: 1.32, ab: 1.68}/3.32, and the
    // fertility pass scores words under IT: alpha_N('ab') =
    // p(a)p(b) + p(ab), E[#pieces('ab')] = (p(ab) + 2 p(a)p(b)) /
    // alpha_N = 1.0704; 'b' is always one piece
    val df = Seq((1L, "ab ab b")).toDF("doc_id", "text")
    val out = TextOps.unigramFertility(df, "doc_id", "text",
        maxPieceLen = 3, maxSeed = 16, emRounds = 2, minCount = 1.0)
      .collect().map(r => r.getAs[String]("word") -> r).toMap
    assert(out.keySet == Set("ab", "b"))
    assert(math.abs(out("ab").getAs[Double]("expected_pieces") - 1.0704)
      < 1e-6)
    assert(out("ab").getAs[Long]("wc") == 2L)
    assert(out("ab").getAs[Long]("n_chars") == 2L)
    assert(out("b").getAs[Double]("expected_pieces") == 1.0)
  }

  test("archimedeanFit maps tau to Clayton/Gumbel theta and tails") {
    import spark.implicits._
    // positively dependent with ties — tau strictly inside (0,1)
    val df = Seq((1.0, 1L), (1.0, 1L), (2.0, 1L), (2.0, 2L),
      (3.0, 2L), (3.0, 3L), (4.0, 3L), (4.0, 3L)).toDF("x", "y")
    val r = ArchimedeanCopula.fitByTau(df, "x", "y").head()
    val tau = r.getAs[Double]("tau")
    assert(tau > 0.0 && tau < 1.0)
    def r6(v: Double) = math.rint(v * 1e6) / 1e6
    val tc = r.getAs[Double]("theta_clayton")
    val tg = r.getAs[Double]("theta_gumbel")
    assert(tc == r6(2.0 * tau / (1.0 - tau)))
    assert(tg == r6(1.0 / (1.0 - tau)))
    assert(r.getAs[Double]("lambda_lower") ==
      r6(math.pow(2.0, -1.0 / tc)))
    assert(r.getAs[Double]("lambda_upper") ==
      r6(2.0 - math.pow(2.0, 1.0 / tg)))
    // anti-dependent: Clayton has no tau < 0 fit, Gumbel neither
    val neg = Seq((1.0, 3L), (2.0, 2L), (3.0, 1L), (1.0, 3L),
      (2.0, 2L), (3.0, 1L)).toDF("x", "y")
    val rn = ArchimedeanCopula.fitByTau(neg, "x", "y").head()
    assert(rn.getAs[Double]("tau") < 0.0)
    assert(rn.isNullAt(rn.fieldIndex("theta_clayton")))
    assert(rn.isNullAt(rn.fieldIndex("theta_gumbel")))
  }

  test("eigenvectorCentrality ranks the star center above the leaves") {
    import spark.implicits._
    val base = Seq(("c", "l1"), ("c", "l2"), ("c", "l3"), ("c", "l4"))
    val e = (base ++ base.map(_.swap)).toDF("src", "dst")
    val out = Graph.eigenvectorCentrality(e, "src", "dst", iters = 6)
      .collect().map(r => r.getAs[String]("node") ->
        r.getAs[Double]("score")).toMap
    assert(out("c") > out("l1"))
    assert(out("l1") == out("l4")) // symmetry
    // unit L2 norm after the final round's normalization
    val norm = math.sqrt(out.values.map(s => s * s).sum)
    assert(math.abs(norm - 1.0) < 1e-4)
    // star eigenvector: center 1/sqrt(2), leaves 1/(2*sqrt(2))
    assert(math.abs(out("c") - 1.0 / math.sqrt(2.0)) < 0.02)
    assert(math.abs(out("l1") - 1.0 / (2.0 * math.sqrt(2.0))) < 0.02)
  }

  test("localOutlierFactor flags the planted far point, not the cluster") {
    import spark.implicits._
    // 9-point grid cluster + one far outlier
    val cluster = for { i <- 0 until 3; j <- 0 until 3 }
      yield ((i * 3 + j).toLong, i.toDouble, j.toDouble)
    val pts = (cluster :+ (99L, 30.0, 30.0)).toDF("id", "x", "y")
    val out = Outliers.localOutlierFactor(pts, "id", "x", "y", k = 3)
      .collect().map(r => r.getAs[Long]("id") -> r).toMap
    assert(out(99L).getAs[Double]("lof") > 5.0)
    assert(cluster.forall { case (id, _, _) =>
      out(id).getAs[Double]("lof") < 2.0 })
    // the cardinality guard fires loudly
    val ex = intercept[IllegalArgumentException] {
      Outliers.localOutlierFactor(pts, "id", "x", "y", k = 3,
        maxPoints = 5)
    }
    assert(ex.getMessage.contains("BOUNDED"))
  }

  test("dieboldMarianoByKey: clear winner fires, equal forecasters don't") {
    import spark.implicits._
    // f1 is exact (zero loss), f2 off by a varying amount → d strictly
    // negative, DM strongly negative
    val rows = (0 until 40).map { i =>
      val v = 10.0 + (i % 5)
      ("k", i.toDouble, v, v, v + 1.0 + (i % 3) * 0.5)
    }
    val df = rows.toDF("k", "p", "v", "f1", "f2")
    val r = Features.dieboldMarianoByKey(df, "k", "p", "v", "f1", "f2",
      maxLag = 2).head()
    assert(r.getAs[Long]("n") == 40L)
    assert(r.getAs[Double]("mean_loss1") == 0.0)
    assert(r.getAs[Double]("mean_loss2") > 1.0)
    assert(r.getAs[Double]("dm") < -2.0)
    assert(r.getAs[Double]("p_value") < 0.05)
    // identical forecasters: the loss differential is identically 0 →
    // sig2 = 0 → the key drops (degenerate, no verdict to report)
    val same = rows.map { case (k, p, v, f1, _) => (k, p, v, f1, f1) }
      .toDF("k", "p", "v", "f1", "f2")
    assert(Features.dieboldMarianoByKey(same, "k", "p", "v", "f1",
      "f2", maxLag = 2).count() == 0L)
  }

  test("intervalScoreByGroup: hand-scored penalties, reversed bounds raise") {
    import spark.implicits._
    // interval [0, 10], alpha = 0.2 → penalty 10/unit outside:
    // x = 5 inside (IS 10), x = 12 above (10 + 10·2 = 30),
    // x = -1 below (10 + 10·1 = 20) → mean 20, coverage 1/3
    val df = Seq(("g", 5.0, 0.0, 10.0), ("g", 12.0, 0.0, 10.0),
      ("g", -1.0, 0.0, 10.0)).toDF("g", "x", "lo", "hi")
    val r = Evaluation.intervalScoreByGroup(df, Seq("g"), "x", "lo",
      "hi", alpha = 0.2).head()
    assert(r.getAs[Long]("n") == 3L)
    assert(math.abs(r.getAs[Double]("coverage") - 0.333333) < 1e-6)
    assert(r.getAs[Double]("mean_width") == 10.0)
    assert(r.getAs[Double]("mean_interval_score") == 20.0)
    val bad = Seq(("g", 5.0, 10.0, 0.0)).toDF("g", "x", "lo", "hi")
    val ex = intercept[Exception] {
      Evaluation.intervalScoreByGroup(bad, Seq("g"), "x", "lo", "hi",
        alpha = 0.2).collect()
    }
    assert(ex.getMessage.contains("reversed interval") ||
      ex.getCause != null)
  }

  test("jackknifeRichness matches the hand-worked incidence table") {
    import spark.implicits._
    // units: {x y}, {y z}, {y} → S = 3, Q1 = 2 (x, z), Q2 = 0, n = 3
    // jack1 = 3 + 2·(2/3) = 4.333333; jack2 = 3 + 2·(3/3) − 0 = 5
    val df = Seq((1L, "x y"), (2L, "y z"), (3L, "y"))
      .toDF("doc_id", "text")
    val r = TextOps.jackknifeRichness(df, "doc_id", "text").head()
    assert(r.getAs[Long]("n_units") == 3L)
    assert(r.getAs[Long]("s_obs") == 3L)
    assert(r.getAs[Long]("q1") == 2L && r.getAs[Long]("q2") == 0L)
    assert(math.abs(r.getAs[Double]("jack1") - 4.333333) < 1e-6)
    assert(r.getAs[Double]("jack2") == 5.0)
  }

  test("splitHalfReliability: identical halves give r = 1, SB = 1") {
    import spark.implicits._
    // each unit: 4 equal values → odd sum == even sum per unit, and
    // the sums vary across units → perfect half correlation
    val rows = (1 to 5).flatMap(u =>
      (0 until 4).map(j => (u.toLong, (u * 10 + j).toLong, u.toDouble)))
    val r = StatTests.splitHalfReliability(rows.toDF("u", "o", "v"),
      "u", "o", "v").head()
    assert(r.getAs[Long]("n_units") == 5L)
    assert(r.getAs[Double]("r_halves") == 1.0)
    assert(r.getAs[Double]("spearman_brown") == 1.0)
    // a single-observation unit drops (nothing to split)
    val withSingleton = rows ++ Seq((99L, 1L, 5.0))
    val r2 = StatTests.splitHalfReliability(
      withSingleton.toDF("u", "o", "v"), "u", "o", "v").head()
    assert(r2.getAs[Long]("n_units") == 5L)
  }

  test("tClosenessAudit: matching mix passes, concentrated group fails") {
    import spark.implicits._
    // group A mirrors the global 50/50 mix → tvd 0; group B is all-'x'
    // → tvd = 0.5·(|1−5/8| + |0−3/8|) = 0.375, entropy_l = 1
    val df = (Seq.fill(2)(("A", "x")) ++ Seq.fill(2)(("A", "y")) ++
      Seq.fill(3)(("B", "x")) ++ Seq.fill(1)(("B", "y")))
      .toDF("g", "s")
    val out = Validation.tClosenessAudit(df, Seq("g"), "s", t = 0.1)
      .collect().map(r => r.getAs[String]("g") -> r).toMap
    assert(out("A").getAs[Long]("n") == 4L)
    assert(out("A").getAs[Long]("distinct_l") == 2L)
    // global mix: x 5/8, y 3/8; A is 1/2-1/2 → tvd = 0.5·(2·1/8) = 0.125
    assert(math.abs(out("A").getAs[Double]("tvd") - 0.125) < 1e-9)
    assert(!out("A").getAs[Boolean]("t_ok"))
    assert(math.abs(out("B").getAs[Double]("tvd") - 0.125) < 1e-9)
    // entropy-l: A uniform over 2 → 2.0; B 3:1 → exp(H) < 2
    assert(math.abs(out("A").getAs[Double]("entropy_l") - 2.0) < 1e-6)
    assert(out("B").getAs[Double]("entropy_l") < 1.9)
    // an all-one-value group: entropy_l = 1, tvd = absent mass share
    val conc = (Seq.fill(4)(("A", "x")) ++ Seq.fill(4)(("B", "y")))
      .toDF("g", "s")
    val o2 = Validation.tClosenessAudit(conc, Seq("g"), "s", t = 0.4)
      .collect().map(r => r.getAs[String]("g") -> r).toMap
    assert(o2("A").getAs[Double]("entropy_l") == 1.0)
    assert(math.abs(o2("A").getAs[Double]("tvd") - 0.5) < 1e-9)
  }

  test("validityIndices: tight separated clusters beat a smeared split") {
    import spark.implicits._
    // two tight 2-D blobs at (0,0) and (10,10): with the true k=2
    // centroids, DB is tiny and CH is huge
    val pts = Seq(
      (1L, Array(0.0, 0.1)), (2L, Array(0.1, 0.0)),
      (3L, Array(-0.1, 0.0)), (4L, Array(0.0, -0.1)),
      (5L, Array(10.0, 10.1)), (6L, Array(10.1, 10.0)),
      (7L, Array(9.9, 10.0)), (8L, Array(10.0, 9.9)))
      .toDF("id", "emb")
    val good = Clustering.kMeans(pts, "emb", "id", k = 2, iters = 3,
      init = Array(Array(0.0, 0.0), Array(10.0, 10.0)),
      quantizeDecimals = 6)
    val gi = Clustering.validityIndices(pts, "emb", "id", good).head()
    assert(gi.getAs[Int]("k_effective") == 2 && gi.getAs[Long]("n") == 8L)
    assert(gi.getAs[Double]("db_index") < 0.05)
    assert(gi.getAs[Double]("ch_index") > 1000.0)
    // W + B decompose the total sum of squares (within rounding)
    val tot = gi.getAs[Double]("w_ssq") + gi.getAs[Double]("b_ssq")
    assert(math.abs(tot - (8 * (0.01 + 25.0 + 25.0) / 1.0 -
      8 * 0.0)) < 1.0) // ~400.08: 2·0.01 per blob + n·(5√2)² between
    // a deliberately bad centroid pair (both inside one blob) scores
    // far worse on DB
    val bad = Clustering.kMeans(pts, "emb", "id", k = 2, iters = 1,
      init = Array(Array(0.0, 0.05), Array(0.05, 0.0)),
      quantizeDecimals = 6)
    val bi = Clustering.validityIndices(pts, "emb", "id", bad).head()
    assert(bi.getAs[Double]("db_index") > gi.getAs[Double]("db_index"))
  }

  test("hosmerLemeshow: calibrated scores pass, squared miscalibration fires") {
    import spark.implicits._
    // perfectly calibrated: in bin b the outcome rate equals the mean
    // score — alternate y at exactly rate p within each tight score
    // cell (p = 0.05..0.95, 40 rows each, o1 = round(40p))
    val rows = (0 until 10).flatMap { b =>
      val p = b / 10.0 + 0.05
      val o1 = math.round(40 * p).toInt
      (0 until 40).map(i => (p, i < o1))
    }
    val ok = Evaluation.hosmerLemeshow(rows.toDF("p", "y"), "p", "y")
      .head()
    assert(ok.getAs[Long]("n") == 400L)
    assert(ok.getAs[Int]("df") == 8)
    assert(ok.getAs[Double]("chi2") < 2.0)
    assert(ok.getAs[Double]("p_value") > 0.9)
    // same scores, outcomes at rate p² — strongly miscalibrated
    val miss = (0 until 10).flatMap { b =>
      val p = b / 10.0 + 0.05
      val o1 = math.round(40 * p * p).toInt
      (0 until 40).map(i => (p, i < o1))
    }
    val bad = Evaluation.hosmerLemeshow(miss.toDF("p", "y"), "p", "y")
      .head()
    assert(bad.getAs[Double]("chi2") > 50.0)
    assert(bad.getAs[Double]("p_value") < 0.001)
    // an empty bin fails loudly
    val sparse = Seq((0.05, true), (0.95, false)).toDF("p", "y")
    val ex = intercept[IllegalArgumentException] {
      Evaluation.hosmerLemeshow(sparse, "p", "y")
    }
    assert(ex.getMessage.contains("empty"))
  }

  test("fleissKappa and krippendorffAlpha match hand-worked panels") {
    import spark.implicits._
    // 4 items × 3 raters, two categories: P̄ = 2/3, P_e = 1/2, κ = 1/3
    val fleissRows = Seq(
      (1L, "x"), (1L, "x"), (1L, "x"),
      (2L, "x"), (2L, "x"), (2L, "y"),
      (3L, "y"), (3L, "y"), (3L, "y"),
      (4L, "x"), (4L, "y"), (4L, "y"),
      // a 2-rating item must be DROPPED by the fixed-panel contract
      (5L, "x"), (5L, "y")).toDF("item", "cat")
    val fk = Evaluation.fleissKappa(fleissRows, "item", "cat",
      raters = 3).head()
    assert(fk.getAs[Long]("n_items") == 4L)
    assert(math.abs(fk.getAs[Double]("p_bar") - 0.666667) < 1e-6)
    assert(math.abs(fk.getAs[Double]("p_e") - 0.5) < 1e-9)
    assert(math.abs(fk.getAs[Double]("kappa") - 0.333333) < 1e-6)
    // ragged panel: D_o = 4, D_e = 5, α = 0.2 (the singleton item
    // contributes no pairable ratings)
    val kRows = Seq(
      (1L, "a"), (1L, "a"), (2L, "b"), (2L, "b"), (3L, "a"), (3L, "b"),
      (4L, "a"), (4L, "a"), (4L, "b"), (5L, "c")).toDF("item", "cat")
    val ka = Evaluation.krippendorffAlpha(kRows, "item", "cat").head()
    assert(ka.getAs[Long]("n_items") == 4L)
    assert(ka.getAs[Long]("n_ratings") == 9L)
    assert(math.abs(ka.getAs[Double]("d_o") - 4.0) < 1e-9)
    assert(math.abs(ka.getAs[Double]("d_e") - 5.0) < 1e-9)
    assert(math.abs(ka.getAs[Double]("alpha") - 0.2) < 1e-9)
    // perfect agreement: alpha = 1
    val perfect = Seq((1L, "a"), (1L, "a"), (2L, "b"), (2L, "b"))
      .toDF("item", "cat")
    assert(Evaluation.krippendorffAlpha(perfect, "item", "cat").head()
      .getAs[Double]("alpha") == 1.0)
  }

  test("gkAssociation: perfect concordance gamma 1, lambda on a known table") {
    import spark.implicits._
    // monotone pairs only → gamma = 1; predictable rows → lambda
    val mono = Seq((1.0, 1.0), (2.0, 2.0), (3.0, 3.0), (1.0, 1.0))
      .toDF("x", "y")
    val g1 = Evaluation.gkAssociation(mono, "x", "y").head()
    assert(g1.getAs[Double]("gamma") == 1.0)
    assert(g1.getAs[Long]("discordant") == 0L)
    // classic lambda table: rows predict y beyond the modal column
    // cells: x=1:(y1:6,y2:2), x=2:(y1:2,y2:6) → srow=12, mcol=8, n=16
    // lambda = (12-8)/(16-8) = 0.5; gamma = (36-4)/(36+4) = 0.8
    val tab = Seq.fill(6)((1.0, 1.0)) ++ Seq.fill(2)((1.0, 2.0)) ++
      Seq.fill(2)((2.0, 1.0)) ++ Seq.fill(6)((2.0, 2.0))
    val g2 = Evaluation.gkAssociation(tab.toDF("x", "y"), "x", "y").head()
    assert(g2.getAs[Long]("concordant") == 36L)
    assert(g2.getAs[Long]("discordant") == 4L)
    assert(g2.getAs[Double]("gamma") == 0.8)
    assert(g2.getAs[Double]("lambda_yx") == 0.5)
    // cardinality guard fires loudly
    val wide = (0 until 200).map(i => (i.toDouble, i.toDouble))
      .toDF("x", "y")
    val ex = intercept[IllegalArgumentException] {
      Evaluation.gkAssociation(wide, "x", "y", maxCells = 64)
    }
    assert(ex.getMessage.contains("LOW-CARDINALITY"))
  }

  test("stuartMaxwell: symmetric table null, shifted margins fire") {
    import spark.implicits._
    // perfectly symmetric 3×3 → d = 0, chi2 = 0, p = 1
    val sym = Seq(
      ("a", "b"), ("b", "a"), ("a", "c"), ("c", "a"), ("b", "c"),
      ("c", "b"), ("a", "a"), ("b", "b"), ("c", "c")).toDF("f", "l")
    val s0 = Evaluation.stuartMaxwell(sym, "f", "l").head()
    assert(s0.getAs[Long]("d1") == 0L && s0.getAs[Long]("d2") == 0L)
    assert(s0.getAs[Double]("chi2") == 0.0)
    assert(s0.getAs[Double]("p_value") == 1.0)
    // strong marginal shift a→b: chi2 large, p small
    val shift = (Seq.fill(20)(("a", "b")) ++ Seq.fill(2)(("b", "a")) ++
      Seq.fill(3)(("a", "c")) ++ Seq.fill(3)(("c", "a")) ++
      Seq.fill(2)(("b", "c")) ++ Seq.fill(2)(("c", "b"))).toDF("f", "l")
    val s1 = Evaluation.stuartMaxwell(shift, "f", "l").head()
    assert(s1.getAs[Double]("chi2") > 10.0)
    assert(s1.getAs[Double]("p_value") < 0.01)
    // wrong k fails loudly
    val two = Seq(("a", "b"), ("b", "a")).toDF("f", "l")
    val ex = intercept[IllegalArgumentException] {
      Evaluation.stuartMaxwell(two, "f", "l")
    }
    assert(ex.getMessage.contains("exactly 3 categories"))
  }

  test("cohenKappa: classic 2x2 table gives 0.4; degenerate agreement null") {
    import spark.implicits._
    // yes/yes 20, no/no 15, yes/no 5, no/yes 10 → po=0.7, pe=0.5, κ=0.4
    val rows = Seq.fill(20)(("y", "y")) ++ Seq.fill(15)(("n", "n")) ++
      Seq.fill(5)(("y", "n")) ++ Seq.fill(10)(("n", "y"))
    val r = Evaluation.cohenKappa(rows.toDF("a", "b"), "a", "b").head()
    assert(math.abs(r.getAs[Double]("kappa") - 0.4) < 1e-9)
    assert(math.abs(r.getAs[Double]("po") - 0.7) < 1e-9)
    assert(math.abs(r.getAs[Double]("pe") - 0.5) < 1e-9)
    assert(r.getAs[Long]("n") == 50L)
    // both raters constant-equal: pe = 1 → kappa undefined (null)
    val const = Seq.fill(4)(("x", "x")).toDF("a", "b")
    val rc = Evaluation.cohenKappa(const, "a", "b").head()
    assert(rc.isNullAt(rc.fieldIndex("kappa")))
    // disjoint raters: po = 0, pe = 0 → κ = 0/1 = 0
    val disj = Seq.fill(4)(("x", "y")).toDF("a", "b")
    assert(Evaluation.cohenKappa(disj, "a", "b").head()
      .getAs[Double]("kappa") == 0.0)
  }

  test("retention: first-period cohorting, distinct users per cell, diagonal 1") {
    import spark.implicits._
    // a: days {0,0,1} (dup event same day dedups), b: {0}, c: {1,3}
    val df = Seq(("a", 5L), ("a", 7L), ("a", 15L), ("b", 3L),
      ("c", 12L), ("c", 33L)).toDF("u", "t")
    val out = operators.Cohorts.retention(df, "u", "t", periodNanos = 10L)
      .collect().map(r => (r.getAs[Long]("cohort_period"),
        r.getAs[Long]("period_offset")) -> r).toMap
    assert(out((0L, 0L)).getAs[Long]("n_users") == 2L)
    assert(out((0L, 0L)).getAs[Double]("retention") == 1.0)
    assert(out((0L, 1L)).getAs[Long]("n_users") == 1L)
    assert(out((0L, 1L)).getAs[Double]("retention") == 0.5)
    assert(out((1L, 0L)).getAs[Long]("n_users") == 1L)
    assert(out((1L, 2L)).getAs[Double]("retention") == 1.0)
    assert(out.size == 4)
  }

  test("funnel: sequential semantics — out-of-order steps don't convert") {
    import spark.implicits._
    val df = Seq(
      ("u1", 1L, "view"), ("u1", 2L, "click"), ("u1", 3L, "purchase"),
      ("u2", 1L, "click"), ("u2", 2L, "view"), // click BEFORE view
      ("u3", 5L, "view")).toDF("u", "t", "e")
    val out = operators.Cohorts.funnel(df, "u", "t", "e",
      Seq("view", "click", "purchase")).orderBy("step_idx").collect()
    assert(out.map(_.getAs[Long]("users")).toSeq == Seq(3L, 1L, 1L))
    assert(out(0).getAs[Double]("rate_vs_first") == 1.0)
    assert(out(0).isNullAt(out(0).fieldIndex("rate_vs_prev")))
    assert(math.abs(out(1).getAs[Double]("rate_vs_first") - 0.333333) < 1e-9)
    assert(out(2).getAs[Double]("rate_vs_prev") == 1.0)
  }

  test("funnelLatency: exact type-1 percentiles of conversion deltas") {
    import spark.implicits._
    val df = Seq(
      ("u1", 0L, "view"), ("u1", 10L, "click"), ("u1", 30L, "purchase"),
      ("u2", 0L, "view"), ("u2", 20L, "click"),
      ("u3", 0L, "view"), ("u3", 30L, "click"), ("u3", 90L, "purchase"))
      .toDF("u", "t", "e")
    val out = operators.Cohorts.funnelLatency(df, "u", "t", "e",
      Seq("view", "click", "purchase")).orderBy("step_idx").collect()
    // step 1 deltas {10,20,30}: p50 = 2nd smallest = 20, p90 = 30
    assert(out(0).getAs[Long]("n_conv") == 3L)
    assert(out(0).getAs[Long]("p50") == 20L)
    assert(out(0).getAs[Long]("p90") == 30L)
    // step 2 deltas {20,60}: p50 = 1st = 20, p90 = 2nd = 60
    assert(out(1).getAs[Long]("n_conv") == 2L)
    assert(out(1).getAs[Long]("p50") == 20L)
    assert(out(1).getAs[Long]("p90") == 60L)
  }

  test("trendByKey: monotone series score ±1, midranks for ties") {
    import spark.implicits._
    val df = (Seq(1.0, 2.0, 3.0, 4.0).zipWithIndex.map { case (v, i) =>
      ("up", i.toLong, v) } ++
      Seq(4.0, 3.0, 2.0, 1.0).zipWithIndex.map { case (v, i) =>
        ("down", i.toLong, v) } ++
      Seq(1.0, 2.0, 2.0, 3.0).zipWithIndex.map { case (v, i) =>
        ("tied", i.toLong, v) } ++
      Seq(5.0, 5.0).zipWithIndex.map { case (v, i) =>
        ("flat", i.toLong, v) }).toDF("k", "t", "v")
    val out = operators.Features.trendByKey(df, "k", "t", "v")
      .collect().map(r => r.getAs[String]("k") -> r).toMap
    assert(out("up").getAs[Double]("rho") == 1.0)
    assert(out("down").getAs[Double]("rho") == -1.0)
    // ranks (1,2,3,4) vs midranks (1,2.5,2.5,4): rho = 18/sqrt(360)
    assert(math.abs(out("tied").getAs[Double]("rho") - 0.948683) < 1e-6)
    assert(!out.contains("flat"))
  }

  test("distinctiveTerms: group-exclusive tokens rank first") {
    import spark.implicits._
    val df = Seq((1L, "aaa bbb bbb", "g1"), (2L, "aaa ccc ccc", "g2"))
      .toDF("doc_id", "text", "lang")
    val out = operators.TextOps.distinctiveTerms(df, "doc_id", "text",
      "lang", k = 2).collect()
      .map(r => (r.getAs[String]("group"), r.getAs[Long]("rank")) -> r)
      .toMap
    assert(out(("g1", 1L)).getAs[String]("token") == "bbb")
    assert(out(("g2", 1L)).getAs[String]("token") == "ccc")
    assert(out(("g1", 1L)).getAs[Double]("z") > 0.0)
    assert(out(("g1", 1L)).getAs[Long]("n_in_group") == 2L)
    assert(out(("g1", 1L)).getAs[Long]("n_rest") == 0L)
  }

  test("holmAdjust: step-down with monotone enforcement") {
    import spark.implicits._
    val df = Seq(("a", 0.01), ("b", 0.04), ("c", 0.03), ("d", 0.5))
      .toDF("id", "p")
    val out = StatTests.holmAdjust(df, "p")
      .collect().map(r => r.getAs[String]("id") -> r).toMap
    assert(out("a").getAs[Double]("p_holm") == 0.04)
    assert(out("c").getAs[Double]("p_holm") == 0.09)
    // monotone: 2*0.04 = 0.08 < 0.09 is lifted to the running max
    assert(out("b").getAs[Double]("p_holm") == 0.09)
    assert(out("d").getAs[Double]("p_holm") == 0.5)
    assert(out("a").getAs[Boolean]("reject_fwer"))
    assert(!out("b").getAs[Boolean]("reject_fwer"))
    assert(out("a").getAs[Long]("holm_rank") == 1L)
  }

  test("continuousByGroup: clamped fixed-grid histogram per group") {
    import spark.implicits._
    val df = Seq(("g", 1.0), ("g", 6.0), ("g", 100.0), ("h", 1.0))
      .toDF("grp", "v")
    val out = Histogram.continuousByGroup(df, Seq("grp"), "v",
      binStart = 0.0, binWidth = 5.0, numBins = 3)
      .collect().map(r => (r.getAs[String]("grp"),
        r.getAs[Long]("bin")) -> r).toMap
    assert(out(("g", 0L)).getAs[Long]("n") == 1L)
    assert(out(("g", 1L)).getAs[Long]("n") == 1L)
    assert(out(("g", 2L)).getAs[Long]("n") == 1L) // 100 clamps in
    assert(out(("g", 1L)).getAs[Double]("bin_lo") == 5.0)
    assert(out(("g", 1L)).getAs[Double]("bin_hi") == 10.0)
    assert(out(("h", 0L)).getAs[Long]("n") == 1L)
  }

  test("effectSizes: pooled-sd d and Hedges correction") {
    import spark.implicits._
    val df = (Seq(0.0, 0.0, 1.0, 1.0).map(("a", _)) ++
      Seq(2.0, 2.0, 3.0, 3.0).map(("b", _))).toDF("g", "v")
    val out = StatTests.effectSizes(df, "g", "v").collect()(0)
    val d = -2.0 / math.sqrt(1.0 / 3.0)
    assert(math.abs(out.getAs[Double]("cohen_d") -
      math.rint(d * 1e6) / 1e6) < 1e-9)
    val gH = d * (1.0 - 3.0 / 23.0)
    assert(math.abs(out.getAs[Double]("hedges_g") -
      math.rint(gH * 1e6) / 1e6) < 1e-9)
  }

  test("icc: perfect between-group separation gives 1") {
    import spark.implicits._
    val df = Seq(("g1", 1.0), ("g1", 1.0), ("g2", 5.0), ("g2", 5.0))
      .toDF("g", "v")
    val out = StatTests.icc(df, "g", "v").collect()(0)
    assert(out.getAs[Double]("icc") == 1.0)
    assert(out.getAs[Double]("ms_within") == 0.0)
    // no between-group structure -> icc <= 0
    val flat = Seq(("g1", 1.0), ("g1", 5.0), ("g2", 1.0), ("g2", 5.0))
      .toDF("g", "v")
    val f = StatTests.icc(flat, "g", "v").collect()(0)
    assert(f.getAs[Double]("icc") <= 0.0)
  }

  test("lorenzByGroup: exact cumulative shares under ties") {
    import spark.implicits._
    val df = Seq(1.0, 1.0, 2.0, 4.0).map(("g", _)).toDF("g", "v")
    val out = PlotData.lorenzByGroup(df, Seq("g"), "v")
      .orderBy("v").collect()
    // total 8: points (0.5, 0.25), (0.75, 0.5), (1.0, 1.0)
    assert(out.length == 3)
    assert(out(0).getAs[Double]("pop_share") == 0.5)
    assert(out(0).getAs[Double]("mass_share") == 0.25)
    assert(out(1).getAs[Double]("mass_share") == 0.5)
    assert(out(2).getAs[Double]("pop_share") == 1.0)
    assert(out(2).getAs[Double]("mass_share") == 1.0)
  }

  test("crosstab: row/col/total percentage algebra") {
    import spark.implicits._
    val df = Seq(("x", "p"), ("x", "p"), ("x", "q"), ("y", "q"))
      .toDF("a", "b")
    val out = Evaluation.crosstab(df, "a", "b")
      .collect().map(r => (r.getAs[String]("a"),
        r.getAs[String]("b")) -> r).toMap
    assert(out(("x", "p")).getAs[Double]("row_pct") == 0.666667)
    assert(out(("x", "p")).getAs[Double]("col_pct") == 1.0)
    assert(out(("x", "p")).getAs[Double]("total_pct") == 0.5)
    assert(out(("y", "q")).getAs[Double]("row_pct") == 1.0)
    assert(out(("y", "q")).getAs[Double]("col_pct") == 0.5)
  }

  test("rateRatio: exposure-weighted incident rates with CI") {
    import spark.implicits._
    // a: 4 events over exposure 8; b: 1 event over exposure 4
    val df = ((1 to 8).map(i => ("a", i <= 4, 1.0)) ++
      (1 to 4).map(i => ("b", i <= 1, 1.0))).toDF("cohort", "ev", "ex")
    val out = Experiments.rateRatio(df, "cohort", "ev", "ex")
      .collect()(0)
    assert(out.getAs[Double]("rate_a") == 0.5)
    assert(out.getAs[Double]("rate_b") == 0.25)
    assert(out.getAs[Double]("rate_ratio") == 2.0)
    val se = math.sqrt(1.0 / 4 + 1.0 / 1)
    assert(math.abs(out.getAs[Double]("z") -
      math.rint(math.log(2.0) / se * 1e6) / 1e6) < 1e-9)
    assert(out.getAs[Double]("rr_lo") < 2.0 &&
      out.getAs[Double]("rr_hi") > 2.0)
  }

  test("medianCiByGroup: order-statistic bounds bracket the median") {
    import spark.implicits._
    val df = (1 to 25).map(v => ("g", v.toDouble)).toDF("g", "v")
    val out = Outliers.medianCiByGroup(df, Seq("g"), "v").collect()(0)
    // n=25: median rank 13; half = 1.959964*5/2 = 4.89991
    assert(out.getAs[Double]("median") == 13.0)
    // rlo = floor(12.5 - 4.89991) = 7; rhi = ceil(12.5 + 4.89991)+1 = 19
    assert(out.getAs[Double]("ci_lo") == 7.0)
    assert(out.getAs[Double]("ci_hi") == 19.0)
  }

  test("ebShrinkRates: moment-matched prior pulls small extremes") {
    import spark.implicits._
    def grp(g: String, x: Int) = (1 to 10).map(i => (g, i <= x))
    val df = (grp("a", 1) ++ grp("b", 5) ++ grp("c", 9)).toDF("g", "y")
    val out = Experiments.ebShrinkRates(df, Seq("g"), "y")
      .collect().map(r => r.getAs[String]("g") -> r).toMap
    val (m, v) = (0.5, (0.01 + 0.25 + 0.81) / 3.0 - 0.25)
    val s = m * (1 - m) / v - 1.0
    val a = m * s
    val shrunkA = (1.0 + a) / (10.0 + 2 * a)
    assert(math.abs(out("a").getAs[Double]("shrunk_rate") -
      math.rint(shrunkA * 1e6) / 1e6) < 1e-9)
    assert(out("a").getAs[Double]("shrunk_rate") > 0.1)
    assert(out("c").getAs[Double]("shrunk_rate") < 0.9)
    assert(out("b").getAs[Double]("shrunk_rate") == 0.5)
    // zero spread -> no shrink
    val flat = (grp("a", 5) ++ grp("b", 5)).toDF("g", "y")
    val f = Experiments.ebShrinkRates(flat, Seq("g"), "y")
      .collect()(0)
    assert(f.getAs[Double]("alpha") == 0.0)
    assert(f.getAs[Double]("shrunk_rate") == f.getAs[Double]("rate"))
  }

  test("sequentialMonitor: OBF boundary shrinks toward the final look") {
    import spark.implicits._
    def rows(p: Long, g: String, x: Int) =
      (1 to 10).map(i => (p, g, i <= x))
    val df = (rows(1L, "a", 2) ++ rows(1L, "b", 2) ++
      rows(2L, "a", 8) ++ rows(2L, "b", 2)).toDF("period", "cohort", "y")
    val out = Experiments.sequentialMonitor(df, "period", "cohort", "y")
      .orderBy("period").collect()
    assert(out(0).getAs[Double]("z") == 0.0)
    assert(math.abs(out(0).getAs[Double]("boundary") -
      math.rint(1.959964 * math.sqrt(2.0) * 1e6) / 1e6) < 1e-9)
    assert(!out(0).getAs[Boolean]("crossed"))
    assert(out(1).getAs[Long]("n_a") == 20L)
    assert(out(1).getAs[Long]("x_a") == 10L)
    assert(out(1).getAs[Double]("boundary") == 1.959964)
    assert(math.abs(out(1).getAs[Double]("z") - 1.988981) < 1e-5)
    assert(out(1).getAs[Boolean]("crossed"))
  }

  test("fkCoverage: row and key coverage with orphans") {
    import spark.implicits._
    val fact = Seq(1, 1, 2, 3, 3, 3).toDF("fk")
    val dim = Seq(1, 2, 9).toDF("dk")
    val out = Validation.fkCoverage(fact, dim, "fk", "dk").collect()(0)
    assert(out.getAs[Long]("n_rows") == 6L)
    assert(out.getAs[Long]("n_matched_rows") == 3L)
    assert(out.getAs[Double]("row_coverage") == 0.5)
    assert(out.getAs[Long]("n_keys") == 3L)
    assert(out.getAs[Long]("n_orphan_keys") == 1L)
  }

  test("withReadability: Coleman-Liau counts and formula") {
    import spark.implicits._
    val df = Seq((1L, "The cat sat. It purred!"), (2L, "   "))
      .toDF("doc_id", "text")
    val out = operators.TextOps.withReadability(df, "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    val r1 = out(1L)
    assert(r1.getAs[Long]("n_letters") == 17L)
    assert(r1.getAs[Long]("n_words") == 5L)
    assert(r1.getAs[Long]("n_sentences") == 2L)
    val cli = 0.0588 * (17.0 * 100 / 5) - 0.296 * (2.0 * 100 / 5) - 15.8
    assert(math.abs(r1.getAs[Double]("cli") -
      math.rint(cli * 1e6) / 1e6) < 1e-9)
    assert(out(2L).isNullAt(out(2L).fieldIndex("cli")))
  }

  test("touchAttribution: first ever and last preceding touch") {
    import spark.implicits._
    val df = Seq(("u", 1L, 1L, "view"), ("u", 2L, 2L, "click"),
      ("u", 3L, 3L, "purchase"), ("u", 4L, 4L, "view"),
      ("u", 5L, 5L, "purchase"), ("v", 1L, 6L, "purchase"))
      .toDF("u", "t", "eid", "et")
    val out = operators.Cohorts.touchAttribution(df, "u", "t", "et",
      "purchase", tieBreakCols = Seq("eid"))
      .collect().map(r => (r.getAs[String]("u"), r.getAs[Long]("t")) -> r)
      .toMap
    val p1 = out(("u", 3L))
    assert(p1.getAs[String]("first_touch_type") == "view")
    assert(p1.getAs[Long]("first_touch_ts") == 1L)
    assert(p1.getAs[String]("last_touch_type") == "click")
    assert(p1.getAs[Long]("last_touch_ts") == 2L)
    val p2 = out(("u", 5L))
    assert(p2.getAs[String]("last_touch_type") == "view")
    assert(p2.getAs[Long]("last_touch_ts") == 4L)
    // organic conversion: no touches at all
    val o = out(("v", 1L))
    assert(o.isNullAt(o.fieldIndex("first_touch_type")))
    assert(o.isNullAt(o.fieldIndex("last_touch_type")))
  }

  test("seasonalIndexByKey: phase means relative to the key mean") {
    import spark.implicits._
    val df = Seq(("k", 5L, 2.0), ("k", 15L, 4.0), ("k", 25L, 4.0))
      .toDF("k", "t", "v")
    val out = Features.seasonalIndexByKey(df, "k", "t", "v",
      phaseUnit = 10L, period = 2).collect()
      .map(r => r.getAs[Long]("phase") -> r).toMap
    assert(out(0L).getAs[Double]("phase_mean") == 3.0)
    assert(out(1L).getAs[Double]("phase_mean") == 4.0)
    assert(out(0L).getAs[Double]("seasonal_index") == 0.9)
    assert(out(1L).getAs[Double]("seasonal_index") == 1.2)
  }

  test("decayedByKey: half-life algebra at an explicit reference") {
    import spark.implicits._
    val df = Seq(("k", 0L, 4.0), ("k", 10L, 2.0), ("k", 20L, 1.0))
      .toDF("k", "t", "v")
    val out = Features.decayedByKey(df, "k", "t", "v", refTs = 20L,
      halfLife = 10.0).collect()(0)
    // weights 2^-2, 2^-1, 1 -> count 1.75, sum 1 + 1 + 1 = 3
    assert(out.getAs[Long]("n") == 3L)
    assert(out.getAs[Double]("decayed_count") == 1.75)
    assert(out.getAs[Double]("decayed_sum") == 3.0)
  }

  test("lshPlan: divisor enumeration and S-curve algebra") {
    val out = Dedup.lshPlan(spark, threshold = 0.5, nHashes = 16)
      .collect().map(r => r.getAs[Long]("bands") -> r).toMap
    assert(out.keySet == Set(1L, 2L, 4L, 8L, 16L))
    // b=4, r=4: crossover (1/4)^(1/4), catch 1-(1-0.5^4)^4
    val c = math.pow(0.25, 0.25)
    assert(math.abs(out(4L).getAs[Double]("crossover") -
      math.rint(c * 1e6) / 1e6) < 1e-9)
    val p = 1.0 - math.pow(1.0 - 0.0625, 4)
    assert(math.abs(out(4L).getAs[Double]("p_catch_at_threshold") -
      math.rint(p * 1e6) / 1e6) < 1e-9)
  }

  test("bradleyTerry: transitive ordering, symmetric ties equal") {
    import spark.implicits._
    val pairs = Seq(("a", "b"), ("a", "b"), ("b", "c"), ("b", "c"))
      .toDF("w", "l")
    val out = Preference.bradleyTerry(pairs, "w", "l", iters = 3)
      .collect().map(r => r.getAs[String]("item") ->
        r.getAs[Double]("strength")).toMap
    assert(out("a") > out("b") && out("b") > out("c"))
    val even = Seq(("a", "b"), ("b", "a")).toDF("w", "l")
    val e = Preference.bradleyTerry(even, "w", "l", iters = 2)
      .collect().map(r => r.getAs[String]("item") ->
        r.getAs[Double]("strength")).toMap
    assert(e("a") == 1.0 && e("b") == 1.0)
  }

  test("isotonicByGroup: independent PAV per group") {
    import spark.implicits._
    // group g1: decreasing rates pool into one block (iso = global
    // rate); g2: already monotone, untouched
    val df = (Seq.fill(2)(("g1", 0.05, true)) ++
      Seq.fill(2)(("g1", 0.15, false)) ++
      Seq.fill(2)(("g2", 0.05, false)) ++
      Seq(("g2", 0.15, true), ("g2", 0.15, false))).toDF("g", "s", "y")
    val out = Evaluation.isotonicByGroup(df, "g", "y", "s", bins = 10)
      .collect().map(r => (r.getAs[String]("g"),
        r.getAs[Int]("bin")) -> r).toMap
    assert(out(("g1", 0)).getAs[Double]("iso_rate") == 0.5)
    assert(out(("g1", 1)).getAs[Double]("iso_rate") == 0.5)
    assert(out(("g2", 0)).getAs[Double]("iso_rate") == 0.0)
    assert(out(("g2", 1)).getAs[Double]("iso_rate") == 0.5)
  }

  test("winsorizedMeanByGroup: clamp algebra, exact under ties") {
    import spark.implicits._
    val df = ((1 to 10).map(v => ("a", v.toDouble)) ++
      Seq(1.0, 1.0, 1.0, 5.0, 9.0, 9.0, 9.0).map(("b", _))).toDF("g", "v")
    val out = Outliers.winsorizedMeanByGroup(df, Seq("g"), "v",
      trim = 0.1).collect().map(r => r.getAs[String]("g") -> r).toMap
    // a: lo=1, mid 2..9 = 44, vlo=2, vhi=9 -> 55/10
    assert(out("a").getAs[Double]("winsorized_mean") == 5.5)
    // b: n=7 trim .1 -> lo=0 -> plain mean 35/7
    assert(out("b").getAs[Double]("winsorized_mean") == 5.0)
    val tied = Seq(1.0, 1.0, 1.0, 5.0, 9.0, 9.0, 9.0).map(("b", _))
      .toDF("g", "v")
    val t = Outliers.winsorizedMeanByGroup(tied, Seq("g"), "v",
      trim = 0.2).collect()(0)
    // lo=1: mid {1,1,5,9,9}=25, vlo=1, vhi=9 -> 35/7
    assert(t.getAs[Double]("winsorized_mean") == 5.0)
  }

  test("whitenedProjection: unit variance on a fitted basis") {
    import spark.implicits._
    val df = Seq(Seq(1.0f, 0.0f), Seq(2.0f, 0.0f), Seq(3.0f, 0.0f),
      Seq(4.0f, 0.0f)).toDF("emb")
    val m = Pca.fit(df, "emb")
    val out = df.select(m.whitenedProjection(F.col("emb"), 0).as("w"))
      .agg(F.var_pop(F.col("w"))).collect()(0).getDouble(0)
    assert(math.abs(out - 1.0) < 1e-9)
    // zero-variance second component refuses to whiten
    intercept[IllegalArgumentException] {
      m.whitenedProjection(F.col("emb"), 1)
    }
  }

  test("quantileMap: CDF matching onto the reference order statistics") {
    import spark.implicits._
    val df = (Seq(1.0, 2.0, 3.0, 4.0).map(("b", _)) ++
      Seq(10.0, 20.0).map(("a", _))).toDF("cohort", "v")
    val out = Ranks.quantileMap(df, "cohort", "v", "b", "a")
      .orderBy("value").collect()
    // u = .125/.375/.625/.875 -> t = 1,1,2,2 -> mapped 10,10,20,20
    assert(out.map(_.getAs[Double]("value")).toSeq ==
      Seq(1.0, 2.0, 3.0, 4.0))
    assert(out.map(_.getAs[Double]("mapped")).toSeq ==
      Seq(10.0, 10.0, 20.0, 20.0))
    assert(out(0).getAs[Double]("u") == 0.125)
  }

  test("stratifiedAte: removes the confound the naive diff carries") {
    import spark.implicits._
    val df = (Seq((true, 1.0, 0.0)) ++ Seq.fill(3)((false, 0.0, 0.0)) ++
      Seq.fill(3)((true, 3.0, 1.0)) ++ Seq((false, 2.0, 1.0)))
      .toDF("t", "y", "s")
    val out = Experiments.stratifiedAte(df, "t", "y", "s", k = 2)
      .collect()(0)
    assert(out.getAs[Double]("ate") == 1.0)
    assert(out.getAs[Double]("naive_diff") == 2.0)
    assert(out.getAs[Long]("n_strata") == 2L)
    assert(out.getAs[Long]("n_excluded") == 0L)
    // one-armed stratum is excluded and counted
    val oneArm = (Seq((true, 1.0, 0.0), (false, 0.0, 0.0)) ++
      Seq.fill(2)((true, 5.0, 1.0))).toDF("t", "y", "s")
    val o = Experiments.stratifiedAte(oneArm, "t", "y", "s", k = 2)
      .collect()(0)
    assert(o.getAs[Double]("ate") == 1.0)
    assert(o.getAs[Long]("n_excluded") == 2L)
  }

  test("powerTwoProportion: closed-form replication") {
    import spark.implicits._
    val df = (Seq.fill(10)(("a", true)) ++ Seq.fill(90)(("a", false)) ++
      Seq.fill(20)(("b", true)) ++ Seq.fill(80)(("b", false)))
      .toDF("cohort", "y")
    val out = Experiments.powerTwoProportion(df, "cohort", "y")
      .collect()(0)
    val (pa, pb, pbar) = (0.1, 0.2, 0.15)
    val delta = 0.1
    val se = math.sqrt(pa * 0.9 / 100 + pb * 0.8 / 100)
    val z = math.rint((delta / se - 1.959964) * 1e6) / 1e6
    val power = math.rint(0.5 * graft.functions.SpecialMath.erfc(
      -z / math.sqrt(2.0)) * 1e6) / 1e6
    val nnum = 1.959964 * math.sqrt(2 * pbar * 0.85) +
      0.841621 * math.sqrt(pa * 0.9 + pb * 0.8)
    assert(out.getAs[Double]("rate_a") == 0.1)
    assert(out.getAs[Double]("delta") == 0.1)
    assert(math.abs(out.getAs[Double]("power") - power) < 1e-9)
    assert(math.abs(out.getAs[Double]("n_needed_per_arm") -
      math.rint(nnum * nnum / (delta * delta) * 1e6) / 1e6) < 1e-9)
  }

  test("cumulativeIncidence: hand Aalen-Johansen, sums to 1 - S") {
    import spark.implicits._
    val df = Seq((1.0, 1L), (2.0, 2L), (3.0, 0L), (4.0, 1L))
      .toDF("t", "cause").withColumn("g", F.lit("g"))
    val out = Survival.cumulativeIncidence(df, "t", "cause", Seq("g"))
      .collect().map(r => (r.getAs[Long]("cause"),
        r.getAs[Double]("t")) -> r).toMap
    assert(out((1L, 1.0)).getAs[Double]("cif") == 0.25)
    assert(out((2L, 2.0)).getAs[Double]("cif") == 0.25)
    // S(4-) = 0.75 * 2/3 = 0.5 -> CIF_1(4) = 0.25 + 0.5 = 0.75
    assert(out((1L, 4.0)).getAs[Double]("cif") == 0.75)
    assert(out((1L, 1.0)).getAs[Long]("n_risk") == 4L)
    assert(out.size == 3)
  }

  test("rfm: tie-stable triple bucketing and segment code") {
    import spark.implicits._
    val df = (Seq(("u1", 10L, 1.0)) ++
      Seq(("u2", 5L, 1.0), ("u2", 20L, 1.0)) ++
      (1 to 3).map(i => ("u3", 30L - i, 1.0)) ++
      (1 to 4).map(i => ("u4", 40L - i, 1.0))).toDF("u", "ts", "v")
    val out = operators.Cohorts.rfm(df, "u", "ts", "v", k = 2)
      .collect().map(r => r.getAs[String]("u") -> r).toMap
    assert(out("u1").getAs[Long]("rfm_code") == 111L)
    assert(out("u4").getAs[Long]("rfm_code") == 222L)
    assert(out("u2").getAs[Long]("frequency") == 2L)
    assert(out("u2").getAs[Double]("monetary") == 2.0)
    assert(out("u2").getAs[Long]("recency_ts") == 20L)
  }

  test("dunnTest: pooled midranks, pairwise z, tie-free hand case") {
    import spark.implicits._
    val df = Seq(("a", 1.0), ("a", 2.0), ("b", 3.0), ("b", 4.0),
      ("c", 5.0), ("c", 6.0)).toDF("l", "v")
    val out = StatTests.dunnTest(df, "l", "v")
      .collect().map(r => (r.getAs[String]("group_a"),
        r.getAs[String]("group_b")) -> r).toMap
    assert(out.size == 3)
    // sigma2 = 6*7/12 = 3.5; mean ranks 1.5, 3.5, 5.5
    assert(out(("a", "b")).getAs[Double]("mean_rank_a") == 1.5)
    assert(out(("a", "b")).getAs[Double]("mean_rank_b") == 3.5)
    val z = -2.0 / math.sqrt(3.5 * 1.0)
    assert(math.abs(out(("a", "b")).getAs[Double]("z") -
      math.rint(z * 1e6) / 1e6) < 1e-9)
    assert(math.abs(out(("a", "c")).getAs[Double]("z") -
      math.rint(2.0 * z * 1e6) / 1e6) < 1e-9)
  }

  test("brownForsythe: variance gap F on median-centered deviations") {
    import spark.implicits._
    val df = (Seq(0.0, 1.0, 2.0, 3.0).map(("g1", _)) ++
      Seq(0.0, 10.0, 20.0, 30.0).map(("g2", _))).toDF("f", "x")
    val out = StatTests.brownForsythe(df, "f", "x").collect()(0)
    // z cells: g1 {1.5,.5,.5,1.5}, g2 {15,5,5,15} -> F = 162/(101/6)
    assert(math.abs(out.getAs[Double]("f_stat") - 9.623762) < 1e-6)
    assert(out.getAs[Long]("df1") == 1L)
    assert(out.getAs[Long]("df2") == 6L)
  }

  test("jarqueBeraByGroup: exact moment algebra on a hand sample") {
    import spark.implicits._
    val df = Seq(1.0, 2.0, 3.0, 4.0).map(("g", _)).toDF("g", "x")
    val out = StatTests.jarqueBeraByGroup(df, Seq("g"), "x").collect()(0)
    // mu 2.5, m2 1.25, m3 0, m4 2.5625 -> skew 0, exk -1.36
    assert(out.getAs[Double]("skewness") == 0.0)
    assert(math.abs(out.getAs[Double]("kurtosis_ex") + 1.36) < 1e-9)
    val jb = 4.0 / 6.0 * (0.0 + 1.36 * 1.36 / 4.0)
    assert(math.abs(out.getAs[Double]("jb") -
      math.rint(jb * 1e6) / 1e6) < 1e-9)
    assert(math.abs(out.getAs[Double]("p_value") -
      math.rint(math.exp(-out.getAs[Double]("jb") / 2.0) * 1e6) / 1e6)
      < 1e-9)
  }

  test("cochranArmitage: monotone dose-response z, hand formula") {
    import spark.implicits._
    val df = (Seq.fill(4)((0.0, false)) ++
      Seq((1.0, true), (1.0, true), (1.0, false), (1.0, false)) ++
      Seq.fill(4)((2.0, true))).toDF("w", "y")
    val out = StatTests.cochranArmitage(df, "w", "y").collect()(0)
    val (n, tx) = (12.0, 6.0)
    val (swx, swn, swwn) = (1.0 * 2 + 2.0 * 4, 1.0 * 4 + 2.0 * 4,
      1.0 * 4 + 4.0 * 4)
    val pb = tx / n
    val z = (swx - pb * swn) /
      math.sqrt(pb * (1.0 - pb) * (swwn - swn * swn / n))
    assert(out.getAs[Long]("n") == 12L)
    assert(out.getAs[Long]("n_levels") == 3L)
    assert(math.abs(out.getAs[Double]("z") -
      math.rint(z * 1e6) / 1e6) < 1e-9)
  }

  test("mcnemar: discordant-only, continuity corrected") {
    import spark.implicits._
    val df = (Seq.fill(6)((true, false)) ++ Seq.fill(2)((false, true)) ++
      Seq.fill(2)((true, true))).toDF("fa", "fb")
    val out = StatTests.mcnemar(df, "fa", "fb").collect()(0)
    assert(out.getAs[Long]("n10") == 6L)
    assert(out.getAs[Long]("n01") == 2L)
    val z = (math.abs(6.0 - 2.0) - 1.0) / math.sqrt(8.0)
    assert(math.abs(out.getAs[Double]("z") -
      math.rint(z * 1e6) / 1e6) < 1e-9)
    // no discordance -> z = 0, p = 1
    val flat = Seq.fill(4)((true, true)).toDF("fa", "fb")
    val f = StatTests.mcnemar(flat, "fa", "fb").collect()(0)
    assert(f.getAs[Double]("z") == 0.0)
    assert(f.getAs[Double]("p_value") == 1.0)
  }

  test("oddsRatio: hand 2x2 effect sizes, null on zero cell") {
    import spark.implicits._
    val df = (Seq.fill(3)(("a", true)) ++ Seq.fill(7)(("a", false)) ++
      Seq.fill(1)(("b", true)) ++ Seq.fill(9)(("b", false)))
      .toDF("cohort", "y")
    val out = Experiments.oddsRatio(df, "cohort", "y").collect()(0)
    assert(math.abs(out.getAs[Double]("odds_ratio") - 3.857143) < 1e-6)
    assert(out.getAs[Double]("risk_ratio") == 3.0)
    assert(out.getAs[Double]("or_lo") < 3.857143 &&
      out.getAs[Double]("or_hi") > 3.857143)
    val zero = (Seq.fill(3)(("a", true)) ++ Seq.fill(2)(("b", false)))
      .toDF("cohort", "y")
    val zr = Experiments.oddsRatio(zero, "cohort", "y").collect()(0)
    assert(zr.isNullAt(zr.fieldIndex("odds_ratio")))
    assert(zr.isNullAt(zr.fieldIndex("risk_ratio")))
  }

  test("transitionMatrix: lag pairing and row normalization") {
    import spark.implicits._
    val df = Seq(("u1", 1L, "a"), ("u1", 2L, "b"), ("u1", 3L, "a"),
      ("u2", 1L, "a"), ("u2", 2L, "b"), ("u2", 3L, "b"))
      .toDF("u", "t", "s")
    val out = operators.Cohorts.transitionMatrix(df, "u", "t", "s")
      .collect().map(r => (r.getAs[String]("from_state"),
        r.getAs[String]("to_state")) -> r).toMap
    // from a: a->b twice; from b: b->a once, b->b once
    assert(out(("a", "b")).getAs[Long]("n") == 2L)
    assert(out(("a", "b")).getAs[Double]("prob") == 1.0)
    assert(out(("b", "a")).getAs[Double]("prob") == 0.5)
    assert(out(("b", "b")).getAs[Double]("prob") == 0.5)
    assert(out.size == 3)
  }

  test("fairnessReport: per-group AUC gap vs overall") {
    import spark.implicits._
    // group g1: perfect ranking; g2: inverted
    val df = (Seq((0.1, false), (0.9, true), (0.2, false), (0.8, true))
      .map { case (s, y) => ("g1", s, y) } ++
      Seq((0.9, false), (0.1, true), (0.8, false), (0.2, true))
        .map { case (s, y) => ("g2", s, y) }).toDF("g", "s", "y")
    val out = Evaluation.fairnessReport(df, Seq("g"), "y", "s")
      .collect().map(r => r.getAs[String]("g") -> r).toMap
    assert(out(("g1")).getAs[Double]("auc") == 1.0)
    assert(out(("g2")).getAs[Double]("auc") == 0.0)
    assert(out(("g1")).getAs[Double]("auc_overall") == 0.5)
    assert(out(("g1")).getAs[Double]("auc_gap") == 0.5)
    assert(out(("g2")).getAs[Double]("auc_gap") == -0.5)
    assert(out(("g1")).getAs[Double]("base_rate") == 0.5)
  }

  test("hashingVectorize: bounded dims, signed counts, deterministic") {
    import spark.implicits._
    val df = Seq((1L, "x x y"), (2L, "x")).toDF("doc_id", "text")
    val out = Features.hashingVectorize(df, "doc_id", "text", dims = 8)
      .collect()
    assert(out.forall(r => r.getAs[Long]("dim") >= 0L &&
      r.getAs[Long]("dim") < 8L))
    // doc 1's x-cell has |value| 2 (same token, same sign)
    val d1 = out.filter(_.getAs[Long]("id") == 1L)
      .map(r => math.abs(r.getAs[Long]("value"))).sorted
    assert(d1.contains(2L))
    val again = Features.hashingVectorize(df, "doc_id", "text", dims = 8)
      .collect()
    assert(out.map(_.toSeq).sortBy(_.toString).toSeq ==
      again.map(_.toSeq).sortBy(_.toString).toSeq)
  }

  test("quantileBinDrift: zero on identical cohorts, positive on shift") {
    import spark.implicits._
    val same = (1 to 40).flatMap(i => Seq(("a", i.toDouble), ("b", i.toDouble)))
      .toDF("cohort", "v")
    val z = Drift.quantileBinDrift(same, "cohort", "v", bins = 4)
      .collect()(0)
    assert(z.getAs[Double]("psi") == 0.0)
    assert(z.getAs[Long]("n_a") == 40L)
    val shifted = ((1 to 40).map(i => ("a", i.toDouble)) ++
      (21 to 60).map(i => ("b", i.toDouble))).toDF("cohort", "v")
    val p = Drift.quantileBinDrift(shifted, "cohort", "v", bins = 4)
      .collect()(0)
    assert(p.getAs[Double]("psi") > 0.1)
  }

  test("brierDecomposition: perfectly calibrated perfect classifier") {
    import spark.implicits._
    val df = Seq((false, 0.0), (false, 0.0), (true, 1.0), (true, 1.0))
      .toDF("y", "s")
    val out = Evaluation.brierDecomposition(df, "y", "s").collect()(0)
    assert(out.getAs[Long]("n") == 4L)
    assert(out.getAs[Double]("brier") == 0.0)
    assert(out.getAs[Double]("reliability") == 0.0)
    assert(out.getAs[Double]("resolution") == 0.25)
    assert(out.getAs[Double]("uncertainty") == 0.25)
  }

  test("centroidSimilarity: identity and orthogonality") {
    import spark.implicits._
    val df = Seq(("g1", Seq(1.0f, 0.0f)), ("g2", Seq(0.0f, 2.0f)),
      ("g3", Seq(2.0f, 0.0f))).toDF("g", "emb")
    val out = Similarity.centroidSimilarity(df, "g", "emb")
      .collect().map(r => (r.getAs[String]("group_a"),
        r.getAs[String]("group_b")) -> r.getAs[Double]("cosine")).toMap
    assert(out(("g1", "g2")) == 0.0)
    assert(out(("g1", "g3")) == 1.0)
    assert(out(("g2", "g3")) == 0.0)
  }

  test("negativeSample: never self, exact k, deterministic") {
    import spark.implicits._
    val df = (1L to 5L).toDF("id")
    val out = Sampling.negativeSample(df, "id", k = 2)
      .orderBy("anchor", "j").collect()
    assert(out.length == 10)
    assert(out.forall(r =>
      r.getAs[Long]("anchor") != r.getAs[Long]("negative")))
    assert(out.forall(r => (1L to 5L).contains(r.getAs[Long]("negative"))))
    val again = Sampling.negativeSample(df, "id", k = 2)
      .orderBy("anchor", "j").collect()
    assert(out.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("qiniTable: hand-computed uplift and qini per bucket") {
    import spark.implicits._
    val df = Seq((4.0, true, true), (3.0, false, false),
      (2.0, true, false), (1.0, false, true)).toDF("s", "t", "y")
    val out = Experiments.qiniTable(df, "t", "y", "s", k = 2)
      .orderBy("bucket").collect()
    assert(out(0).getAs[Double]("uplift") == 1.0)
    assert(out(0).getAs[Double]("qini") == 1.0)
    // full-population prefix: 1 - 1*2/2 = 0
    assert(out(1).getAs[Double]("qini") == 0.0)
    assert(out(1).getAs[Double]("uplift") == -1.0)
  }

  test("pairwiseContrasts: Welch z per pair with BH control") {
    import spark.implicits._
    val df = (Seq(0.0, 0.0, 1.0, 1.0).map(("a", _)) ++
      Seq(10.0, 10.0, 11.0, 11.0).map(("b", _)) ++
      Seq(0.0, 1.0, 0.0, 1.0).map(("c", _))).toDF("g", "v")
    val out = StatTests.pairwiseContrasts(df, "g", "v")
      .collect().map(r => (r.getAs[String]("group_a"),
        r.getAs[String]("group_b")) -> r).toMap
    assert(out.size == 3)
    // (a,b): se2 = (1/3)/4*2 = 1/6, z = -10/sqrt(1/6)
    val zab = -10.0 / math.sqrt(1.0 / 6.0)
    assert(math.abs(out(("a", "b")).getAs[Double]("z") -
      math.rint(zab * 1e6) / 1e6) < 1e-9)
    assert(out(("a", "b")).getAs[Boolean]("reject"))
    assert(out(("b", "c")).getAs[Boolean]("reject"))
    // identical distributions: z = 0, p = 1, never rejected
    assert(out(("a", "c")).getAs[Double]("z") == 0.0)
    assert(out(("a", "c")).getAs[Double]("p_value") == 1.0)
    assert(!out(("a", "c")).getAs[Boolean]("reject"))
  }

  test("contingencyEffects: V = 1 under identity, 0 under independence") {
    import spark.implicits._
    val dep = Seq(("x", "p"), ("x", "p"), ("y", "q"), ("y", "q"))
      .toDF("a", "b")
    val d = Evaluation.contingencyEffects(dep, "a", "b").collect()(0)
    assert(d.getAs[Double]("chi2") == 4.0)
    assert(d.getAs[Long]("dof") == 1L)
    assert(d.getAs[Double]("cramers_v") == 1.0)
    val ind = Seq(("x", "p"), ("x", "q"), ("y", "p"), ("y", "q"))
      .toDF("a", "b")
    val i = Evaluation.contingencyEffects(ind, "a", "b").collect()(0)
    assert(i.getAs[Double]("chi2") == 0.0)
    assert(i.getAs[Double]("cramers_v") == 0.0)
    assert(i.getAs[Double]("p_value") == 1.0)
  }

  test("lifeTable: actuarial half-interval adjustment") {
    import spark.implicits._
    val df = Seq((0.5, true), (0.5, false), (1.5, true))
      .toDF("t", "e").withColumn("g", F.lit("g"))
    val out = Survival.lifeTable(df, "t", "e", Seq("g"), width = 1.0)
      .orderBy("period").collect()
    // period 1: n=3 at risk, 1 event, 1 censored -> neff 2.5, q 0.4
    assert(out(0).getAs[Long]("n_risk") == 3L)
    assert(out(0).getAs[Long]("n_event") == 1L)
    assert(out(0).getAs[Long]("n_censored") == 1L)
    assert(out(0).getAs[Double]("n_eff") == 2.5)
    assert(out(0).getAs[Double]("hazard") == 0.4)
    assert(out(0).getAs[Double]("survival") == 0.6)
    assert(out(0).getAs[Double]("t_start") == 0.0)
    assert(out(0).getAs[Double]("t_end") == 1.0)
    // period 2: exhausted risk set -> q = 1, S = 0
    assert(out(1).getAs[Double]("hazard") == 1.0)
    assert(out(1).getAs[Double]("survival") == 0.0)
  }

  test("basketPairs: support/confidence/lift on a hand basket set") {
    import spark.implicits._
    val df = Seq(("b1", "a"), ("b1", "b"), ("b1", "c"),
      ("b2", "a"), ("b2", "b"), ("b3", "a"), ("b3", "b"),
      ("b3", "b"), ("b4", "c")).toDF("basket", "item")
    val out = Associations.basketPairs(df, "basket", "item",
      minPairCount = 2L, k = 10).collect()
    // only (a,b) repeats: n_ab=3 of N=4 baskets; a in 3, b in 3
    assert(out.length == 1)
    assert(out(0).getAs[String]("item_a") == "a")
    assert(out(0).getAs[String]("item_b") == "b")
    assert(out(0).getAs[Long]("n_ab") == 3L)
    assert(out(0).getAs[Double]("support") == 0.75)
    assert(out(0).getAs[Double]("conf_a_b") == 1.0)
    assert(out(0).getAs[Double]("lift") == 1.333333)
  }

  test("rrfFuse: outer-join fusion and deterministic ranking") {
    import spark.implicits._
    val a = Seq(("q", "x", 1L), ("q", "y", 2L)).toDF("qy", "id", "rank")
    val b = Seq(("q", "y", 1L), ("q", "z", 2L)).toDF("qy", "id", "rank")
    val out = Evaluation.rrfFuse(a, b, "qy", "id", "rank", 60, 10)
      .orderBy("fused_rank").collect()
    assert(out.map(_.getAs[String]("id")).toSeq == Seq("y", "x", "z"))
    assert(math.abs(out(0).getAs[Double]("rrf") -
      (1.0 / 61 + 1.0 / 62)) < 1e-12)
    assert(out(1).getAs[Double]("rrf") == 1.0 / 61)
    assert(out.map(_.getAs[Long]("fused_rank")).toSeq == Seq(1L, 2L, 3L))
  }

  test("partialCorrByGroup: closed-form replication") {
    import spark.implicits._
    val xs = Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0)
    val zs = Seq(0.0, 2.0, 1.0, 3.0, 0.0, 2.0)
    val ys = xs.zip(zs).map { case (x, z) => 2.0 * x + z }
    val df = xs.indices.map(i => ("g", xs(i), ys(i), zs(i)))
      .toDF("g", "x", "y", "z")
    val out = Regression.partialCorrByGroup(df, Seq("g"), "x", "y", "z")
      .collect()(0)
    def r(a: Seq[Double], b: Seq[Double]): Double = {
      val n = a.length.toDouble
      val (sa, sb) = (a.sum, b.sum)
      val (saa, sbb) = (a.map(v => v * v).sum, b.map(v => v * v).sum)
      val sab = a.zip(b).map { case (u, v) => u * v }.sum
      (n * sab - sa * sb) /
        math.sqrt((n * saa - sa * sa) * (n * sbb - sb * sb))
    }
    val (rxy, rxz, ryz) = (r(xs, ys), r(xs, zs), r(ys, zs))
    val expected = (rxy - rxz * ryz) /
      math.sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz))
    assert(math.abs(out.getAs[Double]("r_xy") -
      math.rint(rxy * 1e6) / 1e6) < 1e-9)
    assert(math.abs(out.getAs[Double]("r_xy_z") - expected) < 1e-6)
    assert(out.getAs[Long]("n") == 6L)
  }

  test("profile: per-column nulls, exact distinct, numeric stats") {
    import spark.implicits._
    val df = Seq((Some("a"), Some(1)), (Some("b"), Some(2)),
      (None, Some(2)), (Some("a"), None)).toDF("s", "x")
    val out = Validation.profile(df, Seq("s", "x"))
      .collect().map(r => r.getAs[String]("column") -> r).toMap
    assert(out("s").getAs[Long]("n") == 4L)
    assert(out("s").getAs[Long]("n_null") == 1L)
    assert(out("s").getAs[Long]("n_distinct") == 2L)
    assert(out("s").getAs[Long]("n_numeric") == 0L)
    assert(out("s").isNullAt(out("s").fieldIndex("mean")))
    assert(out("x").getAs[Long]("n_distinct") == 2L)
    assert(out("x").getAs[Long]("n_numeric") == 3L)
    assert(out("x").getAs[Double]("min") == 1.0)
    assert(out("x").getAs[Double]("max") == 2.0)
    assert(out("x").getAs[Double]("mean") == 1.666667)
    assert(out("x").getAs[Double]("null_rate") == 0.25)
  }

  test("collapseRareLevels: bounded survivor set, null passthrough") {
    import spark.implicits._
    val df = (Seq.fill(8)(Some("a")) ++ Seq(Some("b"), Some("c"), None))
      .toDF("cat")
    val out = Features.collapseRareLevels(df, "cat", minShare = 0.2)
      .groupBy("collapsed").count().collect()
      .map(r => Option(r.getAs[String]("collapsed")) -> r.getAs[Long]("count"))
      .toMap
    assert(out(Some("a")) == 8L)
    assert(out(Some("_other")) == 2L)
    assert(out(None) == 1L)
  }

  test("kendallTauB: classic permutation and tie-corrected zero") {
    import spark.implicits._
    val df = Seq((1, 2), (2, 1), (3, 4), (4, 3), (5, 5)).toDF("x", "y")
    val out = Ranks.kendallTauB(df, "x", "y").collect()(0)
    assert(out.getAs[Long]("concordant") == 8L)
    assert(out.getAs[Long]("discordant") == 2L)
    assert(out.getAs[Double]("tau_b") == 0.6)
    // balanced ties: C = D = 1, tau_b = 0
    val tied = Seq((1, 1), (1, 2), (2, 1), (2, 2)).toDF("x", "y")
    val t = Ranks.kendallTauB(tied, "x", "y").collect()(0)
    assert(t.getAs[Long]("concordant") == 1L)
    assert(t.getAs[Long]("discordant") == 1L)
    assert(t.getAs[Double]("tau_b") == 0.0)
    // all x tied -> zero denominator -> null
    val deg = Seq((1, 1), (1, 2)).toDF("x", "y")
    val d = Ranks.kendallTauB(deg, "x", "y").collect()(0)
    assert(d.isNullAt(d.fieldIndex("tau_b")))
  }

  test("weightedMedianByGroup: type-1 pick on cumulative weight") {
    import spark.implicits._
    val df = Seq(("g", 1.0, 1.0), ("g", 2.0, 1.0), ("g", 3.0, 10.0),
      ("h", 1.0, 1.0), ("h", 2.0, 1.0)).toDF("g", "v", "w")
    val out = Ranks.weightedMedianByGroup(df, Seq("g"), "v", "w")
      .collect().map(r => r.getAs[String]("g") -> r).toMap
    assert(out("g").getAs[Double]("total_weight") == 12.0)
    assert(out("g").getAs[Double]("w_median") == 3.0)
    // even split -> lower (type-1) pick
    assert(out("h").getAs[Double]("w_median") == 1.0)
  }

  test("miRanking: informative feature ln 2, independent feature 0") {
    import spark.implicits._
    val df = Seq(("x", "u", "p"), ("x", "v", "p"),
      ("y", "u", "q"), ("y", "v", "q")).toDF("f1", "f2", "y")
    val out = Evaluation.miRanking(df, Seq("f1", "f2"), "y")
      .collect().map(r => r.getAs[String]("feature") -> r).toMap
    assert(math.abs(out("f1").getAs[Double]("mi") - math.log(2.0)) < 1e-6)
    assert(out("f2").getAs[Double]("mi") == 0.0)
    assert(out("f1").getAs[Long]("n") == 4L)
  }

  test("seasonalAnomaly: flags the break, not the cycle") {
    import spark.implicits._
    val df = Seq(("k", 1L, 1.0), ("k", 2L, 1.0), ("k", 3L, 1.0),
      ("k", 4L, 1.0), ("k", 5L, 10.0)).toDF("k", "t", "v")
    val out = operators.Features.seasonalAnomaly(df, "k", "t", "v",
      season = 1, zThreshold = 1.5).collect()
    // residuals 0,0,0,9: mean 2.25, sd 3.897114 -> z(9) = 1.732051
    assert(out.length == 1)
    assert(out(0).getAs[Double]("value") == 10.0)
    assert(out(0).getAs[Double]("expected") == 1.0)
    assert(out(0).getAs[Double]("residual") == 9.0)
    assert(math.abs(out(0).getAs[Double]("z") - 1.732051) < 1e-6)
  }

  test("trimmedMeanByGroup: exact cell clamps under ties") {
    import spark.implicits._
    val df = ((1 to 10).map(v => ("a", v.toDouble)) ++
      Seq(1.0, 1.0, 1.0, 5.0, 9.0, 9.0, 9.0).map(("b", _))).toDF("g", "v")
    val out = Outliers.trimmedMeanByGroup(df, Seq("g"), "v", trim = 0.2)
      .collect().map(r => r.getAs[String]("g") -> r).toMap
    // a: n=10, lo=2 -> keep 3..8, mean 5.5
    assert(out("a").getAs[Long]("n_kept") == 6L)
    assert(out("a").getAs[Double]("trimmed_mean") == 5.5)
    // b: n=7, lo=1 -> kept multiset {1,1,5,9,9}, mean 5.0
    assert(out("b").getAs[Long]("n_kept") == 5L)
    assert(out("b").getAs[Double]("trimmed_mean") == 5.0)
  }

  test("benfordByGroup: digit extraction and chi2/MAD algebra") {
    import spark.implicits._
    // digits of 0.5, 1000, 99.9, 2.0 -> 5, 1, 9, 2
    val df = (Seq(0.5, 1000.0, 99.9, 2.0).map(("dig", _)) ++
      (1 to 9).map(d => ("uni", d.toDouble))).toDF("g", "x")
    val out = StatTests.benfordByGroup(df, Seq("g"), "x")
      .collect().map(r => r.getAs[String]("g") -> r).toMap
    // "uni": each digit once, n = 9: chi2 = sum_d (1-9p)^2/(9p),
    // mad = mean |1/9 - p|
    val ps = (1 to 9).map(d => math.log10(1.0 + 1.0 / d))
    val chi2 = ps.map(p => math.pow(1.0 - 9.0 * p, 2) / (9.0 * p)).sum
    val mad = ps.map(p => math.abs(1.0 / 9.0 - p)).sum / 9.0
    assert(out("uni").getAs[Long]("n") == 9L)
    assert(math.abs(out("uni").getAs[Double]("chi2") - chi2) < 1e-5)
    assert(math.abs(out("uni").getAs[Double]("mad") - mad) < 1e-6)
    assert(out("uni").getAs[Long]("dof") == 8L)
    // "dig": digits {5,1,9,2} each once -> 4 observed cells, n = 4
    assert(out("dig").getAs[Long]("n") == 4L)
    val obs = Seq(5, 1, 9, 2)
    val chi2d = obs.map(d => math.pow(1.0 - 4.0 * ps(d - 1), 2) /
      (4.0 * ps(d - 1))).sum +
      4.0 * (1.0 - obs.map(d => ps(d - 1)).sum)
    assert(math.abs(out("dig").getAs[Double]("chi2") - chi2d) < 1e-5)
  }

  test("hillTailIndex: exact alpha on a log ladder, null when degenerate") {
    import spark.implicits._
    val df = Seq(math.exp(2.0), math.exp(1.0), 1.0, 0.5).toDF("x")
    val out = StatTests.hillTailIndex(df, "x", k = 2).collect()(0)
    // top-3 = {e^2, e, 1}, ref = 1: alpha = 2/(2+1) = 0.666667
    assert(out.getAs[Double]("x_ref") == 1.0)
    assert(math.abs(out.getAs[Double]("alpha") - 0.666667) < 1e-6)
    // all-equal top -> zero denominator -> null
    val flat = Seq(2.0, 2.0, 2.0, 2.0).toDF("x")
    val o2 = StatTests.hillTailIndex(flat, "x", k = 2).collect()(0)
    assert(o2.isNullAt(o2.fieldIndex("alpha")))
  }

  test("degreeHistogram: in/out degree cells on a tiny graph") {
    import spark.implicits._
    val e = Seq(("a", "b"), ("a", "c"), ("b", "c")).toDF("s", "d")
    val out = operators.Graph.degreeHistogram(e, "s", "d")
      .collect().map(r => (r.getAs[String]("kind"),
        r.getAs[Long]("degree")) -> r.getAs[Long]("n_nodes")).toMap
    assert(out(("out", 2L)) == 1L && out(("out", 1L)) == 1L)
    assert(out(("in", 2L)) == 1L && out(("in", 1L)) == 1L)
    assert(out.size == 4)
  }

  test("pmiCollocations: hand-computed PMI, min-count floor") {
    import spark.implicits._
    val df = Seq((1L, "a b a b c")).toDF("doc_id", "text")
    // bigrams: "a b"x2, "b a"x1, "b c"x1 (nb=4); uni a=2,b=2,c=1 (nu=5)
    val out = operators.TextOps.pmiCollocations(df, "doc_id", "text",
      minCount = 2L, k = 10).collect()
    assert(out.length == 1)
    assert(out(0).getAs[String]("bigram") == "a b")
    assert(out(0).getAs[Long]("n") == 2L)
    val expected = math.log((2.0 / 4.0) / ((2.0 / 5.0) * (2.0 / 5.0)))
    assert(math.abs(out(0).getAs[Double]("pmi") -
      math.rint(expected * 1e6) / 1e6) < 1e-9)
  }

  test("zipfFit: closed-form OLS on ln-rank/ln-count") {
    import spark.implicits._
    val df = Seq((1L, "a a a a b b c")).toDF("doc_id", "text")
    val out = operators.TextOps.zipfFit(df, "doc_id", "text", topN = 10)
      .collect()(0)
    val xs = Seq(1.0, 2.0, 3.0).map(math.log)
    val ys = Seq(4.0, 2.0, 1.0).map(math.log)
    val n = 3.0
    val (sx, sy) = (xs.sum, ys.sum)
    val sxx = xs.map(x => x * x).sum
    val syy = ys.map(y => y * y).sum
    val sxy = xs.zip(ys).map { case (x, y) => x * y }.sum
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    val r2 = math.pow(n * sxy - sx * sy, 2) /
      ((n * sxx - sx * sx) * (n * syy - sy * sy))
    assert(out.getAs[Long]("n_terms") == 3L)
    assert(math.abs(out.getAs[Double]("slope") - slope) < 1e-6)
    assert(math.abs(out.getAs[Double]("intercept") -
      (sy - slope * sx) / n) < 1e-6)
    assert(math.abs(out.getAs[Double]("r2") - r2) < 1e-6)
  }

  test("liftTable: tie-stable desc buckets, capture and lift algebra") {
    import spark.implicits._
    val df = Seq((1.0, false), (2.0, false), (3.0, true), (4.0, true))
      .toDF("s", "y")
    val out = Evaluation.liftTable(df, "y", "s", k = 2)
      .orderBy("bucket").collect()
    // bucket 1 = top half {3,4}: both positive, lift (2/2)/(2/4) = 2
    assert(out(0).getAs[Long]("n") == 2L)
    assert(out(0).getAs[Long]("n_pos") == 2L)
    assert(out(0).getAs[Double]("rate") == 1.0)
    assert(out(0).getAs[Double]("capture") == 1.0)
    assert(out(0).getAs[Double]("lift") == 2.0)
    assert(out(1).getAs[Double]("capture") == 1.0)
    assert(out(1).getAs[Double]("lift") == 1.0)
    // ties never split across buckets
    val tied = Seq((5.0, true), (5.0, false), (1.0, false), (1.0, false))
      .toDF("s", "y")
    val t = Evaluation.liftTable(tied, "y", "s", k = 2)
      .orderBy("bucket").collect()
    assert(t(0).getAs[Long]("bucket") == 1L && t(0).getAs[Long]("n") == 2L)
    assert(t(1).getAs[Long]("bucket") == 2L && t(1).getAs[Long]("n") == 2L)
  }

  test("covariateBalance: hand-computed SMD, null on zero pooled variance") {
    import spark.implicits._
    val df = Seq(("a", 0.0, 7.0), ("a", 2.0, 7.0),
      ("b", 1.0, 7.0), ("b", 3.0, 7.0)).toDF("cohort", "x1", "x2")
    val out = Experiments.covariateBalance(df, "cohort", Seq("x1", "x2"))
      .collect().map(r => r.getAs[String]("covariate") -> r).toMap
    // x1: means 1 vs 2, var_pop 1 each -> smd = -1, var_ratio = 1
    assert(out("x1").getAs[Double]("mean_a") == 1.0)
    assert(out("x1").getAs[Double]("smd") == -1.0)
    assert(out("x1").getAs[Double]("var_ratio") == 1.0)
    // x2 constant in both cohorts -> smd and var_ratio null
    assert(out("x2").isNullAt(out("x2").fieldIndex("smd")))
    assert(out("x2").isNullAt(out("x2").fieldIndex("var_ratio")))
  }

  test("mutualInfoByGroup: zero under independence, ln 2 under identity") {
    import spark.implicits._
    val ind = (for { a <- Seq("x", "y"); b <- Seq("p", "q") }
      yield ("gI", a, b))
    val dep = Seq(("gD", "x", "p"), ("gD", "y", "q"),
      ("gD", "x", "p"), ("gD", "y", "q"))
    val out = Evaluation.mutualInfoByGroup(
      (ind ++ dep).toDF("g", "a", "b"), Seq("g"), "a", "b")
      .collect().map(r => r.getAs[String]("g") -> r).toMap
    assert(out("gI").getAs[Double]("mi") == 0.0)
    assert(math.abs(out("gD").getAs[Double]("mi") - math.log(2.0)) < 1e-6)
    assert(out("gD").getAs[Long]("n_a") == 2L)
  }

  test("acfByKey: hand-computed lags on a ramp, null for constant series") {
    import spark.implicits._
    // ramp 1..4: d = [-1.5,-.5,.5,1.5], ss = 5; lag sums 1.25, -1.5, -2.25
    val df = (Seq(("k", 1L, 1.0), ("k", 2L, 2.0), ("k", 3L, 3.0),
      ("k", 4L, 4.0)) ++ Seq(("c", 1L, 7.0), ("c", 2L, 7.0)))
      .toDF("g", "t", "v")
    val out = operators.Features.acfByKey(df, "g", "t", "v", maxLag = 3)
      .collect().map(r => r.getAs[String]("g") -> r).toMap
    val k = out("k")
    assert(k.getAs[Long]("n") == 4L)
    assert(math.abs(k.getAs[Double]("acf_1") - 0.25) < 1e-9)
    assert(math.abs(k.getAs[Double]("acf_2") + 0.3) < 1e-9)
    assert(math.abs(k.getAs[Double]("acf_3") + 0.45) < 1e-9)
    // zero-variance series: every lag is null
    val c = out("c")
    assert(c.isNullAt(c.fieldIndex("acf_1")) &&
      c.isNullAt(c.fieldIndex("acf_2")))
  }

  test("cusumByKey: level shift located at the shift, stat = sqrt(1.5)") {
    import spark.implicits._
    // [0,0,0,10,10,10]: |n·CS − i·S| peaks at i=3 (=90);
    // σ=5 → stat = 90/(6·5·√6) = √1.5
    val df = (Seq((1L, 0.0), (2L, 0.0), (3L, 0.0), (4L, 10.0),
      (5L, 10.0), (6L, 10.0)).map { case (t, v) => ("k", t, v) } ++
      Seq(("flat", 1L, 3.0), ("flat", 2L, 3.0)))
      .toDF("g", "t", "v")
    val out = operators.Features.cusumByKey(df, "g", "t", "v")
      .collect().map(r => r.getAs[String]("g") -> r).toMap
    val k = out("k")
    assert(k.getAs[Long]("n") == 6L)
    assert(math.abs(k.getAs[Double]("cusum") - 1.224745) < 1e-6)
    assert(k.getAs[Long]("cp_ts") == 3L)
    // zero-variance key omitted
    assert(!out.contains("flat"))
  }

  test("wassersteinTwoSample: unit shift costs exactly 1, identical cohorts 0") {
    import spark.implicits._
    // {0,1} vs {1,2}: |Fa−Fb| = ½ on [0,1) and ½ on [1,2) → W₁ = 1
    val shifted = Seq(("a", 0.0), ("a", 1.0), ("b", 1.0), ("b", 2.0))
      .toDF("g", "v")
    val r = operators.Drift.wassersteinTwoSample(shifted, "g", "v").head()
    assert(r.getAs[Double]("w1") == 1.0)
    assert(r.getAs[Long]("n_a") == 2L && r.getAs[Long]("n_b") == 2L)
    // identical samples → zero transport
    val same = Seq(1.0, 2.5, 7.0).flatMap(v => Seq(("a", v), ("b", v)))
      .toDF("g", "v")
    assert(operators.Drift.wassersteinTwoSample(same, "g", "v").head()
      .getAs[Double]("w1") == 0.0)
    // scale equivariance: stretching values 10× stretches W₁ 10×
    val wide = Seq(("a", 0.0), ("a", 10.0), ("b", 10.0), ("b", 20.0))
      .toDF("g", "v")
    assert(operators.Drift.wassersteinTwoSample(wide, "g", "v").head()
      .getAs[Double]("w1") == 10.0)
  }

  test("jsdByGroup: zero for identical mixes, bounded by ln 2, symmetric") {
    import spark.implicits._
    val same = Seq("x", "x", "y").flatMap(v =>
      Seq(("g1", "a", v), ("g1", "b", v)))
    val apart = (1 to 8).flatMap(_ =>
      Seq(("g2", "a", "x"), ("g2", "b", "y")))
    val lone = Seq(("g3", "a", "x")) // missing cohort b → omitted
    val out = operators.Drift.jsdByGroup(
      (same ++ apart ++ lone).toDF("g", "c", "v"), "c", "v", Seq("g"))
      .collect().map(r => r.getAs[String]("g") -> r).toMap
    assert(out("g1").getAs[Double]("jsd") == 0.0)
    val j2 = out("g2").getAs[Double]("jsd")
    assert(j2 > 0.4 && j2 < math.log(2.0))
    assert(math.abs(out("g2").getAs[Double]("jsd_norm") -
      math.rint(j2 / math.log(2.0) * 1e6) / 1e6) < 2e-6)
    assert(!out.contains("g3"))
    // symmetry: swapping the cohort labels leaves JSD unchanged
    val sw = operators.Drift.jsdByGroup(
      apart.toDF("g", "c", "v"), "c", "v", Seq("g"),
      labelA = "b", labelB = "a").head()
    assert(sw.getAs[Double]("jsd") == j2)
  }

  test("ksTwoSampleByGroup: zero for identical cohorts, one for disjoint") {
    import spark.implicits._
    val same = Seq(1.0, 2.0, 3.0).flatMap(v =>
      Seq(("same", "a", v), ("same", "b", v)))
    val apart = Seq(("apart", "a", 1.0), ("apart", "a", 2.0),
      ("apart", "b", 10.0), ("apart", "b", 11.0))
    val lone = Seq(("lone", "a", 5.0))  // missing cohort b → omitted
    val out = operators.Drift.ksTwoSampleByGroup(
      (same ++ apart ++ lone).toDF("g", "c", "v"), Seq("g"), "c", "v")
      .collect().map(r => r.getAs[String]("g") -> r).toMap
    assert(out("same").getAs[Double]("ks_d") == 0.0)
    assert(out("same").getAs[Double]("p_value") == 1.0)
    assert(out("apart").getAs[Double]("ks_d") == 1.0)
    assert(out("apart").getAs[Double]("p_value") < 0.3)
    assert(!out.contains("lone"))
  }

  test("nbinomMomentsByGroup matches the moment equations") {
    import spark.implicits._
    // mean 1, s² 4 → r = 1/(4−1) = 1/3, prob = 1/4; an equidispersed
    // group (s² ≤ m) is omitted
    val over = Seq(0.0, 0.0, 0.0, 4.0).map(v => ("over", v))
    val calm = Seq(1.0, 1.0, 1.0, 1.0).map(v => ("calm", v))
    val out = StatTests.nbinomMomentsByGroup(
      (over ++ calm).toDF("g", "c"), Seq("g"), "c")
      .collect().map(r => r.getAs[String]("g") -> r).toMap
    assert(math.abs(out("over").getAs[Double]("r") - 1.0 / 3.0) < 1e-6)
    assert(out("over").getAs[Double]("prob") == 0.25)
    assert(!out.contains("calm"))
  }

  test("dispersionByGroup flags overdispersed counts") {
    import spark.implicits._
    // poisson-ish (dispersion ~1) vs clumped (var >> mean)
    val calm = (1 to 200).map(i => ("calm", 5.0 + (i % 5) - 2.0))
    val spiky = (1 to 200).map(i => ("spiky", if (i % 10 == 0) 50.0 else 0.0))
    val out = StatTests.dispersionByGroup(
      (calm ++ spiky).toDF("g", "c"), Seq("g"), "c")
      .collect().map(r => r.getAs[String]("g") -> r).toMap
    assert(out("calm").getAs[Double]("dispersion") < 1.0)
    assert(out("calm").getAs[Double]("p_value") > 0.5)
    assert(out("spiky").getAs[Double]("dispersion") > 20.0)
    assert(out("spiky").getAs[Double]("p_value") == 0.0)
  }

  test("mutualInformation: zero for independence, ln 2 for identity") {
    import spark.implicits._
    // balanced independent 2×2 → MI = 0
    val ind = Seq(("a", "x"), ("a", "y"), ("b", "x"), ("b", "y"))
      .toDF("u", "v")
    val r0 = Evaluation.mutualInformation(ind, "u", "v").head()
    assert(r0.getAs[Double]("mi") == 0.0)
    assert(r0.getAs[Long]("n") == 4L && r0.getAs[Long]("n_a") == 2L)
    // u determines v with 2 balanced symbols → MI = ln 2 = 0.693147
    val dep = Seq(("a", "x"), ("a", "x"), ("b", "y"), ("b", "y"))
      .toDF("u", "v")
    assert(math.abs(Evaluation.mutualInformation(dep, "u", "v").head()
      .getAs[Double]("mi") - 0.693147) < 1e-6)
  }

  test("corrByGroup emits the pairwise matrix long-form per group") {
    import spark.implicits._
    val df = (1 to 10).map { i =>
      ("g", i.toDouble, 2.0 * i + 1.0, -i.toDouble, 7.0) }
      .toDF("g", "a", "b", "c", "k")
    val out = Regression.corrByGroup(df, Seq("g"), Seq("a", "b", "c", "k"))
      .collect().map(r => (r.getAs[String]("col_a"),
        r.getAs[String]("col_b")) -> r.getAs[Double]("r")).toMap
    assert(out(("a", "b")) == 1.0)   // exact linear
    assert(out(("a", "c")) == -1.0)
    assert(out(("b", "c")) == -1.0)
    // constant column k → null corr → pair omitted
    assert(!out.contains(("a", "k")) && out.size == 3)
  }

  test("esWeightedSampleByGroup keeps exactly k per group, deterministically") {
    import spark.implicits._
    val df = (1L to 50L).map(i =>
      (if (i % 2 == 0) "even" else "odd", i, i * 10.0))
      .toDF("g", "id", "w")
    val s1 = Sampling.esWeightedSampleByGroup(df, Seq("g"), "w", "id", 5)
      .select("g", "id").collect().map(r => (r.getString(0), r.getLong(1)))
      .sorted.toSeq
    assert(s1.count(_._1 == "even") == 5 && s1.count(_._1 == "odd") == 5)
    val s2 = Sampling.esWeightedSampleByGroup(df, Seq("g"), "w", "id", 5)
      .select("g", "id").collect().map(r => (r.getString(0), r.getLong(1)))
      .sorted.toSeq
    assert(s1 == s2)
    // a group smaller than k returns all its rows
    val tiny = Seq(("g", 1L, 1.0), ("g", 2L, 2.0)).toDF("g", "id", "w")
    assert(Sampling.esWeightedSampleByGroup(tiny, Seq("g"), "w", "id", 5)
      .count() == 2L)
  }

  test("bpeEncode applies learned merges like the training rewrite") {
    import spark.implicits._
    // Sennrich vocab; merges (e,s), (es,t), (l,o) — encoding must
    // reproduce the training-end symbol state of every word
    val words = Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")
    val df = words.zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("doc_id", "text")
    val merges = Seq(("e", "s"), ("es", "t"), ("l", "o"))
    val enc = TextOps.bpeEncode(df, "doc_id", "text", merges)
      .collect().map(r => r.getAs[String]("token") ->
        (r.getAs[String]("encoded"), r.getAs[Long]("n_pieces"),
          r.getAs[Long]("wc"))).toMap
    assert(enc("low") == (("lo w", 2L, 5L)))
    assert(enc("lower") == (("lo w e r", 4L, 2L)))
    assert(enc("newest") == (("n e w est", 4L, 6L)))
    assert(enc("widest") == (("w i d est", 4L, 3L)))
  }

  test("Observability: containment/fuzzy-join/tfidf caps observe their drops") {
    import spark.implicits._
    val captured =
      new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.Row]()
    val cap = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             d: Long): Unit =
        Observability.observedMetricsOf(qe).foreach { case (n, r) =>
          if (n.startsWith("graft.dropped/")) captured.put(n, r)
        }
      override def onFailure(f: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             e: Exception): Unit = ()
    }
    def await(prefix: String): org.apache.spark.sql.Row = {
      // The shared listener bus can deliver a BACKLOGGED execution-end
      // event (an earlier test's run of the same op, with zero drops)
      // right after registration. Each observeDropped call has its own
      // name (graft.dropped/<op>/<seq>), so such a row sits beside the
      // real one. Every assertion below expects nonzero drops: poll
      // until a matching row with nonzero drops arrives or the deadline
      // passes, then return whatever arrived so the assert fails with
      // the row in the message.
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      var hit: Option[org.apache.spark.sql.Row] = None
      var done = false
      while (!done && System.nanoTime() < deadline) {
        val rows = captured.asScala.collect {
          case (n, r) if n.startsWith(prefix) => r }
        hit = rows.find(_.getAs[Long]("dropped_buckets") > 0L)
          .orElse(rows.headOption)
        done = hit.exists(_.getAs[Long]("dropped_buckets") > 0L)
        if (!done) Thread.sleep(50)
      }
      hit.getOrElse(fail(s"no observation for $prefix arrived"))
    }
    spark.listenerManager.register(cap)
    try {
      // containment: one 3-gram ("aa bb cc") shared by 6 docs, cap 3 →
      // the hot gram is dropped (1 bucket, 6 postings) and no pair survives
      val docs = docsDf((1L to 6L).map(i =>
        (i, s"aa bb cc u${i}x u${i}y u${i}z")))
      assert(Dedup.containmentPairs(docs, "doc_id", "text", n = 3,
        threshold = 0.1, maxShingleFreq = 3).count() == 0L)
      val cRow = await("graft.dropped/containmentPairs")
      assert(cRow.getAs[Long]("dropped_buckets") == 1L, s"$cRow")
      assert(cRow.getAs[Long]("dropped_members") == 6L, s"$cRow")

      // fuzzy join: 5 a-side rows in one block vs cap 3 → the whole
      // block drops on the a side (1 block, 5 rows) and the join is empty
      val a = (1L to 5L).map(i => (i, s"key$i", "hot")).toDF("id", "key", "block")
      val b = Seq((9L, "key1", "hot")).toDF("id", "key", "block")
      assert(Dedup.fuzzyJoinBlocked(a, b, maxDistance = 2,
        maxBlockFreq = 3).count() == 0L)
      val fRow = await("graft.dropped/fuzzyJoinBlocked/a")
      assert(fRow.getAs[Long]("dropped_buckets") == 1L, s"$fRow")
      assert(fRow.getAs[Long]("dropped_members") == 5L, s"$fRow")

      // tfidf: token "hot" in all 6 docs vs maxDf 3 → dropped from the
      // postings (1 token, df 6); the unique fillers can't pair, so empty
      val tDocs = docsDf((1L to 6L).map(i => (i, s"hot w${i}a w${i}b")))
      assert(TextOps.tfidfCosinePairs(tDocs, "doc_id", "text",
        threshold = 0.1, maxDf = 3).count() == 0L)
      val tRow = await("graft.dropped/tfidfCosinePairs")
      assert(tRow.getAs[Long]("dropped_buckets") == 1L, s"$tRow")
      assert(tRow.getAs[Long]("dropped_members") == 6L, s"$tRow")
    } finally spark.listenerManager.unregister(cap)
  }

  test("GroupedFit partials: split-merge-finalize matches the one-shot fit") {
    import spark.implicits._
    val df = (1 to 400).map { i =>
      (if (i % 2 == 0) "g1" else "g2", 10.0 + (i % 37) + 0.25 * (i % 11))
    }.toDF("g", "v")
    val whole = GroupedFit.fitByGroup(df, "v", Seq("g"))
      .collect().map(r => (r.getString(0), r.getAs[String]("distribution"))
        -> (r.getAs[scala.collection.Seq[Double]]("parameters").toList,
          r.getAs[Double]("aic"))).toMap
    // two arbitrary shards, partials unioned then merged
    val parts = GroupedFit.fitPartialsByGroup(
        df.where(F.col("v") < 30.0), "v", Seq("g"))
      .unionByName(GroupedFit.fitPartialsByGroup(
        df.where(F.col("v") >= 30.0), "v", Seq("g")))
    val inc = GroupedFit.fitFromPartials(
        GroupedFit.mergeFitPartials(parts, Seq("g")), Seq("g"))
      .collect().map(r => (r.getString(0), r.getAs[String]("distribution"))
        -> (r.getAs[scala.collection.Seq[Double]]("parameters").toList,
          r.getAs[Double]("aic"))).toMap
    assert(inc.keySet == whole.keySet)
    whole.foreach { case (key, (ps, aic)) =>
      val (ips, iaic) = inc(key)
      ps.zip(ips).foreach { case (a, b) =>
        assert(math.abs(a - b) < 1e-8, s"$key param $a vs $b") }
      assert(math.abs(aic - iaic) < 1e-6, s"$key aic $aic vs $iaic")
    }
  }

  test("GroupedFit discrete partials: split-merge-finalize matches one-shot") {
    import spark.implicits._
    val df = (1 to 300).map { i =>
      (if (i % 3 == 0) "b" else "p",
        if (i % 3 == 0) (i % 2).toDouble else (i % 7).toDouble)
    }.toDF("g", "v")
    def fp(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getAs[String]("distribution")) ->
        (r.getAs[scala.collection.Seq[Double]]("parameters").toList,
          r.getAs[Double]("aic"))
    val whole = GroupedFit.fitDiscreteByGroup(df, "v", Seq("g"))
      .collect().map(fp).toMap
    val parts = GroupedFit.fitDiscretePartialsByGroup(
        df.where(F.col("v") < 3.0), "v", Seq("g"))
      .unionByName(GroupedFit.fitDiscretePartialsByGroup(
        df.where(F.col("v") >= 3.0), "v", Seq("g")))
    val inc = GroupedFit.fitDiscreteFromPartials(
        GroupedFit.mergeDiscreteFitPartials(parts, Seq("g")), Seq("g"))
      .collect().map(fp).toMap
    assert(inc.keySet == whole.keySet && whole.nonEmpty)
    whole.foreach { case (key, (ps, aic)) =>
      val (ips, iaic) = inc(key)
      ps.zip(ips).foreach { case (a, b) =>
        assert(math.abs(a - b) < 1e-10, s"$key param $a vs $b") }
      assert(math.abs(aic - iaic) < 1e-7, s"$key aic $aic vs $iaic")
    }
  }

  test("GroupedFit: sufficient-statistic fits per group, closed-form AIC") {
    import spark.implicits._
    val a = (1 to 100).map(i => ("a", math.exp(0.01 * i)))
    val b = Seq(("b", -1.0), ("b", 2.0), ("b", 5.0), ("b", 9.0))
    val c = Seq(("c", 3.0), ("c", 3.0)) // degenerate: zero variance/range
    val df = (a ++ b ++ c).toDF("g", "v")
    val fits = operators.GroupedFit.fitByGroup(df, "v", Seq("g")).collect()
    val byG = fits.groupBy(_.getString(0))
    assert(byG("a").map(_.getAs[String]("distribution")).sorted
      .sameElements(Array("expon", "halfnorm", "lognorm", "norm", "pareto",
        "rayleigh", "uniform")))
    // a negative value disqualifies the positive-support families
    assert(byG("b").map(_.getAs[String]("distribution")).sorted
      .sameElements(Array("expon", "norm", "uniform")))
    // constant positive data: degenerate for every location-scale family,
    // but the loc-pinned scale-only families (σ from Σx²) are well-defined
    assert(byG("c").map(_.getAs[String]("distribution")).sorted
      .sameElements(Array("halfnorm", "rayleigh")),
      "scale-only families must survive a zero-variance positive group")
    // rayleigh on constant 3.0: σ = √(Σx²/2n) = √(9/2) = 3/√2,
    // ll = Σln3 − n·ln(σ²) − n
    val rc = byG("c").find(_.getAs[String]("distribution") == "rayleigh").get
    val rps = rc.getSeq[Double](rc.fieldIndex("parameters"))
    assert(math.abs(rps(1) - 3.0 / math.sqrt(2.0)) < 1e-12)
    assert(math.abs(rc.getAs[Double]("loglik") -
      (2.0 * math.log(3.0) - 2.0 * math.log(4.5) - 2.0)) < 1e-9)
    // pareto on group a: b = 1/(mean(ln x) − ln min); check against the
    // zoo's logpdf sum at the closed-form params
    val pa = byG("a").find(_.getAs[String]("distribution") == "pareto").get
    val pps = pa.getSeq[Double](pa.fieldIndex("parameters"))
    val lnxs = (1 to 100).map(i => 0.01 * i)
    val bHat = 1.0 / (lnxs.sum / 100.0 - 0.01)
    assert(math.abs(pps(0) - bHat) < 1e-9 && math.abs(pps(2) - math.exp(0.01)) < 1e-12)
    val llPareto = (1 to 100).map(i => graft.dists.ContinuousFamilies.Pareto
      .logpdf(math.exp(0.01 * i), Array(bHat, 0.0, math.exp(0.01)))).sum
    assert(math.abs(pa.getAs[Double]("loglik") - llPareto) < 1e-6)
    // norm params are the exact population MLE
    val na = byG("a").find(_.getAs[String]("distribution") == "norm").get
    val xs = a.map(_._2)
    val mean = xs.sum / xs.length
    val sd = math.sqrt(xs.map(x => (x - mean) * (x - mean)).sum / xs.length)
    val ps = na.getSeq[Double](na.fieldIndex("parameters"))
    assert(math.abs(ps(0) - mean) < 1e-9 && math.abs(ps(1) - sd) < 1e-9)
    // the closed-form loglik matches the zoo's logpdf sum at those params
    val llRef = xs.map(x =>
      graft.dists.ContinuousFamilies.Norm.logpdf(x, Array(mean, sd))).sum
    assert(math.abs(na.getAs[Double]("loglik") - llRef) < 1e-6)
    // bestByGroup = the min-AIC row per group
    val best = operators.GroupedFit.bestByGroup(df, "v", Seq("g"))
      .collect().map(r => r.getString(0) -> r.getAs[String]("distribution")).toMap
    val minAicA = byG("a").minBy(_.getAs[Double]("aic")).getAs[String]("distribution")
    assert(best("a") == minAicA && best.size == 3)
    // constant positive group: rayleigh's ll beats halfnorm's at equal k
    assert(best("c") == "rayleigh")
  }

  test("fitDiscreteByGroup: exact support checks route bernoulli vs geom") {
    import spark.implicits._
    val rows = Seq("a" -> 1.0, "a" -> 2.0, "a" -> 3.0, "a" -> 2.0, // geom
      "b" -> 0.0, "b" -> 1.0, "b" -> 1.0, "b" -> 0.0, // bernoulli
      "c" -> 1.5, "c" -> 2.5) // non-integral: neither family applies
    val fits = operators.GroupedFit
      .fitDiscreteByGroup(rows.toDF("g", "v"), "v", Seq("g")).collect()
    val byG = fits.groupBy(_.getString(0))
    assert(byG("a").map(_.getAs[String]("distribution")).sorted
      .sameElements(Array("geom", "poisson")))
    assert(byG("b").map(_.getAs[String]("distribution")).sorted
      .sameElements(Array("bernoulli", "poisson")))
    assert(!byG.contains("c"))
    // geom on {1,2,3,2}: p = 1/2, ll = Σ k·ln(1/2) = −8·ln 2
    val ga = byG("a").find(_.getAs[String]("distribution") == "geom").get
    assert(math.abs(ga.getSeq[Double](ga.fieldIndex("parameters"))(0) - 0.5) < 1e-12)
    assert(math.abs(ga.getAs[Double]("loglik") - (-8.0 * math.log(2.0))) < 1e-9)
    // bernoulli on {0,1,1,0}: p = 0.5, ll = 4·ln(1/2)
    val gb = byG("b").find(_.getAs[String]("distribution") == "bernoulli").get
    assert(math.abs(gb.getSeq[Double](gb.fieldIndex("parameters"))(0) - 0.5) < 1e-12)
    assert(math.abs(gb.getAs[Double]("loglik") - (-4.0 * math.log(2.0))) < 1e-9)
    // poisson on {1,2,3,2}: λ = 2,
    // ll = nλ·ln λ − nλ − Σ ln(x!) = 8·ln2 − 8 − (2·ln2 + ln6)
    val pa = byG("a").find(_.getAs[String]("distribution") == "poisson").get
    assert(math.abs(pa.getSeq[Double](pa.fieldIndex("parameters"))(0) - 2.0) < 1e-12)
    assert(math.abs(pa.getAs[Double]("loglik") -
      (8.0 * math.log(2.0) - 8.0 - 2.0 * math.log(2.0) - math.log(6.0))) < 1e-9)
    // and against the zoo's own poisson logpmf at λ = 2
    val llZoo = Seq(1L, 2L, 3L, 2L).map(k =>
      math.log(graft.dists.DiscreteFamilies.Poisson.pmf(k, Array(2.0)))).sum
    assert(math.abs(pa.getAs[Double]("loglik") - llZoo) < 1e-9)
    // discrete per-group GOF equals M8's driver-side ksDiscrete exactly
    val gof = operators.GroupedFit.gofDiscreteByGroup(
        rows.toDF("g", "v"), "v", Seq("g"),
        operators.GroupedFit.fitDiscreteByGroup(
          rows.toDF("g", "v"), "v", Seq("g"))).collect()
      .map(r => (r.getString(0), r.getAs[String]("distribution")) ->
        (r.getAs[Double]("ks_d"), r.getAs[Double]("ks_p"))).toMap
    val (dG, pG) = functions.Metrics.ksDiscrete(
      graft.dists.DiscreteFamilies.Geom, Array(0.5), Array(1L, 2L, 3L, 2L))
    assert(math.abs(gof(("a", "geom"))._1 - dG) < 1e-12)
    assert(math.abs(gof(("a", "geom"))._2 - pG) < 1e-9)
    val (dP, _) = functions.Metrics.ksDiscrete(
      graft.dists.DiscreteFamilies.Poisson, Array(2.0), Array(1L, 2L, 3L, 2L))
    assert(math.abs(gof(("a", "poisson"))._1 - dP) < 1e-12)
    val (dB, _) = functions.Metrics.ksDiscrete(
      graft.dists.DiscreteFamilies.Bernoulli, Array(0.5),
      Array(0L, 1L, 1L, 0L))
    assert(math.abs(gof(("b", "bernoulli"))._1 - dB) < 1e-12)
  }

  test("gofByGroup: exact-rank per-group K-S with asymptotic p") {
    import spark.implicits._
    // uniform 1..100 in one group: the fitted uniform's K-S has a
    // hand-computable exact value; a deliberately WRONG fit (expon on
    // ramp data) must score much worse in the same output
    val df = (1 to 100).map(i => ("g1", i.toDouble)).toDF("g", "v")
    val fits = operators.GroupedFit.fitByGroup(df, "v", Seq("g"))
    val gof = operators.GroupedFit.gofByGroup(df, "v", Seq("g"), fits)
      .collect().map(r => r.getAs[String]("distribution") ->
        (r.getAs[Double]("ks_d"), r.getAs[Double]("ks_p"),
          r.getAs[Double]("ad_a2"))).toMap
    // exact D for uniform(loc=1, scale=99) vs the ECDF of 1..100
    val dExp = (1 to 100).flatMap { i =>
      val cdf = math.min(1.0, math.max(0.0, (i - 1.0) / 99.0))
      Seq(math.abs(i / 100.0 - cdf), math.abs((i - 1.0) / 100.0 - cdf))
    }.max
    assert(math.abs(gof("uniform")._1 - dExp) < 1e-12,
      s"uniform D=${gof("uniform")._1} expected $dExp")
    val pExp = graft.functions.SpecialMath.kolmogorovSf(10.0 * dExp)
    assert(math.abs(gof("uniform")._2 - pExp) < 1e-9)
    // the ramp is nothing like an exponential: D must be far larger
    assert(gof("expon")._1 > 3 * gof("uniform")._1,
      s"expon D=${gof("expon")._1} should dominate uniform D=${gof("uniform")._1}")
    // every fitted family got a GOF row
    assert(gof.keySet == fits.collect()
      .map(_.getAs[String]("distribution")).toSet)
    // the same pass's A² equals M9's driver-side adStatistic at the
    // fitted params (exact here: avg(1..100) = 50.5, min = 1)
    val xs = (1 to 100).map(_.toDouble).toArray
    val adU = functions.Metrics.adStatistic(
      graft.dists.FrozenModel(graft.dists.ContinuousFamilies.Uniform,
        Array(1.0, 99.0), None, None), xs)
    assert(math.abs(gof("uniform")._3 - adU) < 1e-9 * math.max(1.0, adU.abs),
      s"uniform A²=${gof("uniform")._3} vs M9 $adU")
    val adE = functions.Metrics.adStatistic(
      graft.dists.FrozenModel(graft.dists.ContinuousFamilies.Expon,
        Array(1.0, 49.5), None, None), xs)
    assert(math.abs(gof("expon")._3 - adE) < 1e-9 * math.max(1.0, adE.abs),
      s"expon A²=${gof("expon")._3} vs M9 $adE")
    assert(gof("expon")._3 > gof("uniform")._3,
      "the wrong family must score worse on A² too")
    // TIED values exercise the tie-block weights (w₁ = c(2·cum−c),
    // w₂ = c(2(n−cum)+c)) non-trivially — with all-distinct data they
    // degenerate to 2i−1 and a wrong sign on c would pass unnoticed
    val dupDf = (1 to 50).flatMap(i => Seq(("t", i.toDouble), ("t", i.toDouble)))
      .toDF("g", "v")
    val dupFits = operators.GroupedFit.fitByGroup(dupDf, "v", Seq("g"))
    val dupGof = operators.GroupedFit.gofByGroup(dupDf, "v", Seq("g"), dupFits)
      .collect().map(r => r.getAs[String]("distribution") ->
        (r.getAs[Double]("ks_d"), r.getAs[Double]("ad_a2"))).toMap
    val dupXs = (1 to 50).flatMap(i => Seq(i.toDouble, i.toDouble)).toArray
    val adDup = functions.Metrics.adStatistic(
      graft.dists.FrozenModel(graft.dists.ContinuousFamilies.Uniform,
        Array(1.0, 49.0), None, None), dupXs)
    assert(math.abs(dupGof("uniform")._2 - adDup) < 1e-9 * math.max(1.0, adDup.abs),
      s"tied A²=${dupGof("uniform")._2} vs M9 $adDup")
    // tied K-S too: D from distinct-value cum counts must equal the
    // raw-sample construction
    val dDup = (1 to 50).flatMap { i =>
      val cdf = math.min(1.0, math.max(0.0, (i - 1.0) / 49.0))
      Seq(math.abs(2 * i / 100.0 - cdf), math.abs((2 * i - 2) / 100.0 - cdf))
    }.max
    assert(math.abs(dupGof("uniform")._1 - dDup) < 1e-12)
  }

  test("kllByGroup + gofByGroupSketch: per-group artifacts honor the rank bound") {
    import spark.implicits._
    import org.apache.datasketches.kll.KllDoublesSketch
    import org.apache.datasketches.memory.Memory
    val a = (1 to 500).map(i => ("a", i.toDouble))   // exact regime (< k)
    val b = (1 to 5000).map(i => ("b", i.toDouble))  // estimation regime
    val df = (a ++ b).toDF("g", "v").repartition(8)
    val sk = operators.Sketches.kllByGroup(df, "v", Seq("g")).collect()
      .map(r => r.getString(0) ->
        (r.getAs[Array[Byte]]("kll"), r.getAs[Long]("n"))).toMap
    assert(sk("a")._2 == 500 && sk("b")._2 == 5000)
    val ska = KllDoublesSketch.heapify(Memory.wrap(sk("a")._1))
    assert(ska.getN == 500)
    assert(math.abs(ska.getQuantile(0.5) - 250.0) <= 1.0)
    val skb = KllDoublesSketch.heapify(Memory.wrap(sk("b")._1))
    assert(skb.getN == 5000)
    assert(math.abs(skb.getRank(2500.0) - 0.5) <= 0.01)
    // the sketch K-S probe tracks the exact construction within the
    // KLL + grid bound, per (group, family)
    val fits = operators.GroupedFit.fitByGroup(df, "v", Seq("g"))
      .where(F.col("distribution").isin("expon", "uniform"))
    val exact = operators.GroupedFit.gofByGroup(df, "v", Seq("g"), fits)
      .collect().map(r => (r.getString(0), r.getAs[String]("distribution")) ->
        r.getAs[Double]("ks_d")).toMap
    val est = operators.GroupedFit.gofByGroupSketch(df, "v", Seq("g"), fits)
      .collect().map(r => (r.getString(0), r.getAs[String]("distribution")) ->
        r.getAs[Double]("ks_d_est")).toMap
    assert(est.keySet == exact.keySet)
    est.foreach { case (key, dEst) =>
      assert(math.abs(dEst - exact(key)) <= 0.02,
        s"$key: sketch D=$dEst vs exact ${exact(key)}")
    }
    // unknown family → null estimate, never an exception
    val bogus = fits.withColumn("distribution", F.lit("no_such_dist"))
    val nulls = operators.GroupedFit
      .gofByGroupSketch(df, "v", Seq("g"), bogus).collect()
    assert(nulls.nonEmpty && nulls.forall(_.isNullAt(2)))
  }

  test("histDriftByGroup: per-group PSI, empty-cohort groups omitted") {
    import spark.implicits._
    val rng = new java.util.Random(7L)
    // group "s": identical cohorts → all divergences exactly 0;
    // group "d": 2σ mean shift → PSI far above the 0.25 alarm;
    // group "x": cohort a only → omitted (absence, not a sentinel)
    val s0 = Seq("a", "b").flatMap(c => (1 to 1500).map(i => ("s", c, (i % 40).toDouble)))
    val d0 = (1 to 1500).map(_ => ("d", "a", 50 + 10 * rng.nextGaussian())) ++
      (1 to 1500).map(_ => ("d", "b", 70 + 10 * rng.nextGaussian()))
    val x0 = (1 to 100).map(i => ("x", "a", i.toDouble))
    val df = (s0 ++ d0 ++ x0).toDF("grp", "cohort", "v")
    val out = Drift.histDriftByGroup(df, "cohort", "v", Seq("grp"),
        binStart = 0.0, binWidth = 5.0, numBins = 30)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(!out.contains("x"), "one-cohort group must be absent")
    assert(out("s").getAs[Double]("psi") == 0.0)
    assert(out("s").getAs[Long]("n_a") == 1500 && out("s").getAs[Long]("n_b") == 1500)
    assert(out("d").getAs[Double]("psi") > 0.25, s"psi=${out("d").getAs[Double]("psi")}")
    // a single-group input must agree exactly with the global histDrift
    val only = df.where($"grp" === "d").select($"cohort", $"v")
    val g = Drift.histDrift(only, "cohort", "v", 0.0, 5.0, 30).head()
    assert(math.abs(out("d").getAs[Double]("psi") - g.getAs[Double]("psi")) < 1e-12)
    assert(out("d").getAs[Long]("n_cells") == g.getAs[Long]("n_cells"))
    // categorical twin: identical label mixes → zero divergence per group
    val cat = Seq("g1", "g2").flatMap(grp => Seq("a", "b").flatMap(c =>
      (1 to 300).map(i => (grp, c, s"label${i % 5}"))))
      .toDF("grp", "cohort", "lab")
    val cz = Drift.pmfDriftByGroup(cat, "cohort", "lab", Seq("grp")).collect()
    assert(cz.length == 2 && cz.forall(_.getAs[Double]("psi") == 0.0))
  }

  test("fitByGroupWeighted: frequency weights = row replication") {
    import spark.implicits._
    // the defining property: integer weight w behaves exactly like the
    // row repeated w times — same params, n = Σw
    val base = (1 to 80).map(i => ("g", math.exp(0.02 * i), (i % 3 + 1)))
    val weighted = base.toDF("g", "v", "w")
    val exploded = base.flatMap { case (g, v, w) => Seq.fill(w)((g, v)) }
      .toDF("g", "v")
    val fw = operators.GroupedFit
      .fitByGroupWeighted(weighted, "v", "w", Seq("g")).collect()
      .map(r => r.getAs[String]("distribution") -> r).toMap
    val fr = operators.GroupedFit.fitByGroup(exploded, "v", Seq("g")).collect()
      .map(r => r.getAs[String]("distribution") -> r).toMap
    assert(fw.keySet == fr.keySet && fw.keySet.size == 7,
      s"all seven families expected: ${fw.keySet}")
    val nExp = base.map(_._3).sum.toDouble
    fw.foreach { case (dist, rw) =>
      assert(rw.getAs[Double]("n") == nExp)
      val pw = rw.getSeq[Double](rw.fieldIndex("parameters"))
      val pr = fr(dist).getSeq[Double](fr(dist).fieldIndex("parameters"))
      pw.zip(pr).foreach { case (a, b) =>
        assert(math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b)),
          s"$dist params: weighted $pw vs replicated $pr") }
      assert(math.abs(rw.getAs[Double]("loglik") - fr(dist).getAs[Double]("loglik"))
        <= 1e-6 * math.abs(fr(dist).getAs[Double]("loglik")),
        s"$dist loglik mismatch")
    }
    // zero/negative/null weights are ignored, not counted
    val dirty = (weighted.collect().map(r => (r.getString(0), r.getDouble(1), r.getInt(2))) ++
      Seq(("g", 5.0, 0), ("g", 7.0, -2))).toSeq.toDF("g", "v", "w")
    val fd = operators.GroupedFit
      .fitByGroupWeighted(dirty, "v", "w", Seq("g")).collect()
    assert(fd.forall(_.getAs[Double]("n") == nExp))
  }

  test("snapshotDiff: added/removed/changed changeset, unchanged omitted") {
    import spark.implicits._
    val oldS = Seq((1L, "a"), (2L, "b"), (3L, "c"),
      (4L, null.asInstanceOf[String])).toDF("id", "text")
    val newS = Seq((2L, "b"), (3L, "C!"), (4L, ""), (5L, "e")).toDF("id", "text")
    val diff = operators.Dedup.snapshotDiff(oldS, newS, "id", "text")
      .as[(Long, String)].collect().toMap
    // id 2 unchanged; id 4 null→"" coalesces equal (unchanged) — both omitted
    assert(diff == Map(1L -> "removed", 3L -> "changed", 5L -> "added"))
  }

  test("normalize + PII mask: controls collapsed, typed tokens, counts") {
    import spark.implicits._
    val df = Seq(
      (1L, "  Mail Bob@Corp.IO\tnow\r\nor 192.168.1.17 / 987-65-4321 ok"),
      (2L, "no pii here   justjunk"),
      (3L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val out = TextOps.withCleanText(df, "text").orderBy("doc_id")
      .select("doc_id", "n_emails", "n_ips", "n_ids", "clean_text").collect()
    assert(out(0).getString(4) == "mail <EMAIL> now or <IP> / <ID> ok")
    assert((out(0).getInt(1), out(0).getInt(2), out(0).getInt(3)) == ((1, 1, 1)))
    assert(out(1).getString(4) == "no pii here justjunk")
    assert((out(1).getInt(1), out(1).getInt(2), out(1).getInt(3)) == ((0, 0, 0)))
    assert(out(2).getString(4) == "")
    // version strings look like IPs by design (documented limitation of
    // the \b-delimited pattern); longer runs don't match
    val v = Seq((1L, "v 1.2.3.4567 and 1.2.3.4")).toDF("doc_id", "text")
    val c = TextOps.withCleanText(v, "text").head().getAs[String]("clean_text")
    assert(c == "v 1.2.3.4567 and <IP>")
  }

  test("partitioned sink: lang directories, pruned read-back, no loss") {
    import spark.implicits._
    val df = Seq((1L, "en", "hello"), (2L, "fr", "bonjour"), (3L, "en", "bye"),
      (4L, "de", "hallo")).toDF("doc_id", "lang", "text")
    val out = java.nio.file.Files.createTempDirectory("graft_sink_spec").toString
    df.write.mode("overwrite").partitionBy("lang").parquet(out)
    assert(new java.io.File(out, "lang=en").isDirectory)
    val back = spark.read.parquet(out).where($"lang" === "en")
    // the filter reaches PartitionFilters (directory pruning), not data scan
    assert(back.queryExecution.executedPlan.toString.contains("PartitionFilters"))
    assert(back.select("doc_id").collect().map(_.getLong(0)).sorted
      .sameElements(Array(1L, 3L)))
    val all = spark.read.parquet(out)
    assert(all.count() == 4 &&
      all.select("doc_id", "lang", "text").collect().length == 4)
  }

  test("salted join: equivalence to plain join, salt in the shuffle keys") {
    import spark.implicits._
    // hot key 1 holds 90% of the fact side
    val big = (1 to 1000).map(i => (if (i <= 900) 1L else i.toLong, i)).toDF("k", "v")
    val dim = Seq((1L, "hot"), (950L, "cold")).toDF("k", "name")
    val plain = big.join(dim, Seq("k")).select("k", "v", "name")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sorted
    val salted = SkewJoin.saltedJoin(big, dim, Seq("k"), saltFactor = 4)
    val got = salted.select("k", "v", "name")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sorted
    assert(got.sameElements(plain) && got.length == 901)
    assert(!salted.columns.contains("__salt"))
    // the exchange partitions on (k, __salt), not k alone
    assert(salted.queryExecution.executedPlan.toString.contains("__salt"))
    // left join keeps every unmatched fact row exactly once
    val lo = SkewJoin.saltedJoin(big, dim, Seq("k"), 4, "left_outer")
    assert(lo.count() == 1000 && lo.where($"name".isNull).count() == 99)
    // profile surfaces the hot key with its share
    val prof = SkewJoin.keySkewProfile(big, Seq("k"), 2).collect()
    assert(prof(0).getLong(0) == 1L && prof(0).getLong(1) == 900L
      && prof(0).getDouble(2) == 0.9)
  }

  test("repetition features: looping text flagged, diverse text passes") {
    val df = docsDf(Seq(
      (1L, "buy now buy now buy now buy now buy now"),
      (2L, "the quick brown fox jumps over one lazy dog today"),
      (3L, ""), (4L, "single")))
    val out = TextOps.repetitionFeatures(df, "text")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Double]("dup_token_ratio"),
          r.getAs[Double]("top_bigram_share"), r.getAs[Boolean]("is_repetitive"))))
      .toMap
    // 10 tokens, 2 distinct → dup 0.8; "buy now" holds 5 of 9 bigrams
    assert(out(1L)._1 == 10L && out(1L)._2 == 0.8)
    assert(out(1L)._3 == math.rint(5.0 / 9.0 * 1e6) / 1e6 && out(1L)._4)
    // fully diverse: dup 0, every bigram unique (share 1/9), not flagged
    assert(out(2L)._2 == 0.0 && !out(2L)._4)
    // degenerate docs: zeros, unflagged
    assert(out(3L) == ((0L, 0.0, 0.0, false)))
    assert(out(4L) == ((1L, 0.0, 0.0, false)))
  }

  test("document chunking: stride windows, overlap, tails, empty docs") {
    val df = docsDf(Seq(
      (1L, (1 to 10).map("t" + _).mkString(" ")), // 10 tokens
      (2L, "a b c"), (3L, ""), (4L, null.asInstanceOf[String]), (5L, "solo")))
    val out = TextOps.chunkDocuments(df, "doc_id", "text", chunkSize = 4, overlap = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2))
    // doc 1: stride 3, nc = ceil((10-4)/3)+1 = 3 → windows at offsets 0,3,6
    val d1 = out.filter(_._1 == 1L)
    assert(d1.map(_._3).toSeq == Seq(
      "t1 t2 t3 t4", "t4 t5 t6 t7", "t7 t8 t9 t10"))
    assert(d1.map(_._4).toSeq == Seq(4L, 4L, 4L))
    // doc 2 (3 tokens < chunk): single short chunk
    assert(out.filter(_._1 == 2L).toSeq == Seq((2L, 0L, "a b c", 3L)))
    // empty and null docs: no chunks; single token: one chunk
    assert(!out.exists(t => t._1 == 3L || t._1 == 4L))
    assert(out.filter(_._1 == 5L).toSeq == Seq((5L, 0L, "solo", 1L)))
    // every token of doc 1 appears in some chunk (coverage)
    val covered = d1.flatMap(_._3.split(" ")).toSet
    assert(covered == (1 to 10).map("t" + _).toSet)
  }

  test("deterministic split: layout-stable, exhaustive, weight-shaped") {
    import spark.implicits._
    val df = (0L until 2000L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    val a = Sampling.deterministicSplit(df, "doc_id")
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // identical assignment after a reshuffle — the randomSplit failure mode
    val b = Sampling.deterministicSplit(df.repartition(13), "doc_id")
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a == b)
    assert(a.size == 2000 && a.values.toSet == Set("train", "val", "test"))
    val frac = a.values.groupBy(identity).view.mapValues(_.size / 2000.0).toMap
    assert(math.abs(frac("train") - 0.9) < 0.03, s"train ${frac("train")}")
    assert(math.abs(frac("val") - 0.05) < 0.02 && math.abs(frac("test") - 0.05) < 0.02)
    // custom weights cover the bucket space exactly (last bound pinned)
    val c = Sampling.deterministicSplit(df, "doc_id",
      weights = Seq("x" -> 1.0, "y" -> 2.0), buckets = 7)
      .groupBy("split").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(c.values.sum == 2000 && c.keySet == Set("x", "y"))
  }

  test("connected components: chains, cliques, singletons, survivors") {
    import spark.implicits._
    // a 30-node path (diameter 29 — the case plain label propagation
    // needs 29 rounds for), a triangle, one extra pair, reversed and
    // duplicated edges, and a self-loop to ignore
    val path = (0L until 29L).map(i => (i + 1, i))
    val tri = Seq((100L, 101L), (101L, 102L), (100L, 102L))
    val extra = Seq((200L, 201L), (201L, 200L), (200L, 201L), (300L, 300L))
    val edges = (path ++ tri ++ extra).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(edges, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (i <- 0L to 29L) assert(cc(i) == 0L, s"path node $i")
    for (i <- 100L to 102L) assert(cc(i) == 100L, s"triangle node $i")
    assert(cc(200L) == 200L && cc(201L) == 200L)
    assert(!cc.contains(300L), "self-loop node is not incident to a real edge")
    assert(cc.size == 35)
    // survivors: min id per cluster + untouched docs
    val docs = ((0L to 29L) ++ (100L to 102L) ++ Seq(200L, 201L, 999L))
      .map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val surv = Dedup.clusterSurvivors(docs, "doc_id",
        edges.where($"id_a" =!= $"id_b"))
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(surv.sameElements(Array(0L, 100L, 200L, 999L)))
    // empty edge list: no rows, no crash
    assert(Dedup.connectedComponents(
      Seq.empty[(Long, Long)].toDF("id_a", "id_b"), "id_a", "id_b").count() == 0)
    // the distributed star rounds (localThreshold=0 disables the
    // union-find fast path) produce the identical labeling
    val ccDist = Dedup.connectedComponents(edges, "id_a", "id_b",
        localThreshold = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ccDist == cc, "fast path and star rounds disagree")
    // and on a random graph with larger components
    val rng = new java.util.Random(31L)
    val rand = Seq.fill(400)((rng.nextInt(120).toLong, rng.nextInt(120).toLong))
      .toDF("id_a", "id_b")
    val a = Dedup.connectedComponents(rand, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = Dedup.connectedComponents(rand, "id_a", "id_b", localThreshold = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b, "fast path and star rounds disagree on the random graph")
  }

  test("shingle-share pairs: overlap found, stop-shingle cap enforced") {
    val df = docsDf(Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "zzz alpha beta gamma delta yyy"),   // shares 4-grams with 1
      (3L, "totally different words here now"),
      (4L, "common stop phrase here"), (5L, "common stop phrase here"),
      (6L, "common stop phrase here")))
    val p = Dedup.shingleSharePairs(df, "doc_id", "text", n = 4, maxShingleFreq = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(p.contains((1L, 2L)))
    assert(!p.exists(t => t._1 == 3L || t._2 == 3L))
    // cap at 2: the 3-way shared shingle (freq 3) is dropped entirely
    val capped = Dedup.shingleSharePairs(df, "doc_id", "text", n = 4, maxShingleFreq = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((1L, 2L)))
  }

  test("minhash: near-identical docs pair with high est jaccard, unrelated don't") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 60).map(i => if (i == 30) "CHANGED" else s"tok$i").mkString(" ")
    val other = (100 to 160).map(i => s"zzz$i").mkString(" ")
    val df = docsDf(Seq((1L, base), (2L, nearDup), (3L, other), (4L, base)))
    val pairs = Dedup.minhashPairs(df, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val pairSet = pairs.map(p => (p._1, p._2)).toSet
    assert(pairSet.contains((1L, 4L)), s"exact dup pair missing: ${pairSet.mkString(",")}")
    assert(pairSet.contains((1L, 2L)) || pairSet.contains((2L, 4L)),
      s"near dup pair missing: ${pairSet.mkString(",")}")
    assert(!pairSet.exists(p => p._1 == 3L || p._2 == 3L), "unrelated doc paired")
    val exactPair = pairs.find(p => (p._1, p._2) == (1L, 4L)).get
    assert(exactPair._3 == 1.0)
    // survivors drop the duplicate side
    val surv = Dedup.minhashSurvivors(df, "doc_id", "text", threshold = 0.8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(surv.contains(1L) && surv.contains(3L) && !surv.contains(4L))
  }

  test("ngram jaccard exact values") {
    assert(Dedup.ngramJaccard("a b c d", "a b c d") == 1.0)
    assert(Dedup.ngramJaccard("a b c d", "x y z w") == 0.0)
    val j = Dedup.ngramJaccard("a b c d e", "a b c d x")
    assert(j > 0 && j < 1)
  }

  test("simhash: hamming distance small for near-dups, large for unrelated") {
    val base = (1 to 100).map(i => s"tok$i").mkString(" ")
    val near = (1 to 100).map(i => if (i % 50 == 0) "CHANGED" + i else s"tok$i").mkString(" ")
    val other = (500 to 600).map(i => s"qqq$i").mkString(" ")
    val hBase = Dedup.simhash64(base)
    val hNear = Dedup.simhash64(near)
    val hOther = Dedup.simhash64(other)
    val nearDist = java.lang.Long.bitCount(hBase ^ hNear)
    assert(nearDist <= 12, s"near-dup hamming $nearDist")
    assert(java.lang.Long.bitCount(hBase ^ hOther) > 20)

    val df = docsDf(Seq((1L, base), (2L, near), (3L, other)))
    // budget >= actual distance → pigeonhole guarantees candidate generation
    val pairs = Dedup.simhashPairs(df, "doc_id", "text", maxHamming = math.max(3, nearDist))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("text quality features and language id") {
    val df = docsDf(Seq(
      (1L, "The quick brown fox jumps over the lazy dog and runs to the forest"),
      (2L, "aaa aaa aaa aaa aaa")))
    val q = TextOps.qualityScore(df, "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(q(1L).getAs[Int]("n_tokens") == 14)
    assert(q(1L).getAs[Double]("type_token_ratio") > q(2L).getAs[Double]("type_token_ratio"))
    assert(q(1L).getAs[Double]("stopword_ratio") > 0.2) // the, over, the, and, to, the
    assert(q(1L).getAs[Double]("quality_score") > q(2L).getAs[Double]("quality_score"))

    assert(TextOps.detectLanguage("the cat sat on the mat with a hat") == "en")
    assert(TextOps.detectLanguage("der Hund ist nicht in der Schule und das Haus") == "de")
    assert(TextOps.detectLanguage("le chat est dans la maison pour les enfants") == "fr")
    assert(TextOps.detectLanguage("el perro es una mascota para los niños") == "es")
    assert(TextOps.detectLanguage("这是一个中文句子的例子") == "zh")
    assert(TextOps.detectLanguage("это русское предложение") == "ru")
    assert(TextOps.detectLanguage("") == "und")
    assert(TextOps.detectLanguage("zzz qqq xxx") == "und")
  }

  test("fingerprint: whitespace-insensitive, content-sensitive, deterministic") {
    val a = TextOps.fingerprint64("hello   world\n foo")
    val b = TextOps.fingerprint64("hello world foo")
    val c = TextOps.fingerprint64("hello world bar")
    assert(a == b)
    assert(a != c)
    assert(a == TextOps.fingerprint64("hello   world\n foo")) // stable
  }

  test("codegen'd array_dot is bit-identical to the zip_with/aggregate fold") {
    import spark.implicits._
    val rng = new java.util.Random(11L)
    val rows = (0L until 50L).map(i =>
      (i, Array.fill(37)(rng.nextFloat() * 4 - 2))).toDF("id", "a")
      .withColumn("b", F.reverse(F.col("a")))
    val hofDot = F.aggregate(
      F.zip_with(F.col("a"), F.col("b"), (x, y) => x.cast("double") * y.cast("double")),
      F.lit(0.0), (acc, x) => acc + x)
    val diff = rows.select(
      (graft.functions.ArrayDot.dot(F.col("a"), F.col("b")) - hofDot).as("d"))
      .agg(F.max(F.abs(F.col("d")))).head().getDouble(0)
    assert(diff == 0.0, s"codegen dot diverged from HOF fold by $diff")
    // null array → null
    val nullRow = Seq((1L, null.asInstanceOf[Array[Float]], Array(1.0f)))
      .toDF("id", "a", "b")
    assert(nullRow.select(graft.functions.ArrayDot.dot(F.col("a"), F.col("b")))
      .head().isNullAt(0))
  }

  test("brute-force cosine top-k: self first, orthogonal excluded") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(-1.0f, 0.0f, 0.0f)),
      (4L, Array(0.7f, 0.7f, 0.0f))).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(vecs, "embedding", "vec_id",
      Array(1.0f, 0.0f, 0.0f), 3).collect()
    assert(top.map(_.getLong(0)).toSeq == Seq(0L, 1L, 4L))
    assert(top.head.getDouble(1) == 1.0)
  }

  test("LSH top-k finds the same near neighbors as brute force on clustered data") {
    import spark.implicits._
    val rng = new java.util.Random(7L)
    val dim = 16
    // two clusters around +e1 and -e1
    val rows = (0 until 200).map { i =>
      val center = if (i % 2 == 0) 1.0f else -1.0f
      val v = Array.tabulate(dim)(d =>
        (if (d == 0) center else 0.0f) + 0.05f * rng.nextFloat())
      (i.toLong, v)
    }
    val df = rows.toDF("vec_id", "embedding")
    val query = Array.tabulate(dim)(d => if (d == 0) 1.0f else 0.0f)
    val bf = Similarity.bruteForceTopK(df, "embedding", "vec_id", query, 10)
      .collect().map(_.getLong(0)).toSet
    val lsh = Similarity.lshTopK(df, "embedding", "vec_id", query, 10)
      .collect().map(_.getLong(0)).toSet
    assert(lsh.intersect(bf).size >= 8, s"recall too low: ${lsh.intersect(bf).size}/10")
    // near-dup pairs: clustered same-side vectors have cosine ~1
    val nd = Similarity.nearDupPairs(df.limit(20), "embedding", "vec_id", threshold = 0.9)
    assert(nd.count() > 0)
    // the exact audit baseline enforces its bounded-corpus contract —
    // past maxRows the collect caps out and fails loudly, no driver OOM
    val ex = intercept[IllegalArgumentException] {
      Similarity.nearDupPairsExact(df, "embedding", "vec_id",
        threshold = 0.9, maxRows = 10)
    }
    assert(ex.getMessage.contains("O(n²) audit baseline"))
    val ndx = Similarity.nearDupPairsExact(df.limit(20), "embedding",
      "vec_id", threshold = 0.9, maxRows = 20)
    assert(ndx.count() > 0)
  }

  test("PQ: codes compress 32x, ADC top-k finds the query's cluster") {
    import spark.implicits._
    val rng = new java.util.Random(7L)
    // two well-separated clusters in 16 dims
    def vec(center: Float) = Array.fill(16)(center + rng.nextFloat() * 0.1f)
    val rows = (0L until 40L).map(i =>
      (i, vec(if (i < 20) 1.0f else -1.0f).toSeq))
    val df = rows.toDF("vec_id", "embedding")
      .select(F.col("vec_id"), F.col("embedding").cast("array<float>"))
    val cb = Similarity.pqTrain(df, "embedding", m = 4, k = 4, seed = 1L)
    assert(cb.m == 4 && cb.dSub == 4)
    val codes = Similarity.pqEncode(df, "embedding", cb)
    // m shorts per row — the 32x-class compression vs 16 floats
    assert(codes.select("pq_code").head().getSeq[Short](0).length == 4)
    // encoding is deterministic
    val c1 = codes.orderBy("vec_id").select("pq_code").collect().map(_.getSeq[Short](0))
    val c2 = Similarity.pqEncode(df, "embedding", cb)
      .orderBy("vec_id").select("pq_code").collect().map(_.getSeq[Short](0))
    assert(c1.zip(c2).forall { case (a, b) => a == b })
    // a query at cluster A's center must retrieve only cluster A members
    val q = Array.fill(16)(1.05f)
    val top = Similarity.pqTopK(codes, "pq_code", "vec_id", q, cb, 10)
      .collect().map(_.getLong(0))
    assert(top.length == 10 && top.forall(_ < 20L), top.mkString(","))
  }

  test("PQ encode breaks exact distance ties toward the lowest centroid index") {
    import spark.implicits._
    // two identical centroids: every vector is equidistant to both, so
    // the argmin MUST land on index 0 — the contract the SQL-replay
    // oracle (row_number over (d2, c)) relies on
    val cb = Similarity.PqCodebooks(2, 2, 2, Array(
      Array(Array(0.0, 0.0), Array(0.0, 0.0)),
      Array(Array(1.0, 1.0), Array(5.0, 5.0))))
    val df = Seq((1L, Seq(3.0f, 4.0f, 2.9f, 3.1f))).toDF("vec_id", "embedding")
      .select(F.col("vec_id"), F.col("embedding").cast("array<float>"))
    val code = Similarity.pqEncode(df, "embedding", cb)
      .select("pq_code").head().getSeq[Short](0)
    assert(code(0) == 0.toShort) // tie → first index
    assert(code(1) == 0.toShort) // (2.9,3.1) nearer (1,1) than (5,5)
  }

  test("ivfAssign extends the index without retraining; queries find new rows") {
    import spark.implicits._
    val rng = new java.util.Random(3L)
    def vec(center: Float) = Array.fill(16)(center + rng.nextFloat() * 0.1f)
    val base = (0L until 30L).map(i =>
      (i, vec(if (i < 15) 1.0f else -1.0f).toSeq))
      .toDF("vec_id", "embedding")
      .select(F.col("vec_id"), F.col("embedding").cast("array<float>"))
    val index = Similarity.ivfBuild(base, "embedding", "vec_id", nCells = 2, seed = 5L)
    val fresh = Seq((100L, vec(1.0f).toSeq), (101L, vec(-1.0f).toSeq))
      .toDF("vec_id", "embedding")
      .select(F.col("vec_id"), F.col("embedding").cast("array<float>"))
    val extended = Similarity.ivfAssign(index, fresh, "embedding", "vec_id")
    // centroids untouched; count grows by the batch
    assert(extended.centroids eq index.centroids)
    assert(extended.assigned.count() == 32)
    // the new positive-cluster vector lands in the same cell as id 0
    val cellOf = extended.assigned.select("id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(cellOf(100L) == cellOf(0L) && cellOf(101L) == cellOf(20L), cellOf.toString)
    // a query at the positive center now retrieves the new row
    val top = Similarity.ivfTopK(extended, vec(1.0f), k = 5, nProbe = 1)
      .collect().map(_.getLong(0))
    assert(top.contains(100L), top.mkString(","))
    // dimension drift (embedding-model swap) fails fast, never truncates
    val wrongDim = Seq((200L, Array.fill(8)(1.0f).toSeq)).toDF("vec_id", "embedding")
      .select(F.col("vec_id"), F.col("embedding").cast("array<float>"))
    val err = intercept[IllegalArgumentException] {
      Similarity.ivfAssign(index, wrongDim, "embedding", "vec_id")
    }
    assert(err.getMessage.contains("dimension mismatch"))
    // empty batch is a no-op
    assert(Similarity.ivfAssign(index, fresh.limit(0), "embedding", "vec_id")
      .assigned.count() == 30)
  }

  test("int8 quantization: bounded per-dim error, cosine structure preserved") {
    import spark.implicits._
    val rng = new java.util.Random(3L)
    val dim = 16
    val rows = (0 until 100).map(i =>
      (i.toLong, Array.fill(dim)((rng.nextFloat() - 0.5f) * (i % 5 + 1))))
    val df = rows.toDF("vec_id", "embedding")
    val scales = Similarity.quantizeScales(df, "embedding")
    assert(scales.length == dim)
    // scales are the true per-dim max|x|
    for (d <- 0 until dim) {
      val mx = rows.map(r => math.abs(r._2(d).toDouble)).max
      assert(scales(d) == mx, s"dim $d")
    }
    val q = Similarity.quantizeEmbeddings(df, "embedding", scales)
    // byte range respected, per-dim dequantization error ≤ s_d/254 + ulp
    val deq = Similarity.dequantizeEmbeddings(q, "q_embedding", scales, "emb2")
      .select("vec_id", "embedding", "emb2").collect()
    for (r <- deq) {
      val orig = r.getSeq[Float](1); val back = r.getSeq[Float](2)
      for (d <- 0 until dim)
        assert(math.abs(orig(d) - back(d)) <= scales(d) / 254.0 + 1e-6,
          s"vec ${r.getLong(0)} dim $d: ${orig(d)} vs ${back(d)}")
    }
    // brute-force neighborhoods survive the 4x shrink
    val query = rows.head._2
    val bf = Similarity.bruteForceTopK(df, "embedding", "vec_id", query, 10)
      .collect().map(_.getLong(0)).toSet
    val dq = Similarity.dequantizeEmbeddings(
      Similarity.quantizeEmbeddings(df, "embedding", scales).drop("embedding"),
      "q_embedding", scales, "embedding")
    val qf = Similarity.bruteForceTopK(dq, "embedding", "vec_id", query, 10)
      .collect().map(_.getLong(0)).toSet
    assert(bf.intersect(qf).size >= 8, s"recall ${bf.intersect(qf).size}/10")
    // all-zero dimension quantizes to 0 under the scale-1 guard
    val z = Seq((0L, Array(0.0f, 2.0f))).toDF("vec_id", "embedding")
    val zs = Similarity.quantizeScales(z, "embedding")
    assert(zs(0) == 1.0 && zs(1) == 2.0)
  }

  test("IVF top-k matches brute force on clustered data; probes prune cells") {
    import spark.implicits._
    val rng = new java.util.Random(11L)
    val dim = 16
    val rows = (0 until 300).map { i =>
      val center = i % 3 // three clusters along e1, e2, e3
      val v = Array.tabulate(dim)(d =>
        (if (d == center) 1.0f else 0.0f) + 0.05f * rng.nextFloat())
      (i.toLong, v)
    }
    val df = rows.toDF("vec_id", "embedding")
    val query = Array.tabulate(dim)(d => if (d == 0) 1.0f else 0.0f)
    val idx = Similarity.ivfBuild(df, "embedding", "vec_id", nCells = 12)
    assert(idx.centroids.length > 1)
    val ivf = Similarity.ivfTopK(idx, query, 10, nProbe = 4)
      .collect().map(_.getLong(0)).toSet
    val bf = Similarity.bruteForceTopK(df, "embedding", "vec_id", query, 10)
      .collect().map(_.getLong(0)).toSet
    assert(ivf.intersect(bf).size >= 8, s"IVF recall too low: ${ivf.intersect(bf).size}/10")
    // probing every cell reproduces brute force exactly
    val all = Similarity.ivfTopK(idx, query, 10, nProbe = idx.centroids.length)
      .collect().map(_.getLong(0)).toSet
    assert(all == bf)
  }

  test("distributed QQ/PP data: exact order statistics, Blom positions") {
    import spark.implicits._
    val df = new scala.util.Random(3L).shuffle((1 to 1000).toList)
      .map(_.toDouble).toDF("v") // 1..1000 shuffled
    val qq = PlotData.qqDist(df, "v", "uniform", Array(0.0, 1.0), points = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1)
    assert(qq.map(_._1).toSeq == (1 to 10).map(_ * 100L))
    qq.foreach { case (r, theo, samp) =>
      assert(samp == r.toDouble, s"order statistic at rank $r was $samp")
      val p = (r - 0.375) / (1000 + 0.25)
      assert(math.abs(theo - p) < 1e-6, s"Blom position at rank $r: $theo vs $p")
    }
    val pp = PlotData.ppDist(df, "v", "uniform", Array(0.0, 1000.0), points = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1)
    pp.foreach { case (r, ecdf, mcdf) =>
      assert(math.abs(ecdf - (r - 0.5) / 1000.0) < 1e-12)
      assert(math.abs(mcdf - r / 1000.0) < 1e-6, s"uniform cdf at rank $r: $mcdf")
    }
  }

  test("sessionize splits on gaps and numbers sessions per key") {
    import spark.implicits._
    val df = Seq(
      (1L, 100L), (1L, 150L), (1L, 151L), // session 1 (gaps <= 50)
      (1L, 300L),                         // session 2 (gap 149 > 50)
      (2L, 100L)                          // other key: its own session 1
    ).toDF("k", "t")
    val out = Sessionize.assign(df, "k", "t", gap = 50L)
      .orderBy("k", "t").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, 100L, 1L), (1L, 150L, 1L), (1L, 151L, 1L),
      (1L, 300L, 2L), (2L, 100L, 1L)), out.toSeq.toString)
    val sums = Sessionize.summarize(df, "k", "t", 50L)
      .orderBy("k", "session_idx").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(4)))
    assert(sums.toSeq == Seq((1L, 1L, 3L, 51L), (1L, 2L, 1L, 0L), (2L, 1L, 1L, 0L)))
  }

  test("asofLeft picks the latest prior right row per key, inclusive on ties") {
    import spark.implicits._
    val left = Seq((1L, 10L, 100L), (2L, 10L, 250L), (3L, 20L, 100L), (4L, 10L, 50L))
      .toDF("event_id", "k", "t")
    val right = Seq((10L, 100L, 1.0), (10L, 200L, 2.0), (20L, 500L, 9.0))
      .toDF("k", "t", "v")
    val out = AsOfJoin.asofLeft(left, right, "k", "t", Seq("v"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(r.fieldIndex("v"))) None else Some(r.getDouble(r.fieldIndex("v"))))).toMap
    assert(out(1L) == Some(1.0)) // tie at t=100 is inclusive
    assert(out(2L) == Some(2.0)) // latest prior of 100, 200
    assert(out(3L) == None)      // right row is in the future
    assert(out(4L) == None)      // no prior right row
    // multi-payload: fields come from ONE matched right row, never a
    // composite — and a genuinely-null newest field stays null
    val right2 = Seq((10L, 100L, Some(0.0), Some(5.0)), (10L, 200L, Some(1.0), None))
      .toDF("k", "t", "a", "b")
    val row250 = AsOfJoin.asofLeft(Seq((9L, 10L, 250L)).toDF("event_id", "k", "t"),
        right2, "k", "t", Seq("a", "b")).head()
    assert(row250.getDouble(row250.fieldIndex("a")) == 1.0)
    assert(row250.isNullAt(row250.fieldIndex("b")),
      "null field of the matched row must not be backfilled from an older row")

    // one hash shuffle on the key, no range-join explosion
    val plan = AsOfJoin.asofLeft(left, right, "k", "t", Seq("v"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      plan.take(800))
    assert("hashpartitioning\\(k".r.findAllIn(plan).size >= 1, plan.take(800))
  }

  test("vocabTopK and tfidfTopTerms compute corpus statistics exactly") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the dog sat"),
      (3L, "a cat and a dog")).toDF("doc_id", "text")
    val vocab = TextOps.vocabTopK(docs, "doc_id", "text", 3).collect()
    // 'the' x3 in 2 docs wins; ties broken by token asc
    assert(vocab(0).getString(0) == "the" &&
      vocab(0).getLong(1) == 3L && vocab(0).getLong(2) == 2L, vocab.mkString(","))
    assert(vocab(1).getString(0) == "a" && vocab(1).getLong(1) == 2L)

    val top = TextOps.tfidfTopTerms(docs, docs.where(F.col("doc_id") === 1), "doc_id", "text", 2)
      .collect()
    assert(top.length == 2)
    // doc 1: 'the' tf=2 idf=ln(4/3)+1 ≈ 2.575 ranks first; then the
    // df=1 tokens (mat, on) at ln(2)+1 ≈ 1.693, tie broken by token asc
    assert(top(0).getString(2) == "the", top.mkString(","))
    assert(math.abs(top(0).getDouble(3) - 2.0 * (math.log(4.0 / 3.0) + 1.0)) < 1e-5)
    assert(top(1).getString(2) == "mat", top.mkString(","))
    assert(math.abs(top(1).getDouble(3) - (math.log(2.0) + 1.0)) < 1e-5)
  }

  test("multimodal: javax.imageio decode recovers true dimensions and pixel stats") {
    import spark.implicits._
    // round-trip: synthesize lossless PNGs, decode through the fan-out
    val ids = (0L until 40L).toSeq
    val df = ids.toDF("id")
      .withColumn("payload", F.udf((id: Long) => Multimodal.syntheticPng(id)).apply(F.col("id")))
    val out = Multimodal.extractFeatures(df, "payload").collect()
    assert(out.length == 40)
    for (r <- out) {
      val id = r.getAs[Long]("id")
      assert(r.getAs[String]("format") == "png")
      assert(r.getAs[Int]("width") == (16 + id % 32).toInt, s"id=$id")
      assert(r.getAs[Int]("height") == (16 + id % 16).toInt, s"id=$id")
      val feats = r.getSeq[Float](r.fieldIndex("features"))
      val gray = ((id * 7) % 256) / 255.0
      // constant-fill image: meanR/G/B and meanLuma = gray, stdLuma = 0
      assert(math.abs(feats(0) - gray) < 1e-6, s"meanR id=$id")
      assert(math.abs(feats(3) - gray) < 1e-6, s"meanLuma id=$id")
      assert(feats(4) < 1e-6, s"stdLuma id=$id")
    }
    // real resize: dims change, constant fill preserved, raw bytes → null
    val small = Multimodal.resizeOne(Multimodal.syntheticPng(5L), 8, 8)
    val dec = Multimodal.ImageIoDecoder.decode(small)
    assert(dec.width == 8 && dec.height == 8, s"${dec.width}x${dec.height}")
    assert(math.abs(dec.features(3) - ((5 * 7) % 256) / 255.0) < 1e-6, "resize must preserve constant luma")
    assert(Multimodal.resizeOne("not an image".getBytes, 8, 8) == null)

    // non-image bytes fall back to byte stats with HONEST unknown dims
    val raw = Multimodal.ImageIoDecoder.decode("just some text".getBytes)
    assert(raw.format == "raw" && raw.width == 0 && raw.height == 0)
    // a corrupted PNG header (sniffs png, unreadable) also falls back
    val corrupt = Multimodal.ImageIoDecoder.decode(
      Array[Byte](0x89.toByte, 'P', 'N', 'G', 13, 10, 26, 10, 1, 2, 3))
    assert(corrupt.width == 0 && corrupt.height == 0)
  }

  test("multimodal: GIF frame sampling keeps every k-th frame with exact luma") {
    import spark.implicits._
    // local round-trip: 7 frames, stride 2 → frames 0,2,4,6
    val gif = Multimodal.syntheticGif(5L, 7)
    val frames = Multimodal.framesOf(gif, 2)
    assert(frames.map(_.frame_index) == Seq(0, 2, 4, 6))
    for (fr <- frames) {
      val dec = Multimodal.ImageIoDecoder.decode(fr.frame)
      val gray = ((5L * 7 + fr.frame_index * 11) % 256) / 255.0
      assert(dec.width == 16 + 5 && dec.height == 16 + 5)
      assert(math.abs(dec.features(3) - gray) < 1e-6, s"frame=${fr.frame_index}")
      assert(dec.features(4) < 1e-6, "constant frame must have zero luma std")
    }
    // through the DataFrame fan-out: row count = Σ ceil(nFrames/2)
    val df = (0L until 8L).toDF("id")
      .withColumn("payload",
        F.udf((id: Long) => Multimodal.syntheticGif(id, (3 + id % 4).toInt)).apply(F.col("id")))
    val out = Multimodal.extractFeatures(
      Multimodal.sampleFrames(df, "payload", every = 2), "frame").collect()
    val expected = (0L until 8L).map(id => ((3 + id % 4) + 1) / 2).sum
    assert(out.length == expected, s"got ${out.length}, want $expected")
    // non-image payloads produce zero frames, not fabricated ones
    assert(Multimodal.framesOf("plain text".getBytes, 2).isEmpty)
    assert(Multimodal.framesOf(null, 2).isEmpty)
  }

  test("multimodal: WAV audio decode recovers format metadata and exact RMS") {
    import spark.implicits._
    // local round-trip: constant PCM → rms = peak = c/32768 exactly
    val wav = Multimodal.syntheticWav(7L)
    val af = Multimodal.decodeAudio(wav)
    assert(af.format == "wav" && af.sample_rate == 8000.0 && af.channels == 1)
    assert(af.n_frames == 1700, s"n_frames=${af.n_frames}")
    assert(math.abs(af.duration_s - 1700.0 / 8000.0) < 1e-12)
    val c = (7L * 37 % 16384).toDouble / 32768.0
    assert(math.abs(af.rms - c) < 1e-9, s"rms=${af.rms} want $c")
    assert(math.abs(af.peak - c) < 1e-12)
    // through the DataFrame fan-out
    val df = (0L until 10L).toDF("id")
      .withColumn("payload", F.udf((id: Long) => Multimodal.syntheticWav(id)).apply(F.col("id")))
    val out = Multimodal.extractAudioFeatures(df, "payload").collect()
    assert(out.length == 10)
    for (r <- out)
      assert(r.getAs[Long]("n_frames") == 1000 + (r.getAs[Long]("id") % 10) * 100)
    // non-audio payloads fall back honestly
    val raw = Multimodal.decodeAudio("not audio at all".getBytes)
    assert(raw.format == "raw" && raw.n_frames == 0L && raw.rms == 0.0)
    assert(Multimodal.decodeAudio(null).format == "empty")
  }

  test("multimodal: byte-stats fallback plumbing preserves rows and derives features") {
    import spark.implicits._
    val df = Seq((1L, "some text payload"), (2L, ""), (3L, "other bytes here"))
      .toDF("id", "txt")
      .select(F.col("id"), F.col("txt").cast("binary").as("payload"))
    val out = Multimodal.extractFeatures(df, "payload")
    assert(out.count() == 3)
    val r = out.where(F.col("id") === 1).head()
    assert(r.getAs[String]("format") == "raw")
    assert(r.getAs[Long]("n_bytes") == "some text payload".length)
    assert(r.getSeq[Float](r.fieldIndex("features")).length == 8)
    val empty = out.where(F.col("id") === 2).head()
    assert(empty.getAs[String]("format") == "empty")
    // deterministic across runs
    val again = Multimodal.extractFeatures(df, "payload")
      .where(F.col("id") === 3).head().getSeq[Float](5)
    assert(again == out.where(F.col("id") === 3).head().getSeq[Float](5))
  }

  test("duplicated spans: shared runs merge to maximal spans, unique text clean") {
    val shared = (1 to 12).map(i => s"tok$i").mkString(" ") // 12-token run
    val df = docsDf(Seq(
      (1L, s"alpha beta $shared gamma delta"),
      (2L, s"$shared omega"),
      (3L, "entirely unique words nothing here repeats at all in this corpus today")))
    val spans = Dedup.duplicatedSpans(df, "doc_id", "text", k = 4, minCount = 2)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).sorted
    // doc1: run occupies tokens 2..13 -> windows 2..10 merge -> span 2..13
    // doc2: tokens 0..11 -> span 0..11; doc3: nothing
    assert(spans.sameElements(Array((1L, 2L, 13L), (2L, 0L, 11L))), spans.mkString(","))
    // within-document repetition is also caught (minCount counts
    // occurrences, not documents): "a b c d e" repeats inside one doc
    val rep = docsDf(Seq((9L, "a b c d e x y z a b c d e")))
    val rs = Dedup.duplicatedSpans(rep, "doc_id", "text", k = 5, minCount = 2)
      .collect().map(r => (r.getLong(2), r.getLong(3))).sorted
    assert(rs.sameElements(Array((0L, 4L), (8L, 12L))), rs.mkString(","))
  }

  test("incremental minhash equals the batch cross-pairs, no old-old work") {
    val base = "spark catalyst optimizer rewrites logical plans with rule batches"
    val all = docsDf(Seq(
      (0L, base), (1L, base + " fixedpoint"), // old near-dups of each other
      (2L, "completely different text about parquet column chunk statistics pages"),
      (10L, base + " until convergence"),     // new: near-dup of 0 and 1
      (11L, "unrelated fresh document mentioning shuffle partitions and skew handling")))
    val old = all.where(F.col("doc_id") < 10)
    val fresh = all.where(F.col("doc_id") >= 10)
    val index = Dedup.minhashSignatures(old, "doc_id", "text")
    val incr = Dedup.minhashPairsAgainst(index, fresh, "doc_id", "text",
        threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // only new-vs-old pairs, never old-old (0,1) and never new-new
    assert(incr.forall { case (n, o, _) => n >= 10 && o < 10 })
    val batchCross = Dedup.minhashPairs(all, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, b, _) => a < 10 && b >= 10 }
      .map { case (a, b, j) => (b, a, j) }
    assert(incr.sorted.sameElements(batchCross.sorted),
      s"incr=${incr.toSeq} batch=${batchCross.toSeq}")
    assert(incr.exists { case (n, o, _) => n == 10L && o == 0L })
  }

  test("range join: bucketed result equals the naive theta join, edges inclusive") {
    import spark.implicits._
    val pts = Seq(0L, 5L, 10L, 17L, 23L, 99L).toDF("p")
    val iv = Seq((1L, 0L, 10L), (2L, 10L, 20L), (3L, 95L, 99L), (4L, 40L, 41L))
      .toDF("iid", "s", "e")
    val got = RangeJoin.pointInInterval(pts, "p", iv, "s", "e", bucketWidth = 7L)
      .select("iid", "p").collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val naive = pts.join(iv, F.col("p").between(F.col("s"), F.col("e")))
      .select("iid", "p").collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(got.sameElements(naive), s"got=${got.toSeq} naive=${naive.toSeq}")
    // boundary points (0, 10, 99) are inclusive; 10 lands in BOTH windows
    assert(got.count(_._2 == 10L) == 2)
    // an interval with no points yields no row
    assert(!got.exists(_._1 == 4L))
  }

  test("SpaceSaving sketch: exact when k >= distinct, safe bounds when k < distinct") {
    import spark.implicits._
    // skewed stream: a=500, b=200, c=100, d..f=10 each
    val data = (Seq.fill(500)("a") ++ Seq.fill(200)("b") ++ Seq.fill(100)("c") ++
      Seq.fill(10)("d") ++ Seq.fill(10)("e") ++ Seq.fill(10)("f"))
    val df = data.toDF("k").repartition(7) // force multi-partial merges
    val truth = data.groupBy(identity).map { case (kk, v) => kk -> v.size.toLong }
    def run(k: Int) = {
      val ss = F.udaf(new graft.functions.SpaceSaving(k))
      df.agg(ss(F.col("k")).as("hh"))
        .select(F.explode(F.col("hh")).as("h"))
        .select("h._1", "h._2", "h._3").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    }
    // exact regime: k >= 6 distinct -> zero error, counts equal groupBy
    val exact = run(16)
    assert(exact.forall(_._3 == 0L), exact.mkString(","))
    assert(exact.map(t => t._1 -> t._2).toMap == truth)
    // sketch regime: k=3 < 6 distinct -> at most 3 counters, every
    // estimate is a safe overcount (true <= est <= true + err), and the
    // dominant key (freq > n/k) survives with a tight estimate
    val sk = run(3)
    assert(sk.length <= 3)
    for ((kk, est, err) <- sk; t = truth.getOrElse(kk, 0L)) {
      assert(est >= t, s"$kk undercounted: est=$est true=$t")
      assert(est - err <= t, s"$kk bound violated: est=$est err=$err true=$t")
    }
    val aRow = sk.find(_._1 == "a")
    assert(aRow.isDefined, sk.mkString(","))
    assert(aRow.get._2 >= 500L)
  }

  test("decontamination: shared n-grams flagged, clean docs survive") {
    val bench = docsDf(Seq(
      (100L, "the quick brown fox jumps over the lazy dog tonight")))
    val corpus = docsDf(Seq(
      (1L, "prefix words the quick brown fox jumps over the lazy dog tonight and more"),
      (2L, "totally unrelated content about spark catalyst optimizer internals here"),
      (3L, "the quick brown fox jumps over the lazy dog tonight")))
    val rep = Decontam.contaminationReport(corpus, bench, "doc_id", "text", n = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(rep.contains(1L) && rep.contains(3L) && !rep.contains(2L))
    // doc 3 is the benchmark text verbatim: 10 tokens -> 3 distinct 8-grams
    assert(rep(3L) == 3L)
    val clean = Decontam.decontaminate(corpus, bench, "doc_id", "text", n = 8)
      .select("doc_id").collect().map(_.getLong(0))
    assert(clean.sameElements(Array(2L)))
    // short docs (< n tokens) contribute nothing and never match
    val short = docsDf(Seq((9L, "too short")))
    assert(Decontam.contaminationReport(short, bench, "doc_id", "text", 8).count() == 0)
  }

  test("drift metrics: zero on identical cohorts, grows with shift, layout-stable") {
    import spark.implicits._
    val rng = new java.util.Random(13L)
    // identical cohorts → all divergences exactly 0 (pa == pb per cell)
    val same = Seq("a", "b").flatMap(g =>
      (1 to 2000).map(i => (g, (i % 7).toLong))).toDF("cohort", "v")
    val zero = Drift.pmfDrift(same, "cohort", "v").head()
    assert(zero.getAs[Double]("psi") == 0.0 && zero.getAs[Double]("kl_ab") == 0.0)
    assert(zero.getAs[Long]("n_cells") == 7L)
    // shifted continuous cohorts → PSI well above the 0.25 alarm line
    val shifted = ((1 to 3000).map(_ => ("a", 50 + 10 * rng.nextGaussian())) ++
      (1 to 3000).map(_ => ("b", 70 + 10 * rng.nextGaussian())))
      .toDF("cohort", "x")
    val r = Drift.histDrift(shifted, "cohort", "x", 0.0, 5.0, 30).head()
    assert(r.getAs[Double]("psi") > 0.25, s"psi=${r.getAs[Double]("psi")}")
    assert(r.getAs[Double]("kl_ab") > 0 && r.getAs[Double]("kl_ba") > 0)
    // partitioning must not change a single bit of the result
    val r2 = Drift.histDrift(shifted.repartition(13), "cohort", "x", 0.0, 5.0, 30).head()
    assert(r.getAs[Long]("n_a") == r2.getAs[Long]("n_a"))
    assert(math.abs(r.getAs[Double]("psi") - r2.getAs[Double]("psi")) < 1e-12)
    // two-sample KS: a 2-sigma mean shift separates the CDFs by ~0.68
    // (|Phi(z-1) - Phi(z+1)| maximum), p-value collapses; identical
    // cohorts give a tiny D with p ~ 1
    val ks = Drift.ksTwoSample(shifted, "cohort", "x").head()
    val dKs = ks.getAs[Double]("ks_d")
    assert(dKs > 0.55 && dKs < 0.8, s"D=$dKs")
    assert(ks.getAs[Double]("p_value") < 1e-6)
    val ksSame = Drift.ksTwoSample(same.select(F.col("cohort"),
      F.col("v").cast("double").as("x")), "cohort", "x").head()
    assert(ksSame.getAs[Double]("ks_d") == 0.0)
    assert(ksSame.getAs[Double]("p_value") > 0.999)
  }

  test("fuzzy decontamination: edited near-copies flagged, stop-grams capped") {
    val bench = docsDf(Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu")))
    val corpus = docsDf(Seq(
      // near-copy: one token swapped → exact-tier 12-grams all broken,
      // but 5-gram candidates + levenshtein catch it
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda nu"),
      (2L, "completely different text with no shared token grams whatsoever today"),
      // shares a 5-gram but the full text diverges → candidate generated,
      // verification rejects it
      (3L, "alpha beta gamma delta epsilon and then something entirely different " +
        "follows for quite a while longer than the benchmark text itself runs")))
    val rep = Decontam.fuzzyContaminationReport(corpus, bench, "doc_id", "text",
        k = 5, maxGramDocs = 50, prefixChars = 400, maxEditRatio = 0.2)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Int]("edit_dist"), r.getAs[Boolean]("is_contaminated"))).toMap
    assert(rep.contains(1L) && rep(1L)._2, s"near-copy must flag: $rep")
    assert(rep(1L)._1 <= 2, s"one-token swap is a tiny edit: ${rep(1L)}")
    assert(!rep.contains(2L), "no shared grams → no candidate")
    assert(rep.contains(3L) && !rep(3L)._2,
      s"diverging text is a candidate but NOT contaminated: $rep")
    // a gram present in every corpus doc generates no candidates
    val boiler = docsDf((1L to 60L).map(i =>
      (i, "standard header line alpha beta gamma delta epsilon" +
        s" unique$i filler$i content$i")))
    val capped = Decontam.fuzzyContaminationReport(
      boiler, bench, "doc_id", "text", k = 5, maxGramDocs = 50)
    assert(capped.count() == 0, "stop-gram cap must suppress boilerplate grams")
  }

  test("sequence packing: offsets are exact prefix sums, spans correct") {
    import spark.implicits._
    val df = Seq((1L, 500L), (2L, 600L), (3L, 0L), (4L, 2048L), (5L, 1L))
      .toDF("doc_id", "n_tokens").repartition(3)
    val out = Packing.packSequences(df, "doc_id", "n_tokens", 1024L)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(out(0) == ((1L, 0L, 0L, 0L, 1L)))       // [0,500)
    assert(out(1) == ((2L, 500L, 0L, 1L, 2L)))     // [500,1100) spans seq 0-1
    assert(out(2) == ((3L, 1100L, 1L, 1L, 1L)))    // empty doc: first==last
    assert(out(3) == ((4L, 1100L, 1L, 3L, 3L)))    // [1100,3148) spans 1-3
    assert(out(4) == ((5L, 3148L, 3L, 3L, 1L)))
    // no single-partition exchange in the plan (prefix sum is distributed)
    val plan = Packing.packSequences(df, "doc_id", "n_tokens", 1024L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"), plan.take(500))
  }

  test("stratified hash sample boosts tails, keeps mid thin, deterministic") {
    import spark.implicits._
    val df = (0L until 1000L).map(i => (i, i.toDouble)).toDF("k", "v")
    val out = Sampling.stratifiedHashSample(df, "v", "k",
      fraction = 0.1, tailFraction = 0.8, numBins = 5, buckets = 10000)
    val byBin = out.withColumn("bin",
        F.least(F.greatest(F.floor(F.col("v") / 199.8), F.lit(0L)), F.lit(4L)))
      .groupBy("bin").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // tails keep ~80% of ~200 rows, mid bins ~10%
    assert(byBin(0L) > 120 && byBin(4L) > 120, byBin.toString)
    assert(byBin.getOrElse(1L, 0L) < 50 && byBin.getOrElse(2L, 0L) < 50, byBin.toString)
    // deterministic: identical id set across invocations
    val again = Sampling.stratifiedHashSample(df, "v", "k", 0.1, 0.8, 5, 10000)
      .select("k").collect().map(_.getLong(0)).sorted
    assert(again.sameElements(out.select("k").collect().map(_.getLong(0)).sorted))
    // empty input / all-null column: zero rows, not an NPE
    assert(Sampling.stratifiedHashSample(df.where(F.lit(false)), "v", "k",
      0.1, 0.8, 5, 10000).count() == 0)
    val nulls = (0L until 5L).map(i => (i, None: Option[Double])).toDF("k", "v")
    assert(Sampling.stratifiedHashSample(nulls, "v", "k", 0.1, 0.8, 5, 10000)
      .count() == 0)
  }

  test("domain mix: integer thresholds hit target ratios, deterministic") {
    import spark.implicits._
    val rows = (0L until 400L).map(i => (i, if (i % 4 == 0) "big" else "small"))
    val df = rows.toDF("doc_id", "lang") // big=100, small=300
    val parts = Map("big" -> 1L, "small" -> 1L) // want 1:1 from a 1:3 corpus
    val out = Sampling.domainMixSample(df, "lang", "doc_id", parts, buckets = 10000)
    val byLang = out.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // K = min(100/1, 300/1) = 100 -> big keeps all (thr=buckets), small ~1/3
    assert(byLang("big") == 100L)
    assert(byLang("small") > 60L && byLang("small") < 140L,
      s"small kept ${byLang("small")}, expected ~100")
    // deterministic: same input -> identical surviving id set
    val again = Sampling.domainMixSample(df, "lang", "doc_id", parts, buckets = 10000)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(again.sameElements(out.select("doc_id").collect().map(_.getLong(0)).sorted))
    // domains missing from parts are dropped entirely
    val dropped = Sampling.domainMixSample(df, "lang", "doc_id",
      Map("big" -> 1L), buckets = 10000)
    assert(dropped.select("lang").distinct().collect().map(_.getString(0))
      .sameElements(Array("big")))
  }

  test("harness doc/embedding queries return rows on sf0.001") {
    val dir = "/root/testdata/sf0.001"
    for (name <- Seq("q_doc_tokens", "q_doc_quality", "q_dedup_exact",
        "q_dedup_minhash", "q_dedup_minhash_survivors", "q_dedup_simhash",
        "q_lang_id", "q_fingerprint", "q_ann_bruteforce", "q_ann_lsh",
        "q_ann_ivf", "q_embedding_near_dup", "q_multimodal_features",
        "q_media_meta", "q_qq_plot", "q_pp_plot")) {
      val n = SparkEntry.queries(name)(spark, dir).count()
      assert(n > 0, s"$name returned 0 rows")
    }
  }

  test("HLL sketches: shard-merge and single pass both land within the error bound") {
    import spark.implicits._
    // two groups with known cardinalities, values interleaved across rows
    val df = ((1 to 20000).map(i => ("a", (i % 7919).toLong)) ++
      (1 to 9000).map(i => ("b", (i % 701).toLong))).toDF("g", "v")
    val out = operators.Sketches.hllDistinctByGroup(df, "g", "v", shards = 4)
      .collect().map(r => r.getAs[String]("g") ->
        (r.getAs[Long]("n_exact"), r.getAs[Long]("merged_est"),
          r.getAs[Long]("single_est"))).toMap
    assert(out("a")._1 == 7919 && out("b")._1 == 701)
    for ((g, (exact, merged, single)) <- out) {
      // the union adds no error beyond sketch precision: BOTH estimates
      // land within the lgK=12 bound of exact (bit-equality only holds
      // in dense mode — coupon-regime promotion can shift the merged
      // representation, so tolerance is the honest contract)
      assert(math.abs(single.toDouble - exact) < exact * 0.02,
        s"group $g: single estimate $single vs exact $exact")
      assert(math.abs(merged.toDouble - exact) < exact * 0.02,
        s"group $g: merged estimate $merged vs exact $exact")
    }
  }

  test("z-order: interleave is exact and clustering shrinks boxes on both dims") {
    import spark.implicits._
    // hand-checked interleave: cells (3, 5) at 3 bits → x bits at even
    // positions, y at odd → 0b100111 = 39
    val one = Seq((3L, 5L)).toDF("cx", "cy")
      .select(operators.ZOrder.zValue(Seq(F.col("cx"), F.col("cy")), 3).as("z"))
      .head().getLong(0)
    assert(one == 39L, s"interleave(3,5)@3bits = $one, want 39")
    // exhaustive bijection: 64×64 cells at 6 bits and 16³ cells at
    // 4 bits must map exactly onto 0..4095 — any interleave slip
    // (wrong position, dropped bit) breaks the bijection
    val z2 = (for { x <- 0 until 64; y <- 0 until 64 } yield (x.toLong, y.toLong))
      .toDF("cx", "cy")
      .select(operators.ZOrder.zValue(Seq(F.col("cx"), F.col("cy")), 6).as("z"))
      .as[Long].collect().sorted
    assert(z2.sameElements(0L until 4096L), "2-D z-curve is not a bijection")
    val z3 = (for { x <- 0 until 16; y <- 0 until 16; w <- 0 until 16 }
      yield (x.toLong, y.toLong, w.toLong)).toDF("a", "b", "c")
      .select(operators.ZOrder.zValue(
        Seq(F.col("a"), F.col("b"), F.col("c")), 4).as("z"))
      .as[Long].collect().sorted
    assert(z3.sameElements(0L until 4096L), "3-D z-curve is not a bijection")
    // a 100×100 grid clustered into 16 partitions: every partition's
    // bounding box must be a small fraction of the global extent on BOTH
    // dimensions — the property that makes zone maps prune multi-dim
    // predicates. A single-column sort would leave the other dim at ~1.
    val grid = (for { x <- 0 until 100; y <- 0 until 100 }
      yield (x.toDouble, y.toDouble)).toDF("x", "y").repartition(13)
    val clustered = operators.ZOrder.clusterByZ(grid, Seq("x", "y"),
      bits = 8, numPartitions = 16)
    val bounds = operators.ZOrder.partitionBounds(clustered, Seq("x", "y"))
      .collect().filter(_.getAs[Long]("n_rows") > 0L)
    assert(bounds.length > 8, "clustering collapsed to too few partitions")
    def avgExtent(dim: String): Double = bounds.map(r =>
      (r.getAs[Double](s"max_$dim") - r.getAs[Double](s"min_$dim")) / 99.0)
      .sum / bounds.length
    val (ex, ey) = (avgExtent("x"), avgExtent("y"))
    assert(ex < 0.6 && ey < 0.6,
      f"avg per-partition extent x=$ex%.2f y=$ey%.2f — boxes did not shrink")
    // nothing lost in the shuffle
    assert(clustered.count() == 10000L)
    // empty input: degenerate bounds, zero rows, no NPE
    assert(operators.ZOrder.clusterByZ(grid.limit(0), Seq("x", "y"), 4, 2)
      .count() == 0L)
  }

  test("robust outliers: exact quantile_disc median/MAD, zero-MAD degeneracy") {
    import spark.implicits._
    // 1..9 plus one wild point: median 5 (of 10 values: disc -> 5),
    // MAD = median(|x-5|) over {4,3,2,1,0,1,2,3,4,995} -> disc(0.5)=2
    val df = ((1 to 9).map(_.toDouble) :+ 1000.0).toDF("v").repartition(3)
    val (med, mad) = operators.Outliers.medianMad(df, "v")
    assert(med == 5.0 && mad == 2.0, s"med=$med mad=$mad")
    val flagged = operators.Outliers.flag(df, "v")
      .where($"is_outlier").select("v").as[Double].collect()
    assert(flagged.toSeq == Seq(1000.0), s"flagged ${flagged.toSeq}")
    // no finite values: null-scored pass-through, not a throw
    val ef = operators.Outliers.flag(
      Seq(Option.empty[Double], Some(Double.NaN)).toDF("v"), "v")
    assert(ef.count() == 2 &&
      ef.select("robust_z").collect().forall(_.isNullAt(0)))
    // zero MAD (constant majority): every deviating value is flagged
    val const = (Seq.fill(10)(7.0) :+ 9.0).toDF("v")
    val f2 = operators.Outliers.flag(const, "v")
      .where($"is_outlier").select("v").as[Double].collect()
    assert(f2.toSeq == Seq(9.0))
  }

  test("validation rules: each type counts its violations in one pass") {
    import spark.implicits._
    import operators.Validation._
    val df = Seq(
      (1L, Some(5.0), "en", "a1"),
      (2L, Some(50.0), "en", "b2"),   // in_range violation (50 > 10)
      (2L, Some(Double.NaN), "xx", "c3"), // dup id, NaN value, bad lang
      (4L, None, "de", "nope")        // null value, regex violation
    ).toDF("id", "v", "lang", "code")
    val rep = check(df, Seq(
        NotNull("v"), Unique("id"), InRange("v", 0.0, 10.0),
        AcceptedValues("lang", Seq("en", "de")),
        MatchesRegex("code", "[a-z][0-9]")))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getBoolean(4))).toMap
    assert(rep(("v", "not_null")) == ((2L, false)))      // NaN + null
    assert(rep(("id", "unique")) == ((1L, false)))       // one surplus dup
    assert(rep(("v", "in_range")) == ((1L, false)))      // 50.0 only (NaN excluded)
    assert(rep(("lang", "accepted_values")) == ((1L, false)))
    assert(rep(("code", "matches_regex")) == ((1L, false)))
    // a clean frame passes everything
    val ok = check(Seq((1L, "x")).toDF("id", "s"),
      Seq(NotNull("s"), Unique("id"))).collect()
    assert(ok.forall(_.getBoolean(4)))
  }

  test("quantileBuckets: tie-stable deciles, full coverage, empty input") {
    import spark.implicits._
    // 1000 rows over 10 heavily-tied values: each value = one decile
    val df = (0 until 1000).map(i => (i.toLong, (i % 10).toDouble))
      .toDF("id", "v").repartition(7)
    val b = operators.Ranks.quantileBuckets(df, "v", 10)
      .select("v", "bucket").as[(Double, Long)].collect()
    // same value → same bucket (the property NTILE lacks), buckets 1..10
    val byVal = b.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(byVal.values.forall(_.size == 1), "tied values split across buckets")
    assert(byVal.toSeq.sortBy(_._1).map(_._2.head) == (1L to 10L),
      s"bucket assignment ${byVal.toSeq.sortBy(_._1)}")
    // empty / all-null: null buckets, no crash
    val e = operators.Ranks.quantileBuckets(
      Seq.empty[(Long, Double)].toDF("id", "v"), "v", 4)
    assert(e.count() == 0 && e.columns.contains("bucket"))
  }

  test("weightedHashSample: inclusion tracks weight, heavy rows always kept") {
    import spark.implicits._
    val df = (1 to 20000).map(i => (i.toLong, ((i % 100) + 1).toLong))
      .toDF("id", "w")
    val kept = operators.Sampling.weightedHashSample(df, "w", "id", 0.1)
      .select("id", "w").as[(Long, Long)].collect()
    // expected kept ≈ fraction·N = 2000 (all p_i < 1 here); md5 noise ±20%
    assert(kept.length > 1500 && kept.length < 2500, s"kept ${kept.length}")
    // inclusion probability ∝ weight: the top weight decile must be kept
    // at several times the bottom decile's rate
    val hi = kept.count(_._2 > 90) / 2000.0
    val lo = kept.count(_._2 <= 10) / 2000.0
    assert(hi > 3 * math.max(lo, 1e-4), f"hi=$hi%.3f lo=$lo%.3f")
    // a row with p >= 1 always survives; zero/negative weights never do
    val heavy = (df.union(Seq((999999L, 10000000L), (999998L, 0L))
      .toDF("id", "w")))
    val kept2 = operators.Sampling.weightedHashSample(heavy, "w", "id", 0.1)
      .select("id").as[Long].collect().toSet
    assert(kept2.contains(999999L) && !kept2.contains(999998L))
    // layout-stable: identical set after a different partitioning
    val kept3 = operators.Sampling
      .weightedHashSample(df.repartition(7), "w", "id", 0.1)
      .select("id").as[Long].collect().toSet
    assert(kept3 == kept.map(_._1).toSet)
  }

  test("KLL sketch: merged ranks and quantiles inside the error bound") {
    import spark.implicits._
    // 0..99999 shuffled deterministically across 8 partitions
    val df = (0 until 100000).map(i => (i.toLong * 48271L % 100000L).toDouble)
      .toDF("v").repartition(8)
    val sk = operators.Sketches.kllSketch(df, "v", k = 800)
    assert(sk.getN == 100000L)
    // rank of value q·100000 is within the k=800 bound of q
    for (q <- Seq(0.01, 0.25, 0.5, 0.75, 0.99)) {
      val r = sk.getRank(q * 100000)
      assert(math.abs(r - q) < 0.01, s"rank($q) = $r")
      val x = sk.getQuantile(q)
      assert(math.abs(x / 100000 - q) < 0.01, s"quantile($q) = $x")
    }
    // all-null input: empty result with schema, not an NPE
    val empty = operators.Sketches.kllRankCheck(
      Seq[Option[Double]](None, None).toDF("v"), "v", Seq(0.5))
    assert(empty.count() == 0 && empty.columns.contains("exact_rank"))
    val chk = operators.Sketches.kllRankCheck(df, "v",
      Seq(25000.0, 50000.0, 75000.0)).collect()
    assert(chk.forall(_.getAs[Boolean]("within_eps")),
      "merged sketch rank fell outside eps")
    // exact ranks are exact: 25001/100000 values are <= 25000.0
    val exact = chk.map(r =>
      r.getAs[Double]("probe") -> r.getAs[Double]("exact_rank")).toMap
    assert(exact(25000.0) == 0.25001 && exact(50000.0) == 0.50001)
  }

  test("sketch builds tree-merge executor-side and equal the serial merge") {
    import spark.implicits._
    import org.apache.datasketches.kll.KllDoublesSketch
    import org.apache.datasketches.memory.Memory
    val df = (1 to 600).map(_.toDouble).toDF("v").repartition(64)
    // KLL at k=800 > n: the sub-capacity regime retains every value, so
    // the sketch is EXACT whatever the merge topology — tree vs serial
    // collect-merge must agree rank-for-rank
    val tree = operators.Sketches.kllSketch(df, "v", k = 800)
    assert(tree.getN == 600)
    assert(tree.getMinItem == 1.0 && tree.getMaxItem == 600.0)
    val serial = {
      val parts = df.select($"v").rdd.mapPartitions { it =>
        val sk = KllDoublesSketch.newHeapInstance(800)
        it.foreach(r => sk.update(r.getDouble(0)))
        Iterator.single(sk.toByteArray)
      }.collect()
      val m = KllDoublesSketch.newHeapInstance(800)
      parts.foreach(b => m.merge(KllDoublesSketch.heapify(Memory.wrap(b))))
      m
    }
    for (p <- Seq(1.0, 150.0, 300.0, 599.0))
      assert(tree.getRank(p) == serial.getRank(p), s"rank mismatch at $p")
    // theta exact regime (600 < 2^12): the tree union is exact
    val th = operators.Sketches.thetaSketch(df, "v", lgK = 12)
    assert(math.round(th.getEstimate) == 600L)
    // NaN rows leave BOTH the sketch and the exact-rank populations
    // (KllDoublesSketch ignores NaN updates; an unfiltered denominator
    // would count NaN as "above every probe" and skew exact_rank)
    val withNaN = ((1 to 100).map(_.toDouble) ++ Seq(Double.NaN, Double.NaN))
      .toDF("v").repartition(8)
    val chk = operators.Sketches.kllRankCheck(withNaN, "v", Seq(50.0)).head()
    assert(chk.getAs[Double]("exact_rank") == 0.5, "NaN leaked into the denominator")
    assert(chk.getAs[Boolean]("within_eps"))
  }

  test("semDedup: within-cell near-dup pairs and keep-min survivors") {
    import spark.implicits._
    // three tight clusters of near-identical vectors, well separated
    def jitter(base: Array[Float], i: Int): Array[Float] =
      base.zipWithIndex.map { case (v, d) => v + (if (d == i % 4) 1e-3f else 0f) }
    val a = Array(1f, 0f, 0f, 0f); val b = Array(0f, 1f, 0f, 0f)
    val c = Array(0f, 0f, 1f, 0f)
    val rows = Seq(1L -> a, 2L -> jitter(a, 1), 3L -> jitter(a, 2),
      10L -> b, 11L -> jitter(b, 3), 99L -> c)
    val df = rows.toDF("id", "emb")
    // pinned centroids: the three cluster directions — fully deterministic
    val ctrs = Array(a.map(_.toDouble), b.map(_.toDouble), c.map(_.toDouble))
    val pairs = operators.Similarity
      .semDedupPairsWith(df, "emb", "id", ctrs, threshold = 0.95)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L), (1L, 3L), (2L, 3L), (10L, 11L)),
      s"pairs = $pairs")
    // trained path (seeded k-means): the cosine filter means emitted
    // pairs are always TRUE near-dups — cell pruning can only lose
    // recall (the published SemDeDup trade), never add false pairs
    val trained = operators.Similarity
      .semDedupPairs(df, "emb", "id", threshold = 0.95, nCells = 3, seed = 7L)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(trained.subsetOf(pairs), s"trained pairs $trained ⊄ $pairs")
    assert(trained.nonEmpty, "trained quantizer found no pairs at all")
    // keep-min survivor rule: survivors = ids minus the larger side of
    // every trained pair (self-consistency with the same seed)
    val surv = operators.Similarity
      .semDedupSurvivors(df, "emb", "id", threshold = 0.95, nCells = 3,
        seed = 7L)
      .select("id").as[Long].collect().toSet
    val expected = rows.map(_._1).toSet -- trained.map(_._2)
    assert(surv == expected, s"survivors = $surv, want $expected")
  }

  test("semDedup: oversize cells split (dense regions keep yielding pairs)") {
    import spark.implicits._
    // 30 near-identical but DISTINCT vectors: one dense semantic region
    // exceeding maxCell = 10. The pre-fix skew guard dropped the whole
    // cell → zero pairs from exactly where near-dups concentrate.
    val rows = (0 until 30).map { i =>
      val v = Array(1f, 0f, 0f, 0f)
      v(1 + i % 3) = 1e-3f * (1 + i / 3) // unique (axis, magnitude) jitter
      (i.toLong, v)
    }
    val df = rows.toDF("id", "emb")
    val ctr = Array(Array(1.0, 0.0, 0.0, 0.0))
    val pairs = operators.Similarity
      .semDedupPairsWith(df, "emb", "id", ctr, threshold = 0.95, maxCell = 10)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(pairs.nonEmpty,
      "dense oversize cell produced zero pairs (dropped instead of split)")
    assert(pairs.forall { case (a, b) => a < b && a >= 0 && b < 30 })
    // adversarial point mass: 30 IDENTICAL vectors k-means cannot
    // separate — after the split-round cap the leaf is deterministically
    // truncated to its maxCell lowest ids (and logged), never silenced
    val same = (0 until 30)
      .map(i => (i.toLong, Array(0f, 1f, 0f, 0f))).toDF("id", "emb")
    val p2 = operators.Similarity
      .semDedupPairsWith(same, "emb", "id", Array(Array(0.0, 1.0, 0.0, 0.0)),
        threshold = 0.95, maxCell = 10)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val ids = 0L until 10L
    val want = (for (a <- ids; b <- ids if a < b) yield (a, b)).toSet
    assert(p2 == want,
      s"truncation should pair exactly the 10 lowest ids; got ${p2.size} pairs")
  }

  test("theta sketches: exact-regime set algebra and estimation-regime bounds") {
    import spark.implicits._
    // A = {0..4999}, B = {4000..6999}: |A∩B| = 1000, |A\B| = 4000
    val a = (0 until 5000).map(_.toLong).toDF("v").repartition(5)
    val b = (4000 until 7000).map(_.toLong).toDF("v").repartition(3)
    // exact regime (lgK=13 → 8192 > 5000): every number is exact
    val r = operators.Sketches.thetaOverlap(a, "v", b, "v", lgK = 13).head()
    assert(r.getAs[Long]("n_a") == 5000 && r.getAs[Long]("n_b") == 3000)
    assert(r.getAs[Long]("n_common") == 1000)
    assert(r.getAs[Long]("n_a_only") == 4000 && r.getAs[Long]("n_b_only") == 2000)
    assert(math.abs(r.getAs[Double]("jaccard") - 1000.0 / 7000.0) < 1e-6)
    // estimation regime (lgK=6 → 64 nominal entries): estimates must
    // land within the theta relative-error envelope (~1/√k per sketch;
    // intersections compound, so the assert uses a generous 5σ band)
    val e = operators.Sketches.thetaOverlap(a, "v", b, "v", lgK = 6).head()
    assert(math.abs(e.getAs[Long]("n_a") - 5000.0) < 5000 * 0.65,
      s"n_a estimate ${e.getAs[Long]("n_a")} outside the lgK=6 envelope")
    assert(math.abs(e.getAs[Long]("n_common") - 1000.0) < 1000 * 0.95,
      s"n_common estimate ${e.getAs[Long]("n_common")} outside the envelope")
    // cohort matrix: three cohorts with known pairwise overlaps, exact
    // regime; pairs with zero overlap must still appear
    val df = ((0 until 100).map(i => ("x", i)) ++
      (50 until 150).map(i => ("y", i)) ++
      (1000 until 1100).map(i => ("z", i))).toDF("c", "v")
    val m = operators.Sketches.thetaCohortOverlap(df, "c", "v", lgK = 10)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("n_common"), r.getAs[Long]("n_a"))).toMap
    assert(m(("x", "y"))._1 == 50 && m(("x", "z"))._1 == 0)
    assert(m(("y", "z"))._1 == 0 && m(("x", "y"))._2 == 100)
    assert(m.size == 3)
  }

  test("globalShuffle: contiguous positions, layout-independent, seed-sensitive") {
    import spark.implicits._
    val df = (1L to 500L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    def perm(d: org.apache.spark.sql.DataFrame, seed: Long): Seq[(Long, Long)] =
      operators.Sampling.globalShuffle(d, "doc_id", seed)
        .select("doc_id", "position").as[(Long, Long)].collect().sortBy(_._1).toSeq
    val p1 = perm(df, 42L)
    // positions are exactly 0..n-1 (a permutation, no gaps/dupes)
    assert(p1.map(_._2).sorted == (0L until 500L))
    // the order is a pure function of (key set, seed): any input layout
    // (partition count, row order) produces the identical permutation
    val p2 = perm(df.repartition(7).sortWithinPartitions(F.desc("doc_id")), 42L)
    assert(p1 == p2)
    // a different seed is a different permutation
    assert(perm(df, 43L) != p1)
  }

  test("triangleStats counts the single triangle exactly") {
    import spark.implicits._
    // a-b, b-c, a-c (one triangle) + pendant c-d; duplicate and
    // reversed edges and a self-loop must collapse away
    val edges = Seq(("a", "b"), ("b", "a"), ("b", "c"), ("a", "c"),
      ("c", "d"), ("d", "d")).toDF("src", "dst")
    val r = Graph.triangleStats(edges, "src", "dst").collect()
      .map(x => x.getAs[String]("node") ->
        (x.getAs[Long]("degree"), x.getAs[Long]("triangles"),
          x.getAs[Double]("clustering_coeff"))).toMap
    assert(r("a") == ((2L, 1L, 1.0)))
    assert(r("b") == ((2L, 1L, 1.0)))
    assert(r("c")._1 == 3L && r("c")._2 == 1L)
    assert(math.abs(r("c")._3 - 0.333333) < 1e-6)
    assert(r("d") == ((1L, 0L, 0.0)))
    // K4 has 4 triangles, every node in 3 of them, coeff 1
    val k4 = (for { a <- Seq("w", "x", "y", "z"); b <- Seq("w", "x", "y", "z")
      if a < b } yield (a, b)).toDF("src", "dst")
    val rk = Graph.triangleStats(k4, "src", "dst").collect()
    assert(rk.length == 4)
    assert(rk.forall(_.getAs[Long]("triangles") == 3L))
    assert(rk.forall(_.getAs[Double]("clustering_coeff") == 1.0))
  }

  test("chi2Terms ranks the perfectly-discriminative token first") {
    import spark.implicits._
    // A docs: {x y}, {x}; B docs: {y z}, {z} — x is a perfect A marker
    // (a=2,b=0,c=0,d=2 → χ² = 4), y is uninformative (χ² = 0)
    val df = Seq((1L, "x y", "A"), (2L, "x", "A"),
      (3L, "y z", "B"), (4L, "z", "B")).toDF("doc_id", "text", "cls")
    val r = TextOps.chi2Terms(df, "doc_id", "text", "cls", topK = 5)
      .collect().map(x => (x.getAs[String]("cls"), x.getAs[String]("token"))
        -> (x.getAs[Double]("chi2"), x.getAs[Long]("rank"))).toMap
    assert(r(("A", "x")) == ((4.0, 1L)))
    assert(r(("A", "y")) == ((0.0, 2L)))
    assert(r(("B", "z")) == ((4.0, 1L)))
    assert(r(("B", "y")) == ((0.0, 2L)))
    assert(r.size == 4) // tokens absent from a class produce no row
  }

  test("hellingerByGroup matches the hand-computed two-cohort PMFs") {
    import spark.implicits._
    // p_a = (.5,.5), p_b = (.75,.25): BC = √.375+√.125 ≈ 0.965926
    val df = (Seq("x", "x", "y", "y").map(("g", "a", _)) ++
      Seq("x", "x", "x", "y").map(("g", "b", _)))
      .toDF("grp", "cohort", "v")
    val r = Drift.hellingerByGroup(df, "cohort", "v", Seq("grp")).head()
    assert(r.getAs[Long]("n_a") == 4L && r.getAs[Long]("n_b") == 4L)
    assert(r.getAs[Long]("n_cells") == 2L)
    val bc = math.sqrt(0.375) + math.sqrt(0.125)
    assert(math.abs(r.getAs[Double]("bc") - bc) < 1e-6)
    assert(math.abs(r.getAs[Double]("hellinger") - math.sqrt(1 - bc)) < 1e-6)
    assert(math.abs(r.getAs[Double]("bhattacharyya") + math.log(bc)) < 1e-6)
    // identical PMFs → BC = 1, H = 0
    val same = (Seq("x", "y").map(("h", "a", _)) ++
      Seq("x", "y").map(("h", "b", _))).toDF("grp", "cohort", "v")
    val rs = Drift.hellingerByGroup(same, "cohort", "v", Seq("grp")).head()
    assert(rs.getAs[Double]("hellinger") == 0.0)
    assert(rs.getAs[Double]("bc") == 1.0)
  }

  test("mannKendallByKey detects the monotone trend and handles ties") {
    import spark.implicits._
    // periods 0..4, values 1..5: S = 10, Var = 50/3, Sen slope = 1
    val mono = Seq.tabulate(5)(i => ("k", i.toLong * 10L, (i + 1).toDouble))
      .toDF("key", "ts", "v")
    val r = Features.mannKendallByKey(mono, "key", "ts", "v",
      periodUnit = 10L).head()
    assert(r.getAs[Long]("m") == 5L && r.getAs[Long]("s_stat") == 10L)
    assert(math.abs(r.getAs[Double]("var_s") - 50.0 / 3.0) < 1e-5)
    val zExp = 9.0 / math.sqrt(50.0 / 3.0)
    assert(math.abs(r.getAs[Double]("z") - zExp) < 1e-5)
    val pExp = graft.functions.SpecialMath.erfc(
      math.rint(zExp * 1e6) / 1e6 / math.sqrt(2.0))
    assert(math.abs(r.getAs[Double]("p_value") - pExp) < 1e-5)
    assert(r.getAs[Double]("sen_slope") == 1.0)
    // tie: values (1,1,2) → S = 2, tie term 18, Var = 48/18,
    // slopes {0, .5, 1} → lower median .5
    val tied = Seq(("t", 0L, 1.0), ("t", 10L, 1.0), ("t", 20L, 2.0))
      .toDF("key", "ts", "v")
    val rt = Features.mannKendallByKey(tied, "key", "ts", "v",
      periodUnit = 10L).head()
    assert(rt.getAs[Long]("s_stat") == 2L)
    assert(math.abs(rt.getAs[Double]("var_s") - 48.0 / 18.0) < 1e-6)
    assert(math.abs(rt.getAs[Double]("sen_slope") - 0.5) < 1e-12)
  }

  test("monotoneWoeBins pools the rate violation exactly") {
    import spark.implicits._
    // 5 pre-bins of 4 rows; rates 0, .5, .25, .75, 1 -> PAV pools
    // bins 2+3 to 3/8 = .375; merged ids 1,2,2,3,4
    val pos = Map(1 -> 0, 2 -> 2, 3 -> 1, 4 -> 3, 5 -> 4)
    val rows = (1 to 20).map { x =>
      val b = (x - 1) / 4 + 1
      (x.toDouble, (x - 1) % 4 < pos(b))
    }
    val r = Evaluation.monotoneWoeBins(rows.toDF("x", "y"), "x", "y",
        bins = 5)
      .collect().map(z => z.getAs[Long]("bucket") -> z).toMap
    assert(r(1L).getAs[Double]("fitted") == 0.0)
    assert(r(2L).getAs[Double]("fitted") == 0.375)
    assert(r(3L).getAs[Double]("fitted") == 0.375)
    assert(r(4L).getAs[Double]("fitted") == 0.75)
    assert(r(5L).getAs[Double]("fitted") == 1.0)
    assert(r(2L).getAs[Long]("merged_bin") ==
      r(3L).getAs[Long]("merged_bin"))
    assert(Seq(1L, 2L, 4L, 5L).map(b => r(b).getAs[Long]("merged_bin"))
      == Seq(1L, 2L, 3L, 4L))
    assert(r(3L).getAs[Double]("rate") == 0.25)
    assert(r.values.map(_.getAs[Long]("n")).sum == 20L)
  }

  test("pairedTTest matches the hand-computed differences") {
    import spark.implicits._
    // d = (1, 3, 2): mean 2, s2 = 1, t = 2/(1/sqrt(3)), dof 2
    val df = Seq((5.0, 4.0), (8.0, 5.0), (6.0, 4.0)).toDF("a", "b")
    val r = StatTests.pairedTTest(df, "a", "b").head()
    assert(r.getAs[Long]("n") == 3L)
    assert(r.getAs[Double]("mean_diff") == 2.0)
    assert(r.getAs[Double]("sd_diff") == 1.0)
    val tExp = math.rint(2.0 * math.sqrt(3.0) * 1e6) / 1e6
    assert(r.getAs[Double]("t_stat") == tExp)
    assert(r.getAs[Long]("dof") == 2L)
    assert(r.getAs[Double]("cohen_dz") == 2.0)
    assert(r.getAs[Double]("p_value") > 0.0 &&
      r.getAs[Double]("p_value") < 0.2)
  }

  test("cronbachAlpha is 1 for duplicated items, low for noise") {
    import spark.implicits._
    // two identical items: item vars sum to 2v, total var = 4v ->
    // alpha = 2*(1 - 1/2) = 1
    val same = Seq((1.0, 1.0), (2.0, 2.0), (3.0, 3.0), (5.0, 5.0))
      .toDF("i1", "i2")
    val r = StatTests.cronbachAlpha(same, Seq("i1", "i2")).head()
    assert(r.getAs[Double]("alpha") == 1.0)
    assert(r.getAs[Long]("k") == 2L)
    // (near-)anti-correlated items -> negative alpha (a PERFECT
    // anti-correlation gives a constant total, var 0, and is omitted)
    val anti = Seq((1.0, 5.0), (2.0, 4.5), (3.0, 3.0), (5.0, 1.0),
      (4.0, 2.5)).toDF("i1", "i2")
    val ra = StatTests.cronbachAlpha(anti, Seq("i1", "i2")).head()
    assert(ra.getAs[Double]("alpha") < 0.0)
    val const = Seq((1.0, 5.0), (2.0, 4.0), (3.0, 3.0)).toDF("i1", "i2")
    assert(StatTests.cronbachAlpha(const, Seq("i1", "i2")).isEmpty)
  }

  test("miContinuous sees the U-shape correlation misses") {
    import spark.implicits._
    // y = (x - .5)^2 on a fine grid: r ~ 0 but MI is large
    val df = Seq.tabulate(400) { i =>
      val x = i / 400.0
      (x, (x - 0.5) * (x - 0.5))
    }.toDF("x", "y")
    val mi = Evaluation.miContinuous(df, "x", "y", bins = 10)
      .head().getAs[Double]("mi")
    assert(mi > 1.0) // deterministic relationship: MI near ln(bins)
    // independent checkerboard-ish pairing: MI near 0
    val ind = Seq.tabulate(400)(i =>
      ((i % 20).toDouble, (i / 20).toDouble)).toDF("x", "y")
    val mi0 = Evaluation.miContinuous(ind, "x", "y", bins = 10)
      .head().getAs[Double]("mi")
    assert(mi0 < 0.05)
  }

  test("hbosScore ranks the rare-corner row first") {
    import spark.implicits._
    // a 5x5-ish grid plus one point alone in both marginals' top bins
    val grid = for { i <- 0 until 5; j <- 0 until 5 }
      yield (i.toLong * 5 + j, i.toDouble, j.toDouble)
    val df = (grid :+ ((99L, 50.0, 50.0))).toDF("id", "x", "y")
    val rows = Outliers.hbosScore(df, "id", Seq("x", "y"),
      bins = 5, topK = 3).collect()
    assert(rows.head.getAs[Long]("id") == 99L)
    // the outlier sits alone in the last bin of each feature:
    // score = 2 * -ln(1/26)
    val exp = math.rint(2.0 * -math.log(1.0 / 26.0) * 1e6) / 1e6
    assert(rows.head.getAs[Double]("score") == exp)
    assert(rows.head.getAs[Long]("bin_x") == 4L)
    assert(rows.length == 3)
    assert(rows.head.getAs[Double]("score") >
      rows(1).getAs[Double]("score"))
  }

  test("hbosScore's bin-count lookup does not grow with bins") {
    import spark.implicits._
    val df = Seq.tabulate(3000)(i =>
      (i.toLong, (i * 37 % 1009) / 7.0, (i.toLong * i % 2003).toDouble))
      .toDF("id", "x", "y")
    def hbos(bins: Int) = Outliers.hbosScore(df, "id", Seq("x", "y"),
      bins = bins, topK = 3000)
    // every row at bins = 10, in output order, as the former per-bin
    // `when`-chain lookup scored them
    val rows = hbos(10).collect().map(r => Seq[Any](r.getLong(0),
      r.getDouble(1), r.getLong(2), r.getLong(3)).mkString(",")).mkString("\n")
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(rows.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(digest == "d2620d5f8269146e81e492d0884e84a7")
    // one map lookup per feature: the analyzed plan's expression count
    // is the same at any bins (a per-bin chain grew 290 → 2090 nodes
    // from bins = 20 to 200 and overflowed the stack at 2000)
    def nodes(bins: Int): Int = hbos(bins).queryExecution.analyzed
      .collect { case p => p.expressions.map(_.collect { case e => e }.size).sum }
      .sum
    assert(nodes(2000) == nodes(20))
  }

  test("itsEstimate reads the level jump and slope change at the break") {
    import spark.implicits._
    // pre: y = 10 + t (t = 0..4); post (t >= 5): y = 25 + 2t
    val rows = (0 until 10).map { p =>
      val y = if (p < 5) 10.0 + p else 25.0 + 2.0 * p
      (p.toLong * 10L, y)
    }
    val r = Regression.itsEstimate(rows.toDF("ts", "y"), "ts", "y",
      periodUnit = 10L, breakTs = 50L).head()
    assert(r.getAs[Long]("n_pre") == 5L && r.getAs[Long]("n_post") == 5L)
    assert(r.getAs[Double]("slope_pre") == 1.0)
    assert(r.getAs[Double]("slope_post") == 2.0)
    assert(r.getAs[Double]("slope_change") == 1.0)
    // at t_b = 5: pre line predicts 15, post line gives 35
    assert(r.getAs[Double]("level_change") == 20.0)
  }

  test("olsByGroupWeighted recovers the weighted trend") {
    import spark.implicits._
    // y = 2x exactly but one off-line point with zero weight: the
    // weighted fit ignores it entirely
    val df = Seq(("g", 1.0, 2.0, 1.0), ("g", 2.0, 4.0, 1.0),
      ("g", 3.0, 6.0, 2.0), ("g", 4.0, 100.0, 0.0))
      .toDF("grp", "x", "y", "w")
    val r = Regression.olsByGroupWeighted(df, "y", "x", "w", Seq("grp"))
      .head()
    assert(r.getAs[Double]("slope") == 2.0)
    assert(r.getAs[Double]("intercept") == 0.0)
    assert(r.getAs[Double]("r2") == 1.0)
    assert(r.getAs[Double]("w_sum") == 4.0)
  }

  test("srmCheck flags the broken split and counts unexpected arms") {
    import spark.implicits._
    // design 50/50, observed 600/400 -> chi2 = 40, p tiny
    val bad = (Seq.fill(600)("a") ++ Seq.fill(400)("b")).toDF("arm")
    val r = Experiments.srmCheck(bad, "arm",
      Seq(("a", 0.5), ("b", 0.5))).head()
    assert(r.getAs[Double]("chi2") == 40.0)
    assert(r.getAs[Boolean]("srm"))
    assert(r.getAs[Long]("dof") == 1L)
    // clean split + an arm outside the design
    val ok = (Seq.fill(500)("a") ++ Seq.fill(500)("b") ++
      Seq.fill(7)("ghost")).toDF("arm")
    val ro = Experiments.srmCheck(ok, "arm",
      Seq(("a", 0.5), ("b", 0.5))).head()
    assert(ro.getAs[Double]("chi2") == 0.0)
    assert(!ro.getAs[Boolean]("srm"))
    assert(ro.getAs[Long]("n_unexpected") == 7L)
    assert(ro.getAs[Long]("n") == 1000L)
  }

  test("weightedMomentsByGroup matches the frequency-weight algebra") {
    import spark.implicits._
    // w=2 on x=1 and w=1 on x=4: mean = 6/3 = 2, var = (2+16)/3 - 4 = 2
    val df = Seq(("g", 1.0, 2.0), ("g", 4.0, 1.0)).toDF("grp", "x", "w")
    val r = StatTests.weightedMomentsByGroup(df, Seq("grp"), "x", "w")
      .head()
    assert(r.getAs[Double]("mean_w") == 2.0)
    assert(r.getAs[Double]("var_w") == 2.0)
    assert(r.getAs[Double]("w_sum") == 3.0)
    assert(math.abs(r.getAs[Double]("ess") - 9.0 / 5.0) < 1e-9)
  }

  test("drOffPolicy combines the model and the IPS correction") {
    import spark.implicits._
    val df = Seq(
      ("x", "x", 0.5, 1.0, 0.8, 0.8), // w=2: 0.8 + 2*(1-0.8) = 1.2
      ("y", "x", 0.5, 5.0, 0.7, 4.0)) // w=0: 0.7
      .toDF("action", "target", "p", "r", "qt", "ql")
    val out = Evaluation.drOffPolicy(df, "action", "p", "r", "target",
      "qt", "ql", clipMax = 10.0).head()
    assert(out.getAs[Double]("dr") == 0.95)
    assert(out.getAs[Double]("dm") == 0.75)
    assert(out.getAs[Double]("correction") == 0.2)
    assert(out.getAs[Double]("match_rate") == 0.5)
    assert(out.getAs[Double]("clip_share") == 0.0)
  }

  test("ratioMetricCi: zero variance on proportional data, sane CI otherwise") {
    import spark.implicits._
    val prop = Seq((2.0, 1.0), (4.0, 2.0), (6.0, 3.0))
      .map { case (y, x) => ("g", y, x) }.toDF("grp", "y", "x")
    val r = Experiments.ratioMetricCi(prop, Seq("grp"), "y", "x").head()
    assert(r.getAs[Double]("ratio") == 2.0)
    assert(r.getAs[Double]("se") == 0.0)
    assert(r.getAs[Double]("ci_lo") == 2.0 && r.getAs[Double]("ci_hi") == 2.0)
    val noisy = Seq((2.0, 1.0), (3.0, 2.0), (7.0, 3.0))
      .map { case (y, x) => ("g", y, x) }.toDF("grp", "y", "x")
    val rn = Experiments.ratioMetricCi(noisy, Seq("grp"), "y", "x").head()
    assert(rn.getAs[Double]("ci_lo") < rn.getAs[Double]("ratio"))
    assert(rn.getAs[Double]("ratio") < rn.getAs[Double]("ci_hi"))
    assert(rn.getAs[Double]("ratio") == 2.0) // 12/6
  }

  test("postStratifiedMean reweights strata to the target mix") {
    import spark.implicits._
    val df = (Seq(1.0, 3.0).map(("A", _)) ++
      Seq(5.0, 7.0, 9.0, 11.0).map(("B", _))).toDF("s", "y")
    val r = Experiments.postStratifiedMean(df, "s", "y",
      Seq(("A", 0.5), ("B", 0.5))).head()
    assert(r.getAs[Double]("mean_raw") == 6.0)
    assert(r.getAs[Double]("mean_post") == 5.0)
    // se = sqrt(.25*2/2 + .25*(20/3)/4)
    val se = math.sqrt(0.25 + 0.25 * (20.0 / 3.0) / 4.0)
    assert(math.abs(r.getAs[Double]("se") - se) < 1e-6)
    assert(r.getAs[Long]("n") == 6L && r.getAs[Long]("n_strata") == 2L)
  }

  test("corrCiByGroup pins the Fisher-z band on a hand-checked r") {
    import spark.implicits._
    // x = 1..5, y = (1,2,3,4,6): r = 2.4/sqrt(2*2.96)
    val df = Seq((1.0, 1.0), (2.0, 2.0), (3.0, 3.0), (4.0, 4.0),
      (5.0, 6.0)).map { case (x, y) => ("g", x, y) }.toDF("grp", "x", "y")
    val rr = Regression.corrCiByGroup(df, Seq("grp"), "x", "y").head()
    val r = 2.4 / math.sqrt(2.0 * 2.96)
    assert(rr.getAs[Double]("r") == math.rint(r * 1e6) / 1e6)
    val zr = 0.5 * math.log((1.0 + r) / (1.0 - r))
    val se = 1.0 / math.sqrt(2.0)
    def tanh(u: Double) = (math.exp(2.0 * u) - 1.0) / (math.exp(2.0 * u) + 1.0)
    assert(math.abs(rr.getAs[Double]("ci_lo") - tanh(zr - 1.959964 * se)) < 1e-6)
    assert(math.abs(rr.getAs[Double]("ci_hi") - tanh(zr + 1.959964 * se)) < 1e-6)
    assert(rr.getAs[Double]("ci_lo") < r && r < rr.getAs[Double]("ci_hi"))
    // perfectly collinear -> |r| = 1 -> omitted
    val lin = Seq.tabulate(6)(i => ("h", i.toDouble, i.toDouble))
      .toDF("grp", "x", "y")
    assert(Regression.corrCiByGroup(lin, Seq("grp"), "x", "y").isEmpty)
  }

  test("ipsOffPolicy matches the hand-computed clipped estimate") {
    import spark.implicits._
    val df = Seq(("x", "x", 0.5, 1.0), ("y", "x", 0.5, 5.0),
      ("x", "x", 0.1, 1.0)).toDF("action", "target", "p", "r")
    val out = Evaluation.ipsOffPolicy(df, "action", "p", "r", "target",
      clipMax = 5.0).head()
    assert(out.getAs[Long]("n") == 3L)
    assert(math.abs(out.getAs[Double]("match_rate") - 2.0 / 3.0) < 1e-6)
    assert(math.abs(out.getAs[Double]("ips") - 7.0 / 3.0) < 1e-6)
    assert(out.getAs[Double]("snips") == 1.0) // (2+5)/(2+5)
    assert(math.abs(out.getAs[Double]("ess") - 49.0 / 29.0) < 1e-6)
    assert(math.abs(out.getAs[Double]("clip_share") - 1.0 / 3.0) < 1e-6)
  }

  test("ccfByKey locates the two-period lead exactly") {
    import spark.implicits._
    val x = Seq(1.0, 3.0, 2.0, 5.0, 4.0, 7.0, 6.0)
    // y is x delayed by two periods: x leads y -> peak at lag +2
    val rows = x.indices.map { p =>
      val y = if (p >= 2) x(p - 2) else 0.0
      ("k", p.toLong * 10L, x(p), y)
    }
    val r = Features.ccfByKey(rows.toDF("key", "ts", "x", "y"),
        "key", "ts", "x", "y", maxLag = 3, periodUnit = 10L)
      .collect().map(z => z.getAs[Long]("lag") -> z).toMap
    assert(r(2L).getAs[Double]("ccf") == 1.0)
    assert(r(2L).getAs[Long]("n") == 5L)
    assert(r.keys.forall(l => l == 2L || r(l).getAs[Double]("ccf") < 1.0))
  }

  test("quantileCiByGroup selects exact order-statistic bounds at p90") {
    import spark.implicits._
    val df = Seq.tabulate(100)(i => ("g", (i + 1).toDouble)).toDF("grp", "v")
    val r = Outliers.quantileCiByGroup(df, Seq("grp"), "v", q = 0.9).head()
    assert(r.getAs[Long]("n") == 100L)
    assert(r.getAs[Double]("quantile") == 90.0)
    // half = 1.959964 * sqrt(9) = 5.879892 -> ranks 84 and 97
    assert(r.getAs[Double]("ci_lo") == 84.0)
    assert(r.getAs[Double]("ci_hi") == 97.0)
  }

  test("yuenTTest matches the hand-computed trimmed example") {
    import spark.implicits._
    // a = 1..10, b = 11..20, trim .2: g=2, h=6, trimmed means 5.5/15.5,
    // winsorized s2 = 42.5/9, d = 42.5/30 each, dof = 10
    val df = (Seq.tabulate(10)(i => ("a", (i + 1).toDouble)) ++
      Seq.tabulate(10)(i => ("b", (i + 11).toDouble))).toDF("cohort", "v")
    val r = StatTests.yuenTTest(df, "cohort", "v", trim = 0.2).head()
    assert(r.getAs[Double]("mean_trim_a") == 5.5)
    assert(r.getAs[Double]("mean_trim_b") == 15.5)
    assert(r.getAs[Double]("diff") == -10.0)
    assert(r.getAs[Long]("h_a") == 6L && r.getAs[Long]("h_b") == 6L)
    assert(r.getAs[Double]("dof") == 10.0)
    val d = 42.5 / 30.0
    val tExp = math.rint(-10.0 / math.sqrt(2.0 * d) * 1e6) / 1e6
    assert(r.getAs[Double]("t_stat") == tExp)
    assert(r.getAs[Double]("p_value") < 0.01)
  }

  test("qteByQuantile reads the per-quantile lift off exact order stats") {
    import spark.implicits._
    val df = (Seq.tabulate(100)(i => ("a", (i + 1).toDouble)) ++
      Seq.tabulate(100)(i => ("b", (i + 11).toDouble))).toDF("cohort", "v")
    val rows = Experiments.qteByQuantile(df, "cohort", "v",
        qs = Seq(0.5, 0.9))
      .collect().map(r => r.getAs[Double]("q") -> r).toMap
    val m = rows(0.5)
    assert(m.getAs[Double]("q_a") == 50.0 && m.getAs[Double]("q_b") == 60.0)
    assert(m.getAs[Double]("qte") == 10.0)
    val h = rows(0.9)
    assert(h.getAs[Double]("q_a") == 90.0 && h.getAs[Double]("q_b") == 100.0)
    assert(h.getAs[Double]("qte") == 10.0)
    assert(h.getAs[Double]("a_lo") == 84.0 && h.getAs[Double]("a_hi") == 97.0)
    assert(m.getAs[Long]("n_a") == 100L && m.getAs[Long]("n_b") == 100L)
  }

  test("didEstimate matches the hand-computed 2x2 panel") {
    import spark.implicits._
    // cells: T-pre {1,3}, T-post {5,7}, C-pre {1,3}, C-post {2,4}
    // DiD = (6-2)-(3-2) = 3; each cell var 2, se = sqrt(4) = 2
    val df = Seq((true, false, 1.0), (true, false, 3.0),
      (true, true, 5.0), (true, true, 7.0),
      (false, false, 1.0), (false, false, 3.0),
      (false, true, 2.0), (false, true, 4.0)).toDF("t", "post", "y")
    val r = Experiments.didEstimate(df, "t", "post", "y").head()
    assert(r.getAs[Double]("did") == 3.0)
    assert(r.getAs[Double]("se") == 2.0)
    assert(r.getAs[Double]("z") == 1.5)
    assert(r.getAs[Double]("mean_t_post") == 6.0)
    val p = math.rint(graft.functions.SpecialMath.erfc(
      1.5 / math.sqrt(2.0)) * 1e6) / 1e6
    assert(r.getAs[Double]("p_value") == p)
    assert(r.getAs[Long]("n") == 8L)
  }

  test("powerTwoMeans sizes the arms from the observed variance") {
    import spark.implicits._
    val df = Seq(1.0, 3.0).toDF("y") // s2 = 2
    val r = Experiments.powerTwoMeans(df, "y", mde = 1.0).head()
    assert(r.getAs[Double]("sigma2") == 2.0)
    val zs = 1.959964 + 0.841621
    val exp = math.ceil(math.rint(2.0 * (zs * zs) * 2.0 / 1.0 * 1e6) / 1e6)
    assert(r.getAs[Long]("n_per_arm") == exp.toLong)
    assert(r.getAs[Long]("n_total") == 2L * exp.toLong)
  }

  test("grangerByKey detects the lead-lag structure") {
    import spark.implicits._
    // y_t = x_{t-1} + .5 y_{t-1} + alternating noise: x leads y
    val x = Seq(1.0, 3.0, 2.0, 5.0, 4.0, 7.0, 6.0, 9.0)
    val y = x.indices.foldLeft(Vector(0.0)) { (acc, i) =>
      if (i == 0) acc
      else acc :+ (x(i - 1) + 0.5 * acc.last +
        (if (i % 2 == 0) 0.1 else -0.1))
    }
    val df = y.indices.map(p => ("k", p.toLong * 10L, y(p), x(p)))
      .toDF("key", "ts", "y", "x")
    val fwd = Regression.grangerByKey(df, "key", "ts", "y", "x",
      periodUnit = 10L).head()
    assert(fwd.getAs[Long]("m") == 7L)
    assert(fwd.getAs[Double]("f_stat") > 10.0)
    assert(fwd.getAs[Double]("p_value") < 0.05)
    assert(math.abs(fwd.getAs[Double]("b_xlag") - 1.0) < 0.2)
    // reverse direction: y does not lead x nearly as strongly
    val rev = Regression.grangerByKey(df, "key", "ts", "x", "y",
      periodUnit = 10L).head()
    assert(rev.getAs[Double]("f_stat") < fwd.getAs[Double]("f_stat"))
  }

  test("profileDiff reports null-rate and mean drift between snapshots") {
    import spark.implicits._
    val a = Seq(Some(1.0), Some(2.0), Some(3.0), None).toDF("x")
    val b = Seq(Some(10.0), None, None, None).toDF("x")
    val r = Validation.profileDiff(a, b, Seq("x")).head()
    assert(r.getAs[Long]("n_a") == 4L && r.getAs[Long]("n_b") == 4L)
    assert(r.getAs[Double]("n_ratio") == 1.0)
    assert(r.getAs[Double]("null_rate_a") == 0.25)
    assert(r.getAs[Double]("null_rate_b") == 0.75)
    assert(r.getAs[Double]("null_rate_delta") == 0.5)
    assert(r.getAs[Double]("mean_a") == 2.0)
    assert(r.getAs[Double]("mean_b") == 10.0)
    assert(r.getAs[Double]("mean_delta") == 8.0)
  }

  test("rollingCorrByKey tracks co-movement inside the trailing window") {
    import spark.implicits._
    // y = x -> corr 1; y = -x -> corr -1 (after the window warms up)
    val df = Seq.tabulate(6)(i => ("p", i.toLong, i.toDouble, i.toDouble)) ++
      Seq.tabulate(6)(i => ("m", i.toLong, i.toDouble, -i.toDouble))
    val r = Features.rollingCorrByKey(df.toDF("k", "ts", "x", "y"),
        "k", "ts", "x", "y", window = 3L)
      .collect().map(x => (x.getString(0), x.getLong(1)) -> x).toMap
    assert(r(("p", 5L)).getAs[Long]("n_window") == 4L)
    assert(r(("p", 5L)).getAs[Double]("rolling_corr") == 1.0)
    assert(r(("m", 5L)).getAs[Double]("rolling_corr") == -1.0)
    assert(r(("p", 0L)).isNullAt(5)) // single-row window: null
  }

  test("forecastAccuracyByKey scores MAE/RMSE/MAPE/MASE by hand") {
    import spark.implicits._
    val df = Seq(("k", 1L, 10.0, Option.empty[Double]),
      ("k", 2L, 12.0, Some(11.0)), ("k", 3L, 14.0, Some(13.0)))
      .toDF("key", "o", "a", "p")
    val r = Features.forecastAccuracyByKey(df, "key", "o", "a", "p",
      seasonLag = 1).head()
    assert(r.getAs[Long]("n_scored") == 2L)
    assert(r.getAs[Double]("mae") == 1.0)
    assert(r.getAs[Double]("rmse") == 1.0)
    val mape = ((1.0 / 12.0) + (1.0 / 14.0)) / 2.0
    assert(math.abs(r.getAs[Double]("mape") - mape) < 1e-6)
    assert(r.getAs[Double]("mase") == 0.5) // naive MAE = 2
  }

  test("fellegiSunter separates matching from random patterns") {
    import spark.implicits._
    // synthetic: 100 "match" pairs agree on both fields, 900 random
    // pairs agree on ~nothing; EM should push the (T,T) posterior
    // toward 1 and (F,F) toward 0
    val pairs = (Seq.fill(95)((true, true)) ++ Seq.fill(5)((true, false)) ++
      Seq.fill(30)((false, true)) ++ Seq.fill(870)((false, false)))
      .toDF("name_eq", "seg_eq")
    val r = Linkage.fellegiSunter(pairs, Seq("name_eq", "seg_eq"),
      iters = 10, priorP = 0.1)
      .collect().map(x => (x.getBoolean(0), x.getBoolean(1)) -> x).toMap
    val tt = r((true, true)); val ff = r((false, false))
    assert(tt.getAs[Double]("posterior") > 0.9)
    assert(ff.getAs[Double]("posterior") < 0.1)
    assert(tt.getAs[Double]("match_weight") > 0.0)
    assert(ff.getAs[Double]("match_weight") < 0.0)
    assert(tt.getAs[Long]("n_pairs") == 95L)
    // null agreement treated as disagreement
    val withNull = Seq((Some(true), true), (None, false))
      .toDF("a", "b")
    val rn = Linkage.fellegiSunter(withNull, Seq("a", "b"), iters = 1)
    assert(rn.count() == 2L)
  }

  test("theilsU is 1 under determinism and 0 under independence") {
    import spark.implicits._
    val det = Seq(("a1", "b1"), ("a1", "b1"), ("a2", "b2"), ("a2", "b2"))
      .toDF("a", "b")
    val r = Evaluation.theilsU(det, "a", "b").head()
    assert(math.abs(r.getAs[Double]("mi") - math.log(2.0)) < 1e-6)
    assert(r.getAs[Double]("u_a_given_b") == 1.0)
    assert(r.getAs[Double]("u_b_given_a") == 1.0)
    val ind = Seq(("a1", "b1"), ("a1", "b2"), ("a2", "b1"), ("a2", "b2"))
      .toDF("a", "b")
    val ri = Evaluation.theilsU(ind, "a", "b").head()
    assert(ri.getAs[Double]("mi") == 0.0)
    assert(ri.getAs[Double]("u_a_given_b") == 0.0)
    // asymmetry: B = f(A) but A !: f(B) -> U(B|A) = 1, U(A|B) < 1
    val asym = Seq(("a1", "b1"), ("a2", "b1"), ("a3", "b2"), ("a4", "b2"))
      .toDF("a", "b")
    val ra = Evaluation.theilsU(asym, "a", "b").head()
    assert(ra.getAs[Double]("u_b_given_a") == 1.0)
    assert(ra.getAs[Double]("u_a_given_b") == 0.5)
  }

  test("holtByKey replays the hand-computed recurrence") {
    import spark.implicits._
    // v = 10, 12, 14 at alpha = beta = .5:
    // t2: fit 10, l 11, b .5; t3: fit 11.5, l 12.75, b 1.125
    val df = Seq(("k", 0L, 10.0), ("k", 10L, 12.0), ("k", 20L, 14.0))
      .toDF("key", "ts", "v")
    val rows = Features.holtByKey(df, "key", "ts", "v", periodUnit = 10L,
        alpha = 0.5, beta = 0.5)
      .orderBy("period").collect()
    assert(rows.length == 3)
    assert(rows(0).getAs[Double]("level") == 10.0 &&
      rows(0).getAs[Double]("trend") == 0.0 && rows(0).isNullAt(5))
    assert(rows(1).getAs[Double]("fitted") == 10.0)
    assert(rows(1).getAs[Double]("level") == 11.0 &&
      rows(1).getAs[Double]("trend") == 0.5)
    assert(rows(2).getAs[Double]("fitted") == 11.5)
    assert(rows(2).getAs[Double]("level") == 12.75 &&
      rows(2).getAs[Double]("trend") == 1.125)
  }

  test("holtWintersByKey replays the hand-computed triple recurrence") {
    import spark.implicits._
    // m = 2, α = β = γ = 0.5 over v = 10, 20, 30 (zero seasonal seed):
    // t2 (ph 1): fit 10, l 15, b 2.5, s1 2.5
    // t3 (ph 0): fit 17.5, l 23.75, b 5.625, s0 3.125
    val df = Seq(("k", 0L, 10.0), ("k", 10L, 20.0), ("k", 20L, 30.0))
      .toDF("key", "ts", "v")
    val rows = Features.holtWintersByKey(df, "key", "ts", "v",
        periodUnit = 10L, seasonLength = 2, alpha = 0.5, beta = 0.5,
        gamma = 0.5)
      .orderBy("period").collect()
    assert(rows.length == 3)
    assert(rows(0).getAs[Double]("level") == 10.0 &&
      rows(0).getAs[Double]("trend") == 0.0 &&
      rows(0).getAs[Double]("seasonal") == 0.0 &&
      rows(0).isNullAt(rows(0).fieldIndex("fitted")))
    assert(rows(1).getAs[Double]("fitted") == 10.0)
    assert(rows(1).getAs[Double]("level") == 15.0 &&
      rows(1).getAs[Double]("trend") == 2.5 &&
      rows(1).getAs[Double]("seasonal") == 2.5)
    assert(rows(2).getAs[Double]("fitted") == 17.5)
    assert(rows(2).getAs[Double]("level") == 23.75 &&
      rows(2).getAs[Double]("trend") == 5.625 &&
      rows(2).getAs[Double]("seasonal") == 3.125)
  }

  test("holtTuneByKey picks high alpha for jumpy series, matches a " +
    "replayed grid scan") {
    import spark.implicits._
    // level-shift series: high alpha adapts fastest → lowest MAE
    val vs = Seq(10.0, 10.0, 10.0, 50.0, 50.0, 50.0, 90.0, 90.0, 90.0)
    val df = vs.zipWithIndex.map { case (v, i) =>
      ("k", i.toLong * 10L, v) }.toDF("key", "ts", "v")
    val r = Features.holtTuneByKey(df, "key", "ts", "v",
      periodUnit = 10L).head()
    // independent replay of the same grid
    val grid = for {
      a <- Seq(0.1, 0.3, 0.5, 0.7, 0.9); b <- Seq(0.0, 0.1, 0.3)
    } yield (a, b)
    var bestA = 0.0; var bestB = 0.0; var bestM = Double.MaxValue
    grid.foreach { case (a, bb) =>
      var l = 0.0; var b = 0.0; var sae = 0.0; var c = 0L
      vs.zipWithIndex.foreach { case (x, i) =>
        if (i == 0) { l = x; b = 0.0 }
        else {
          sae += math.abs(x - (l + b)); c += 1
          val lp = l
          l = a * x + (1.0 - a) * (lp + b)
          b = bb * (l - lp) + (1.0 - bb) * b
        }
      }
      val m = math.rint(sae / c * 1e6) / 1e6
      if (m < bestM) { bestM = m; bestA = a; bestB = bb }
    }
    assert(r.getAs[Double]("alpha") == bestA)
    assert(r.getAs[Double]("beta") == bestB)
    assert(r.getAs[Double]("mae") == bestM)
    assert(r.getAs[Double]("alpha") >= 0.5) // jumpy → fast adaptation
  }

  test("holtWintersMulByKey replays the ratio recurrence, drops " +
    "non-positive keys") {
    import spark.implicits._
    val df = Seq(("k", 0L, 10.0), ("k", 10L, 20.0), ("k", 20L, 30.0),
      ("neg", 0L, 5.0), ("neg", 10L, -1.0)).toDF("key", "ts", "v")
    val rows = Features.holtWintersMulByKey(df, "key", "ts", "v",
        periodUnit = 10L, seasonLength = 2, alpha = 0.5, beta = 0.5,
        gamma = 0.5)
      .orderBy("period").collect()
    // the key with a non-positive period mean is omitted entirely
    assert(rows.forall(_.getAs[String]("key") == "k"))
    assert(rows.length == 3)
    assert(rows(0).getAs[Double]("seasonal") == 1.0)
    assert(rows(1).getAs[Double]("fitted") == 10.0)
    assert(rows(1).getAs[Double]("level") == 15.0)
    assert(rows(1).getAs[Double]("trend") == 2.5)
    assert(math.abs(rows(1).getAs[Double]("seasonal") - 1.166667)
      < 1e-6)
    assert(rows(2).getAs[Double]("fitted") == 17.5)
    assert(rows(2).getAs[Double]("level") == 23.75)
    assert(rows(2).getAs[Double]("trend") == 5.625)
    assert(math.abs(rows(2).getAs[Double]("seasonal") - 1.131579)
      < 1e-6)
  }

  test("pairCosineStats: orthogonal and parallel pairs bracket the " +
    "summary") {
    import spark.implicits._
    val df = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)),
      (2L, Array(1.0f, 1.0f)), (3L, Array(2.0f, 2.0f)))
      .toDF("vec_id", "embedding")
    val r = Similarity.pairCosineStats(df, "vec_id", "embedding")
      .head()
    assert(r.getAs[Long]("n_pairs") == 2L)
    assert(r.getAs[Double]("min_cos") == 0.0)
    assert(r.getAs[Double]("max_cos") == 1.0)
    assert(r.getAs[Double]("mean_cos") == 0.5)
    assert(r.getAs[Double]("share_above_half") == 0.5)
  }

  test("hwForecastByKey projects from the final Holt-Winters state") {
    import spark.implicits._
    // continues the hand case: final l 23.75, b 5.625, sea [3.125, 2.5]
    val df = Seq(("k", 0L, 10.0), ("k", 10L, 20.0), ("k", 20L, 30.0))
      .toDF("key", "ts", "v")
    val rows = Features.hwForecastByKey(df, "key", "ts", "v",
        periodUnit = 10L, seasonLength = 2, alpha = 0.5, beta = 0.5,
        gamma = 0.5, horizon = 2)
      .orderBy("h").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[Long]("period") == 3L)
    // h=1, phase 1: 23.75 + 5.625 + 2.5
    assert(rows(0).getAs[Double]("forecast") == 31.875)
    // h=2, phase 0: 23.75 + 11.25 + 3.125
    assert(rows(1).getAs[Long]("period") == 4L)
    assert(rows(1).getAs[Double]("forecast") == 38.125)
  }

  test("bm25TopK ranks the doc matching more query mass first") {
    import spark.implicits._
    val df = Seq((1L, "join join hash foo"), (2L, "hash bar baz qux"))
      .toDF("doc_id", "text")
    val rows = TextOps.bm25TopK(df, "doc_id", "text",
      Seq("join", "hash"), topK = 2).collect()
    assert(rows.map(_.getAs[Long]("doc_id")).toSeq == Seq(1L, 2L))
    assert(rows(0).getAs[Long]("n_terms_matched") == 2L)
    assert(rows(1).getAs[Long]("n_terms_matched") == 1L)
    // equal lengths → norm 1: doc1 = ln2·(2·2.2)/(2+1.2) + ln1.2,
    // doc2 = ln1.2 (hash hits every doc → the Lucene +1 keeps idf > 0)
    val e1 = math.log(2.0) * (2.0 * 2.2) / (2.0 + 1.2) + math.log(1.2)
    assert(math.abs(rows(0).getAs[Double]("score") - e1) < 1e-5)
    assert(math.abs(rows(1).getAs[Double]("score") - math.log(1.2))
      < 1e-5)
    // topK bounds the take
    assert(TextOps.bm25TopK(df, "doc_id", "text", Seq("join", "hash"),
      topK = 1).count() == 1L)
  }

  test("armaByKey matches an independent Hannan-Rissanen replay") {
    import spark.implicits._
    val vs = Seq(1.0, 3.0, 2.0, 5.0, 4.0, 6.0, 3.0, 7.0)
    val df = vs.zipWithIndex.map { case (v, i) =>
      ("k", i.toLong * 10L, v) }.toDF("key", "ts", "v")
    val r = Features.armaByKey(df, "key", "ts", "v", periodUnit = 10L)
      .head()
    // independent plain-Scala replay of the two HR stages
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    val mu = vs.sum / vs.length
    val d = vs.map(_ - mu)
    val ss = d.map(x => x * x).sum
    val s1 = (1 until d.length).map(t => d(t) * d(t - 1)).sum
    val phi0 = r6(s1 / ss)
    val e = (1 until d.length).map(t => d(t) - phi0 * d(t - 1))
    // stage-2 rows t = 2..n-1: y = d(t), x1 = d(t-1), x2 = e(t-1)
    val rows2 = (2 until d.length).map(t => (d(t), d(t - 1), e(t - 2)))
    val s11 = rows2.map(r => r._2 * r._2).sum
    val s12 = rows2.map(r => r._2 * r._3).sum
    val s22 = rows2.map(r => r._3 * r._3).sum
    val s1y = rows2.map(r => r._2 * r._1).sum
    val s2y = rows2.map(r => r._3 * r._1).sum
    val syy = rows2.map(r => r._1 * r._1).sum
    val det = s11 * s22 - s12 * s12
    val phi = r6((s1y * s22 - s2y * s12) / det)
    val theta = r6((s2y * s11 - s1y * s12) / det)
    val sig = r6((syy - 2.0 * phi * s1y - 2.0 * theta * s2y +
      phi * phi * s11 + 2.0 * phi * theta * s12 +
      theta * theta * s22) / rows2.length)
    assert(r.getAs[Long]("n_periods") == 8L)
    assert(math.abs(r.getAs[Double]("phi_init") - phi0) < 1e-9)
    assert(math.abs(r.getAs[Double]("phi") - phi) < 1e-9)
    assert(math.abs(r.getAs[Double]("theta") - theta) < 1e-9)
    assert(math.abs(r.getAs[Double]("sigma2") - sig) < 1e-9)
  }

  test("clusterAgreement: perfect match scores 1, independence near 0") {
    import spark.implicits._
    val perfect = Seq(("x", "p"), ("x", "p"), ("y", "q"), ("y", "q"))
      .toDF("a", "b")
    val rp = Evaluation.clusterAgreement(perfect, "a", "b").head()
    assert(rp.getAs[Long]("n") == 4L)
    assert(rp.getAs[Double]("ari") == 1.0)
    assert(rp.getAs[Double]("nmi") == 1.0)
    assert(rp.getAs[Double]("purity") == 1.0)
    // fully crossed labels: MI = 0, ARI = -0.5 on this 2x2 design
    val indep = Seq(("x", "p"), ("y", "p"), ("x", "q"), ("y", "q"))
      .toDF("a", "b")
    val ri = Evaluation.clusterAgreement(indep, "a", "b").head()
    assert(ri.getAs[Double]("ari") == -0.5)
    assert(ri.getAs[Double]("nmi") == 0.0)
    assert(ri.getAs[Double]("purity") == 0.5)
  }

  test("eventStudy: hand-computed ATT(g,t) against the never-treated") {
    import spark.implicits._
    // u1 treated in week 2 (10, 20, 30), u0 never (5, 6, 7):
    // ATT(2,2) = (20−10) − (6−5) = 9, ATT(2,3) = (30−10) − (7−5) = 18
    val df = Seq(
      ("u1", 1L, 10.0, Some(2L)), ("u1", 2L, 20.0, Some(2L)),
      ("u1", 3L, 30.0, Some(2L)),
      ("u0", 1L, 5.0, None), ("u0", 2L, 6.0, None),
      ("u0", 3L, 7.0, None))
      .toDF("unit", "week", "y", "cohort")
    val rows = Experiments.eventStudy(df, "unit", "week", "cohort", "y")
      .orderBy("period").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[Long]("cohort") == 2L)
    assert(rows(0).getAs[Long]("period") == 2L)
    assert(rows(0).getAs[Double]("att") == 9.0)
    assert(rows(1).getAs[Long]("period") == 3L)
    assert(rows(1).getAs[Double]("att") == 18.0)
    assert(rows.forall(_.getAs[Long]("n_treated") == 1L))
    assert(rows.forall(_.getAs[Long]("n_control") == 1L))
  }

  test("kAnonymityAudit counts violating rows and the l-diversity floor") {
    import spark.implicits._
    // groups: (a,1)×3 sens {x,y}, (a,2)×1 sens {x}, (b,1)×2 sens {x,x}
    val df = Seq(("a", 1, "x"), ("a", 1, "y"), ("a", 1, "x"),
      ("a", 2, "x"), ("b", 1, "x"), ("b", 1, "x"))
      .toDF("q1", "q2", "sens")
    val rows = Validation.kAnonymityAudit(df, Seq("q1", "q2"), "sens",
        ks = Seq(2, 3))
      .collect().map(r => r.getAs[Long]("k") -> r).toMap
    val k2 = rows(2L)
    assert(k2.getAs[Long]("n_groups") == 3L)
    assert(k2.getAs[Long]("n_rows") == 6L)
    assert(k2.getAs[Long]("n_groups_below") == 1L) // the singleton
    assert(k2.getAs[Long]("n_rows_below") == 1L)
    assert(k2.getAs[Long]("min_l_diversity") == 1L)
    // groups with a single sensitive value: (a,2) and (b,1)
    assert(k2.getAs[Long]("n_groups_single_sensitive") == 2L)
    val k3 = rows(3L)
    assert(k3.getAs[Long]("n_groups_below") == 2L) // sizes 1 and 2
    assert(k3.getAs[Long]("n_rows_below") == 3L)
    assert(k3.getAs[Double]("row_share_below") == 0.5)
  }

  test("topkChurn: overlap, newcomers and footrule on ranked heads") {
    import spark.implicits._
    // A head: x(3) y(2) z(1); B head: y(3) w(2) x(1)
    val a = (Seq.fill(3)("x") ++ Seq.fill(2)("y") ++ Seq("z")).toDF("v")
    val b = (Seq.fill(3)("y") ++ Seq.fill(2)("w") ++ Seq("x")).toDF("v")
    val r = Validation.topkChurn(a, b, "v", k = 3).head()
    assert(r.getAs[Long]("n_common") == 2L) // x and y
    // union = {x,y,z,w} → jaccard 2/4
    assert(r.getAs[Double]("jaccard") == 0.5)
    assert(r.getAs[Long]("n_new") == 1L) // w
    assert(r.getAs[Long]("n_dropped") == 1L) // z
    // ranks: x 1→3 (|Δ|=2), y 2→1 (|Δ|=1) → footrule 3
    assert(r.getAs[Long]("footrule") == 3L)
  }

  test("peaksByKey flags strict local maxima above the margin") {
    import spark.implicits._
    // 1, 5, 1, 3.5, 3, 9, 1: peaks at idx 1 (margin 4) and idx 5
    // (margin 6); idx 3 is a local max but margin 0.5 < 1.0
    val vs = Seq(1.0, 5.0, 1.0, 3.5, 3.0, 9.0, 1.0)
    val df = vs.zipWithIndex.map { case (v, i) =>
      ("k", i.toLong * 10L, v) }.toDF("key", "ts", "v")
    val rows = Features.peaksByKey(df, "key", "ts", "v",
        periodUnit = 10L, minMargin = 1.0)
      .orderBy("period").collect()
    assert(rows.map(_.getAs[Long]("period")).toSeq == Seq(1L, 5L))
    assert(rows(0).getAs[Double]("margin") == 4.0)
    assert(rows(1).getAs[Double]("margin") == 6.0)
  }

  test("adfByKey: noise is stationary, a trend keeps its unit root") {
    import spark.implicits._
    val noise = (0 until 24).map(i =>
      ("st", i.toLong * 10L, ((i * 37) % 7).toDouble))
    val trend = (0 until 24).map(i =>
      ("tr", i.toLong * 10L, i + 0.1 * ((i * 37) % 7)))
    val df = (noise ++ trend).toDF("key", "ts", "v")
    val rows = Features.adfByKey(df, "key", "ts", "v",
        periodUnit = 10L)
      .collect().map(r => r.getAs[String]("key") -> r).toMap
    assert(rows("st").getAs[Boolean]("stationary"))
    assert(rows("st").getAs[Double]("t_stat") < -2.86)
    assert(!rows("tr").getAs[Boolean]("stationary"))
    assert(rows("st").getAs[Long]("n_periods") == 24L)
  }

  test("cointegrationByKey: equilibrium pair flags, trending pair not") {
    import spark.implicits._
    // y = 2x + stationary pseudo-noise → residuals mean-revert hard
    val co = (0 until 24).map { i =>
      val e = ((i * 37) % 7 - 3).toDouble
      ("co", i.toLong * 10L, i.toDouble, 2.0 * i + e)
    }
    // y = x² → the linear fit leaves a smooth non-reverting residual
    val no = (0 until 24).map { i =>
      ("no", i.toLong * 10L, i.toDouble, i.toDouble * i)
    }
    val df = (co ++ no).toDF("key", "ts", "x", "y")
    val rows = Features.cointegrationByKey(df, "key", "ts", "x", "y",
        periodUnit = 10L)
      .collect().map(r => r.getAs[String]("key") -> r).toMap
    val c = rows("co")
    assert(math.abs(c.getAs[Double]("beta") - 2.0) < 0.2)
    assert(c.getAs[Double]("t_stat") < -3.34)
    assert(c.getAs[Boolean]("cointegrated"))
    assert(!rows("no").getAs[Boolean]("cointegrated"))
  }

  test("intervalOverlap joins overlapping pairs exactly once") {
    import spark.implicits._
    // a1 [0,10] overlaps b1 [5,15] and touches b2 [10,20] (inclusive);
    // a2 [100,110] overlaps nothing; bucket width 3 splits every
    // interval across buckets — the canonical-bucket rule must still
    // emit each pair exactly once
    val a = Seq((1L, 0L, 10L), (2L, 100L, 110L))
      .toDF("a_key", "a_s", "a_e")
    val b = Seq((10L, 5L, 15L), (11L, 10L, 20L), (12L, 50L, 60L))
      .toDF("b_key", "b_s", "b_e")
    val out = RangeJoin.intervalOverlap(a, "a_s", "a_e", b, "b_s",
        "b_e", bucketWidth = 3L)
      .select("a_key", "b_key").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(out.toSeq == Seq((1L, 10L), (1L, 11L)))
  }

  test("intervalOverlap fails loudly on pathological bucket fan-out") {
    import spark.implicits._
    // one long interval × tiny bucket width would explode to a million
    // rows — the per-row guard must fail the job, not melt the shuffle
    val aLong = Seq((1L, 0L, 1000000L)).toDF("a_key", "a_s", "a_e")
    val b = Seq((10L, 5L, 15L)).toDF("b_key", "b_s", "b_e")
    val ex = intercept[Exception] {
      RangeJoin.intervalOverlap(aLong, "a_s", "a_e", b, "b_s", "b_e",
        bucketWidth = 1L, maxBucketsPerRow = 1000L).count()
    }
    assert(ex.getMessage.contains("spans > 1000 buckets") ||
      Option(ex.getCause).exists(_.getMessage.contains("spans > 1000 buckets")))
    // reversed interval: sequence() would silently descend — must fail
    val rev = Seq((1L, 10L, 5L)).toDF("a_key", "a_s", "a_e")
    val ex2 = intercept[Exception] {
      RangeJoin.intervalOverlap(rev, "a_s", "a_e", b, "b_s", "b_e",
        bucketWidth = 3L).count()
    }
    assert(ex2.getMessage.contains("reversed interval") ||
      Option(ex2.getCause).exists(_.getMessage.contains("reversed interval")))
  }

  test("garchByKey prefers persistence on volatility-clustered data") {
    import spark.implicits._
    // exact-binary values, mean 0 by construction: 16 calm periods
    // (±0.125) then 16 stormy ones (±4.0) — squared shocks cluster, so
    // the quasi-likelihood must pick a high-persistence (α+β) combo;
    // ω must equal var0·(1−α−β) on the 1e-6 grid
    val rows = (0 until 32).map { i =>
      val v = if (i < 16) (if (i % 2 == 0) 0.125 else -0.125)
              else (if (i % 2 == 0) 4.0 else -4.0)
      ("k", i.toLong * 10L, v)
    }
    val df = rows.toDF("key", "ts", "v")
    val r = Features.garchByKey(df, "key", "ts", "v", periodUnit = 10L)
      .head()
    assert(r.getAs[Long]("n_periods") == 32L)
    assert(r.getAs[Double]("mean") == 0.0)
    assert(r.getAs[Double]("var0") > 0.0)
    val a = r.getAs[Double]("alpha"); val b = r.getAs[Double]("beta")
    assert(Seq(0.05, 0.1, 0.2).contains(a))
    assert(Seq(0.5, 0.65, 0.75).contains(b))
    assert(a + b >= 0.75, s"clustered vol should pick persistence, got ($a,$b)")
    val om = math.rint(r.getAs[Double]("var0") * (1.0 - a - b) * 1e6) / 1e6
    assert(r.getAs[Double]("omega") == om)
    assert(!r.getAs[Double]("loglik").isNaN)
    // stationarity guard: a grid whose corner reaches α+β ≥ 1 is refused
    val ex = intercept[IllegalArgumentException] {
      Features.garchByKey(df, "key", "ts", "v", periodUnit = 10L,
        alphas = Seq(0.3), betas = Seq(0.8))
    }
    assert(ex.getMessage.contains("stationarity"))
  }


  test("weightDiagnostics: Kish ESS, deff, and the nonpositive count") {
    import spark.implicits._
    val rows = Seq(("u", 1.0), ("u", 1.0), ("u", 1.0), ("u", 1.0),
      ("s", 1.0), ("s", 0.0), ("s", -1.0), ("s", 3.0))
    val out = Weighting.weightDiagnostics(rows.toDF("g", "w"),
        Seq("g"), "w")
      .collect().map(r => r.getAs[String]("g") -> r).toMap
    val u = out("u")
    assert(u.getAs[Long]("n") == 4L && u.getAs[Long]("n_nonpos") == 0L)
    assert(u.getAs[Double]("ess") == 4.0 &&
      u.getAs[Double]("deff") == 1.0 && u.getAs[Double]("cv") == 0.0)
    val s = out("s")
    assert(s.getAs[Long]("n") == 2L && s.getAs[Long]("n_nonpos") == 2L)
    assert(s.getAs[Double]("ess") == 1.6)   // 16/10
    assert(s.getAs[Double]("deff") == 1.25)
    assert(s.getAs[Double]("max_over_min") == 3.0)
  }

  test("sprtMonitor crosses the H1 bound on a hot stream, H0 on a cold one") {
    import spark.implicits._
    // H0 p=0.1 vs H1 p=0.3, α=β=0.05 → bounds ±ln(19) ≈ ±2.944. A
    // stream converting at ~0.5 accumulates ≈ +0.87/trial → accept_h1
    // within the first periods; a zero-conversion stream drifts
    // ≈ −0.25/trial → accept_h0
    def stream(rate10: Int) = (0 until 100).map(i =>
      (i / 10L, (i % 10) < rate10))
    val hot = Experiments.sprtMonitor(stream(5).toDF("week", "conv"),
        "week", "conv", p0 = 0.1, p1 = 0.3, alpha = 0.05, beta = 0.05)
      .orderBy("period").collect()
    assert(hot.last.getAs[String]("decision") == "accept_h1")
    assert(hot.last.getAs[Long]("n_cum") == 100L &&
      hot.last.getAs[Long]("x_cum") == 50L)
    val cold = Experiments.sprtMonitor(stream(0).toDF("week", "conv"),
        "week", "conv", p0 = 0.1, p1 = 0.3, alpha = 0.05, beta = 0.05)
      .orderBy("period").collect()
    assert(cold.head.getAs[String]("decision") == "continue")
    assert(cold.last.getAs[String]("decision") == "accept_h0")
    // LLR is monotone per period in each stream's direction
    assert(hot.last.getAs[Double]("llr") > hot.head.getAs[Double]("llr"))
    assert(cold.last.getAs[Double]("llr") < cold.head.getAs[Double]("llr"))
  }

  test("cupedCompare recovers the planted effect and shrinks the variance") {
    import spark.implicits._
    // y = x + effect·[cohort b] + tiny noise, with x carrying almost
    // all the variance AND a parity imbalance (even users' x averages
    // 24, odd users' 25): the raw difference reads ~6, the θ-adjusted
    // one must come back to the planted 5 with var_reduction ≈ 1
    val rows = (0 until 200).map { i =>
      val x = (i % 50).toDouble
      val eff = if (i % 2 == 0) 0.0 else 5.0
      val noise = if (i % 4 < 2) 0.25 else -0.25
      (if (i % 2 == 0) "a" else "b", x, x + eff + noise)
    }
    val r = Experiments.cupedCompare(rows.toDF("cohort", "x", "y"),
      "cohort", "y", "x").head()
    assert(r.getAs[Long]("n_a") == 100L && r.getAs[Long]("n_b") == 100L)
    assert(math.abs(r.getAs[Double]("theta") - 1.0) < 0.05)
    assert(math.abs(r.getAs[Double]("effect_raw") - 6.0) < 0.3)
    assert(math.abs(r.getAs[Double]("effect_adj") - 5.0) < 0.3)
    assert(r.getAs[Double]("var_reduction") > 0.9)
    assert(r.getAs[Double]("p_value") < 0.01)
  }

  test("tokenBudgetAllocate: Hamilton remainders, ties, availability cap") {
    import spark.implicits._
    // budget 10, equal weights: base 3+3+3, one leftover goes to the
    // alphabetically first domain on the all-equal remainder tie; 'c'
    // has only 2 tokens available → granted capped, shortfall reported
    val df = Seq(
      ("a", "w w w w w"), ("b", "w w w w w"), ("c", "w w"))
      .toDF("domain", "text")
    val out = Sampling.tokenBudgetAllocate(df, "domain", "text",
        budget = 10L, weights = Map("a" -> 1L, "b" -> 1L, "c" -> 1L))
      .collect().map(r => r.getAs[String]("domain") -> r).toMap
    assert(out("a").getAs[Long]("alloc") == 4L)
    assert(out("b").getAs[Long]("alloc") == 3L)
    assert(out("c").getAs[Long]("alloc") == 3L)
    assert(out("a").getAs[Long]("granted") == 4L)
    assert(out("c").getAs[Long]("available") == 2L)
    assert(out("c").getAs[Long]("granted") == 2L)
    assert(out("c").getAs[Long]("shortfall") == 1L)
    // allocations always sum to the budget
    assert(out.values.map(_.getAs[Long]("alloc")).sum == 10L)
  }

  test("decontamEmbedding flags bench copies, clears orthogonals, guards") {
    import spark.implicits._
    val e1 = Array.tabulate(4)(i => if (i == 0) 1.0f else 0.0f)
    val e2 = Array.tabulate(4)(i => if (i == 1) 1.0f else 0.0f)
    val e3 = Array.tabulate(4)(i => if (i == 2) 1.0f else 0.0f)
    val bench = Seq((100L, e1), (101L, e2)).toDF("vec_id", "embedding")
    val corpus = Seq((1L, e1), (2L, e2.map(_ * 3.0f)), (3L, e3))
      .toDF("vec_id", "embedding")
    val out = Decontam.decontamEmbedding(corpus, bench, "embedding",
        "vec_id", threshold = 0.9)
      .collect().map(r => r.getAs[Long]("id") -> r).toMap
    assert(out(1L).getAs[Double]("max_cosine") == 1.0 &&
      out(1L).getAs[Boolean]("contaminated") &&
      out(1L).getAs[Long]("bench_id") == 100L)
    // scaling doesn't change cosine
    assert(out(2L).getAs[Double]("max_cosine") == 1.0 &&
      out(2L).getAs[Long]("bench_id") == 101L)
    assert(out(3L).getAs[Double]("max_cosine") == 0.0 &&
      !out(3L).getAs[Boolean]("contaminated"))
    val ex = intercept[IllegalArgumentException] {
      Decontam.decontamEmbedding(corpus, bench, "embedding", "vec_id",
        threshold = 0.9, maxBench = 1)
    }
    assert(ex.getMessage.contains("maxBench"))
    // mixed bench dimensions fail loudly
    val ragged = Seq((100L, e1), (101L, Array(1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val exDim = intercept[IllegalArgumentException] {
      Decontam.decontamEmbedding(corpus, ragged, "embedding", "vec_id")
    }
    assert(exDim.getMessage.contains("dimension"))
    // zero-norm bench vector fails loudly instead of emitting NaN
    val zb = Seq((100L, Array(0.0f, 0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val exZero = intercept[IllegalArgumentException] {
      Decontam.decontamEmbedding(corpus, zb, "embedding", "vec_id")
    }
    assert(exZero.getMessage.contains("zero norm"))
    // zero-norm / wrong-dim CORPUS rows fail in the executor, loudly
    val zc = Seq((9L, Array(0.0f, 0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val exC = intercept[org.apache.spark.SparkException] {
      Decontam.decontamEmbedding(zc, bench, "embedding", "vec_id")
        .collect()
    }
    assert(exC.getMessage.contains("zero norm") ||
      exC.getCause != null)
  }

  test("oovRate counts exactly against the deterministic top-V head") {
    import spark.implicits._
    // ref counts: the×3, cat×2, sat×1, dog×1 → top-2 vocab = {cat, the}
    val ref = Seq((1L, "the cat sat"), (2L, "the cat the dog"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (10L, "the cat"),          // 0/2 OOV
      (11L, "dog sat the"),      // 2/3 OOV
      (12L, "zebra zebra"))      // 2/2 OOV
      .toDF("doc_id", "text")
    val out = TextOps.oovRate(corpus, ref, "doc_id", "text", topV = 2)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(10L).getAs[Long]("n_oov") == 0L &&
      out(10L).getAs[Double]("oov_rate") == 0.0)
    assert(out(11L).getAs[Long]("n_tokens") == 3L &&
      out(11L).getAs[Long]("n_oov") == 2L &&
      out(11L).getAs[Double]("oov_rate") == 0.666667)
    assert(out(12L).getAs[Double]("oov_rate") == 1.0)
  }

  test("binarySegmentByKey finds both steps of the staircase") {
    import spark.implicits._
    // 10 periods at 0, 10 at 100, 10 at 200: the level-1 scan ties
    // across the whole middle plateau and must keep the EARLIEST split
    // (p = 9); the left segment is constant (zero variance → no row);
    // the right segment re-scan must find the second step at p = 19
    val rows = (0 until 30).map { i =>
      val v = if (i < 10) 0.0 else if (i < 20) 100.0 else 200.0
      ("k", i.toLong * 10L, v)
    }
    val out = Features.binarySegmentByKey(rows.toDF("key", "ts", "v"),
        "key", "ts", "v", periodUnit = 10L)
      .collect()
      .map(r => (r.getAs[Int]("level"), r.getAs[String]("segment")) -> r)
      .toMap
    assert(out.keySet == Set((1, "all"), (2, "right")))
    val all = out((1, "all"))
    assert(all.getAs[Long]("cp_period") == 9L)
    assert(all.getAs[Long]("n_seg") == 30L)
    assert(all.getAs[Double]("z") > 1.0)
    val right = out((2, "right"))
    assert(right.getAs[Long]("cp_period") == 19L)
    assert(right.getAs[Long]("n_seg") == 20L)
    assert(right.getAs[Double]("z") > 1.0)
  }

  test("binarySegmentByKey raises loudly where the Long scan would wrap") {
    import spark.implicits._
    // |value|*1e6 ≈ 1e12 over 3000 periods → 2·n²·max|m| ≈ 1.8e19 > 9e18:
    // the overflow guard must fail the job, not pick a wrapped argmax
    val rows = (0 until 3000).map(i =>
      ("k", i.toLong * 10L, if (i < 1500) 1.0e6 else 2.0e6))
    val ex = intercept[Exception] {
      Features.binarySegmentByKey(rows.toDF("key", "ts", "v"),
        "key", "ts", "v", periodUnit = 10L).collect()
    }
    assert(ex.getMessage.contains("overflow") ||
      (ex.getCause != null && ex.getCause.getMessage.contains("overflow")))
  }

  test("tokenBudgetAllocate rejects a budget*weight product past Long") {
    import spark.implicits._
    val df = Seq(("a", "x y z"), ("b", "p q")).toDF("domain", "text")
    val ex = intercept[IllegalArgumentException] {
      Sampling.tokenBudgetAllocate(df, "domain", "text",
        budget = 10000000000000L,
        weights = Map("a" -> 1000000L, "b" -> 1L))
    }
    assert(ex.getMessage.contains("overflows Long"))
  }

  test("burstDetectByKey flags the loud stretch, not the quiet baseline") {
    import spark.implicits._
    // 20 quiet days (1 event) then 5 loud days (20 events): λ0 = 4.8,
    // λ1 = 14.4 → per loud day the burst state wins by ~12.4 ≫ γ = 1,
    // per quiet day the base wins by ~8.5 — flags must be exactly the
    // loud window
    val rows = (0 until 20).flatMap(d => Seq(("k", d.toLong * 10L))) ++
      (20 until 25).flatMap(d =>
        (0 until 20).map(j => ("k", d.toLong * 10L + (j % 10))))
    val df = rows.toDF("key", "ts")
    val out = Features.burstDetectByKey(df, "key", "ts",
        periodUnit = 10L, s = 3.0, gamma = 1.0)
      .orderBy("period").collect()
    assert(out.length == 25)
    out.foreach { r =>
      val p = r.getAs[Long]("period")
      val burst = r.getAs[Boolean]("burst")
      assert(burst == (p >= 20L), s"period $p burst=$burst")
    }
    assert(out.take(20).forall(_.getAs[Long]("c") == 1L))
    assert(out.drop(20).forall(_.getAs[Long]("c") == 20L))
  }

  test("markovRemovalEffect matches the hand-solved absorbing chain") {
    import spark.implicits._
    // journeys: u1 a→conv, u2 a→b→conv, u3 b→(null), u4 a→conv
    // T: start→a .75, start→b .25; a→conv 2/3, a→b 1/3; b→conv .5
    // P(conv) = .75; remove a → .125 (RE 5/6); remove b → .5 (RE 1/3)
    val rows = Seq(
      (1L, 10L, "a"), (1L, 20L, "purchase"),
      (2L, 10L, "a"), (2L, 20L, "b"), (2L, 30L, "purchase"),
      (3L, 10L, "b"),
      (4L, 10L, "a"), (4L, 20L, "purchase"))
    val out = Cohorts.markovRemovalEffect(
        rows.toDF("user_id", "ts", "event_type"),
        "user_id", "ts", "event_type", convEvent = "purchase")
      .collect().map(r => r.getAs[String]("channel") -> r).toMap
    assert(out.keySet == Set("a", "b"))
    assert(math.abs(out("a").getAs[Double]("p_full") - 0.75) < 1e-8)
    assert(math.abs(out("a").getAs[Double]("p_removed") - 0.125) < 1e-8)
    assert(math.abs(out("a").getAs[Double]("removal_effect")
      - 0.833333) < 1e-6)
    assert(math.abs(out("b").getAs[Double]("p_removed") - 0.5) < 1e-8)
    assert(math.abs(out("b").getAs[Double]("removal_effect")
      - 0.333333) < 1e-6)
    // events after the first conversion are ignored (truncation)
    val rows2 = rows ++ Seq((1L, 30L, "b"))
    val out2 = Cohorts.markovRemovalEffect(
        rows2.toDF("user_id", "ts", "event_type"),
        "user_id", "ts", "event_type", convEvent = "purchase")
      .collect().map(r => r.getAs[String]("channel") -> r).toMap
    assert(math.abs(out2("a").getAs[Double]("p_full") - 0.75) < 1e-8)
  }

  test("forecastChampionByKey picks the argmin-MASE model consistently") {
    import spark.implicits._
    // one seasonal-ish key, one trending key; the champion must equal
    // the argmin over the three accuracy frames computed directly
    // (nulls last, model-name ties) — a consistency check that doesn't
    // bet on WHICH model wins
    val rows =
      (0 until 35).map(i => ("sea", i.toLong * 10L,
        (i % 7) * 10.0 + (i % 3))) ++
      (0 until 35).map(i => ("tr", i.toLong * 10L,
        5.0 + 2.0 * i + (if (i % 2 == 0) 0.25 else -0.25)))
    val df = rows.toDF("key", "ts", "v")
    val out = Features.forecastChampionByKey(df, "key", "ts", "v",
      periodUnit = 10L)
      .collect().map(r => r.getAs[String]("key") -> r).toMap
    assert(out.size == 2)
    val frames = Seq(
      "holt_winters" -> Features.forecastAccuracyByKey(
        Features.holtWintersByKey(df, "key", "ts", "v", 10L, 7,
          0.3, 0.1, 0.2), "key", "period", "v", "fitted", 7),
      "holt" -> Features.forecastAccuracyByKey(
        Features.holtByKey(df, "key", "ts", "v", 10L, 0.3, 0.1),
        "key", "period", "v", "fitted", 7),
      "ar1" -> Features.forecastAccuracyByKey(
        Features.arFittedByKey(df, "key", "ts", "v", 10L, 1),
        "key", "period", "v", "fitted", 7))
    Seq("sea", "tr").foreach { k =>
      val mases = frames.flatMap { case (m, f) =>
        f.where(F.col("key") === k).collect().headOption.map { r =>
          (m, Option(r.getAs[java.lang.Double]("mase"))
            .map(_.doubleValue))
        }
      }
      val best = mases
        .sortBy { case (m, mo) => (mo.getOrElse(Double.MaxValue), m) }
        .head._1
      assert(out(k).getAs[String]("champion") == best,
        s"key $k: champion ${out(k).getAs[String]("champion")} vs $best")
    }
  }

  test("gesdByKey unmasks the second spike and stops at zero variance") {
    import spark.implicits._
    // 8 flat periods (10.0) + spikes 1000 at p=3 and 50 at p=7: round 1
    // must remove p=3, round 2 must remove p=7 (masked by round-1's
    // inflated sd in a single-pass z-screen), and round 3 must NOT run
    // because the remainder has zero variance
    val rows = (0 until 10).map { i =>
      val v = if (i == 3) 1000.0 else if (i == 7) 50.0 else 10.0
      ("k", i.toLong * 10L, v)
    }
    val out = Features.gesdByKey(rows.toDF("key", "ts", "v"), "key",
        "ts", "v", periodUnit = 10L, rounds = 3, threshold = 2.0)
      .orderBy("round").collect()
    assert(out.length == 2, s"expected 2 rounds, got ${out.length}")
    assert(out(0).getAs[Long]("period") == 3L)
    assert(out(1).getAs[Long]("period") == 7L)
    assert(out.forall(_.getAs[Boolean]("flagged")))
    assert(out(0).getAs[Double]("r_stat") > out(1).getAs[Double]("r_stat"))
  }

  test("pageHinkleyByKey alarms on the level shift, stays quiet on flat") {
    import spark.implicits._
    // 5 periods at 0 then 5 at 10: at t=6 the deviation v−m−δ jumps to
    // ~8.2 > λ=5, so periods 5..9 all alarm; a flat key never does
    val rows = (0 until 10).map(i =>
      ("shift", i.toLong * 10L, if (i < 5) 0.0 else 10.0)) ++
      (0 until 10).map(i => ("flat", i.toLong * 10L, 7.0))
    val out = Features.pageHinkleyByKey(rows.toDF("key", "ts", "v"),
        "key", "ts", "v", periodUnit = 10L, delta = 0.1, lambda = 5.0)
      .collect().map(r => r.getAs[String]("key") -> r).toMap
    val sh = out("shift")
    assert(sh.getAs[Long]("n_periods") == 10L)
    assert(sh.getAs[Long]("n_alarms") == 5L)
    assert(sh.getAs[Long]("first_alarm_period") == 5L)
    assert(sh.getAs[Double]("max_ph") > 8.0)
    val fl = out("flat")
    assert(fl.getAs[Long]("n_alarms") == 0L)
    assert(fl.isNullAt(fl.fieldIndex("first_alarm_period")))
    assert(fl.getAs[Double]("max_ph") == 0.0)
  }

  test("garchForecastByKey agrees with garchByKey and decays to var0") {
    import spark.implicits._
    val rows = (0 until 32).map { i =>
      val v = if (i < 16) (if (i % 2 == 0) 0.125 else -0.125)
              else (if (i % 2 == 0) 4.0 else -4.0)
      ("k", i.toLong * 10L, v)
    }
    val df = rows.toDF("key", "ts", "v")
    val fit = Features.garchByKey(df, "key", "ts", "v",
      periodUnit = 10L).head()
    val fc = Features.garchForecastByKey(df, "key", "ts", "v",
        periodUnit = 10L, horizon = 14)
      .orderBy("h").collect()
    assert(fc.length == 14)
    // same winning combo as the fit query, by construction
    assert(fc(0).getAs[Double]("alpha") == fit.getAs[Double]("alpha"))
    assert(fc(0).getAs[Double]("beta") == fit.getAs[Double]("beta"))
    val v0 = fit.getAs[Double]("var0")
    // the gap to the unconditional variance shrinks geometrically
    val gaps = fc.map(r => math.abs(r.getAs[Double]("var_forecast") - v0))
    assert(gaps.head > gaps.last)
    (1 until gaps.length).foreach(i =>
      assert(gaps(i) <= gaps(i - 1) + 1e-9, s"gap grew at h=${i + 1}"))
    fc.foreach(r => assert(r.getAs[Double]("var_forecast") > 0.0))
  }

  test("arimaByKey d=0 equals armaByKey; d=1 on the cumsum recovers it") {
    import spark.implicits._
    // exact-binary innovations (multiples of 1/64) so the cumulative
    // sums and their re-differences are bit-exact: arimaByKey(d=1) on
    // the cumsum must reproduce armaByKey on the raw series, and
    // arimaByKey(d=0) must equal armaByKey on the same input
    val e = (0 until 24).map(i =>
      ((i * 7) % 13 - 6) / 64.0 * (if (i % 3 == 0) 2.0 else 1.0))
    val raw = e.zipWithIndex.map { case (v, i) => ("k", i.toLong * 10L, v) }
    val cum = e.scanLeft(0.0)(_ + _).tail.zipWithIndex
      .map { case (v, i) => ("k", (i + 1).toLong * 10L, v) }
    val dfRaw = raw.toDF("key", "ts", "v")
    // prepend the t=0 level so diff yields exactly e(1..n-1)
    val dfCum = (Seq(("k", 0L, 0.0)) ++ cum).toDF("key", "ts", "v")
    val arma = Features.armaByKey(dfRaw, "key", "ts", "v",
      periodUnit = 10L).head()
    val ar0 = Features.arimaByKey(dfRaw, "key", "ts", "v",
      periodUnit = 10L, d = 0).head()
    Seq("mean", "phi_init", "phi", "theta", "sigma2").foreach { c =>
      assert(ar0.getAs[Double](c) == arma.getAs[Double](c),
        s"d=0 $c mismatch")
    }
    assert(ar0.getAs[Int]("d") == 0)
    val ar1 = Features.arimaByKey(dfCum, "key", "ts", "v",
      periodUnit = 10L, d = 1).head()
    // diff(cumsum(e)) == e exactly → identical ARMA scalars
    Seq("phi_init", "phi", "theta", "sigma2").foreach { c =>
      assert(ar1.getAs[Double](c) == arma.getAs[Double](c),
        s"d=1-on-cumsum $c mismatch")
    }
    assert(ar1.getAs[Int]("d") == 1)
    assert(ar1.getAs[Long]("n_periods") == 25L)
    // the d=1 forecast recomposes through the last level: it differs
    // from the last observation by the predicted increment, which is
    // bounded by the innovation scale here
    val lastLevel = (Seq(("k", 0L, 0.0)) ++ cum).last._3
    val fc = ar1.getAs[Double]("forecast")
    assert(math.abs(fc - lastLevel) < 0.5, s"forecast $fc vs last $lastLevel")
  }

  test("sarimaByKey removes the planted weekly cycle and recomposes") {
    import spark.implicits._
    // x_t = s[t%7] + 0.1t + tiny deterministic ripple: the lag-7
    // difference cancels the seasonal pattern exactly, leaving the
    // 0.7 trend step plus the ripple difference
    val season = Array(5.0, 1.0, 2.0, 8.0, 3.0, 9.0, 4.0)
    val rows = (0 until 42).map { i =>
      val v = season(i % 7) + 0.1 * i + ((i * 37) % 5) / 128.0
      ("k", i.toLong * 10L, v)
    }
    val out = Features.sarimaByKey(rows.toDF("key", "ts", "v"),
      "key", "ts", "v", periodUnit = 10L, season = 7, d = 0).head()
    assert(out.getAs[Int]("season") == 7 && out.getAs[Int]("d") == 0)
    assert(out.getAs[Long]("n_periods") == 42L)
    // seasonal diff mean = 0.7 + mean ripple diff (|ripple| <= 4/128)
    assert(math.abs(out.getAs[Double]("mean") - 0.7) < 0.05)
    // sigma2 of the deseasonalized series is ripple-sized, nowhere
    // near the seasonal variance (~8)
    assert(out.getAs[Double]("sigma2") < 0.01)
    // the forecast recomposes through x_{n+1-7}: level ~ season(0) +
    // trend at t=42 (x_35 + one weekly step)
    val expect = season(42 % 7) + 0.1 * 42
    assert(math.abs(out.getAs[Double]("forecast") - expect) < 0.2,
      s"forecast ${out.getAs[Double]("forecast")} vs ~$expect")
  }

  test("unigramLmTrain reproduces the hand-worked two-word EM") {
    import spark.implicits._
    // corpus "ab ab b": seed p0 = {a:2/7, b:3/7, ab:2/7}; round 1
    // posteriors give counts {a:0.6, b:1.6, ab:1.4}; round 2 sharpens
    // ab: {a:0.32, b:1.32, ab:1.68} — EM shifting mass to the
    // productive piece is exactly the SentencePiece mechanism
    val df = Seq((1L, "ab ab b")).toDF("doc_id", "text")
    val out = TextOps.unigramLmTrain(df, "doc_id", "text",
        maxPieceLen = 3, maxSeed = 16, emRounds = 2, minCount = 1.0,
        topK = 8)
      .collect().map(r => r.getAs[String]("piece") -> r).toMap
    assert(out.keySet == Set("a", "b", "ab"))
    assert(math.abs(out("ab").getAs[Double]("cnt") - 1.68) < 1e-9)
    assert(math.abs(out("b").getAs[Double]("cnt") - 1.32) < 1e-9)
    assert(math.abs(out("a").getAs[Double]("cnt") - 0.32) < 1e-9)
    val tot = 0.32 + 1.32 + 1.68
    assert(math.abs(out("ab").getAs[Double]("p") - 1.68 / tot) < 1e-9)
    assert(out("ab").getAs[Long]("piece_len") == 2L)
    // single-round run reproduces the round-1 counts (prune kept all)
    val r1 = TextOps.unigramLmTrain(df, "doc_id", "text",
        maxPieceLen = 3, maxSeed = 16, emRounds = 1, minCount = 1.0,
        topK = 8)
      .collect().map(r =>
        r.getAs[String]("piece") -> r.getAs[Double]("cnt")).toMap
    assert(math.abs(r1("ab") - 1.4) < 1e-9)
    assert(math.abs(r1("b") - 1.6) < 1e-9)
    assert(math.abs(r1("a") - 0.6) < 1e-9)
  }

  test("periodDetectByKey finds the planted period-3 cycle") {
    import spark.implicits._
    // 18 days of a clean period-3 sawtooth: ACF peaks at lag 3 and 6;
    // the argmax must land on 3 (larger acf) and clear the 2/√n bar
    val df = (0 until 18).map(i =>
      ("k", i.toLong * 10L, Seq(1.0, 5.0, 9.0)(i % 3)))
      .toDF("key", "ts", "v")
    val r = Features.periodDetectByKey(df, "key", "ts", "v",
      periodUnit = 10L, maxLag = 7).head()
    assert(r.getAs[Long]("best_lag") == 3L || r.getAs[Long]("best_lag") == 6L)
    assert(r.getAs[Boolean]("significant"))
    assert(r.getAs[Double]("best_acf") > 0.5)
  }

  test("rankBiasedOverlap: hand-computed truncated RBO at p = 0.5") {
    import spark.implicits._
    // A head: x,y,z; B head: y,w,x → X_1 = 0, X_2 = 1, X_3 = 2
    // acc = 0 + 0.5·(1/2) + 0.25·(2/3); rbo = 0.5·acc = 0.208333
    val a = (Seq.fill(3)("x") ++ Seq.fill(2)("y") ++ Seq("z")).toDF("v")
    val b = (Seq.fill(3)("y") ++ Seq.fill(2)("w") ++ Seq("x")).toDF("v")
    val r = Validation.rankBiasedOverlap(a, b, "v", k = 3, p = 0.5)
      .head()
    assert(math.abs(r.getAs[Double]("rbo") - 0.208333) < 1e-6)
    assert(math.abs(r.getAs[Double]("agreement_k") - 0.666667) < 1e-6)
    // identical rankings score the truncated maximum (1-p)Σp^(d-1)
    val full = Validation.rankBiasedOverlap(a, a, "v", k = 3, p = 0.5)
      .head().getAs[Double]("rbo")
    assert(math.abs(full - 0.5 * (1.0 + 0.5 + 0.25)) < 1e-6)
  }

  test("demandClassifyByKey routes the four Syntetos-Boylan quadrants") {
    import spark.implicits._
    // smooth: demand every period, equal sizes (ADI 1, CV² 0)
    val smooth = (0 until 10).map(i => ("s", i.toLong * 10L, 5.0))
    // intermittent: every 3rd period, equal sizes (ADI ~3, CV² 0)
    val inter = Seq(0, 3, 6, 9).map(i => ("i", i.toLong * 10L, 5.0))
    // erratic: every period, wildly varying sizes (ADI 1, CV² high)
    val err = Seq(1.0, 100.0, 1.0, 100.0, 1.0, 100.0).zipWithIndex
      .map { case (v, i) => ("e", i.toLong * 10L, v) }
    // lumpy: sparse AND wild
    val lump = Seq((0, 1.0), (5, 100.0), (9, 1.0))
      .map { case (i, v) => ("l", i.toLong * 10L, v) }
    val df = (smooth ++ inter ++ err ++ lump).toDF("key", "ts", "v")
    val rows = Features.demandClassifyByKey(df, "key", "ts", "v",
        periodUnit = 10L)
      .collect().map(r => r.getAs[String]("key") -> r).toMap
    assert(rows("s").getAs[String]("demand_class") == "smooth")
    assert(rows("s").getAs[Double]("adi") == 1.0)
    assert(rows("s").getAs[Double]("cv2") == 0.0)
    assert(rows("i").getAs[String]("demand_class") == "intermittent")
    assert(rows("i").getAs[Double]("adi") == 2.5)
    assert(rows("e").getAs[String]("demand_class") == "erratic")
    assert(rows("l").getAs[String]("demand_class") == "lumpy")
  }

  test("splitLeakageAudit counts cross-split entities, zero included") {
    import spark.implicits._
    // u1 in train+test, u2 train only, u3 test only, u4 val only —
    // (train,val) and (test,val) pairs must still appear with 0
    val df = Seq(("u1", "train"), ("u1", "test"), ("u2", "train"),
      ("u3", "test"), ("u4", "val")).toDF("user", "split")
    val rows = Sampling.splitLeakageAudit(df, "user", "split")
      .collect()
      .map(r => (r.getAs[String]("split_a"),
        r.getAs[String]("split_b")) -> r).toMap
    assert(rows.size == 3)
    val tt = rows(("test", "train"))
    assert(tt.getAs[Long]("n_both") == 1L)
    assert(tt.getAs[Double]("leak_share") == 0.5)
    assert(rows(("train", "val")).getAs[Long]("n_both") == 0L)
    assert(rows(("test", "val")).getAs[Long]("n_both") == 0L)
  }

  test("controlChartByKey: hand-computed XmR limits and flags") {
    import spark.implicits._
    // x = 10, 12, 10, 12, 30: x̄ = 14.8, mR̄ = (2+2+2+18)/4 = 6,
    // UCL = 14.8 + 15.96 = 30.76, LCL = -1.16 → nothing beyond
    val df = Seq(10.0, 12.0, 10.0, 12.0, 30.0).zipWithIndex
      .map { case (v, i) => ("k", i.toLong * 10L, v) }
      .toDF("key", "ts", "v")
    val r = Features.controlChartByKey(df, "key", "ts", "v",
      periodUnit = 10L).head()
    assert(r.getAs[Long]("n_periods") == 5L)
    assert(r.getAs[Double]("xbar") == 14.8)
    assert(r.getAs[Double]("mr_bar") == 6.0)
    assert(r.getAs[Double]("ucl") == 30.76)
    assert(r.getAs[Double]("lcl") == -1.16)
    assert(r.getAs[Long]("n_beyond") == 0L)
    // push the spike past the limit
    val df2 = Seq(10.0, 12.0, 10.0, 12.0, 60.0).zipWithIndex
      .map { case (v, i) => ("k", i.toLong * 10L, v) }
      .toDF("key", "ts", "v")
    val r2 = Features.controlChartByKey(df2, "key", "ts", "v",
      periodUnit = 10L).head()
    assert(r2.getAs[Long]("n_beyond") == 1L)
  }

  test("ebShrinkPoisson pulls small-exposure groups toward the prior") {
    import spark.implicits._
    // g1: 10 events / 100 exposure (rate .1), g2: 30/100 (rate .3),
    // g3: 1 event / 2 exposure (rate .5, tiny) — g3 shrinks hardest
    val df = (Seq.fill(10)(("g1", 1.0, 10.0)) ++
      Seq.fill(10)(("g2", 3.0, 10.0)) ++ Seq(("g3", 1.0, 2.0)))
      .toDF("g", "evt", "exp")
    val rows = Experiments.ebShrinkPoisson(df, Seq("g"), "evt", "exp")
      .collect().map(r => r.getAs[String]("g") -> r).toMap
    assert(rows("g3").getAs[Double]("rate") == 0.5)
    val m = (0.1 + 0.3 + 0.5) / 3.0
    val shr3 = rows("g3").getAs[Double]("shrunk_rate")
    // shrunk g3 sits strictly between the global mean and its own rate
    assert(shr3 < 0.5 && shr3 > m - 1e-9)
    // big-exposure groups barely move
    assert(math.abs(rows("g1").getAs[Double]("shrunk_rate") - 0.1)
      < math.abs(shr3 - 0.5))
    assert(rows("g1").getAs[Double]("alpha") > 0.0)
  }

  test("jlProject is linear and jlDistortion reports consistent ratios") {
    import spark.implicits._
    val df = Seq(
      (0L, Array.fill(64)(1.0f)), (1L, Array.fill(64)(2.0f)))
      .toDF("vec_id", "embedding")
    val p = Similarity.jlProject(df, "vec_id", "embedding", 64, 16)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(p(0L).length == 16)
    // the projection is linear: proj(2x) = 2 proj(x) up to rounding
    p(0L).zip(p(1L)).foreach { case (a, b) =>
      assert(math.abs(b - 2.0 * a) < 2e-6) }
    val d = Similarity.jlDistortion(df, "vec_id", "embedding", 64, 16)
      .head()
    // ‖e1 − e0‖ = √64 = 8 exactly
    assert(d.getAs[Double]("dist_orig") == 8.0)
    val ratio = d.getAs[Double]("ratio")
    assert(math.abs(ratio -
      d.getAs[Double]("dist_proj") / 8.0) < 1e-5)
  }

  test("mooreLewisSelect scores the target-like pool doc higher") {
    import spark.implicits._
    val target = Seq((10L, "alpha beta")).toDF("doc_id", "text")
    val pool = Seq((1L, "alpha gamma"), (2L, "gamma delta"))
      .toDF("doc_id", "text")
    val rows = TextOps.mooreLewisSelect(target, pool, "doc_id", "text",
      topK = 2).collect()
    assert(rows.map(_.getAs[Long]("doc_id")).toSeq == Seq(1L, 2L))
    // V = 4, Nt = 2, Np = 4: lr(alpha) = ln(4/3), lr(gamma) = ln(4/9),
    // lr(delta) = ln(2/3); per-doc means of two terms
    val s1 = (math.log(4.0 / 3.0) + math.log(4.0 / 9.0)) / 2.0
    val s2 = (math.log(4.0 / 9.0) + math.log(2.0 / 3.0)) / 2.0
    assert(math.abs(rows(0).getAs[Double]("score") - s1) < 1e-5)
    assert(math.abs(rows(1).getAs[Double]("score") - s2) < 1e-5)
  }

  test("shapleyAttribution splits credit by the exact coalition game") {
    import spark.implicits._
    // v({A}) = 1/2, v({B}) = 1, v({A,B}) = 1, v(∅) = 0 →
    // φ_A = ½·½ = 0.25, φ_B = ½·1 + ½·½ = 0.75 (efficiency: sums to 1)
    val df = Seq((1L, "A"), (1L, "buy"), (2L, "A"), (3L, "B"),
      (3L, "buy"), (4L, "A"), (4L, "B"), (4L, "buy"))
      .toDF("user_id", "channel")
    val rows = Cohorts.shapleyAttribution(df, "user_id", "channel",
        convValue = "buy")
      .collect().map(r => r.getAs[String]("channel") -> r).toMap
    assert(rows("A").getAs[Double]("shapley") == 0.25)
    assert(rows("B").getAs[Double]("shapley") == 0.75)
    assert(rows("A").getAs[Long]("n_touched") == 3L)
    assert(rows("B").getAs[Long]("n_touched") == 2L)
    assert(math.abs(rows("A").getAs[Double]("conv_rate_touched")
      - 0.666667) < 1e-6)
    assert(rows("B").getAs[Double]("conv_rate_touched") == 1.0)
  }

  test("seasonalStrengthByKey: pure seasonal series scores F_s = 1") {
    import spark.implicits._
    // period-2 square wave: remainder ≡ 0 on interior rows → F_s = 1;
    // trend + remainder is the constant 2.0 → trend strength null
    val df = Seq.tabulate(12)(i => ("k", (i + 1).toLong,
      if (i % 2 == 0) 1.0 else 3.0)).toDF("key", "ts", "v")
    val r = Features.seasonalStrengthByKey(df, "key", "ts", "v",
      period = 2).head()
    assert(r.getAs[Long]("n_used") == 10L)
    assert(r.getAs[Double]("seasonal_strength") == 1.0)
    assert(r.isNullAt(r.fieldIndex("trend_strength")))
  }

  test("mahalanobis2ByGroup flags the joint outlier the marginals hide") {
    import spark.implicits._
    // 10x10 centered grid + one far point: only the far point crosses
    // the chi2(2) 99.9% cut
    val grid = Seq.tabulate(100)(i =>
      ("g", (i % 10).toDouble - 4.5, (i / 10).toDouble - 4.5))
    val df = (grid :+ (("g", 50.0, -50.0))).toDF("grp", "x", "y")
    val r = Outliers.mahalanobis2ByGroup(df, Seq("grp"), "x", "y",
      alpha = 0.001).head()
    assert(r.getAs[Long]("n") == 101L)
    assert(r.getAs[Long]("n_flagged") == 1L)
    assert(r.getAs[Double]("max_d2") > 13.8)
    assert(r.getAs[Double]("det") > 0.0)
    // constant y -> degenerate covariance -> group omitted
    val degen = Seq(("d", 1.0, 2.0), ("d", 2.0, 2.0), ("d", 3.0, 2.0))
      .toDF("grp", "x", "y")
    assert(Outliers.mahalanobis2ByGroup(degen, Seq("grp"), "x", "y")
      .isEmpty)
  }

  test("ksSeparation finds the exact peak with integer-decided argmax") {
    import spark.implicits._
    // pos {3,4} vs neg {1,2}: perfect separation at score 2
    val sep = Seq((1.0, false), (2.0, false), (3.0, true), (4.0, true))
      .toDF("s", "y")
    val r = Evaluation.ksSeparation(sep, "y", "s").head()
    assert(r.getAs[Double]("ks") == 1.0)
    assert(r.getAs[Double]("ks_score") == 2.0)
    // interleaved: gap peaks at 0.5, tie resolved to the SMALLEST score
    val mix = Seq((1.0, true), (2.0, false), (3.0, true), (4.0, false))
      .toDF("s", "y")
    val rm = Evaluation.ksSeparation(mix, "y", "s").head()
    assert(rm.getAs[Double]("ks") == 0.5)
    assert(rm.getAs[Double]("ks_score") == 1.0)
    assert(rm.getAs[Long]("n_pos") == 2L && rm.getAs[Long]("n_neg") == 2L)
  }

  test("woeTable applies the 0.5 zero-cell convention and sums IV") {
    import spark.implicits._
    val df = (Seq.fill(2)(("A", true)) ++ Seq.fill(2)(("A", false)) ++
      Seq.fill(2)(("B", true))).toDF("bin", "y")
    val r = Evaluation.woeTable(df, "bin", "y")
      .collect().map(x => x.getAs[String]("bin") -> x).toMap
    assert(math.abs(r("A").getAs[Double]("woe") + 0.693147) < 1e-6)
    assert(math.abs(r("B").getAs[Double]("woe") - 0.693147) < 1e-6)
    assert(math.abs(r("A").getAs[Double]("iv_term") - 0.346574) < 1e-6)
    assert(math.abs(r("B").getAs[Double]("iv_term") - 0.173287) < 1e-6)
    assert(r("A").getAs[Double]("iv_total") == r("B").getAs[Double]("iv_total"))
    assert(math.abs(r("A").getAs[Double]("iv_total") - 0.51986) < 1e-6)
    assert(r("B").getAs[Long]("n_neg") == 0L)
  }

  test("splitGains ranks the pure split first across stacked features") {
    import spark.implicits._
    // x: perfect split at 2 (gain = root gini = .5); z: uninformative
    val df = Seq((1.0, 9.0, false), (2.0, 8.0, false),
      (3.0, 9.0, true), (4.0, 8.0, true)).toDF("x", "z", "y")
    val rows = Evaluation.splitGains(df, Seq("x", "z"), "y", topK = 3)
      .collect().map(r => (r.getAs[String]("feature"),
        r.getAs[Long]("rank")) -> r).toMap
    val best = rows(("x", 1L))
    assert(best.getAs[Double]("threshold") == 2.0)
    assert(best.getAs[Double]("gain") == 0.5)
    assert(best.getAs[Long]("n_left") == 2L && best.getAs[Long]("pos_left") == 0L)
    assert(best.getAs[Long]("n_right") == 2L && best.getAs[Long]("pos_right") == 2L)
    assert(rows(("x", 2L)).getAs[Double]("gain") == 0.166667)
    // z = {8, 9} with one pos/neg each: zero gain at its single cut
    assert(rows(("z", 1L)).getAs[Double]("gain") == 0.0)
  }

  test("ipfWeights rakes the 2x2 to both margins and pins round 1") {
    import spark.implicits._
    // cells 30/10/10/50, both margins targeted 50/50
    val df = (Seq.fill(30)(("r1", "c1")) ++ Seq.fill(10)(("r1", "c2")) ++
      Seq.fill(10)(("r2", "c1")) ++ Seq.fill(50)(("r2", "c2")))
      .toDF("r", "c")
    val t = Seq(("r1", 0.5), ("r2", 0.5))
    val u = Seq(("c1", 0.5), ("c2", 0.5))
    // one round, hand-computed: row scale 1.25/.83333, then col scale
    val w1 = Weighting.ipfWeights(df, "r", "c", t, u, iters = 1)
      .collect().map(x => (x.getString(0), x.getString(1)) ->
        x.getAs[Double]("weight")).toMap
    assert(w1(("r1", "c1")) == 1.363636)
    assert(w1(("r1", "c2")) == 1.153846)
    assert(w1(("r2", "c1")) == 0.909091)
    assert(w1(("r2", "c2")) == 0.769231)
    // eight rounds: achieved margins within 1e-4 of the targets
    val w8 = Weighting.ipfWeights(df, "r", "c", t, u, iters = 8)
    val rows = w8.collect().map(x => ((x.getString(0), x.getString(1)),
      x.getAs[Long]("n"), x.getAs[Double]("weight")))
    assert(rows.map(_._2).sum == 100L)
    def margin(f: ((String, String)) => String, v: String) =
      rows.filter(r => f(r._1) == v).map(r => r._2 / 100.0 * r._3).sum
    assert(math.abs(margin(_._1, "r1") - 0.5) < 1e-4)
    assert(math.abs(margin(_._1, "r2") - 0.5) < 1e-4)
    assert(math.abs(margin(_._2, "c1") - 0.5) < 1e-4)
    assert(math.abs(margin(_._2, "c2") - 0.5) < 1e-4)
  }

  test("gammaIrls recovers an exact log-linear mean") {
    import spark.implicits._
    val df = Seq.tabulate(64)(i => {
      val x = (i % 8).toDouble
      (math.exp(1.0 + 0.5 * x), x)
    }).toDF("y", "x")
    val m = Regression.gammaIrls(df, "y", Seq("x"), iters = 8)
    assert(math.abs(m.beta(0) - 1.0) < 1e-6)
    assert(math.abs(m.beta(1) - 0.5) < 1e-6)
    assert(m.deviance.abs < 1e-9 && m.dispersion.abs < 1e-9)
    assert(m.n == 64L && m.iterations == 8)
    // predictMean reproduces y on the training frame
    val err = df.select(F.max(F.abs(m.predictMean - F.col("y"))))
      .head().getDouble(0)
    assert(err < 1e-6)
  }

  test("byAdjust equals min(1, c(m) * BH) on the pinned ladder") {
    import spark.implicits._
    // p = .01 .02 .04 .2 -> BH q = .04 .04 .053333 .2, c(4) = 25/12
    val df = Seq(0.01, 0.02, 0.04, 0.2).toDF("p")
    val r = StatTests.byAdjust(df, "p", alpha = 0.1)
      .collect().map(x => x.getAs[Double]("p") ->
        (x.getAs[Double]("q_value_by"), x.getAs[Boolean]("reject_by")))
      .toMap
    val c4 = 1.0 + 0.5 + 1.0 / 3.0 + 0.25
    assert(math.abs(r(0.01)._1 - 0.04 * c4) < 1e-12 && r(0.01)._2)
    assert(math.abs(r(0.02)._1 - 0.04 * c4) < 1e-12 && r(0.02)._2)
    assert(math.abs(r(0.04)._1 - 4.0 * 0.04 / 3.0 * c4) < 1e-12)
    assert(!r(0.04)._2 && !r(0.2)._2)
    assert(math.abs(r(0.2)._1 - 0.2 * c4) < 1e-12)
  }

  test("adTwoSample matches the hand-computed example and is rank-invariant") {
    import spark.implicits._
    // A = {1,2}, B = {3,4}: A² = 19/11, σ² = 2/9 (hand-derived: every
    // block has l=1, B = F+.5; ΣA = ΣB = 76/33; h = 11/6, g = 4/9,
    // H = 1 → σ² = (aN³+bN²+cN+d)/6 = 2/9)
    val df = Seq(("a", 1.0), ("a", 2.0), ("b", 3.0), ("b", 4.0))
      .toDF("cohort", "v")
    val r = StatTests.adTwoSample(df, "cohort", "v").head()
    val a2 = math.rint(19.0 / 11.0 * 1e6) / 1e6
    val sg = math.rint(math.sqrt(2.0 / 9.0) * 1e6) / 1e6
    assert(r.getAs[Double]("ad_stat") == a2)
    assert(r.getAs[Double]("sigma") == sg)
    assert(r.getAs[Double]("t_stat") ==
      math.rint((a2 - 1.0) / sg * 1e6) / 1e6)
    assert(r.getAs[Long]("n_a") == 2L && r.getAs[Long]("n_b") == 2L)
    // rank statistic: invariant under any monotone transform
    val base = Seq.tabulate(40)(i =>
      (if (i % 2 == 0) "a" else "b", (i * 7 % 23).toDouble))
    val t1 = StatTests.adTwoSample(base.toDF("cohort", "v"), "cohort", "v")
      .head().getAs[Double]("ad_stat")
    val t2 = StatTests.adTwoSample(
      base.map { case (c, v) => (c, math.exp(v / 10.0)) }.toDF("cohort", "v"),
      "cohort", "v").head().getAs[Double]("ad_stat")
    assert(t1 == t2)
    // identical samples → A² well below the 5% critical T
    val same = Seq.tabulate(20)(i => ("a", (i % 5).toDouble)) ++
      Seq.tabulate(20)(i => ("b", (i % 5).toDouble))
    val rs = StatTests.adTwoSample(same.toDF("cohort", "v"), "cohort", "v")
      .head()
    assert(rs.getAs[Double]("t_stat") < 1.96)
  }

  test("ljungBoxByKey matches the hand-computed trend example") {
    import spark.implicits._
    // x = 1..6: acf_1 = .5, acf_2 = 1/17.5; Q = 48(r1²/5 + r2²/4)
    val df = Seq.tabulate(6)(i => ("k", i.toLong, (i + 1).toDouble))
      .toDF("key", "ts", "v")
    val r = Features.ljungBoxByKey(df, "key", "ts", "v", maxLag = 2).head()
    assert(r.getAs[Double]("acf_1") == 0.5)
    val r2 = math.rint(1.0 / 17.5 * 1e6) / 1e6
    assert(r.getAs[Double]("acf_2") == r2)
    val lb = math.rint(48.0 * (0.5 * 0.5 / 5.0 + r2 * r2 / 4.0) * 1e6) / 1e6
    assert(r.getAs[Double]("lb_stat") == lb)
    assert(r.getAs[Long]("dof") == 2L)
    assert(r.getAs[Double]("p_value") ==
      math.rint(graft.functions.SpecialMath.gammaIncC(1.0, lb / 2.0) * 1e6) / 1e6)
    // white-ish alternating series: Q small and p large at lag 1
    val flat = Seq.tabulate(40)(i =>
      ("w", i.toLong, if (i % 2 == 0) 1.0 else 2.0))
    val rw = Features.ljungBoxByKey(flat.toDF("key", "ts", "v"),
      "key", "ts", "v", maxLag = 2).head()
    assert(rw.getAs[Double]("acf_1") < 0.0) // alternation = negative acf
  }

  test("breslowDay separates homogeneous from heterogeneous strata") {
    import spark.implicits._
    def stratum(s: String, a: Int, b: Int, c: Int, d: Int) =
      Seq.fill(a)((s, "a", true)) ++ Seq.fill(b)((s, "a", false)) ++
        Seq.fill(c)((s, "b", true)) ++ Seq.fill(d)((s, "b", false))
    // equal ORs (both 4.0) → BD ≈ 0, p large
    val hom = (stratum("s1", 20, 10, 10, 20) ++
      stratum("s2", 40, 20, 20, 40)).toDF("st", "cohort", "y")
    val rh = Experiments.breslowDay(hom, "cohort", "y", Seq("st")).head()
    assert(rh.getAs[Double]("bd_stat") < 1e-6)
    assert(rh.getAs[Double]("p_value") > 0.99)
    assert(rh.getAs[Long]("dof") == 1L && rh.getAs[Long]("n_strata") == 2L)
    // or_mh agrees with the mantelHaenszel operator on the same frame
    val mh = Experiments.mantelHaenszel(hom, "cohort", "y", Seq("st")).head()
    assert(rh.getAs[Double]("or_mh") == mh.getAs[Double]("or_mh"))
    // OR 1 vs OR 16 → BD rejects at 5% (χ²(1) crit 3.84)
    val het = (stratum("h1", 10, 10, 10, 10) ++
      stratum("h2", 20, 5, 5, 20)).toDF("st", "cohort", "y")
    val rt = Experiments.breslowDay(het, "cohort", "y", Seq("st")).head()
    assert(rt.getAs[Double]("bd_stat") > 3.84)
    assert(rt.getAs[Double]("p_value") < 0.05)
    assert(rt.getAs[Double]("bd_tarone") <= rt.getAs[Double]("bd_stat"))
    assert(rt.getAs[Double]("bd_tarone") > 3.84)
  }

  test("naive Bayes classifies the two-language toy corpus") {
    import spark.implicits._
    val train = Seq((1L, "the cat", "en"), (2L, "the dog", "en"),
      (3L, "le chat", "fr"), (4L, "le chien", "fr"))
      .toDF("doc_id", "text", "lang")
    val m = TextOps.nbTrain(train, "doc_id", "text", "lang")
    val scored = TextOps.nbScore(
      Seq((10L, "the cat")).toDF("doc_id", "text"), "doc_id", "text", m)
      .collect().map(r => r.getAs[String]("cls") ->
        (r.getAs[Double]("score_r"), r.getAs[String]("predicted"))).toMap
    // score(en) = ln½ + ln(1+2) + ln(1+1) − 2·ln(4+6); V = 6, α = 1
    val en = math.log(0.5) + math.log(3.0) + math.log(2.0) -
      2.0 * math.log(10.0)
    val fr = math.log(0.5) + math.log(1.0) + math.log(1.0) -
      2.0 * math.log(10.0)
    assert(math.abs(scored("en")._1 - math.rint(en * 1e6) / 1e6) < 1e-9)
    assert(math.abs(scored("fr")._1 - math.rint(fr * 1e6) / 1e6) < 1e-9)
    assert(scored("en")._2 == "en" && scored("fr")._2 == "en")
    // unseen-token doc: all token terms ln(0+1)=0 → prior − N·ln_denom;
    // tie on score → lexicographically smaller class
    val unseen = TextOps.nbScore(
      Seq((11L, "zzz")).toDF("doc_id", "text"), "doc_id", "text", m)
      .select("predicted").head().getString(0)
    assert(unseen == "en")
  }

  test("labelPropagation finds the two cliques") {
    import spark.implicits._
    val edges = Seq(("a", "b"), ("b", "c"), ("a", "c"),
      ("x", "y"), ("y", "z"), ("x", "z")).toDF("src", "dst")
    val r = Graph.labelPropagation(edges, "src", "dst", iters = 2)
      .collect().map(x => x.getString(0) -> x.getString(1)).toMap
    assert(r("a") == "a" && r("b") == "a" && r("c") == "a")
    assert(r("x") == "x" && r("y") == "x" && r("z") == "x")
    assert(r.size == 6)
  }

  test("modularityByLabel scores the two-clique partition") {
    import spark.implicits._
    // two disjoint triangles, perfectly partitioned: m = 6,
    // per clique e_c = 3, a_c = 6 -> q_c = 3/6 - (6/12)^2 = 0.25,
    // total Q = 0.5 (the textbook two-community maximum for this graph)
    val edges = Seq(("a", "b"), ("b", "c"), ("a", "c"),
      ("x", "y"), ("y", "z"), ("x", "z")).toDF("src", "dst")
    val labels = Graph.labelPropagation(edges, "src", "dst", iters = 2)
    val out = Graph.modularityByLabel(edges, "src", "dst", labels)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out.keySet == Set("a", "x", "__total__"))
    Seq("a", "x").foreach { c =>
      assert(out(c).getAs[Long]("n_nodes") == 3L)
      assert(out(c).getAs[Long]("internal_edges") == 3L)
      assert(out(c).getAs[Long]("degree_sum") == 6L)
      assert(out(c).getAs[Double]("q_c") == 0.25)
    }
    assert(out("__total__").getAs[Double]("q_c") == 0.5)
    assert(out("__total__").getAs[Long]("internal_edges") == 6L)
    // everything-in-one-community scores Q = 0 exactly
    val one = labels.withColumn("label", F.lit("all"))
    val tot = Graph.modularityByLabel(edges, "src", "dst", one)
      .where(F.col("label") === "__total__").head()
    assert(tot.getAs[Double]("q_c") == 0.0)
    // singleton partition goes negative (the collapse signal)
    val singletons = labels.withColumn("label", F.col("node"))
    val totS = Graph.modularityByLabel(edges, "src", "dst", singletons)
      .where(F.col("label") === "__total__").head()
    assert(totS.getAs[Double]("q_c") < 0.0)
  }

  test("seasonalDecompose splits a pure period-2 series exactly") {
    import spark.implicits._
    // x = 1,3,1,3,1,3: trend ≡ 2 on interior points, seasonal −1/+1,
    // remainder 0; window-incomplete edges stay null
    val df = Seq.tabulate(6)(i => ("k", (i + 1).toLong,
      if (i % 2 == 0) 1.0 else 3.0)).toDF("key", "ts", "v")
    val out = Features.seasonalDecompose(df, "key", "ts", "v", period = 2)
      .orderBy("ts").collect()
    assert(out.length == 6)
    assert(out(0).isNullAt(out(0).fieldIndex("trend")))
    assert(out(5).isNullAt(out(5).fieldIndex("trend")))
    (1 to 4).foreach { i =>
      assert(math.abs(out(i).getAs[Double]("trend") - 2.0) < 1e-9)
      assert(math.abs(out(i).getAs[Double]("remainder")) < 1e-9)
    }
    // phase 0 rows carry the low season, phase 1 the high
    out.filter(!_.isNullAt(out(0).fieldIndex("seasonal"))).foreach { r =>
      val expect = if (r.getAs[Long]("phase") == 0L) -1.0 else 1.0
      assert(math.abs(r.getAs[Double]("seasonal") - expect) < 1e-9)
    }
  }

  test("boxCoxByGroup picks log for lognormal-shaped data") {
    import spark.implicits._
    // x = e^{−2..2}: λ=0 makes the transform exactly symmetric normal
    val logShaped = Seq(-2.0, -1.0, 0.0, 1.0, 2.0)
      .map(z => ("lg", math.exp(z)))
    // already-normal-ish symmetric data prefers λ=1 over λ=0
    val linear = Seq(8.0, 9.0, 10.0, 11.0, 12.0).map(("ln", _))
    val df = (logShaped ++ linear).toDF("grp", "x")
    val r = Features.boxCoxByGroup(df, "x", Seq("grp")).collect()
      .map(x => x.getAs[String]("grp") -> x.getAs[Double]("lambda")).toMap
    assert(r("lg") == 0.0)
    assert(math.abs(r("ln") - 1.0) <= 0.5, s"linear got ${r("ln")}")
    // any non-positive value drops the whole group
    val bad = Seq(("b", 1.0), ("b", 0.0)).toDF("grp", "x")
    assert(Features.boxCoxByGroup(bad, "x", Seq("grp")).count() == 0L)
  }

  test("goodTuring matches the a³b²c corpus") {
    import spark.implicits._
    val df = Seq((1L, "a a a b b c")).toDF("doc_id", "text")
    val r = TextOps.goodTuring(df, "doc_id", "text").orderBy("r").collect()
    assert(r.map(_.getAs[Long]("r")).toSeq == Seq(1L, 2L, 3L))
    assert(r.map(_.getAs[Long]("n_r")).toSeq == Seq(1L, 1L, 1L))
    assert(math.abs(r(0).getAs[Double]("r_star") - 2.0) < 1e-9)
    assert(math.abs(r(0).getAs[Double]("p_smoothed") - 2.0 / 6.0) < 1e-9)
    assert(math.abs(r(1).getAs[Double]("r_star") - 3.0) < 1e-9)
    assert(r(2).isNullAt(r(2).fieldIndex("r_star"))) // N₄ = 0 → tail null
  }

  test("heapsLaw grows vocabulary sublinearly on a repetitive corpus") {
    import spark.implicits._
    // 40 docs, each repeating a small shared vocabulary plus one
    // unique token — vocab grows, but slower than tokens
    val df = Seq.tabulate(40) { i =>
      (i.toLong, s"the quick fox tok$i the quick")
    }.toDF("doc_id", "text")
    val out = TextOps.heapsLaw(df, "doc_id", "text").orderBy("bucket")
      .collect()
    assert(out.length >= 3)
    val last = out.last
    assert(last.getAs[Long]("n_tokens") == 240L)
    assert(last.getAs[Long]("vocab") == 43L)
    // cumulative in both coordinates
    assert(out.sliding(2).forall(p =>
      p(0).getAs[Long]("n_tokens") < p(1).getAs[Long]("n_tokens") &&
      p(0).getAs[Long]("vocab") <= p(1).getAs[Long]("vocab")))
    val beta = last.getAs[Double]("beta")
    assert(beta > 0.0 && beta < 1.0, s"beta $beta")
    // fit columns repeat on every row
    assert(out.forall(_.getAs[Double]("beta") == beta))
  }

  test("averagePrecisionByGroup matches sklearn on the 4-point example") {
    import spark.implicits._
    // scores desc labels (1,0,1,0): AP = 0.5·1 + 0.5·(2/3) = 5/6
    val df = Seq(("g", 4.0, true), ("g", 3.0, false),
      ("g", 2.0, true), ("g", 1.0, false)).toDF("grp", "s", "y")
    val r = Evaluation.averagePrecisionByGroup(df, Seq("grp"), "y", "s")
      .head()
    assert(math.abs(r.getAs[Double]("avg_precision") - 5.0 / 6.0) < 1e-6)
    assert(r.getAs[Long]("n_pos") == 2L && r.getAs[Long]("n_neg") == 2L)
    // tie block: scores (1,1) labels (1,0) → single threshold,
    // P = 0.5 at R = 1 → AP = 0.5
    val tie = Seq(("t", 1.0, true), ("t", 1.0, false)).toDF("grp", "s", "y")
    val rt = Evaluation.averagePrecisionByGroup(tie, Seq("grp"), "y", "s")
      .head()
    assert(math.abs(rt.getAs[Double]("avg_precision") - 0.5) < 1e-9)
    // single-class group omitted
    val one = Seq(("o", 1.0, true)).toDF("grp", "s", "y")
    assert(Evaluation.averagePrecisionByGroup(
      one, Seq("grp"), "y", "s").count() == 0L)
  }

  test("pettittByKey finds the level break and its rank statistic") {
    import spark.implicits._
    // 1,2,3 | 10,11,12: ranks 1..6, U = (-5,-8,-9,-8,-5), K = 9 at
    // the third period (p = 2)
    val df = Seq(1.0, 2.0, 3.0, 10.0, 11.0, 12.0).zipWithIndex
      .map { case (v, i) => ("k", i.toLong * 10L, v) }
      .toDF("key", "ts", "v")
    val r = Features.pettittByKey(df, "key", "ts", "v",
      periodUnit = 10L).head()
    assert(r.getAs[Long]("n") == 6L)
    assert(r.getAs[Long]("k_stat") == 9L)
    assert(r.getAs[Long]("cp_period") == 2L)
    val pExp = math.min(1.0,
      2.0 * math.exp(-6.0 * 81.0 / (216.0 + 36.0)))
    assert(math.abs(r.getAs[Double]("p_value") - pExp) < 1e-5)
    // a flat series has K = 0 (avg ranks make every U_t exactly 0)
    // and p capped at 1
    val flat = Seq.tabulate(4)(i => ("k", i.toLong * 10L, 5.0))
      .toDF("key", "ts", "v")
    val rf = Features.pettittByKey(flat, "key", "ts", "v",
      periodUnit = 10L).head()
    assert(rf.getAs[Long]("k_stat") == 0L)
    assert(rf.getAs[Double]("p_value") == 1.0)
  }

  test("kpssByKey matches the hand-computed lag-0 statistic") {
    import spark.implicits._
    // x = 1..4: e = (-1.5,-.5,.5,1.5), S = (-1.5,-2,-1.5,0),
    // sum S^2 = 8.5, gamma0 = 1.25, eta = 8.5/(16*1.25) = 0.425
    val df = Seq.tabulate(4)(i => ("k", i.toLong * 10L, (i + 1).toDouble))
      .toDF("key", "ts", "v")
    val r = Features.kpssByKey(df, "key", "ts", "v",
      periodUnit = 10L, lags = 0).head()
    assert(r.getAs[Long]("n") == 4L)
    assert(r.getAs[Double]("kpss_stat") == 0.425)
    assert(r.getAs[Double]("s2_lrv") == 1.25)
    // constant series -> zero long-run variance -> omitted
    val flat = Seq.tabulate(4)(i => ("k", i.toLong * 10L, 2.0))
      .toDF("key", "ts", "v")
    assert(Features.kpssByKey(flat, "key", "ts", "v",
      periodUnit = 10L, lags = 0).count() == 0L)
  }

  test("runsTestByKey counts runs against the type-7 median") {
    import spark.implicits._
    // 1,9,2,8,3,7 (median 5): signs B,A,B,A,B,A -> 6 runs, n1=n2=3;
    // mu = 4, sigma^2 = 6/5, z = (6-4)/sqrt(1.2)
    val df = Seq(1.0, 9.0, 2.0, 8.0, 3.0, 7.0).zipWithIndex
      .map { case (v, i) => ("k", i.toLong * 10L, v) }
      .toDF("key", "ts", "v")
    val r = Features.runsTestByKey(df, "key", "ts", "v",
      periodUnit = 10L).head()
    assert(r.getAs[Long]("n_runs") == 6L)
    assert(r.getAs[Long]("n1") == 3L && r.getAs[Long]("n2") == 3L)
    val zExp = math.rint(2.0 / math.sqrt(1.2) * 1e6) / 1e6
    assert(r.getAs[Double]("z") == zExp)
    // equal-to-median values are dropped: 1,5,9,5,2,8 keeps 4 points
    val eq = Seq(1.0, 5.0, 9.0, 5.0, 2.0, 8.0).zipWithIndex
      .map { case (v, i) => ("k", i.toLong * 10L, v) }
      .toDF("key", "ts", "v")
    val re = Features.runsTestByKey(eq, "key", "ts", "v",
      periodUnit = 10L).head()
    assert(re.getAs[Long]("n1") + re.getAs[Long]("n2") == 4L)
    // one-sided series (all above/below after the drop) are omitted
    val onesided = Seq(("k", 0L, 1.0), ("k", 10L, 1.0), ("k", 20L, 2.0))
      .toDF("key", "ts", "v")
    assert(Features.runsTestByKey(onesided, "key", "ts", "v",
      periodUnit = 10L).count() == 0L)
  }

  test("mediation recovers the exact Hadamard pathway split") {
    import spark.implicits._
    // x = h1, m = h1 + h2, y = m + h3 (orthogonal ±1 designs):
    // a = 1, b = 1, c' = 0, c = 1 = c' + a·b, full mediation
    val h1 = Seq(1, 1, 1, 1, -1, -1, -1, -1).map(_.toDouble)
    val h2 = Seq(1, 1, -1, -1, 1, 1, -1, -1).map(_.toDouble)
    val h3 = Seq(1, -1, 1, -1, 1, -1, 1, -1).map(_.toDouble)
    val df = (0 until 8).map(i =>
      (h1(i), h1(i) + h2(i), h1(i) + h2(i) + h3(i)))
      .toDF("x", "m", "y")
    val r = Regression.mediation(df, "x", "m", "y").head()
    assert(r.getAs[Double]("a") == 1.0)
    assert(r.getAs[Double]("b") == 1.0)
    assert(r.getAs[Double]("c") == 1.0)
    assert(r.getAs[Double]("c_prime") == 0.0)
    assert(r.getAs[Double]("indirect") == 1.0)
    assert(r.getAs[Double]("prop_mediated") == 1.0)
    // sobel = 1/√(s2f·vx/(n·det) + s2a/(n·vx)) = 1/√(0.2 + 1/6)
    val exp = 1.0 / math.sqrt(0.2 + 1.0 / 6.0)
    assert(math.abs(r.getAs[Double]("sobel_z") - exp) < 1e-5)
  }

  test("binnedResponse steps with the threshold response") {
    import spark.implicits._
    val df = (1 to 10).map(i =>
      (i.toDouble, if (i >= 6) 1.0 else 0.0)).toDF("x", "y")
    val r = Ranks.binnedResponse(df, "x", "y", bins = 2)
      .collect().map(x => x.getAs[Long]("bucket") -> x).toMap
    assert(r(1L).getAs[Double]("x_mean") == 3.0)
    assert(r(1L).getAs[Double]("y_mean") == 0.0)
    assert(r(2L).getAs[Double]("x_mean") == 8.0)
    assert(r(2L).getAs[Double]("y_mean") == 1.0)
    // constant response within a bucket: CI collapses to the mean
    assert(r(2L).getAs[Double]("ci_lo") == 1.0)
    assert(r(2L).getAs[Double]("ci_hi") == 1.0)
  }

  test("mmrRerank trades relevance for diversity") {
    import spark.implicits._
    // id1 near the query, id2 a near-duplicate of id1, id3 distinct:
    // plain top-2 = {1, 2}; MMR's second pick prefers the distinct 3
    val df = Seq(
      (1L, Seq(0.9f, 0.1f)), (2L, Seq(0.9f, 0.11f)),
      (3L, Seq(0.5f, -0.5f))).toDF("vec_id", "embedding")
    val r = Similarity.mmrRerank(df, "vec_id", "embedding",
      query = Array(1.0f, 0.0f), poolK = 3, selectK = 2,
      lambda = 0.5).collect()
    assert(r.map(_.getAs[Long]("id")).toSeq == Seq(1L, 3L))
    assert(r(0).getAs[Long]("rank") == 1L)
    // the first pick's mmr is exactly half its relevance (no penalty)
    val rel1 = r(0).getAs[Double]("relevance")
    assert(r(0).getAs[Double]("mmr_score") ==
      math.rint(0.5 * rel1 * 1e6) / 1e6)
    // lambda = 1 degenerates to plain relevance ranking: {1, 2}
    val plain = Similarity.mmrRerank(df, "vec_id", "embedding",
      query = Array(1.0f, 0.0f), poolK = 3, selectK = 2, lambda = 1.0)
      .collect().map(_.getAs[Long]("id")).toSeq
    assert(plain == Seq(1L, 2L))
  }

  test("clusterRobustOls widens the SE for cluster-correlated errors") {
    import spark.implicits._
    // A: (0,0),(1,2); B: (0,4),(1,5) -> beta = 1.5, meat = 0.125,
    // CR1 = 0.375, se_cluster = √0.375, se_iid = 2.5
    val df = Seq(("A", 0.0, 0.0), ("A", 1.0, 2.0),
      ("B", 0.0, 4.0), ("B", 1.0, 5.0)).toDF("g", "x", "y")
    val r = Regression.clusterRobustOls(df, "g", "y", "x").head()
    assert(r.getAs[Long]("n") == 4L && r.getAs[Long]("n_clusters") == 2L)
    assert(r.getAs[Double]("beta") == 1.5)
    assert(r.getAs[Double]("se_iid") == 2.5)
    assert(math.abs(r.getAs[Double]("se_cluster") -
      math.sqrt(0.375)) < 1e-6)
    assert(math.abs(r.getAs[Double]("t_cluster") -
      1.5 / math.sqrt(0.375)) < 1e-5)
  }

  test("trigramLogProb walks all three stupid-backoff branches") {
    import spark.implicits._
    // corpus tokens: a b c d | a b x  (N = 7, c(a) = 2, c("a b") = 2)
    val corpus = Seq((1L, "a b c d"), (2L, "a b x"))
      .toDF("doc_id", "text")
    val slice = Seq(
      (10L, "a b c"),  // trigram seen: p = c(abc)/c(ab) = 1/2
      (11L, "x a b"),  // backoff bigram: p = 0.4·c(ab)/c(a) = 0.4
      (12L, "c d a")   // unigram floor: p = 0.16·c(a)/N
    ).toDF("doc_id", "text")
    val r = TextOps.trigramLogProb(corpus, slice, "doc_id", "text")
      .collect().map(x => x.getAs[Long]("id") ->
        x.getAs[Double]("mean_logprob")).toMap
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    assert(r(10L) == r6(math.log(0.5)))
    assert(r(11L) == r6(math.log(0.4)))
    assert(r(12L) == r6(math.log(0.4 * 0.4 * 2.0 / 7.0)))
  }

  test("truncationRecall penalizes tail-dimension divergence") {
    import spark.implicits._
    val df = Seq(
      (0L, Seq(1.0f, 0.0f)),
      (1L, Seq(1.0f, 0.0f)),
      (2L, Seq(0.5f, 10.0f)),
      (3L, Seq(0.6f, 8.0f)),
      (4L, Seq(-1.0f, 0.0f))).toDF("vec_id", "embedding")
    // full top-2 for q=(1,0): {1, 3}; 1-dim truncation ties all the
    // positive-x rows at cos 1.0 -> id order picks {1, 2} -> recall .5
    val r = Similarity.truncationRecall(df, "vec_id", "embedding",
      queryIds = Seq(0L), dims = 1, k = 2).head()
    assert(r.getAs[Long]("query_id") == 0L)
    assert(r.getAs[Long]("n_overlap") == 1L)
    assert(r.getAs[Double]("recall") == 0.5)
    // with both dimensions kept, retrieval is identical: recall 1
    val full = Similarity.truncationRecall(df, "vec_id", "embedding",
      queryIds = Seq(0L), dims = 2, k = 2).head()
    assert(full.getAs[Double]("recall") == 1.0)
  }

  test("procrustesAlign recovers an exact planar rotation") {
    import spark.implicits._
    val pts = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0), Seq(-1.0, 0.0),
      Seq(2.0, 3.0))
    val a = pts.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "emb")
    // B = A rotated 90°: (x, y) -> (-y, x)
    val b = pts.zipWithIndex.map { case (v, i) =>
      (i.toLong, Seq(-v(1), v(0)))
    }.toDF("id", "emb")
    val r = Pca.procrustesAlign(a, "id", "emb", b, "id", "emb").head()
    assert(r.getAs[Long]("n") == 4L && r.getAs[Long]("d") == 2L)
    assert(r.getAs[Double]("err_before") > 0.0)
    assert(r.getAs[Boolean]("orthogonal_ok"))
    assert(r.getAs[Boolean]("improved"))
    assert(r.getAs[Boolean]("recovered"))
    // already-aligned spaces: zero error before AND after
    val same = Pca.procrustesAlign(a, "id", "emb", a, "id", "emb")
      .head()
    assert(same.getAs[Double]("err_before") == 0.0)
    assert(same.getAs[Boolean]("recovered"))
  }

  test("bayesAb reproduces the exact Beta-sum posterior") {
    import spark.implicits._
    // a: 1/2, b: 2/2 -> P(p_b > p_a) = ∫ 3b²(3b²-2b³)db = 0.8
    val df = Seq(("a", true), ("a", false), ("b", true), ("b", true))
      .toDF("g", "y")
    val r = Experiments.bayesAb(df, "g", "y", "a", "b").head()
    assert(r.getAs[Long]("n_a") == 2L && r.getAs[Long]("s_b") == 2L)
    assert(math.abs(r.getAs[Double]("prob_b_beats_a") - 0.8) < 1e-6)
    assert(r.getAs[Double]("uplift") == 0.25)
    // symmetry: equal evidence -> exactly the complement mass split
    val eq = Seq(("a", true), ("a", false), ("b", true), ("b", false))
      .toDF("g", "y")
    val re = Experiments.bayesAb(eq, "g", "y", "a", "b").head()
    assert(re.getAs[Double]("prob_b_beats_a") == 0.5)
  }

  test("pacfByKey unrolls Durbin-Levinson on the linear ramp") {
    import spark.implicits._
    // x = 1..6: r1 = .5, r2 = 1/17.5, r3 = -4.75/17.5 ->
    // pacf_2 = -0.257143, pacf_3 ≈ -0.255246
    val df = (1 to 6).map(t => ("k", t.toLong, t.toDouble))
      .toDF("key", "ts", "v")
    val r = Features.pacfByKey(df, "key", "ts", "v").head()
    assert(r.getAs[Double]("pacf_1") == 0.5)
    assert(math.abs(r.getAs[Double]("pacf_2") - (-0.257143)) < 1e-5)
    assert(math.abs(r.getAs[Double]("pacf_3") - (-0.255246)) < 1e-5)
  }

  test("arFitByKey solves Yule-Walker on the linear ramp") {
    import spark.implicits._
    // x = 1..6 (periodUnit 1): mu = 3.5, ss = 17.5, r1 = 0.5,
    // r2 = 1/17.5 — AR(1): phi = 0.5, sigma2 = c0(1 - 0.25) = 2.1875,
    // forecast = 3.5 + 0.5*2.5 = 4.75
    val df = (1 to 6).map(t => ("k", t.toLong, t.toDouble))
      .toDF("key", "ts", "v")
    val r1 = Features.arFitByKey(df, "key", "ts", "v",
      periodUnit = 1L, p = 1).head()
    assert(r1.getAs[Long]("n_periods") == 6L)
    assert(r1.getAs[Double]("mean") == 3.5)
    assert(r1.getAs[Double]("phi_1") == 0.5)
    assert(r1.getAs[Double]("sigma2") == 2.1875)
    assert(r1.getAs[Double]("forecast") == 4.75)
    // AR(2) closed forms on the same sums: phi1 = r1(1-r2)/(1-r1^2),
    // phi2 = (r2-r1^2)/(1-r1^2) = pacf_2
    val r2 = Features.arFitByKey(df, "key", "ts", "v",
      periodUnit = 1L, p = 2).head()
    assert(math.abs(r2.getAs[Double]("phi_1") - 0.628571) < 1e-6)
    assert(math.abs(r2.getAs[Double]("phi_2") - (-0.257143)) < 1e-6)
    assert(math.abs(r2.getAs[Double]("forecast") - 4.685714) < 1e-6)
    // AR(3) phi_3 equals pacf_3 (last Durbin-Levinson coefficient)
    val r3 = Features.arFitByKey(df, "key", "ts", "v",
      periodUnit = 1L, p = 3).head()
    assert(math.abs(r3.getAs[Double]("phi_3") - (-0.255246)) < 1e-5)
    // too-short keys are omitted (n >= p+2)
    val short = (1 to 3).map(t => ("s", t.toLong, t.toDouble))
      .toDF("key", "ts", "v")
    assert(Features.arFitByKey(short, "key", "ts", "v", 1L, p = 2)
      .count() == 0L)
  }

  test("arFittedByKey one-step predictions feed the accuracy fold") {
    import spark.implicits._
    val df = (1 to 6).map(t => ("k", t.toLong, t.toDouble))
      .toDF("key", "ts", "v")
    val fitted = Features.arFittedByKey(df, "key", "ts", "v",
      periodUnit = 1L, p = 1)
      .orderBy("period").collect()
    assert(fitted.length == 6)
    assert(fitted.head.isNullAt(fitted.head.fieldIndex("fitted")),
      "first period has no lag")
    // fitted_t = 3.5 + 0.5*d_{t-1}: t=2 -> 2.25, t=6 -> 4.25
    assert(fitted(1).getAs[Double]("fitted") == 2.25)
    assert(fitted(5).getAs[Double]("fitted") == 4.25)
    val acc = Features.forecastAccuracyByKey(
      Features.arFittedByKey(df, "key", "ts", "v", 1L, p = 1),
      "key", "period", "v", "fitted", seasonLag = 1).head()
    assert(acc.getAs[Long]("n_scored") == 5L)
    // errors 0.25, 0.25, 0.75, 1.25, 1.75 -> mae 0.85; naive mae = 1.0
    assert(acc.getAs[Double]("mae") == 0.85)
    assert(acc.getAs[Double]("mase") == 0.85)
  }

  test("cca2x2 recovers the Hadamard-design canonical pair") {
    import spark.implicits._
    // orthogonal ±1 design: x-block (h1, h2), y-block (h1+2·h3,
    // h2+h4) -> M = diag(1/5, 1/2), rho = (√.5, √.2)
    val h1 = Seq(1, 1, 1, 1, -1, -1, -1, -1).map(_.toDouble)
    val h2 = Seq(1, 1, -1, -1, 1, 1, -1, -1).map(_.toDouble)
    val h3 = Seq(1, -1, 1, -1, 1, -1, 1, -1).map(_.toDouble)
    val h4 = Seq(1, -1, -1, 1, -1, 1, 1, -1).map(_.toDouble)
    val df = (0 until 8).map(i =>
      (h1(i), h2(i), h1(i) + 2.0 * h3(i), h2(i) + h4(i)))
      .toDF("x1", "x2", "y1", "y2")
    val r = Regression.cca2x2(df, "x1", "x2", "y1", "y2").head()
    assert(math.abs(r.getAs[Double]("rho1") - math.sqrt(0.5)) < 1e-6)
    assert(math.abs(r.getAs[Double]("rho2") - math.sqrt(0.2)) < 1e-6)
    assert(r.getAs[Double]("lambda1") == 0.5)
    assert(r.getAs[Double]("lambda2") == 0.2)
  }

  test("kitagawa splits the gap into exact mix and rate effects") {
    import spark.implicits._
    // a: X=(1,1), Y=(3,3); b: X=(2), Y=(4,4,4)
    // gap = 1.5 = mix 0.5 + rate 1.0, residual 0
    val df = Seq(
      ("a", "X", 1.0), ("a", "X", 1.0), ("a", "Y", 3.0),
      ("a", "Y", 3.0),
      ("b", "X", 2.0), ("b", "Y", 4.0), ("b", "Y", 4.0),
      ("b", "Y", 4.0)).toDF("g", "s", "v")
    val r = Experiments.kitagawa(df, "g", "a", "b", "s", "v").head()
    assert(r.getAs[Double]("mean_a") == 2.0)
    assert(r.getAs[Double]("mean_b") == 3.5)
    assert(r.getAs[Double]("gap") == 1.5)
    assert(r.getAs[Double]("mix_effect") == 0.5)
    assert(r.getAs[Double]("rate_effect") == 1.0)
    assert(r.getAs[Double]("residual") == 0.0)
    assert(r.getAs[Long]("n_common") == 2L)
  }

  test("meanResidualLife divides the remaining area by survival") {
    import spark.implicits._
    // events at 1..4, tau 10: rmst = 2.5; mrl = 2.0, 1.5, 1.0, null
    val df = Seq(1.0, 2.0, 3.0, 4.0).map(("g", _, true))
      .toDF("g", "t0", "ev")
    val r = Survival.meanResidualLife(df, "t0", "ev", Seq("g"),
        tau = 10.0)
      .collect().map(x => x.getAs[Double]("t") -> x).toMap
    assert(r(1.0).getAs[Double]("mrl") == 2.0)
    assert(r(2.0).getAs[Double]("mrl") == 1.5)
    assert(r(3.0).getAs[Double]("mrl") == 1.0)
    assert(r(4.0).isNullAt(r(4.0).fieldIndex("mrl")))
  }

  test("gumbelByGroup fits the hand-computed block maxima") {
    import spark.implicits._
    // block maxima 1, 2, 3: m = 2, s = 1 -> beta = √6/π,
    // mu = 2 − γ·beta, rl(2) = mu − beta·ln(−ln(1/2))
    val df = Seq(("g", 1L, 0.5), ("g", 1L, 1.0), ("g", 2L, 2.0),
      ("g", 3L, 1.0), ("g", 3L, 3.0)).toDF("g", "day", "v")
    val r = StatTests.gumbelByGroup(df, Seq("g"), "day", "v",
      returnPeriod = 2).head()
    assert(r.getAs[Long]("n_blocks") == 3L)
    val beta = math.sqrt(6.0) / math.Pi
    val mu = 2.0 - beta * 0.5772156649015329
    val rl = mu - beta * math.log(-math.log(0.5))
    assert(math.abs(r.getAs[Double]("beta") - beta) < 1e-6)
    assert(math.abs(r.getAs[Double]("mu") - mu) < 1e-6)
    assert(math.abs(r.getAs[Double]("return_level") - rl) < 1e-6)
    // fewer than 3 blocks -> omitted
    val tiny = Seq(("g", 1L, 1.0), ("g", 2L, 2.0)).toDF("g", "day", "v")
    assert(StatTests.gumbelByGroup(tiny, Seq("g"), "day", "v",
      returnPeriod = 2).count() == 0L)
  }

  test("conditionalSurvival is the as-of KM ratio") {
    import spark.implicits._
    // events at 1,2,3,4: S = .75, .5, .25, 0
    val df = Seq(1.0, 2.0, 3.0, 4.0).map(("g", _, true))
      .toDF("g", "t0", "ev")
    val r = Survival.conditionalSurvival(df, "t0", "ev", Seq("g"),
        anchors = Seq(0.5, 1.0), horizon = 2.0)
      .collect().map(x => x.getAs[Double]("anchor") -> x).toMap
    // anchor before the first event: S = 1, S(2.5) = S(2) = .5
    assert(r(0.5).getAs[Double]("s_anchor") == 1.0)
    assert(r(0.5).getAs[Double]("s_horizon") == 0.5)
    assert(r(0.5).getAs[Double]("cond_survival") == 0.5)
    // anchor 1: S(1) = .75, S(3) = .25 -> conditional 1/3
    assert(r(1.0).getAs[Double]("s_anchor") == 0.75)
    assert(r(1.0).getAs[Double]("s_horizon") == 0.25)
    assert(r(1.0).getAs[Double]("cond_survival") ==
      math.rint(1e6 / 3.0) / 1e6)
  }

  test("rmstDiff integrates the step curves and pools the variance") {
    import spark.implicits._
    // a: events at 1,2,3 -> RMST(10) = 1 + 2/3 + 1/3 = 2
    // b: events at 2,4,6 -> RMST(10) = 2 + 4/3 + 2/3 = 4
    val df = (Seq(1.0, 2.0, 3.0).map(("a", _)) ++
      Seq(2.0, 4.0, 6.0).map(("b", _))).map { case (g, t) =>
      (g, t, true)
    }.toDF("g", "t0", "ev")
    val r = Survival.rmstDiff(df, "t0", "ev", "g", "a", "b",
      tau = 10.0).head()
    assert(r.getAs[Double]("rmst_a") == 2.0)
    assert(r.getAs[Double]("rmst_b") == 4.0)
    assert(r.getAs[Double]("diff") == 2.0)
    assert(r.getAs[Long]("n_a") == 3L && r.getAs[Long]("n_b") == 3L)
    // var_a = 1/6 + (1/3)²/2, var_b = 4/6 + (2/3)²/2 -> z ≈ 1.897
    assert(r.getAs[Double]("z_stat") > 1.8 &&
      r.getAs[Double]("z_stat") < 2.0)
    assert(r.getAs[Double]("p_value") > 0.0 &&
      r.getAs[Double]("p_value") < 0.1)
  }

  test("hurstByKey reads a pure trend as strongly persistent") {
    import spark.implicits._
    // x_t = t over 16 periods: every m-block is the same centered
    // ramp -> R/S(4) = 2/√1.25, R/S(8) = 8/√5.25, H ≈ 0.965
    val df = (0 until 16).map(t => ("k", t.toLong, t.toDouble))
      .toDF("key", "ts", "v")
    val r = Features.hurstByKey(df, "key", "ts", "v",
        periodUnit = 1L, sizes = Seq(4, 8))
      .collect().map(x => x.getAs[Long]("size") -> x).toMap
    assert(r(4L).getAs[Long]("n_blocks") == 4L)
    assert(r(8L).getAs[Long]("n_blocks") == 2L)
    assert(math.abs(r(4L).getAs[Double]("rs_mean") -
      2.0 / math.sqrt(1.25)) < 1e-5)
    assert(math.abs(r(8L).getAs[Double]("rs_mean") -
      8.0 / math.sqrt(5.25)) < 1e-5)
    val h = r(4L).getAs[Double]("hurst")
    assert(h > 0.9 && h < 1.0)
    assert(r(8L).getAs[Double]("hurst") == h)
  }

  test("silhouetteByLabel scores separated clusters near 1") {
    import spark.implicits._
    // label 0 straddles (0,0), label 1 straddles (10,0): a = 1 for
    // every point, b = 9 or 11 -> mean s = (8/9 + 10/11)/2 ≈ 0.899
    val df = Seq(
      (1L, Seq(-1.0f, 0.0f), 0), (2L, Seq(1.0f, 0.0f), 0),
      (3L, Seq(9.0f, 0.0f), 1), (4L, Seq(11.0f, 0.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val r = Clustering.silhouetteByLabel(df, "vec_id", "embedding",
        "label")
      .collect().map(x => x.getAs[String]("label") -> x).toMap
    assert(r("0").getAs[Double]("a_mean") == 1.0)
    assert(r("0").getAs[Double]("silhouette") > 0.85)
    assert(r("1").getAs[Double]("silhouette") > 0.85)
    val exp = math.rint((8.0 / 9.0 + 10.0 / 11.0) / 2.0 * 1e6) / 1e6
    assert(math.abs(r("0").getAs[Double]("silhouette") - exp) < 1e-6)
  }

  test("textRank centralizes the hub token of a star graph") {
    import spark.implicits._
    // window-1 pairs of "a b a c": undirected a-b, a-c; after 2
    // rounds a = 0.15+0.85*2*0.575 = 1.1275, b = c = 0.93625
    val docs = Seq((1L, "a b a c")).toDF("doc_id", "text")
    val r = TextOps.textRank(docs, "doc_id", "text",
      window = 1, iters = 2, k = 3).collect()
    assert(r.head.getAs[String]("token") == "a")
    assert(r.head.getAs[Double]("rank") == 1.1275)
    assert(r.tail.forall(_.getAs[Double]("rank") == 0.93625)
      && r.tail.map(_.getAs[String]("token")).toSeq == Seq("b", "c"))
  }

  test("candidateKeys separates real keys from duplicated columns") {
    import spark.implicits._
    val df = Seq((1, 1), (1, 2), (2, 1)).toDF("a", "b")
    val r = Validation.candidateKeys(df, Seq(Seq("a"), Seq("a", "b")))
      .collect().map(x => x.getAs[String]("key_cols") -> x).toMap
    assert(!r("a").getAs[Boolean]("is_key"))
    assert(r("a").getAs[Long]("n_distinct") == 2L)
    assert(r("a").getAs[Long]("n_dup_rows") == 2L)
    assert(r("a,b").getAs[Boolean]("is_key"))
    assert(r("a,b").getAs[Long]("n_dup_rows") == 0L)
  }

  test("functionalDependency counts violating determinant groups") {
    import spark.implicits._
    val bad = Seq((1, "x"), (1, "x"), (2, "y"), (2, "z")).toDF("d", "v")
    val r = Validation.functionalDependency(bad, Seq("d"), "v").head()
    assert(r.getAs[Long]("n_det_groups") == 2L)
    assert(r.getAs[Long]("n_violating_groups") == 1L)
    assert(r.getAs[Long]("max_dep_card") == 2L)
    assert(!r.getAs[Boolean]("holds"))
    val good = Seq((1, "x"), (1, "x"), (2, "y")).toDF("d", "v")
    assert(Validation.functionalDependency(good, Seq("d"), "v")
      .head().getAs[Boolean]("holds"))
  }

  test("inequalityByGroup is zero for equal values, positive for skew") {
    import spark.implicits._
    val eq = Seq.fill(4)(("g", 2.0)).toDF("g", "v")
    val re = Ranks.inequalityByGroup(eq, Seq("g"), "v").head()
    assert(re.getAs[Double]("theil_t") == 0.0)
    assert(re.getAs[Double]("atkinson_1") == 0.0)
    assert(re.getAs[Double]("cv") == 0.0)
    val sk = Seq(("g", 1.0), ("g", 1.0), ("g", 1.0), ("g", 97.0))
      .toDF("g", "v")
    val rs = Ranks.inequalityByGroup(sk, Seq("g"), "v").head()
    assert(rs.getAs[Double]("theil_t") > 0.5)
    assert(rs.getAs[Double]("atkinson_1") > 0.5 &&
      rs.getAs[Double]("atkinson_1") < 1.0)
    assert(rs.getAs[Double]("cv") > 1.0)
    // non-positive values are excluded (ln x needs x > 0)
    val mixed = Seq(("g", 0.0), ("g", 2.0), ("g", 2.0)).toDF("g", "v")
    assert(Ranks.inequalityByGroup(mixed, Seq("g"), "v")
      .head().getAs[Long]("n") == 2L)
  }

  test("periodogramByKey concentrates a pure cosine's power at freq 1") {
    import spark.implicits._
    val df = (0 until 8).map(t =>
      ("k", t.toLong, math.cos(2.0 * math.Pi * t / 8.0)))
      .toDF("key", "ts", "v")
    val p = Features.periodogramByKey(df, "key", "ts", "v",
        periodUnit = 1L, maxFreq = 3)
      .collect().map(r => r.getAs[Long]("freq") ->
        r.getAs[Double]("power")).toMap
    // a_1 = n/2 = 4 -> P(1) = 16/8 = 2; other bins ~0 (the 1e-4 slack
    // absorbs the decimal(38,6) cell rounding)
    assert(math.abs(p(1L) - 2.0) < 1e-4)
    assert(p(2L) < 1e-4 && p(3L) < 1e-4)
  }

  test("zipMomentsByGroup inverts the hand-computed mixture moments") {
    import spark.implicits._
    // counts (0,0,0,2,2,2): m = 1, s² = 1.2 -> λ = 1.2, π = 1/6
    val df = Seq(0, 0, 0, 2, 2, 2).map(("g", _)).toDF("g", "c")
    val r = StatTests.zipMomentsByGroup(df, Seq("g"), "c").head()
    assert(r.getAs[Long]("n") == 6L)
    assert(r.getAs[Double]("mean") == 1.0)
    assert(r.getAs[Double]("variance") == 1.2)
    assert(r.getAs[Double]("lambda") == 1.2)
    assert(r.getAs[Double]("pi") == math.rint(1e6 / 6.0) / 1e6)
    // equidispersed counts are omitted (plain Poisson fits them)
    val eq = Seq(0, 1, 2).map(("g", _)).toDF("g", "c")
    assert(StatTests.zipMomentsByGroup(eq, Seq("g"), "c").count() == 0L)
  }

  test("ecodScore ranks the marginal-tail extremes first") {
    import spark.implicits._
    val df = (1 to 5).map(v => (v.toLong, v.toDouble)).toDF("id", "x")
    val top = Outliers.ecodScore(df, "id", Seq("x"), topK = 2)
      .collect()
    // both extremes score ln 5; the id tie-break puts 1 before 5
    assert(top.map(_.getAs[Long]("id")).toSeq == Seq(1L, 5L))
    val ln5 = math.rint(math.log(5.0) * 1e6) / 1e6
    assert(top.forall(_.getAs[Double]("score") == ln5))
    // the min's tail is all-left, the max's all-right
    assert(top(0).getAs[Double]("s_left") == ln5)
    assert(top(0).getAs[Double]("s_right") == 0.0)
    assert(top(1).getAs[Double]("s_right") == ln5)
  }

  test("sequencePatterns counts distinct-user support for shared grams") {
    import spark.implicits._
    val ev = Seq(
      ("a", 1L, "x"), ("a", 2L, "y"), ("a", 3L, "z"),
      ("a", 4L, "x"), ("a", 5L, "y"),
      ("b", 1L, "x"), ("b", 2L, "y"), ("b", 3L, "q"))
      .toDF("u", "ts", "tok")
    val r = Cohorts.sequencePatterns(ev, "u", "ts", "tok",
      size = 2, minSupport = 2L, topK = 5).collect()
    // only x>y recurs across users: support 2, occurrences 3
    assert(r.length == 1)
    assert(r(0).getAs[String]("pattern") == "x>y")
    assert(r(0).getAs[Long]("support") == 2L)
    assert(r(0).getAs[Long]("occurrences") == 3L)
  }

  test("countMin sketch never under-counts and is exact at low load") {
    import spark.implicits._
    val df = (Seq.fill(5)("a") ++ Seq.fill(3)("b") ++ Seq("c"))
      .toDF("k")
    val sk = Sketches.countMinBuild(df, "k", depth = 4, width = 64)
    assert(sk.count() <= 4L * 64L)
    val probes = Seq("a", "b", "c", "zzz").toDF("k")
    val est = Sketches.countMinEstimate(sk, probes, "k",
        depth = 4, width = 64)
      .collect().map(r => r.getAs[String]("key") ->
        r.getAs[Long]("est")).toMap
    // 9 keys in 64 buckets × 4 rows: collisions possible in one row,
    // but min-of-rows is exact here and NEVER below the true count
    assert(est("a") >= 5L && est("b") >= 3L && est("c") >= 1L)
    assert(est("a") == 5L && est("b") == 3L && est("c") == 1L)
    // an absent key can only over-count (0 when all its cells are empty)
    assert(est("zzz") >= 0L)
  }

  test("personalizedPageRank pins the teleport mass to the seeds") {
    import spark.implicits._
    // undirected star centered at a; seed {a}, one round:
    // a = 0.15·1 + 0.85·(0+0) = 0.15, b = c = 0.85·(1/2) = 0.425
    val e = Seq(("a", "b"), ("a", "c"), ("b", "a"), ("c", "a"))
      .toDF("src", "dst")
    val seeds = Seq("a").toDF("node")
    val r = Graph.personalizedPageRank(e, "src", "dst", seeds, "node",
        iters = 1)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(math.abs(r("a") - 0.15) < 1e-12)
    assert(math.abs(r("b") - 0.425) < 1e-12)
    assert(math.abs(r("c") - 0.425) < 1e-12)
  }

  test("kCorePeel strips the pendant and keeps the triangle") {
    import spark.implicits._
    val e = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("d", "a"))
      .toDF("s", "t")
    val r = Graph.kCorePeel(e, "s", "t", k = 2, rounds = 3)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r == Map("a" -> 2L, "b" -> 2L, "c" -> 2L))
    // k above the graph's max core empties it
    assert(Graph.kCorePeel(e, "s", "t", k = 3, rounds = 3).count() == 0L)
  }

  test("fixedEffectsOls absorbs unit levels and pools one slope") {
    import spark.implicits._
    // two units, same within-shape, levels 10 apart:
    // beta = 1.5, se = 1/6, t = 9, within_r2 = 81/84
    val df = Seq(
      ("u1", 0.0, 0.0), ("u1", 1.0, 2.0), ("u1", 2.0, 3.0),
      ("u2", 0.0, 10.0), ("u2", 1.0, 12.0), ("u2", 2.0, 13.0))
      .toDF("u", "x", "y")
    val r = Regression.fixedEffectsOls(df, "u", "y", "x").head()
    assert(r.getAs[Long]("n") == 6L && r.getAs[Long]("n_units") == 2L)
    assert(r.getAs[Double]("beta") == 1.5)
    assert(r.getAs[Double]("se") == math.rint(1e6 / 6.0) / 1e6)
    assert(r.getAs[Double]("t_stat") == 9.0)
    assert(math.abs(r.getAs[Double]("within_r2") - 81.0 / 84.0) < 1e-6)
  }

  test("bfsHops walks the path graph and stops at maxHops") {
    import spark.implicits._
    val e = Seq(("a", "b"), ("b", "c"), ("c", "d")).toDF("src", "dst")
    val seeds = Seq("a").toDF("node")
    val d2 = Graph.bfsHops(e, "src", "dst", seeds, "node", maxHops = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(d2 == Map("a" -> 0L, "b" -> 1L, "c" -> 2L))
    // early stop: a generous cap still terminates when the frontier
    // empties, and a shorter path wins over a longer one
    val e2 = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("a", "d"))
      .toDF("src", "dst")
    val d10 = Graph.bfsHops(e2, "src", "dst", seeds, "node",
        maxHops = 10)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(d10 == Map("a" -> 0L, "b" -> 1L, "c" -> 2L, "d" -> 1L))
  }

  test("weightedKappa credits near misses quadratically") {
    import spark.implicits._
    // cells: (0,0)×2, (1,1)×1, (0,2)×1 → po=0.75, pe=11.5/16
    val df = Seq(("0", "0"), ("0", "0"), ("1", "1"), ("0", "2"))
      .toDF("a", "b")
    val r = Evaluation.weightedKappa(df, "a", "b", Seq("0", "1", "2"))
      .head()
    assert(r.getAs[Long]("n") == 4L)
    assert(math.abs(r.getAs[Double]("po_w") - 0.75) < 1e-9)
    assert(math.abs(r.getAs[Double]("pe_w") - 0.71875) < 1e-9)
    assert(math.abs(r.getAs[Double]("kappa_w") - 0.111111) < 1e-5)
  }

  test("neymanAllocation sends the budget to big noisy strata") {
    import spark.implicits._
    val df = (Seq(1.0, 2, 3).map(("a", _)) ++
      Seq(10.0, 20, 30).map(("b", _))).toDF("h", "v")
    val out = Sampling.neymanAllocation(df, "h", "v", budget = 60L)
      .collect().map(r => r.getAs[String]("stratum") -> r).toMap
    assert(math.abs(out("a").getAs[Double]("std") - 1.0) < 1e-9)
    assert(math.abs(out("b").getAs[Double]("std") - 10.0) < 1e-9)
    assert(math.abs(out("a").getAs[Double]("neyman_n") - 5.454545) < 1e-5)
    assert(math.abs(out("b").getAs[Double]("neyman_n") - 54.545455) < 1e-5)
    assert(math.abs(out("a").getAs[Double]("prop_n") - 30.0) < 1e-9)
    // Neyman strictly beats proportional on heteroskedastic strata
    assert(out("a").getAs[Double]("v_neyman") <
      out("a").getAs[Double]("v_prop"))
    assert(math.abs(out("a").getAs[Double]("v_neyman") - 0.504167) < 1e-5)
    assert(math.abs(out("a").getAs[Double]("v_prop") - 0.841667) < 1e-5)
  }

  test("captureRecapture: deterministic captures, sane estimates") {
    import spark.implicits._
    val df = (1L to 2000L).toDF("k")
    val r = Validation.captureRecapture(df, "k", pct = 30).head()
    assert(r.getAs[Long]("true_n") == 2000L)
    val n1 = r.getAs[Long]("n1"); val n2 = r.getAs[Long]("n2")
    assert(n1 > 450L && n1 < 750L && n2 > 450L && n2 < 750L)
    val chap = r.getAs[Double]("chapman")
    assert(chap > 1500.0 && chap < 2700.0)
    // md5-keyed: bit-identical on a second run
    val r2 = Validation.captureRecapture(df, "k", pct = 30).head()
    assert(r2.getAs[Double]("chapman") == chap)
  }

  test("entropyRate: a deterministic cycle is perfectly predictable") {
    import spark.implicits._
    // "a b a b a" → bigrams (a b)×2, (b a)×2: each context has ONE
    // continuation → H(w2|w1) = 0, perplexity 1
    val cyc = Seq((1L, "a b a b a")).toDF("doc_id", "text")
    val c = TextOps.entropyRate(cyc, "doc_id", "text").head()
    assert(c.getAs[Long]("n_bigrams") == 4L)
    assert(math.abs(c.getAs[Double]("h_rate")) < 1e-9)
    assert(math.abs(c.getAs[Double]("perplexity") - 1.0) < 1e-9)
    // "a a a b" style: context 'a' splits 50/50 → H = ln 2 weighted
    val mix = Seq((1L, "a a a b a a a b")).toDF("doc_id", "text")
    val m = TextOps.entropyRate(mix, "doc_id", "text").head()
    assert(m.getAs[Double]("h_rate") > 0.0)
    assert(m.getAs[Double]("perplexity") > 1.0)
  }

  test("hillNumbers: the diversity ladder on a skewed vocabulary") {
    import spark.implicits._
    val uniform = Seq("a a b b").toDF("text")
    val u = TextOps.hillNumbers(uniform, "text").head()
    assert(u.getAs[Long]("d0") == 2L)
    assert(math.abs(u.getAs[Double]("d1") - 2.0) < 1e-6)
    assert(math.abs(u.getAs[Double]("d2") - 2.0) < 1e-6)
    assert(math.abs(u.getAs[Double]("evenness") - 1.0) < 1e-6)
    val skewed = Seq("a a a b").toDF("text")
    val s = TextOps.hillNumbers(skewed, "text").head()
    assert(math.abs(s.getAs[Double]("d1") - 1.754765) < 1e-5)
    assert(math.abs(s.getAs[Double]("d2") - 1.6) < 1e-6)
  }

  test("jsdMatrix: half-shared vocabularies sit at JSD = ln2/2") {
    import spark.implicits._
    val df = Seq(("A", "a b"), ("B", "a c"), ("C", "a b"))
      .toDF("lang", "text")
    val out = TextOps.jsdMatrix(df, "lang", "text")
      .collect().map(r => (r.getAs[String]("slice_a"),
        r.getAs[String]("slice_b")) -> r).toMap
    val ab = out(("A", "B"))
    assert(ab.getAs[Long]("n_shared_words") == 1L)
    assert(math.abs(ab.getAs[Double]("jsd") - 0.346574) < 1e-5)
    assert(math.abs(ab.getAs[Double]("js_dist") - 0.588705) < 1e-5)
    // identical slices are at distance zero
    val ac = out(("A", "C"))
    assert(math.abs(ac.getAs[Double]("jsd")) < 1e-9)
    // disjoint vocabularies still appear, at the metric max JSD = ln 2
    val df2 = Seq(("A", "a b"), ("B", "c d")).toDF("lang", "text")
    val disj = TextOps.jsdMatrix(df2, "lang", "text").head()
    assert(disj.getAs[Long]("n_shared_words") == 0L)
    assert(math.abs(disj.getAs[Double]("jsd") - math.log(2.0)) < 1e-6)
  }

  test("longestStreakByKey: gaps-and-islands over above-mean days") {
    import spark.implicits._
    val day = 86400000000000L
    val vs = Seq(1.0, 5.0, 5.0, 1.0, 5.0, 1.0)
    val df = vs.zipWithIndex.map { case (v, d) =>
      ("k", d.toLong * day, v) }.toDF("key", "ts", "v")
    val r = Features.longestStreakByKey(df, "key", "ts", "v",
      periodUnit = day).head()
    assert(r.getAs[Long]("n_periods") == 6L)
    assert(r.getAs[Long]("n_above") == 3L)
    assert(r.getAs[Long]("longest_streak") == 2L)
    assert(r.getAs[Long]("streak_start") == 1L)
  }

  test("chao1: richness and coverage from the fof counts") {
    import spark.implicits._
    val df = Seq("a b c c", "d d").toDF("text")
    val r = TextOps.chao1(df, "text").head()
    assert(r.getAs[Long]("n_tokens") == 6L && r.getAs[Long]("vocab") == 4L)
    assert(r.getAs[Long]("f1") == 2L && r.getAs[Long]("f2") == 2L)
    // chao1 = 4 + 2·1/(2·3) = 4.333333, coverage = 1 − 2/6
    assert(math.abs(r.getAs[Double]("chao1") - 4.333333) < 1e-5)
    assert(math.abs(r.getAs[Double]("coverage") - 0.666667) < 1e-5)
  }

  test("rakeKeywords: co-occurrence degree beats bare frequency") {
    import spark.implicits._
    val docs = Seq("deep learning of data", "deep learning is the future",
      "data is good").toDF("text")
    val rows = TextOps.rakeKeywords(docs, "text", topK = 10).collect()
    // deg(deep)=deg(learning)=4, freq=2 → score 2 each → phrase 4.0
    val top = rows.head
    assert(top.getAs[String]("phrase") == "deep learning")
    assert(top.getAs[Long]("count") == 2L)
    assert(top.getAs[Long]("n_words") == 2L)
    assert(top.getAs[Double]("score") == 4.0)
    val data = rows.find(_.getAs[String]("phrase") == "data").get
    assert(data.getAs[Double]("score") == 1.0)
    assert(data.getAs[Long]("count") == 2L)
  }

  test("burstiness: repeat probability and VMR from exact counts") {
    import spark.implicits._
    val docs = Seq((1L, "x x x"), (2L, "x y"), (3L, "y"))
      .toDF("doc_id", "text")
    val out = TextOps.burstiness(docs, "doc_id", "text", topN = 10)
      .collect().map(r => r.getAs[String]("term") -> r).toMap
    val x = out("x")
    assert(x.getAs[Long]("total") == 4L && x.getAs[Long]("doc_freq") == 2L)
    assert(x.getAs[Long]("repeat_docs") == 1L)
    assert(math.abs(x.getAs[Double]("adaptation") - 0.5) < 1e-9)
    assert(math.abs(x.getAs[Double]("rate_in_docs") - 2.0) < 1e-9)
    // counts over all docs [3,1,0]: vmr = (14/9)/(4/3) = 7/6
    assert(math.abs(x.getAs[Double]("vmr") - 1.166667) < 1e-6)
    val y = out("y")
    assert(y.getAs[Long]("repeat_docs") == 0L)
    assert(math.abs(y.getAs[Double]("vmr") - 0.333333) < 1e-6)
  }

  test("scd2Build collapses repeats and stamps validity intervals") {
    import spark.implicits._
    val df = Seq((7L, 1L, "A", 1L), (7L, 2L, "A", 2L), (7L, 3L, "B", 3L),
      (7L, 4L, "B", 4L), (7L, 5L, "A", 5L))
      .toDF("user_id", "ts", "event_type", "event_id")
    val rows = Cdc.scd2Build(df, "user_id", "ts", Seq("event_type"),
      Seq("event_id")).orderBy("version").collect()
    assert(rows.length == 3)
    assert(rows.map(_.getAs[String]("event_type")).toSeq ==
      Seq("A", "B", "A"))
    assert(rows.map(_.getAs[Long]("valid_from")).toSeq == Seq(1L, 3L, 5L))
    assert(rows(0).getAs[Long]("valid_to") == 3L)
    assert(rows(1).getAs[Long]("valid_to") == 5L)
    assert(rows(2).isNullAt(rows(2).fieldIndex("valid_to")))
    assert(rows(2).getAs[Boolean]("is_current"))
    assert(!rows(0).getAs[Boolean]("is_current"))
  }

  test("checksumReconcile localizes a one-key diff to one bucket") {
    import spark.implicits._
    val a = Seq((1L, "x"), (2L, "y"), (3L, "z"), (4L, "w"))
      .toDF("k", "v")
    val b = a.where(F.col("k") =!= 3L)
    val out = Cdc.checksumReconcile(a, b, "k", Seq("k", "v"),
      buckets = 8).collect()
    assert(out.map(_.getAs[Long]("count_a")).sum == 4L)
    assert(out.map(_.getAs[Long]("count_b")).sum == 3L)
    assert(out.count(!_.getAs[Boolean]("is_match")) == 1)
    // identical inputs reconcile clean
    val same = Cdc.checksumReconcile(a, a, "k", Seq("k", "v"),
      buckets = 8).collect()
    assert(same.forall(_.getAs[Boolean]("is_match")))
  }

  test("checksumReconcile catches null-position shifts and null-vs-" +
    "sentinel rows") {
    import spark.implicits._
    // same key, (x, NULL) vs (NULL, x): a null-skipping concat would
    // hash these identically — the explicit v/n encoding must not
    val a = Seq((1L, Option("x"), Option.empty[String]))
      .toDF("k", "c1", "c2")
    val b = Seq((1L, Option.empty[String], Option("x")))
      .toDF("k", "c1", "c2")
    val out = Cdc.checksumReconcile(a, b, "k", Seq("c1", "c2"),
      buckets = 4).collect()
    assert(out.exists(!_.getAs[Boolean]("is_match")))
    // a literal "n" value must not collide with an actual NULL
    val c = Seq((1L, Option("n"))).toDF("k", "c1")
    val d = Seq((1L, Option.empty[String])).toDF("k", "c1")
    val out2 = Cdc.checksumReconcile(c, d, "k", Seq("c1"),
      buckets = 4).collect()
    assert(out2.exists(!_.getAs[Boolean]("is_match")))
  }

  test("kCenterCoreset picks farthest points with lowest-id ties") {
    import spark.implicits._
    val df = Seq((1L, Array(0.0f)), (2L, Array(10.0f)),
      (3L, Array(4.0f)), (4L, Array(6.0f))).toDF("vec_id", "embedding")
    val rows = Clustering.kCenterCoreset(df, "vec_id", "embedding",
      k = 3).orderBy("rank").collect()
    assert(rows.map(_.getAs[Long]("vec_id")).toSeq == Seq(1L, 2L, 3L))
    // outputs are Euclidean (sqrt of the squared selection distances)
    assert(rows(0).getAs[Double]("sel_dist") == 0.0)
    assert(rows(1).getAs[Double]("sel_dist") == 10.0)
    // ids 3 and 4 tie at squared min-dist 16 → lowest id wins
    assert(rows(2).getAs[Double]("sel_dist") == 4.0)
    assert(rows.forall(_.getAs[Double]("coverage_radius") == 2.0))
  }

  test("growthAccounting: new/retained/resurrected/churned identity") {
    import spark.implicits._
    val day = 86400000000000L
    // u1 active days 0,1,3; u2 active day 1 only
    val df = Seq((1L, 0L), (1L, 1L), (1L, 3L), (2L, 1L))
      .map { case (u, d) => (u, d * day) }.toDF("user_id", "ts")
    val rows = Cohorts.growthAccounting(df, "user_id", "ts",
      periodUnit = day).orderBy("period").collect()
      .map(r => r.getAs[Long]("period") -> r).toMap
    assert(rows(0L).getAs[Long]("new_users") == 1L)
    assert(rows(1L).getAs[Long]("active") == 2L)
    assert(rows(1L).getAs[Long]("new_users") == 1L)
    assert(rows(1L).getAs[Long]("retained") == 1L)
    // both users go silent after day 1 → two churns at day 2
    assert(rows(2L).getAs[Long]("churned") == 2L)
    assert(rows(2L).getAs[Long]("active") == 0L)
    // u1 comes back on day 3 after a gap
    assert(rows(3L).getAs[Long]("resurrected") == 1L)
    assert(rows(3L).isNullAt(rows(3L).fieldIndex("quick_ratio")))
    assert(rows(4L).getAs[Long]("churned") == 1L)
  }

  test("var1ByKey recovers an exactly-linear value/volume system") {
    import spark.implicits._
    val day = 86400000000000L
    // counts cycle (1,2,4); v_d = previous day's count exactly
    // → eq1: a11=0, a12=1, c=0; eq2 solves to a21=-1, a22=-1, c=7;
    // tr=-1, det(A)=1, disc<0 → rho = 1 (boundary, not stable)
    val cycle = Array(1, 2, 4)
    val rows = (0 until 12).flatMap { d =>
      val cnt = cycle(d % 3)
      val v = cycle((d + 2) % 3).toDouble
      Seq.fill(cnt)(("k", d.toLong * day, v))
    }.toDF("key", "ts", "v")
    val r = Features.var1ByKey(rows, "key", "ts", "v",
      periodUnit = day).head()
    assert(r.getAs[Long]("n_periods") == 11L)
    assert(math.abs(r.getAs[Double]("a11")) < 1e-9)
    assert(math.abs(r.getAs[Double]("a12") - 1.0) < 1e-9)
    assert(math.abs(r.getAs[Double]("const_v")) < 1e-9)
    assert(math.abs(r.getAs[Double]("a21") - -1.0) < 1e-9)
    assert(math.abs(r.getAs[Double]("a22") - -1.0) < 1e-9)
    assert(math.abs(r.getAs[Double]("const_c") - 7.0) < 1e-9)
    // rho sits exactly ON the unit circle (a rotation): assert the
    // radius, not the boundary-sensitive stable flag
    assert(math.abs(r.getAs[Double]("spec_radius") - 1.0) < 1e-9)
  }

  test("expectedCalibrationError weights bin gaps by mass") {
    import spark.implicits._
    // bin9: n=2, gap −0.45; bin0: n=2, gap +0.95
    val df = Seq((true, 0.95), (false, 0.95), (true, 0.05),
      (true, 0.05)).toDF("y", "sc")
    val r = Evaluation.expectedCalibrationError(df, "y", "sc",
      bins = 10).head()
    assert(r.getAs[Long]("n") == 4L && r.getAs[Long]("bins_used") == 2L)
    assert(math.abs(r.getAs[Double]("ece") - 0.7) < 1e-9)
    assert(math.abs(r.getAs[Double]("mce") - 0.95) < 1e-9)
    assert(math.abs(r.getAs[Double]("signed_gap") - 0.25) < 1e-9)
  }

  test("kalmanLevelByKey follows the predict/update recursion") {
    import spark.implicits._
    val day = 86400000000000L
    val df = Seq((0L, 10.0), (1L, 12.0)).map { case (p, v) =>
      ("k", p * day, v) }.toDF("key", "ts", "v")
    val rows = Features.kalmanLevelByKey(df, "key", "ts", "v",
      periodUnit = day, q = 0.5, r = 2.0).orderBy("period").collect()
    assert(rows(0).getAs[Double]("level") == 10.0)
    assert(rows(0).getAs[Double]("p_var") == 2.0)
    // pPred = 2.5, K = 2.5/4.5, m = 10 + K·2 = 11.111111
    assert(math.abs(rows(1).getAs[Double]("gain") - 0.555556) < 1e-6)
    assert(math.abs(rows(1).getAs[Double]("level") - 11.111111) < 1e-6)
    assert(math.abs(rows(1).getAs[Double]("p_var") - 1.111111) < 1e-6)
    assert(math.abs(rows(1).getAs[Double]("innovation") - 2.0) < 1e-9)
  }

  test("averagePrecision matches the step-interpolated hand example") {
    import spark.implicits._
    val df = Seq((true, 0.9), (false, 0.8), (true, 0.7), (false, 0.6))
      .toDF("y", "sc")
    val r = Evaluation.averagePrecision(df, "y", "sc").head()
    // AP = 0.5·1 + 0.5·(2/3) = 0.833333
    assert(math.abs(r.getAs[Double]("ap") - 0.833333) < 1e-5)
    assert(math.abs(r.getAs[Double]("baseline") - 0.5) < 1e-9)
    assert(r.getAs[Long]("n_pos") == 2L && r.getAs[Long]("n_neg") == 2L)
  }

  test("betaBinomialMoM recovers the closed moment forms") {
    import spark.implicits._
    // k = [0,0,1,2,2] of n=2: m1=1, m2=1.8 → α=β=1/3, ρ=0.6
    val df = Seq(0L, 0L, 1L, 2L, 2L).map(k => (k, 2L)).toDF("k", "n")
    val r = StatTests.betaBinomialMoM(df, "k", "n", trials = 2).head()
    assert(r.getAs[Long]("n_groups") == 5L)
    assert(math.abs(r.getAs[Double]("alpha") - 0.333333) < 1e-5)
    assert(math.abs(r.getAs[Double]("beta") - 0.333333) < 1e-5)
    assert(math.abs(r.getAs[Double]("rho") - 0.6) < 1e-5)
  }

  test("neweyWestByKey matches the hand-computed Bartlett-kernel se") {
    import spark.implicits._
    val day = 86400000000000L
    val vs = Seq(0.0, 1.5, 1.8, 3.2, 4.5, 4.8, 6.3, 7.1, 7.9, 9.4)
    val df = vs.zipWithIndex.map { case (v, i) =>
      ("k", i.toLong * day, v) }.toDF("key", "ts", "v")
    val r = Features.neweyWestByKey(df, "key", "ts", "v",
      periodUnit = day, maxLag = 2).head()
    assert(r.getAs[Long]("n_periods") == 10L)
    assert(math.abs(r.getAs[Double]("slope") - 1.00303) < 1e-5)
    assert(math.abs(r.getAs[Double]("se_ols") - 0.031724) < 1e-5)
    assert(math.abs(r.getAs[Double]("se_hac") - 0.013109) < 1e-5)
    assert(math.abs(r.getAs[Double]("hac_ratio") - 0.413202) < 1e-5)
  }

  test("crostonByKey smooths sizes and intervals separately") {
    import spark.implicits._
    val day = 86400000000000L
    // demand at periods 1, 3, 6 with sizes 5, 4, 6 (alpha = 0.3)
    val df = Seq((1L, 5.0), (3L, 4.0), (6L, 6.0)).map { case (p, v) =>
      ("k", p * day, v) }.toDF("key", "ts", "v")
    val rows = Features.crostonByKey(df, "key", "ts", "v",
      periodUnit = day, alpha = 0.3)
      .orderBy("period").collect()
    assert(rows.length == 3)
    assert(rows(0).getAs[Long]("interval") == 1L)
    assert(rows(1).getAs[Long]("interval") == 2L)
    assert(rows(2).getAs[Long]("interval") == 3L)
    assert(math.abs(rows(2).getAs[Double]("z") - 5.09) < 1e-9)
    assert(math.abs(rows(2).getAs[Double]("p_smooth") - 1.81) < 1e-9)
    assert(math.abs(rows(2).getAs[Double]("forecast") - 2.812155) < 1e-6)
    assert(math.abs(rows(2).getAs[Double]("sba") - 2.390331) < 1e-6)
  }

  test("thetaForecastByKey: exact trend makes theta2 the series itself") {
    import spark.implicits._
    val day = 86400000000000L
    // y = 2p + 3 exactly: theta2 line equals y; SES(0.3) ends 7.4538,
    // forecast = ½(3 + 2·5) + ½·7.4538 = 10.2269
    val df = (0 to 4).map(p => ("k", p.toLong * day, 2.0 * p + 3.0))
      .toDF("key", "ts", "v")
    val r = Features.thetaForecastByKey(df, "key", "ts", "v",
      periodUnit = day, alpha = 0.3).head()
    assert(r.getAs[Long]("n_periods") == 5L)
    assert(math.abs(r.getAs[Double]("trend_a") - 3.0) < 1e-9)
    assert(math.abs(r.getAs[Double]("trend_b") - 2.0) < 1e-9)
    assert(math.abs(r.getAs[Double]("ses_theta2") - 7.4538) < 1e-6)
    assert(math.abs(r.getAs[Double]("forecast") - 10.2269) < 1e-6)
  }

  test("spectralEntropyByKey: a clean sinusoid has a low-entropy peak") {
    import spark.implicits._
    val day = 86400000000000L
    val n = 20
    val df = (0 until n).map { t =>
      ("k", t.toLong * day, math.sin(2.0 * math.Pi * 2.0 * t / n))
    }.toDF("key", "ts", "v")
    val r = Features.spectralEntropyByKey(df, "key", "ts", "v",
      periodUnit = day, maxFreq = 5).head()
    assert(r.getAs[Long]("m_freqs") == 5L)
    assert(r.getAs[Long]("peak_freq") == 2L)
    assert(r.getAs[Double]("peak_share") > 0.99)
    assert(r.getAs[Double]("entropy") < 0.1)
  }

  test("linkPrediction scores the open triad, skips existing edges") {
    import spark.implicits._
    // path a—b—c: the only candidate is (a, c) through b
    val e = Seq(("a", "b"), ("b", "c")).toDF("src", "dst")
    val rows = Graph.linkPrediction(e, "src", "dst", topK = 5).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[String]("a") == "a" && r.getAs[String]("b") == "c")
    assert(r.getAs[Long]("common") == 1L)
    assert(math.abs(r.getAs[Double]("jaccard") - 1.0) < 1e-9)
    assert(math.abs(r.getAs[Double]("adamic_adar") - 1.442695) < 1e-6)
  }

  test("assortativity: a star graph is perfectly disassortative") {
    import spark.implicits._
    val e = Seq(("h", "l1"), ("h", "l2"), ("h", "l3")).toDF("src", "dst")
    val r = Graph.assortativity(e, "src", "dst").head()
    assert(r.getAs[Long]("m_edges") == 6L)
    assert(r.getAs[Long]("n_nodes") == 4L)
    assert(math.abs(r.getAs[Double]("assortativity") - -1.0) < 1e-9)
  }

  test("xicorByGroup: high for a function, near zero for noise") {
    import spark.implicits._
    // y = x² over 20 distinct x: Σ|Δr| = 19, Σl(n−l) gives ξ = 6/7
    val func = (1 to 20).map(i => ("g", i.toDouble, (i * i).toDouble, i))
      .toDF("grp", "x", "y", "id")
    val r = Ranks.xicorByGroup(func, Seq("grp"), "x", "y", Seq("id"))
      .head()
    assert(r.getAs[Long]("n") == 20L)
    assert(math.abs(r.getAs[Double]("xi") - 0.857143) < 1e-5)
    // a deterministic "shuffled" y (multiplicative-inverse permutation
    // mod 23) has no functional structure → ξ well below the function's
    val perm = (1 to 22).map(i => ("g", i.toDouble,
      ((i * 9) % 23).toDouble, i)).toDF("grp", "x", "y", "id")
    val p = Ranks.xicorByGroup(perm, Seq("grp"), "x", "y", Seq("id"))
      .head()
    assert(math.abs(p.getAs[Double]("xi")) < 0.45)
  }

  test("circularStatsByKey: concentrated vs antipodal timestamps") {
    import spark.implicits._
    val hour = 3600L * 1000000000L
    // key "c": four events all at 06:00 → R̄ = 1, Rayleigh z = 4,
    // p = e⁻⁴·(1 + (8−16)/16) = 0.009158
    // key "u": two antipodal events (00:00, 12:00) → R̄ = 0, p = 1
    val df = (Seq.fill(4)(("c", 6L * hour)) ++
      Seq(("u", 0L), ("u", 12L * hour))).toDF("k", "ts")
    val out = Features.circularStatsByKey(df, "k", "ts",
      periodNanos = 24L * hour)
      .collect().map(r => r.getAs[String]("k") -> r).toMap
    val c = out("c")
    assert(math.abs(c.getAs[Double]("r_bar") - 1.0) < 1e-6)
    assert(math.abs(c.getAs[Double]("rayleigh_z") - 4.0) < 1e-6)
    assert(math.abs(c.getAs[Double]("mean_angle") - math.Pi / 2.0) < 1e-5)
    assert(math.abs(c.getAs[Double]("p_value") - 0.009158) < 1e-5)
    val u = out("u")
    assert(math.abs(u.getAs[Double]("r_bar")) < 1e-6)
    assert(math.abs(u.getAs[Double]("circ_var") - 1.0) < 1e-6)
    assert(math.abs(u.getAs[Double]("p_value") - 1.0) < 1e-6)
  }

  test("stlByKey: recovers trend slope and seasonal pattern, and the " +
    "robustness pass sends an outlier to the remainder") {
    import spark.implicits._
    // v = 10 + 0.5 i + s(i mod 4), s = (2, -1, -2, 1), one +30 spike
    val pat = Array(2.0, -1.0, -2.0, 1.0)
    val n = 40
    val df = Seq.tabulate(n) { i =>
      val spike = if (i == 20) 30.0 else 0.0
      ("k", (i + 1).toLong, 10.0 + 0.5 * i + pat(i % 4) + spike)
    }.toDF("key", "ts", "v")
    val out = Features.stlByKey(df, "key", "ts", "v", periodUnit = 1L,
      period = 4, seasonalSpan = 7, trendSpan = 5)
      .orderBy("period").collect()
    assert(out.length == n)
    def row(i: Int) = out(i) // period = ts = i+1, 0-indexed by i
    // trend tracks the 0.5/step slope over the interior
    val tLo = row(10).getAs[Double]("trend")
    val tHi = row(30).getAs[Double]("trend")
    assert(math.abs((tHi - tLo) / 20.0 - 0.5) < 0.1,
      s"slope ${(tHi - tLo) / 20.0}")
    // seasonal close to the planted pattern away from edges/spike
    for (i <- 8 until 16; if i != 20) {
      assert(math.abs(row(i).getAs[Double]("seasonal") - pat(i % 4))
        < 0.8, s"i=$i got ${row(i).getAs[Double]("seasonal")}")
    }
    // the spike lands in the remainder, not the trend: remainder at
    // the spike dominates, neighbors' trend stays on the line
    assert(row(20).getAs[Double]("remainder") > 15.0)
    assert(math.abs(row(19).getAs[Double]("trend") -
      row(21).getAs[Double]("trend")) < 8.0)
    // decomposition identity at the output rounding
    out.foreach { r =>
      val v = r.getAs[Double]("value")
      val sum = r.getAs[Double]("seasonal") + r.getAs[Double]("trend") +
        r.getAs[Double]("remainder")
      assert(math.abs(v - sum) < 2e-6)
    }
    // short keys (< 2 periods of cells) are dropped
    val short = Seq.tabulate(6)(i => ("s", (i + 1).toLong, i * 1.0))
      .toDF("key", "ts", "v")
    assert(Features.stlByKey(short, "key", "ts", "v", 1L, 4,
      3, 5).count() == 0L)
  }

  test("concordanceCcc and blandAltman match hand-computed agreement") {
    import spark.implicits._
    // y = x: perfect agreement
    val same = Seq(1.0, 2.0, 3.0, 4.0).map(x => (x, x)).toDF("x", "y")
    val rs = Evaluation.concordanceCcc(same, "x", "y").head()
    assert(rs.getAs[Double]("ccc") == 1.0)
    assert(rs.getAs[Double]("pearson_r") == 1.0)
    assert(rs.getAs[Double]("c_b") == 1.0)
    // y = x + 2: r stays 1, ccc drops by the location penalty:
    // ccc = 2*1.25/(1.25+1.25+4) = 0.384615
    val shift = Seq(1.0, 2.0, 3.0, 4.0).map(x => (x, x + 2.0))
      .toDF("x", "y")
    val rr = Evaluation.concordanceCcc(shift, "x", "y").head()
    assert(rr.getAs[Double]("pearson_r") == 1.0)
    assert(math.abs(rr.getAs[Double]("ccc") - 0.384615) < 1e-6)
    assert(math.abs(rr.getAs[Double]("c_b") -
      rr.getAs[Double]("ccc")) < 1e-9)
    // Bland-Altman on d = {-1,0,1}: bias 0, sd 1, LoA +/- 1.96
    val ba = Seq((0.0, 1.0), (0.0, 0.0), (0.0, -1.0)).toDF("x", "y")
    val rb = Evaluation.blandAltman(ba, "x", "y").head()
    assert(rb.getAs[Double]("mean_diff") == 0.0)
    assert(rb.getAs[Double]("sd_diff") == 1.0)
    assert(rb.getAs[Double]("loa_lo") == -1.96)
    assert(rb.getAs[Double]("loa_hi") == 1.96)
  }

  test("varianceRatioByKey: mean-reverting series flags VR << 1, " +
    "persistent-drift series does not") {
    import spark.implicits._
    // alternating level: returns perfectly negatively autocorrelated
    val rev = Seq.tabulate(60)(i =>
      ("rev", (i + 1).toLong, if (i % 2 == 0) 0.0 else 1.0))
    // pseudo-random walk: increments from a deterministic hash-ish
    // pattern with persistent sign runs
    val walk = {
      var v = 0.0
      Seq.tabulate(40) { i =>
        v += (if ((i / 5) % 2 == 0) 1.0 else -1.0) +
          ((i * 37) % 11) * 0.01
        ("mom", (i + 1).toLong, v)
      }
    }
    val out = Features.varianceRatioByKey((rev ++ walk)
      .toDF("k", "ts", "v"), "k", "ts", "v", periodUnit = 1L, q = 5)
      .collect().map(r => r.getAs[String]("k") -> r).toMap
    assert(out("rev").getAs[Double]("vr") < 0.3)
    assert(out("rev").getAs[Double]("z") < -2.0)
    assert(out("rev").getAs[Double]("p_value") < 0.05)
    // 5-period sign runs make q-period changes LARGER than iid: VR > 1
    assert(out("mom").getAs[Double]("vr") > 1.0)
  }

  test("breuschGodfreyByKey: smooth residual cycles fire, hash-noise " +
    "residuals don't") {
    import spark.implicits._
    // slow sine around a trend: residuals strongly AR(1)
    val ar = Seq.tabulate(60)(i => ("ar", (i + 1).toLong,
      0.5 * i + 10.0 * math.sin(i / 8.0)))
    // Weyl-ish equidistributed noise around the same trend: no memory
    val wn = Seq.tabulate(60)(i => ("wn", (i + 1).toLong,
      0.5 * i + (i * i * 0.41421356237) % 1.0 - 0.5))
    val out = Features.breuschGodfreyByKey((ar ++ wn)
      .toDF("k", "ts", "v"), "k", "ts", "v", periodUnit = 1L)
      .collect().map(r => r.getAs[String]("k") -> r).toMap
    assert(out("ar").getAs[Double]("rho_lag1") > 0.7)
    assert(out("ar").getAs[Double]("p_value") < 1e-4)
    assert(out("wn").getAs[Double]("p_value") > 0.01)
  }

  test("entropyBalance hits the treated moments exactly and reports " +
    "the weight cost in ESS") {
    import spark.implicits._
    // controls uniform over x1 = 0..9; treated concentrated high
    val ctrl = (0 until 100).map(i =>
      (false, (i % 10).toDouble, ((i * 3) % 7).toDouble))
    val treat = (0 until 40).map(i =>
      (true, 6.0 + (i % 3).toDouble, 4.0 + (i % 2).toDouble))
    val r = Weighting.entropyBalance((ctrl ++ treat)
      .toDF("t", "x1", "x2"), "t", "x1", "x2").head()
    assert(r.getAs[Long]("n_treat") == 40L)
    assert(r.getAs[Long]("n_ctrl") == 100L)
    assert(math.abs(r.getAs[Double]("mean1") -
      r.getAs[Double]("target1")) < 1e-3)
    assert(math.abs(r.getAs[Double]("mean2") -
      r.getAs[Double]("target2")) < 1e-3)
    // tilting away from uniform costs effective sample size
    val ess = r.getAs[Double]("ess")
    assert(ess > 10.0 && ess < 100.0, s"ess $ess")
  }

  test("chowTestByKey: a planted slope break fires, an unbroken " +
    "trend doesn't") {
    import spark.implicits._
    // slope 1 then slope 4 after the midpoint, small Weyl noise
    val broken = Seq.tabulate(60)(i => ("brk", (i + 1).toLong,
      (if (i < 30) i * 1.0 else 30.0 + (i - 30) * 4.0) +
        (i * i * 0.41421356237) % 1.0 * 0.2))
    val smooth = Seq.tabulate(60)(i => ("ok", (i + 1).toLong,
      i * 1.0 + (i * i * 0.41421356237) % 1.0 * 0.2))
    val out = Features.chowTestByKey((broken ++ smooth)
      .toDF("k", "ts", "v"), "k", "ts", "v", periodUnit = 1L)
      .collect().map(r => r.getAs[String]("k") -> r).toMap
    assert(out("brk").getAs[Long]("n_left") == 30L)
    assert(out("brk").getAs[Double]("p_value") < 1e-6)
    assert(out("ok").getAs[Double]("p_value") > 0.01)
    assert(out("brk").getAs[Double]("f_stat") >
      out("ok").getAs[Double]("f_stat"))
  }

  test("pesaranTimmermannByKey: sign-persistent runs fire, Weyl " +
    "noise doesn't") {
    import spark.implicits._
    // 6-period up/down runs: today's direction repeats yesterday's
    // 5 times out of 6
    val mom = {
      var v = 0.0
      Seq.tabulate(80) { i =>
        v += (if ((i / 6) % 2 == 0) 1.0 else -1.0) +
          ((i * i * 0.41421356237) % 1.0) * 0.1
        ("mom", (i + 1).toLong, v)
      }
    }
    // random-walk null: iid-sign Weyl increments (a LEVEL noise
    // series is the wrong null — consecutive level differences share
    // a term and are anti-persistent by construction)
    val noise = {
      var v = 0.0
      Seq.tabulate(80) { i =>
        v += (i * i * 0.41421356237) % 1.0 - 0.5
        ("wn", (i + 1).toLong, v)
      }
    }
    val out = Features.pesaranTimmermannByKey((mom ++ noise)
      .toDF("k", "ts", "v"), "k", "ts", "v", periodUnit = 1L)
      .collect().map(r => r.getAs[String]("k") -> r).toMap
    assert(out("mom").getAs[Double]("p_hat") > 0.7)
    assert(out("mom").getAs[Double]("z") > 2.0)
    assert(out("mom").getAs[Double]("p_value") < 0.05)
    assert(out("wn").getAs[Double]("p_value") > 0.01)
  }

  test("mincerZarnowitz accepts a calibrated forecast and rejects a " +
    "biased one") {
    import spark.implicits._
    // calibrated: f = y with small symmetric noise
    val cal = (0 until 100).map { i =>
      val y = (i % 20) * 1.0
      (y, y + ((i * i * 0.41421356237) % 1.0 - 0.5))
    }.toDF("y", "f")
    val rc = Evaluation.mincerZarnowitz(cal, "y", "f").head()
    assert(rc.getAs[Double]("p_value") > 0.05)
    assert(math.abs(rc.getAs[Double]("slope") - 1.0) < 0.1)
    // multiplicatively biased: slope 1/0.8 = 1.25, decisive rejection
    val bias = (0 until 100).map { i =>
      val y = (i % 20) * 1.0
      (y, 0.8 * y + ((i * i * 0.41421356237) % 1.0 - 0.5) * 0.1)
    }.toDF("y", "f")
    val rb = Evaluation.mincerZarnowitz(bias, "y", "f").head()
    assert(rb.getAs[Double]("p_value") < 1e-6)
    assert(rb.getAs[Double]("slope") > 1.15)
    assert(rb.getAs[Double]("rmse_raw") >
      rc.getAs[Double]("rmse_raw"))
  }

  test("rboOverlap: identical rankings hit the truncated-base " +
    "ceiling 1 - p^k, divergent tails score lower") {
    import spark.implicits._
    val a = (1 to 20).map(r => ("q1", s"doc$r", r.toLong))
      .toDF("q", "id", "rk")
    val same = Evaluation.rboOverlap(a, a, "q", "id", "rk").head()
    assert(same.getAs[Long]("n_common") == 20L)
    assert(same.getAs[Double]("overlap_at_k") == 1.0)
    assert(math.abs(same.getAs[Double]("rbo") -
      (1.0 - math.pow(0.9, 20))) < 1e-4)
    // same top-10, disjoint tail: rbo between the all-common and
    // the top-10-only weights
    val b = ((1 to 10).map(r => ("q1", s"doc$r", r.toLong)) ++
      (11 to 20).map(r => ("q1", s"other$r", r.toLong)))
      .toDF("q", "id", "rk")
    val part = Evaluation.rboOverlap(a, b, "q", "id", "rk").head()
    assert(part.getAs[Long]("n_common") == 10L)
    assert(part.getAs[Double]("rbo") <
      same.getAs[Double]("rbo") - 0.05)
    assert(part.getAs[Double]("rbo") > 0.3)
    // reversed ranking still overlaps fully at k but weights late
    val rev = (1 to 20).map(r => ("q1", s"doc${21 - r}", r.toLong))
      .toDF("q", "id", "rk")
    val rr = Evaluation.rboOverlap(a, rev, "q", "id", "rk").head()
    assert(rr.getAs[Double]("overlap_at_k") == 1.0)
    assert(rr.getAs[Double]("rbo") < part.getAs[Double]("rbo"))
  }

  test("fitFrankByTau: theta round-trips through an independent " +
    "Debye quadrature, is odd in tau, and ~9*tau near zero") {
    import spark.implicits._
    // monotone-ish association with ties: tau lands mid-range
    val df = Seq.tabulate(30)(i =>
      ((i % 10).toDouble, ((i % 10) + 3 * (i % 3)).toDouble))
      .toDF("a", "b")
    val r = ArchimedeanCopula.fitFrankByTau(df, "a", "b").head()
    val tau = r.getAs[Double]("tau")
    val theta = r.getAs[Double]("theta_frank")
    assert(tau > 0.05 && tau < 0.95, s"fixture tau $tau")
    assert(r.getAs[Double]("lambda_lower") == 0.0)
    assert(r.getAs[Double]("lambda_upper") == 0.0)
    // independent check: Simpson-rule Debye D1, tau(theta) ?= tau
    def d1(th: Double): Double = {
      val m = 20000
      val h = th / m
      def f(t: Double) = if (t == 0.0) 1.0 else t / (math.exp(t) - 1.0)
      var s = f(0.0) + f(th)
      var i = 1
      while (i < m) {
        s += (if (i % 2 == 1) 4.0 else 2.0) * f(i * h); i += 1
      }
      s * h / 3.0 / th
    }
    val tauBack = 1.0 - 4.0 / theta * (1.0 - d1(theta))
    assert(math.abs(tauBack - tau) < 2e-3, s"round-trip $tauBack vs $tau")
    // oddness: negating one marginal negates tau and theta
    val neg = df.select(F.col("a"), (-F.col("b")).as("b"))
    val rn = ArchimedeanCopula.fitFrankByTau(neg, "a", "b").head()
    assert(rn.getAs[Double]("tau") == -tau)
    assert(rn.getAs[Double]("theta_frank") == -theta)
    // near independence theta ~ 9 tau (tau(theta) -> theta/9)
    val weak = Seq.tabulate(40)(i =>
      ((i % 8).toDouble, ((i % 2) + (i % 5)).toDouble)).toDF("a", "b")
    val rw = ArchimedeanCopula.fitFrankByTau(weak, "a", "b").head()
    val tw = rw.getAs[Double]("tau")
    if (math.abs(tw) > 1e-3 && math.abs(tw) < 0.2) {
      assert(math.abs(rw.getAs[Double]("theta_frank") / (9.0 * tw) - 1.0)
        < 0.15, s"weak theta ${rw.getAs[Double]("theta_frank")} tau $tw")
    }
  }
}
