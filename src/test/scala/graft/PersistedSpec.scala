package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession, functions => F}
import graft.operators._
import graft.SparkProbes.{added, cachedState, jobsOf, leaks, persistedState}

/** The lifecycle scope (`operators/Persisted`) and the operators that
  * cache or checkpoint frames on it: nothing stays cached on any path,
  * a returned frame keeps only the checkpoints it reads, Spark jobs per
  * call are pinned, and the lifecycle is not hand-written again. */
class PersistedSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-persisted-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** Two triangles joined by a bridge, a 4-cycle hanging off node 6 and
    * a few one-way edges: hubs, leaves, triangles and unequal degrees. */
  private def edges: DataFrame = {
    import spark.implicits._
    Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 6L),
      (6L, 4L), (6L, 7L), (7L, 8L), (8L, 9L), (9L, 6L), (2L, 5L),
      (1L, 4L), (10L, 1L)).toDF("src", "dst")
  }

  private def nodesOf(ids: Long*): DataFrame = {
    import spark.implicits._
    ids.toDF("node")
  }

  private def docs: DataFrame = {
    import spark.implicits._
    val base = "spark catalyst optimizer rewrites logical plans with rule batches"
    Seq((0L, base), (1L, base + " fixedpoint"),
      (2L, "completely different text about parquet column chunk statistics"),
      (10L, base + " until convergence"),
      (11L, "unrelated fresh document mentioning shuffle partitions and skew"))
      .toDF("doc_id", "text")
  }

  /** 60 rows: cohorts a/b, durations with events, two covariates, a
    * binary treatment and 2-d embeddings. */
  private def frame: DataFrame = {
    import spark.implicits._
    (0 until 60).map { i =>
      (i.toLong, if (i % 2 == 0) "a" else "b", (i * 7 % 23).toDouble,
        (i * 5 % 17 + 1).toDouble, i % 3 != 0, (i % 10) / 10.0,
        ((i * 3) % 7).toDouble, i % 4 == 0,
        Seq((i % 5).toDouble, (i * 3 % 7).toDouble))
    }.toDF("id", "g", "v", "t", "e", "x", "w", "treat", "emb")
  }

  private def embeddings(rows: Seq[(Long, Seq[Double])]): DataFrame = {
    import spark.implicits._
    rows.toDF("id", "emb")
  }

  /** Four planar points and the same points rotated by 90°. */
  private def rotated: (DataFrame, DataFrame) = {
    val pts = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0), Seq(-1.0, 0.0), Seq(2.0, 3.0))
      .zipWithIndex.map { case (p, i) => (i.toLong, p) }
    (embeddings(pts), embeddings(pts.map { case (i, p) => (i, Seq(-p(1), p(0))) }))
  }

  private def labels: DataFrame = nodesOf(1L to 10L: _*)
    .withColumn("label", F.when(F.col("node") <= 3L, "x").otherwise("y"))

  /** `call`, with a require that fired inside a Spark job rethrown as
    * the typed error it is. */
  private def unwrapped(call: => Any): Any =
    try call catch {
      case e: org.apache.spark.SparkException =>
        Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .collectFirst { case r: IllegalArgumentException => throw r }
        throw e
    }

  test("every operator on the lifecycle scope leaves no cached state, also when it throws") {
    import spark.implicits._
    val ed = edges
    val df = frame
    val noEdges = ed.where(F.lit(false))
    val old = docs.where(F.col("doc_id") < 10L)
    val fresh = docs.where(F.col("doc_id") >= 10L)
    val (a, b) = rotated
    val games = Seq(("p", "q"), ("p", "q"), ("q", "r"), ("r", "p"),
      ("p", "r"), ("q", "p")).toDF("winner", "loser")
    val cases = Seq[(String, () => Any, Boolean)](
      ("pageRank", () => Graph.pageRank(ed, "src", "dst", iters = 3), false),
      ("personalizedPageRank", () => Graph.personalizedPageRank(ed, "src",
        "dst", nodesOf(1L), "node", iters = 3), false),
      ("eigenvectorCentrality",
        () => Graph.eigenvectorCentrality(ed, "src", "dst", iters = 3), false),
      ("hits", () => Graph.hits(ed, "src", "dst", iters = 3), false),
      ("kCorePeel", () => Graph.kCorePeel(ed, "src", "dst", 2, 4), false),
      ("bfsHops",
        () => Graph.bfsHops(ed, "src", "dst", nodesOf(1L), "node", 5), false),
      ("labelPropagation", () => Graph.labelPropagation(ed, "src", "dst"), false),
      ("modularityByLabel",
        () => Graph.modularityByLabel(ed, "src", "dst", labels), false),
      ("triangleStats", () => Graph.triangleStats(ed, "src", "dst"), false),
      ("linkPrediction", () => Graph.linkPrediction(ed, "src", "dst"), false),
      ("assortativity", () => Graph.assortativity(ed, "src", "dst"), false),
      ("minhashPairs",
        () => Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.5), false),
      ("minhashPairsAgainst", () => Dedup.minhashPairsAgainst(
        Dedup.minhashSignatures(old, "doc_id", "text"), fresh, "doc_id",
        "text", threshold = 0.5), false),
      ("connectedComponents (driver path)",
        () => Dedup.connectedComponents(ed, "src", "dst"), false),
      ("connectedComponents (star rounds)", () => Dedup.connectedComponents(
        ed, "src", "dst", localThreshold = 0L), false),
      ("bpeMerges", () => TextOps.bpeMerges(docs, "doc_id", "text", 3), false),
      ("bradleyTerry",
        () => Preference.bradleyTerry(games, "winner", "loser"), false),
      ("varEsByGroup", () => Outliers.varEsByGroup(df, Seq("g"), "v", 0.9), false),
      ("ecodScore", () => Outliers.ecodScore(df, "id", Seq("v", "w")), false),
      ("procrustesAlign",
        () => Pca.procrustesAlign(a, "id", "emb", b, "id", "emb"), false),
      ("entropyBalance",
        () => Weighting.entropyBalance(df, "treat", "x", "w"), false),
      ("yuenTTest", () => StatTests.yuenTTest(df, "g", "v"), false),
      ("bloomContaminationReport", () => Decontam.bloomContaminationReport(
        docs, fresh, "doc_id", "text", n = 3), false),
      ("coxPH", () => Survival.coxPH(df, "t", "e", Seq("x"), iters = 2), false),
      ("coxPHEfron",
        () => Survival.coxPHEfron(df, "t", "e", Seq("x"), iters = 2), false),
      ("weibullAft", () => Survival.weibullAft(df, "t", "e", "x"), false),
      ("kCenterCoreset", () => Clustering.kCenterCoreset(df, "id", "emb", 3), false),
      ("logisticIrls", () => Regression.logisticIrls(df, "e", Seq("x")), false),
      // throwing inputs: a typed require error, nothing left cached
      ("eigenvectorCentrality, no edges",
        () => Graph.eigenvectorCentrality(noEdges, "src", "dst"), true),
      ("personalizedPageRank, no seeds", () => Graph.personalizedPageRank(
        ed, "src", "dst", nodesOf(), "node"), true),
      ("modularityByLabel, no edges",
        () => Graph.modularityByLabel(noEdges, "src", "dst", labels), true),
      ("procrustesAlign, no paired ids", () => Pca.procrustesAlign(
        a, "id", "emb", b.withColumn("id", F.col("id") + 100L), "id", "emb"),
        true),
      ("procrustesAlign, dim 1", () => {
        val one = embeddings(Seq((0L, Seq(1.0)), (1L, Seq(2.0))))
        Pca.procrustesAlign(one, "id", "emb", one, "id", "emb")
      }, true),
      ("entropyBalance, one treated row", () => Weighting.entropyBalance(
        df.withColumn("treat", F.col("id") === 0L), "treat", "x", "w"), true),
      ("minhashPairsAgainst, index of another numHashes", () => unwrapped(
        Dedup.minhashPairsAgainst(
          Dedup.minhashSignatures(old, "doc_id", "text", numHashes = 256),
          fresh, "doc_id", "text", threshold = 0.5)), true))
    val leaked = leaks(spark, cachedState)(cases)
    assert(leaked.isEmpty, s"cached state left behind by: ${leaked.mkString(", ")}")
  }

  test("an operator that checkpoints leaves no persistent RDD unless its result reads it, also when it throws") {
    val df = frame
    val empty = df.where(F.lit(false))
    val few = df.where(F.col("id") < 5L)
    val conversions = df.withColumn("c", F.lit("conv"))
    /** `n` distinct (a, b) cells. */
    def grid(n: Int): DataFrame = spark.range(n)
      .select(F.col("id").as("a"), F.col("id").as("b"), F.lit(true).as("e"))
    val cases = Seq[(String, () => Any, Boolean)](
      // results built on the driver: every checkpoint is released
      ("shapiroWilk", () => StatTests.shapiroWilk(df, "v"), false),
      ("clusterAgreement", () => Evaluation.clusterAgreement(df, "g", "e"), false),
      ("hodgesLehmannShift",
        () => StatTests.hodgesLehmannShift(df, "g", "v"), false),
      ("vuongTest", () => StatTests.vuongTest(df, "t", "norm", "expon"), false),
      ("shapleyAttribution",
        () => Cohorts.shapleyAttribution(df, "id", "g", "a"), false),
      ("unigramLmTrain", () => TextOps.unigramLmTrain(docs, "doc_id", "text"), false),
      ("medianMad", () => Outliers.medianMad(df, "v"), false),
      // throwing inputs: a require after the checkpoint
      ("basketPairs, every basket over the size guard", () =>
        Associations.basketPairs(df, "g", "id", maxBasketSize = 2), true),
      ("shapleyAttribution, conversions only", () =>
        Cohorts.shapleyAttribution(conversions, "id", "c", "conv"), true),
      ("clusterAgreement, no doubly-labelled rows", () =>
        Evaluation.clusterAgreement(df.withColumn("la",
          F.lit(null).cast("string")), "la", "g"), true),
      ("ebShrinkRates, empty", () =>
        Experiments.ebShrinkRates(empty, Seq("g"), "e"), true),
      ("localOutlierFactor, n <= k", () =>
        Outliers.localOutlierFactor(few, "id", "v", "t", k = 5), true),
      ("kendallTauB, over 16,384 cells",
        () => Ranks.kendallTauB(grid(16385), "a", "b"), true),
      ("segmentedOls, over 65,536 cells",
        () => Regression.segmentedOls(grid(65537), "b", "a"), true),
      ("shapiroWilk, n < 12", () => StatTests.shapiroWilk(few, "v"), true),
      ("vuongTest, under 8 positive rows",
        () => StatTests.vuongTest(few, "t", "norm", "expon"), true),
      ("concordanceIndex, over 4,096 cells",
        () => Survival.concordanceIndex(grid(4097), "a", "e", "b"), true),
      ("mooreLewisSelect, empty pool", () => TextOps.mooreLewisSelect(
        docs, docs.where(F.lit(false)), "doc_id", "text", 3), true))
    val leaked = leaks(spark, persistedState)(cases)
    assert(leaked.isEmpty, s"persistent state left behind by: ${leaked.mkString(", ")}")
  }

  test("a returned frame, alone or in a tuple or case class, still reads its checkpoints") {
    val df = frame
    // no zero vector: the cell assignment divides by the norm
    val vecs = df.withColumn("emb", F.transform(F.col("emb"), _ + 1.0))
    val cells = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    val index = Similarity.ivfBuildWith(vecs, "emb", "id", cells)
    val returned = Seq[(String, () => Dataset[_])](
      ("Mixture.fit", () => Mixture.fit(df, Seq("v", "t"), k = 2)._2),
      ("ivfAssign", () => Similarity.ivfAssign(index,
        vecs.withColumn("id", F.col("id") + 100L), "emb", "id").assigned),
      ("qqDist", () =>
        PlotData.qqDist(df, "v", "norm", Array(10.0, 5.0), points = 10)),
      ("hashResampleCI", () => Bootstrap.hashResampleCI(df, "id", b = 5)),
      ("packSequences", () => Packing.packSequences(df, "id", "w", 4L)),
      ("semDedupPairsWith, split rounds", () => Similarity.semDedupPairsWith(
        vecs, "emb", "id", cells, threshold = 0.9, maxCell = 5)),
      ("stlByKey", () => Features.stlByKey(df, "g", "id", "v", 1L, 3)))
    returned.foreach { case (name, call) =>
      val d = call()
      val first = d.collect().map(_.toString).sorted.toSeq
      assert(d.collect().map(_.toString).sorted.toSeq == first, name)
    }
  }

  test("labelPropagation keeps only the checkpoint of the frame it returns") {
    val (rdds, cached) = added(spark, persistedState) {
      Graph.labelPropagation(edges, "src", "dst", iters = 3).collect()
    }
    assert(rdds.size <= 1 && !cached,
      s"${rdds.size} persistent RDDs left behind, CacheManager entry: $cached")
  }

  test("a frame the caller cached stays cached") {
    val index = Dedup.minhashSignatures(docs.where(F.col("doc_id") < 10L),
      "doc_id", "text").cache()
    try {
      Dedup.minhashPairsAgainst(index, docs.where(F.col("doc_id") >= 10L),
        "doc_id", "text", threshold = 0.5).collect()
      assert(index.storageLevel.useMemory, "the caller's index was released")
    } finally index.unpersist()
  }

  test("Spark jobs per call are those of the hand-written lifecycles") {
    val ed = edges
    val df = frame
    val (a, b) = rotated
    // construct and collect, in these session settings (local[4], 4
    // shuffle partitions); counts read on the hand-written lifecycles
    // the scope replaced
    def jobs(call: () => Any): Int = {
      def run(): Unit = call() match {
        case d: Dataset[_] => d.collect()
        case _ =>
      }
      run() // warm: first-use planning may differ from steady state
      jobsOf(spark)(run())
    }
    val pinned = Seq[(String, () => Any, Int)](
      ("pageRank", () => Graph.pageRank(ed, "src", "dst", iters = 3), 17),
      ("personalizedPageRank", () => Graph.personalizedPageRank(ed, "src",
        "dst", nodesOf(1L), "node", iters = 3), 22),
      ("hits", () => Graph.hits(ed, "src", "dst", iters = 3), 28),
      ("eigenvectorCentrality",
        () => Graph.eigenvectorCentrality(ed, "src", "dst", iters = 3), 19),
      ("kCorePeel", () => Graph.kCorePeel(ed, "src", "dst", 2, 4), 12),
      ("bfsHops",
        () => Graph.bfsHops(ed, "src", "dst", nodesOf(1L), "node", 5), 38),
      ("labelPropagation", () => Graph.labelPropagation(ed, "src", "dst"), 20),
      ("triangleStats", () => Graph.triangleStats(ed, "src", "dst"), 20),
      ("procrustesAlign",
        () => Pca.procrustesAlign(a, "id", "emb", b, "id", "emb"), 5),
      ("entropyBalance",
        () => Weighting.entropyBalance(df, "treat", "x", "w"), 13),
      ("minhashPairs",
        () => Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.5), 9),
      ("kendallTauB", () => Ranks.kendallTauB(df, "v", "t"), 15))
    val got = pinned.map { case (name, call, _) => name -> jobs(call) }
    assert(got == pinned.map(p => p._1 -> p._3))
    // its dead persist is gone: at most the hand-written 15 jobs
    val modularity =
      jobs(() => Graph.modularityByLabel(ed, "src", "dst", labels))
    assert(modularity <= 15, s"modularityByLabel ran $modularity jobs")
  }

  test("operators/ persists and releases only in the lifecycle scope") {
    val dir = new java.io.File("src/main/scala/graft/operators")
    assert(dir.isDirectory, s"source tree not found at ${dir.getAbsolutePath}")
    // PrefixSum caches an RDD, not a frame; FitResults.unpersist is a
    // public no-op kept for the reference's API
    val cacheAllowed = Set("Persisted.scala", "PrefixSum.scala", "FitResults.scala")
    val offenders = dir.listFiles().filter(_.getName.endsWith(".scala"))
      .filterNot(_.getName == "Persisted.scala")
      .flatMap { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        val lines = try src.getLines().toVector finally src.close()
        val calls = Seq(".localCheckpoint(") ++
          (if (cacheAllowed(f.getName)) Nil
           else Seq(".persist(", ".cache()", "unpersist"))
        lines.indices.collect {
          case i if calls.exists(lines(i).contains) => s"${f.getName}:${i + 1}"
        }
      }.sorted
    assert(cacheAllowed.forall(n => new java.io.File(dir, n).isFile) &&
      offenders.isEmpty, "hand-written cache or checkpoint lifecycle at " +
      s"${offenders.mkString(", ")}: use Persisted")
  }
}
