package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import graft.operators._
import graft.SparkProbes.{added, cachedState, jobsOf}

/** The range-partition prefix-sum substrate (`operators/PrefixSum`) and
  * its callers: cached state is released on every path, Spark jobs per
  * call are pinned, and the construction is not hand-copied again. */
class PrefixSumSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-prefix-sum-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** 60 rows: cohorts a/b, tied values, durations with events, a
    * covariate, a binary label, p-values, ids and token counts. */
  private def frame: DataFrame = {
    import spark.implicits._
    (0 until 60).map { i =>
      (if (i % 2 == 0) "a" else "b", (i * 7 % 23).toDouble,
        (i * 5 % 17 + 1).toDouble, i % 3 != 0, (i % 5).toDouble,
        i % 4 == 0, (i % 20) / 20.0, i.toLong, (i % 13).toLong,
        (i * 7 % 23 + i % 3 - 1).toDouble)
    }.toDF("g", "v", "t", "e", "x", "y", "p", "id", "ntok", "w")
  }

  private def force(r: Any): Unit = r match {
    case df: DataFrame => df.collect()
    case _ =>
  }

  test("every prefix-sum caller leaves no cached state, also when it throws") {
    val df = frame
    val oneCohort = df.where(F.col("g") === "a")
    val model = Survival.coxPH(df, "t", "e", Seq("x"), iters = 2)
    val cases = Seq[(String, () => Any, Boolean)](
      ("minRanks", () => Ranks.minRanks(df, "v", "rk"), false),
      ("quantileMap", () => Ranks.quantileMap(df, "g", "v", "a", "b"), false),
      ("mannWhitneyU", () => StatTests.mannWhitneyU(df, "g", "v"), false),
      ("cvmTwoSample", () => StatTests.cvmTwoSample(df, "g", "v"), false),
      ("conoverSquaredRanks",
        () => StatTests.conoverSquaredRanks(df, "g", "v"), false),
      ("brunnerMunzel", () => StatTests.brunnerMunzel(df, "g", "v"), false),
      ("cucconiTest", () => StatTests.cucconiTest(df, "g", "v"), false),
      ("lepageTest", () => StatTests.lepageTest(df, "g", "v"), false),
      ("adTwoSample", () => StatTests.adTwoSample(df, "g", "v"), false),
      ("cliffsDelta", () => StatTests.cliffsDelta(df, "g", "v"), false),
      ("adKSample", () => StatTests.adKSample(df, "g", "v"), false),
      ("holmAdjust", () => StatTests.holmAdjust(df, "p"), false),
      ("bhAdjust", () => StatTests.bhAdjust(df, "p"), false),
      ("wilcoxonSignedRank",
        () => StatTests.wilcoxonSignedRank(df, "v", "w"), false),
      ("jonckheereTerpstra",
        () => StatTests.jonckheereTerpstra(df, "g", "v", Seq("a", "b")), false),
      ("logRank", () => Survival.logRank(df, "t", "e", "g"), false),
      ("gehanWilcoxon", () => Survival.gehanWilcoxon(df, "t", "e", "g"), false),
      ("coxPH", () => Survival.coxPH(df, "t", "e", Seq("x"), iters = 2), false),
      ("coxPHEfron",
        () => Survival.coxPHEfron(df, "t", "e", Seq("x"), iters = 2), false),
      ("baselineHazard",
        () => Survival.baselineHazard(df, "t", "e", model), false),
      ("logRankTrend", () => Survival.logRankTrend(df, "t", "e", "g"), false),
      ("ksTwoSample", () => Drift.ksTwoSample(df, "g", "v"), false),
      ("wassersteinTwoSample",
        () => Drift.wassersteinTwoSample(df, "g", "v"), false),
      ("aucRoc", () => Evaluation.aucRoc(df, "y", "v"), false),
      ("averagePrecision", () => Evaluation.averagePrecision(df, "y", "v"), false),
      ("hashResampleCI", () => Bootstrap.hashResampleCI(df, "id", b = 5), false),
      ("globalShuffle", () => Sampling.globalShuffle(df, "id", 7L), false),
      ("packSequences", () => Packing.packSequences(df, "id", "ntok", 16L), false),
      ("qqDist", () => PlotData.qqDist(df, "v", "norm", Array(10.0, 5.0),
        points = 10), false),
      ("quantileDisc", () => Outliers.quantileDisc(df, "v", 0.5), false),
      // degenerate inputs: a typed require error, nothing left pinned
      ("mannWhitneyU, one cohort",
        () => StatTests.mannWhitneyU(oneCohort, "g", "v"), true),
      ("aucRoc, one class", () => Evaluation.aucRoc(
        df.withColumn("y", F.lit(true)), "y", "v"), true),
      ("logRank, one cohort",
        () => Survival.logRank(oneCohort, "t", "e", "g"), true),
      ("hashResampleCI over its cap",
        () => Bootstrap.hashResampleCI(df, "id", b = 5, maxSample = 10), true),
      ("coxPH, no events", () => Survival.coxPH(
        df.withColumn("e", F.lit(false)), "t", "e", Seq("x"), iters = 2), true),
      // no valid p: the early-out branches
      ("bhAdjust, no valid p", () => StatTests.bhAdjust(
        df.withColumn("p", F.lit(null).cast("double")), "p"), false),
      ("holmAdjust, no valid p", () => StatTests.holmAdjust(
        df.withColumn("p", F.lit(null).cast("double")), "p"), false))
    val leaked = cases.filter { case (_, call, throws) =>
      val before = cachedState(spark)
      if (throws) intercept[IllegalArgumentException](call())
      else force(call())
      added(before, cachedState(spark))
    }.map(_._1)
    assert(leaked.isEmpty, s"cached state left behind by: ${leaked.mkString(", ")}")
  }

  test("Spark jobs per call are those of the hand-written constructions") {
    val df = frame
    // counts measured on the hand-written constructions this substrate
    // replaced, same session settings (local[4], 4 shuffle partitions)
    val pinned = Seq[(String, () => Any, Int)](
      ("minRanks (1 lane)", () => Ranks.minRanks(df, "v", "rk"), 6),
      ("mannWhitneyU (2 lanes)",
        () => StatTests.mannWhitneyU(df, "g", "v"), 6),
      ("holmAdjust (three walks)", () => StatTests.holmAdjust(df, "p"), 7),
      ("packSequences (raw rows)",
        () => Packing.packSequences(df, "id", "ntok", 16L), 4),
      ("coxPH (descending, Double lanes)",
        () => Survival.coxPH(df, "t", "e", Seq("x"), iters = 2), 19))
    val got = pinned.map { case (name, call, _) =>
      call() // warm: first-use planning may differ from steady state
      name -> jobsOf(spark)(call())
    }
    assert(got == pinned.map(p => p._1 -> p._3))
  }

  test("repartitionByRange under operators/ only in PrefixSum and ZOrder") {
    val dir = new java.io.File("src/main/scala/graft/operators")
    assert(dir.isDirectory, s"source tree not found at ${dir.getAbsolutePath}")
    // ZOrder's range partitioning is a layout pass, not a prefix sum
    val allowed = Set("PrefixSum.scala", "ZOrder.scala")
    val offenders = dir.listFiles().filter(_.getName.endsWith(".scala"))
      .filterNot(f => allowed(f.getName))
      .filter { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.mkString.contains("repartitionByRange") finally src.close()
      }
      .map(_.getName).sorted
    assert(offenders.isEmpty, "hand-written range-partition constructions " +
      s"in ${offenders.mkString(", ")}: use PrefixSum")
  }

  test("fits run no Catalyst aggregate; samplers build no Row or typed frame") {
    def source(file: String): Vector[String] = {
      val f = new java.io.File(s"src/main/scala/graft/operators/$file")
      assert(f.isFile, s"source not found at ${f.getAbsolutePath}")
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().toVector finally src.close()
    }
    // a DataFrame groupBy names its keys by string or Column; a Scala
    // collection's groupBy takes a function
    val catalystAgg = """\.agg\(|\.groupBy\(\s*("|F\.|\$|col\()""".r
    val fitter = source("Fitter.scala")
    val aggs = fitter.indices.filter(i => catalystAgg.findFirstIn(fitter(i)).isDefined)
    assert(aggs.isEmpty, "Catalyst aggregates at Fitter.scala lines " +
      s"${aggs.map(_ + 1).mkString(", ")}: fold the stats in a FitScan pass")

    // each sampler's body, from its def to the method's closing brace
    val samplers = Seq("Sampling.scala" -> "def seededRows(", "Sampling.scala" -> "def generate(",
      "Sampling.scala" -> "def generateGrid(", "Copula.scala" -> "def sampleDistributed(",
      "Mixture.scala" -> "def sampleDistributed(", "Multivariate.scala" -> "def sampleDistributed(")
    val encoded = """createDataFrame\(|spark\.range\([^)]*\)(\.rdd)?\s*\.mapPartitions""".r
    val offenders = samplers.filter { case (file, sig) =>
      val lines = source(file)
      val start = lines.indexWhere(_.contains(sig))
      val end = lines.indexWhere(_ == "  }", start)
      assert(start >= 0 && end > start, s"$sig not found in $file")
      encoded.findFirstIn(lines.slice(start, end).mkString("\n")).isDefined
    }
    assert(offenders.isEmpty, s"samplers that build frames through encoders: " +
      s"${offenders.mkString(", ")}: write UnsafeRows through Sampling.seededRows")
  }
}
