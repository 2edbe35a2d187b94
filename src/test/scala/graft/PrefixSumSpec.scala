package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import graft.operators._
import graft.SparkProbes.{cachedState, jobsOf, leaks, persistedState}

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
    val leaked = leaks(spark, cachedState)(cases)
    assert(leaked.isEmpty, s"cached state left behind by: ${leaked.mkString(", ")}")
  }

  test("rank-bucket tables leave no persistent RDD, checkpoints included, on edge inputs too") {
    val df = frame
    val empty = df.where(F.lit(false))
    val noScore = df.withColumn("v",
      F.when(F.col("id") % 2 === 0, F.lit(null)).otherwise(F.lit(Double.NaN)))
    val oneArm = df.withColumn("e", F.lit(true))
    val oneClass = df.withColumn("y", F.lit(false))
    def qini(d: DataFrame) = Experiments.qiniTable(d, "e", "y", "v", k = 4)
    def lift(d: DataFrame) = Evaluation.liftTable(d, "y", "v", k = 4)
    def ate(d: DataFrame) = Experiments.stratifiedAte(d, "e", "t", "v", k = 4)
    val cases = Seq[(String, () => Any, Boolean)](
      ("minRanks", () => Ranks.minRanks(df, "v", "rk"), false),
      ("quantileBuckets", () => Ranks.quantileBuckets(df, "v", 4), false),
      ("qiniTable", () => qini(df), false),
      ("liftTable", () => lift(df), false),
      ("stratifiedAte", () => ate(df), false),
      ("binnedResponse", () => Ranks.binnedResponse(df, "v", "t", 4), false),
      ("monotoneWoeBins", () => Evaluation.monotoneWoeBins(df, "v", "y", 4), false),
      // edge inputs: a typed require error or null rates
      ("qiniTable, empty", () => qini(empty), true),
      ("qiniTable, null/NaN scores", () => qini(noScore), true),
      ("qiniTable, one arm", () => qini(oneArm), false),
      ("liftTable, empty", () => lift(empty), true),
      ("liftTable, null/NaN scores", () => lift(noScore), true),
      ("liftTable, one class", () => lift(oneClass), false),
      ("stratifiedAte, empty", () => ate(empty), false),
      ("stratifiedAte, null/NaN scores", () => ate(noScore), false),
      ("stratifiedAte, one arm", () => ate(oneArm), false))
    val leaked = leaks(spark, persistedState)(cases)
    assert(leaked.isEmpty, s"persistent state left behind by: ${leaked.mkString(", ")}")

    def nulls(d: DataFrame, cols: String*): Boolean =
      d.collect().forall(r => cols.forall(c => r.isNullAt(r.fieldIndex(c))))
    assert(nulls(qini(oneArm), "rate_c", "uplift", "qini"))
    assert(nulls(lift(oneClass), "capture", "lift"))
    Seq(empty, noScore, oneArm).foreach(d => assert(nulls(ate(d), "ate", "naive_diff")))
  }

  test("rank-bucket tables equal the row-join construction they replaced") {
    import spark.implicits._
    // tied scores with nulls and NaNs, both arms, a label, an outcome
    val scored = (0 until 240).map { i =>
      val s = if (i % 11 == 0) None else if (i % 13 == 0) Some(Double.NaN)
        else Some((i * 7 % 19) / 4.0)
      (i % 3 != 0, i * 5 % 7 < 3, (i * 37 % 101) / 7.0, s)
    }.toDF("t", "y", "o", "s")
    val frames = Seq(
      ("ties, null and NaN scores", scored, 4),
      ("one distinct value", scored.withColumn("s", F.lit(2.5)), 4),
      ("k above the distinct count",
        scored.withColumn("s", F.floor(F.col("o")) % 3), 10),
      ("one empty arm", scored.withColumn("t", F.lit(true)), 4))
    // doubles by their bits: count-only tables must be bit-equal, and the
    // double sums of the others are compared after their own rounding
    def rows(d: DataFrame): (Seq[String], Seq[String]) =
      (d.columns.toSeq, d.collect().map(_.toSeq.map {
        case v: Double => java.lang.Double.doubleToRawLongBits(v).toString + "d"
        case v => String.valueOf(v)
      }.mkString("|")).sorted.toSeq)
    for ((what, df, k) <- frames) {
      val pairs = Seq(
        "qiniTable" -> (Experiments.qiniTable(df, "t", "y", "s", k),
          RowJoinTables.qini(df, k)),
        "liftTable" -> (Evaluation.liftTable(df, "y", "s", k),
          RowJoinTables.lift(df, k)),
        "monotoneWoeBins" -> (Evaluation.monotoneWoeBins(df, "s", "y", k),
          RowJoinTables.monotoneWoeBins(df, k)),
        "binnedResponse" -> (Ranks.binnedResponse(df, "s", "o", k),
          RowJoinTables.binnedResponse(df, k))) ++
        // the old naive gap divided by an empty arm's zero count, which
        // raises under ANSI; the edge-input test covers that frame
        (if (what == "one empty arm") Nil
         else Seq("stratifiedAte" -> (Experiments.stratifiedAte(df, "t", "o", "s", k),
           RowJoinTables.stratifiedAte(df, k))))
      pairs.foreach { case (name, (now, old)) =>
        assert(rows(now) == rows(old), s"$name on $what")
      }
    }
  }

  test("Spark jobs per call are those of the hand-written constructions") {
    val df = frame
    // counts in these session settings (local[4], 4 shuffle partitions);
    // the loan persists no input and minRanks checkpoints no ranks, one
    // job each below the hand-written constructions it replaced
    val pinned = Seq[(String, () => Any, Int)](
      ("minRanks (1 lane)", () => Ranks.minRanks(df, "v", "rk"), 4),
      ("mannWhitneyU (2 lanes)",
        () => StatTests.mannWhitneyU(df, "g", "v"), 5),
      ("holmAdjust (three walks)", () => StatTests.holmAdjust(df, "p"), 6),
      ("packSequences (raw rows)",
        () => Packing.packSequences(df, "id", "ntok", 16L), 4),
      ("coxPH (descending, Double lanes)",
        () => Survival.coxPH(df, "t", "e", Seq("x"), iters = 2), 16),
      // construct and collect: the bucket table is lazy
      ("qiniTable (bucket table, collected)",
        () => Experiments.qiniTable(df, "e", "y", "v", k = 4).collect(), 7),
      ("liftTable (bucket table, collected)",
        () => Evaluation.liftTable(df, "y", "v", k = 4).collect(), 7))
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

/** The tables as they were built before `Ranks.bucketTable`: min-ranks of
  * the distinct scores, joined back to every row, then grouped by bucket.
  * Columns: t (treated), y (label), o (outcome), s (score). */
private object RowJoinTables {
  import org.apache.spark.sql.expressions.Window

  private val s = F.col("s").cast("double")
  private val valid = s.isNotNull && !F.isnan(s)

  /** `base` with the 0-based bucket ⌊(minrank − 1)·k/n⌋ of `col`; `base`
    * holds valid rows only, so its count is the ranks' n. */
  private def bucketed(base: DataFrame, col: String, k: Int): DataFrame = {
    val n = base.count()
    val ranks = Ranks.minRanks(base, col, "__rk").withColumnRenamed(col, "__v")
    base.join(ranks, F.col(col) === F.col("__v"), "left")
      .withColumn("__b0", F.floor((F.col("__rk") - 1) * k / n))
      .drop("__v", "__rk")
  }

  def qini(df: DataFrame, k: Int): DataFrame = {
    val base = df.where(valid && F.col("t").isNotNull && F.col("y").isNotNull)
      .select(s.as("__s"), F.col("t").as("__t"),
        F.when(F.col("y"), 1L).otherwise(0L).as("__y"))
    val agged = bucketed(base, "__s", k)
      .withColumn("bucket", (F.lit(k) - F.col("__b0")).cast("long"))
      .groupBy("bucket")
      .agg(
        F.sum(F.when(F.col("__t"), 1L).otherwise(0L)).as("n_t"),
        F.sum(F.when(!F.col("__t"), 1L).otherwise(0L)).as("n_c"),
        F.sum(F.when(F.col("__t"), F.col("__y")).otherwise(0L)).as("pos_t"),
        F.sum(F.when(!F.col("__t"), F.col("__y")).otherwise(0L)).as("pos_c"))
    val wCum = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val rateT = F.col("pos_t").cast("double") / F.col("n_t")
    val rateC = F.col("pos_c").cast("double") / F.col("n_c")
    agged
      .withColumn("__ct", F.sum("n_t").over(wCum))
      .withColumn("__cc", F.sum("n_c").over(wCum))
      .withColumn("__cpt", F.sum("pos_t").over(wCum))
      .withColumn("__cpc", F.sum("pos_c").over(wCum))
      .withColumn("rate_t", F.when(F.col("n_t") > 0L, F.round(rateT, 6)))
      .withColumn("rate_c", F.when(F.col("n_c") > 0L, F.round(rateC, 6)))
      .withColumn("uplift", F.when(F.col("n_t") > 0L &&
        F.col("n_c") > 0L, F.round(rateT - rateC, 6)))
      .withColumn("qini", F.when(F.col("__cc") > 0L, F.round(
        F.col("__cpt").cast("double") -
          F.col("__cpc").cast("double") * F.col("__ct") / F.col("__cc"), 6)))
      .select("bucket", "n_t", "n_c", "pos_t", "pos_c", "rate_t",
        "rate_c", "uplift", "qini")
  }

  def lift(df: DataFrame, k: Int): DataFrame = {
    val base = df.where(valid && F.col("y").isNotNull)
      .select(s.as("__s"), F.when(F.col("y"), 1L).otherwise(0L).as("__y"))
    val agged = bucketed(base, "__s", k)
      .withColumn("bucket", (F.lit(k) - F.col("__b0")).cast("long"))
      .groupBy("bucket").agg(F.count(F.lit(1)).as("n"), F.sum("__y").as("n_pos"))
    val wCum = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cumN = F.col("cum_n").cast("double")
    val cumP = F.col("cum_pos").cast("double")
    val totN = F.col("__tn").cast("double")
    val totP = F.col("__tp").cast("double")
    agged
      .withColumn("cum_n", F.sum("n").over(wCum))
      .withColumn("cum_pos", F.sum("n_pos").over(wCum))
      .withColumn("__tn", F.sum("n").over(wAll))
      .withColumn("__tp", F.sum("n_pos").over(wAll))
      .withColumn("rate", F.round(F.col("n_pos").cast("double") / F.col("n"), 6))
      .withColumn("capture", F.when(F.col("__tp") > 0L, F.round(cumP / totP, 6)))
      .withColumn("lift", F.when(F.col("__tp") > 0L,
        F.round((cumP / cumN) / (totP / totN), 6)))
      .select("bucket", "n", "n_pos", "rate", "cum_n", "cum_pos", "capture", "lift")
  }

  def stratifiedAte(df: DataFrame, k: Int): DataFrame = {
    val t = F.col("__t")
    val base = df.where(F.col("t").isNotNull && F.col("o").isNotNull &&
        !F.isnan(F.col("o")) && valid)
      .select(F.col("t").as("__t"), F.col("o").as("__y"), s.as("__s"))
    val strata = bucketed(base, "__s", k).groupBy("__b0").agg(
      F.count(F.lit(1)).as("__n"),
      F.sum(F.when(t, 1L).otherwise(0L)).as("__nt"),
      F.sum(F.when(!t, 1L).otherwise(0L)).as("__nc"),
      F.sum(F.when(t, F.col("__y")).otherwise(0.0)).as("__st"),
      F.sum(F.when(!t, F.col("__y")).otherwise(0.0)).as("__sc"))
    val ok = F.col("__nt") > 0L && F.col("__nc") > 0L
    val gap = F.col("__st") / F.col("__nt") - F.col("__sc") / F.col("__nc")
    val naive = base.agg(
      (F.sum(F.when(t, F.col("__y")).otherwise(0.0)) /
        F.sum(F.when(t, 1L).otherwise(0L)) -
        F.sum(F.when(!t, F.col("__y")).otherwise(0.0)) /
          F.sum(F.when(!t, 1L).otherwise(0L))).as("__nd"))
    strata
      .agg(
        F.round(F.sum(F.when(ok, F.col("__n").cast("double") * gap)) /
          F.sum(F.when(ok, F.col("__n"))).cast("double"), 6).as("ate"),
        F.sum(F.when(ok, F.col("__n")).otherwise(0L)).as("n"),
        F.sum(F.when(ok, 1L).otherwise(0L)).as("n_strata"),
        F.coalesce(F.sum(F.when(!ok, F.col("__n"))), F.lit(0L)).as("n_excluded"))
      .crossJoin(naive)
      .withColumn("naive_diff", F.round(F.col("__nd"), 6))
      .select("ate", "naive_diff", "n", "n_strata", "n_excluded")
  }

  def binnedResponse(df: DataFrame, bins: Int): DataFrame = {
    val y = F.col("o").cast("double")
    val clean = df.where(valid && y.isNotNull && !F.isnan(y))
      .select(s.as("__bx"), y.as("__by"))
    val agged = bucketed(clean, "__bx", bins)
      .withColumn("bucket", (F.col("__b0") + 1).cast("long"))
      .groupBy("bucket").agg(
        F.count(F.lit(1)).as("n"),
        F.sum("__bx").as("__sx"), F.sum("__by").as("__sy"),
        F.sum(F.col("__by") * F.col("__by")).as("__syy"))
    val nD = F.col("n").cast("double")
    val xm = F.col("__sx") / nD
    val ym = F.col("__sy") / nD
    val s2 = (F.col("__syy") - nD * ym * ym) / (nD - 1.0)
    val se = F.sqrt(F.when(s2 > 0.0, s2).otherwise(0.0) / nD)
    val z = F.lit(1.959964)
    agged.where(F.col("n") >= 2L)
      .select(F.col("bucket"), F.col("n"),
        F.round(xm, 6).as("x_mean"), F.round(ym, 6).as("y_mean"),
        F.round(ym - z * se, 6).as("ci_lo"), F.round(ym + z * se, 6).as("ci_hi"))
  }

  def monotoneWoeBins(df: DataFrame, bins: Int): DataFrame = {
    val clean = df.where(valid && F.col("y").isNotNull)
      .select(s.as("__x"), F.when(F.col("y"), 1L).otherwise(0L).as("__y"))
    val cells = bucketed(clean, "__x", bins)
      .withColumn("bucket", (F.col("__b0") + 1).cast("long"))
      .groupBy("bucket").agg(F.count(F.lit(1)).as("n"), F.sum("__y").as("n_pos"))
    val wOrd = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pre = cells
      .withColumn("cn", F.sum("n").over(wOrd))
      .withColumn("cp", F.sum("n_pos").over(wOrd))
    val lo = pre.select(F.col("bucket").as("a"),
      (F.col("cn") - F.col("n")).as("cna"), (F.col("cp") - F.col("n_pos")).as("cpa"))
    val hi = pre.select(F.col("bucket").as("b"), F.col("cn").as("cnb"),
      F.col("cp").as("cpb"))
    val intervals = lo.join(hi, F.col("a") <= F.col("b"))
      .select(F.col("a"), F.col("b"), ((F.col("cpb") - F.col("cpa")).cast("double") /
        (F.col("cnb") - F.col("cna"))).as("avg"))
    val innerMin = pre.select(F.col("bucket").as("j"))
      .join(intervals, F.col("a") <= F.col("j") && F.col("b") >= F.col("j"))
      .groupBy("j", "a").agg(F.min("avg").as("mn"))
    val fitted = innerMin.groupBy("j").agg(F.max("mn").as("__fit"))
    pre.join(fitted, F.col("bucket") === F.col("j"))
      .withColumn("merged_bin", F.dense_rank().over(Window.orderBy(F.col("__fit"))).cast("long"))
      .select(F.col("bucket"), F.col("n"), F.col("n_pos"),
        F.round(F.col("n_pos").cast("double") / F.col("n"), 6).as("rate"),
        F.round(F.col("__fit"), 6).as("fitted"), F.col("merged_bin"))
  }
}
