package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, functions => F}
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

/** Scale-safe rank construction.
  *
  * SQL `rank()` (min-rank with ties) over a whole table normally forces a
  * single-partition window — every row through one task. This operator
  * computes the same ranks with no global window:
  *
  *   1. aggregate counts per distinct value (one hash shuffle),
  *   2. running count sums over the sorted distinct values — the
  *      [[PrefixSum]] construction, driver traffic O(#partitions),
  *   3. hash-join the (value → rank) table back to the rows.
  *
  * Every stage is distributed. Tables that need only per-bucket sums
  * skip step 3: [[bucketTable]] sums the per-value cells by bucket.
  */
object Ranks {

  /** (value, rank) table for a numeric column: rank = SQL min-rank, i.e.
    * 1 + count of rows with a strictly smaller value. */
  def minRanks(df: DataFrame, column: String, rankCol: String): DataFrame =
    minRanksWithN(df, column, rankCol)._2

  /** [[minRanks]] plus the total valid-row count (the last prefix-sum
    * offset) — callers that also need n avoid a second scan. */
  private[operators] def minRanksWithN(df: DataFrame, column: String,
                                       rankCol: String): (Long, DataFrame) = {
    val (n, full) = minRanksWithCounts(df, column, rankCol, "__cnt_drop")
    (n, full.drop("__cnt_drop"))
  }

  /** [[minRanksWithN]] additionally exposing the per-value tie count in
    * `countCol` — callers needing both (ECOD's F̂_le = (rank+ties−1)/n)
    * avoid a second aggregation and a second value join. */
  private[operators] def minRanksWithCounts(df: DataFrame, column: String,
                                            rankCol: String,
                                            countCol: String): (Long, DataFrame) =
    walkCells(df, F.col(column), Nil)(_ => StructType(Seq(
      StructField(column, DoubleType, nullable = false),
      StructField(rankCol, DoubleType, nullable = false),
      StructField(countCol, LongType, nullable = false)))) { (below, _, c) =>
      Row(c.getDouble(0), (below + 1).toDouble, c.getLong(1))
    }

  /** Tie-stable k-bucket table from per-value cells — the shape of the
    * ranked diagnostics (Qini, lift, quantile strata, binned response,
    * WoE bins). The rows with a valid `value` are grouped by value once
    * into cells holding a count and the `sums`; the [[PrefixSum]] walk
    * gives each value its 0-based bucket ⌊(minrank − 1)·k/n⌋ from the
    * offsets the loan already computes, so equal values always share a
    * bucket; the cells are then summed by bucket. Nothing is joined back
    * to the rows and the source is scanned once.
    *
    * @param sums (name, per-row Long or Double expression) pairs, each
    *             summed per bucket
    * @return (n, table): n the valid-row count; the lazy table has one
    *         row per non-empty bucket: (`__b` 0-based, `__c` rows,
    *         sums...) */
  private[operators] def bucketTable(rows: DataFrame, value: Column, k: Int,
                                     sums: (String, Column)*): (Long, DataFrame) = {
    val (n, cells) = walkCells(rows, value,
        sums.map { case (name, e) => F.sum(e).as(name) })(s =>
      StructType(StructField("__b", LongType, nullable = false) +: s.fields.tail)) {
      (below, n, c) =>
        // the double algebra of F.floor((minrank - 1) * k / n)
        Row.fromSeq(math.floor(below.toDouble * k / n).toLong +: c.toSeq.tail)
    }
    (n, cells.groupBy("__b").agg(F.sum("__c").as("__c"),
      sums.map { case (name, _) => F.sum(name).as(name) }: _*))
  }

  /** The cells of `rows` per valid (non-null, non-NaN) double `value`:
    * (`__v`, `__c` the row count, `aggs`...), walked in value order.
    * `emit(below, n, cell)` maps each cell given the count of valid rows
    * strictly below its value and their total n, into rows of the
    * schema `out` gives for the cells' schema. The walk is lazy. */
  private def walkCells(rows: DataFrame, value: Column, aggs: Seq[Column])(
      out: StructType => StructType)(
      emit: (Long, Long, Row) => Row): (Long, DataFrame) = {
    val v = value.cast("double")
    val cells = rows.where(v.isNotNull && !F.isnan(v)).groupBy(v.as("__v"))
      .agg(F.count(F.lit(1)).as("__c"), aggs: _*)
    PrefixSum(cells, F.col("__v")) { ps =>
      val off = ps.offsets(1)((s, c) => s(0) += c.getLong(1))
      val n = off.last(0)
      val walked = ps.walk(off) { (o, it) =>
        var below = o(0)
        it.map { c => val r = emit(below, n, c); below += c.getLong(1); r }
      }
      (n, rows.sparkSession.createDataFrame(walked, out(cells.schema)))
    }
  }

  /** Quantile buckets 1..k over a column — the curriculum/pacing binning
    * step ("train on quality deciles") in deterministic, tie-stable
    * form: every row with the same value lands in the same bucket
    * (bucket = floor((minrank−1)·k/n)+1), unlike SQL NTILE whose
    * within-tie assignment is arbitrary order. Scale shape: the
    * [[minRanks]] prefix-sum construction (distinct values only, no
    * global window) plus one value join back — rows with null/NaN get a
    * null bucket. */
  def quantileBuckets(df: DataFrame, column: String, k: Int,
                      bucketCol: String = "bucket"): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val v = F.col(column).cast("double")
    val (n, ranks0) = minRanksWithN(df, column, "__rk")
    if (n == 0L) return df.withColumn(bucketCol, F.lit(null).cast("long"))
    val ranks = ranks0.withColumnRenamed(column, "__v")
    df.join(ranks, v === F.col("__v"), "left")
      .withColumn(bucketCol,
        (F.floor((F.col("__rk") - 1) * k / n) + 1).cast("long"))
      .drop("__v", "__rk")
  }

  /** Binned response curve — "how does the outcome move across the
    * feature's own distribution": mean response with a normal CI per
    * tie-stable quantile bucket of x (the [[quantileBuckets]]
    * assignment, so equal x always lands together). The model-free
    * partial-dependence look at one feature — the diagnostic to run
    * BEFORE trusting a fitted slope, and the population twin of the
    * score-space reliability table.
    *
    * One [[bucketTable]] of explicit sums.
    *
    * @return one row per bucket: (bucket, n, x_mean, y_mean, ci_lo,
    *         ci_hi), floats rounded 6 */
  def binnedResponse(df: DataFrame, xCol: String, yCol: String,
                     bins: Int): DataFrame = {
    require(bins >= 2 && bins <= 1000, "bins must be in 2..1000")
    val x = F.col(xCol).cast("double")
    val y = F.col(yCol).cast("double")
    val (_, cells) = bucketTable(df.where(y.isNotNull && !F.isnan(y)), x, bins,
      "__sx" -> x, "__sy" -> y, "__syy" -> y * y)
    val agged = cells.select((F.col("__b") + 1L).as("bucket"),
      F.col("__c").as("n"), F.col("__sx"), F.col("__sy"), F.col("__syy"))
    val nD = F.col("n").cast("double")
    val xm = F.col("__sx") / nD
    val ym = F.col("__sy") / nD
    val s2 = (F.col("__syy") - nD * ym * ym) / (nD - 1.0)
    val se = F.sqrt(F.when(s2 > 0.0, s2).otherwise(0.0) / nD)
    val z = F.lit(1.959964)
    agged
      .where(F.col("n") >= 2L)
      .select(F.col("bucket"), F.col("n"),
        F.round(xm, 6).as("x_mean"), F.round(ym, 6).as("y_mean"),
        F.round(ym - z * se, 6).as("ci_lo"),
        F.round(ym + z * se, 6).as("ci_hi"))
  }

  /** Rank-based inverse transform ("quantile normalization"): map each
    * value to its plotting position u = (min-rank − ½)/n and through a
    * target distribution's PPF — the feature-engineering move that
    * forces ANY empirical marginal into a chosen shape (Gaussianize a
    * heavy-tailed feature, uniformize a score before calibration).
    *
    * Ranks come from the prefix-sum construction above (no global
    * window); the PPF is the SAME `dist_ppf` scalar the samplers and
    * the SQL surface use, so every registered family is a valid target
    * and the parameter convention is shared. Ties (equal values) get
    * equal min-ranks and therefore identical transformed values —
    * deterministic under any partitioning. Null/NaN rows pass through
    * with a null transform.
    *
    * @param params scipy-convention parameters ([shape...], loc, scale)
    * @return `df` + `uCol` (the plotting position) + `outCol` */
  def rankInverseTransform(df: DataFrame, column: String,
                           dist: String, params: Seq[Double],
                           outCol: String = "transformed",
                           uCol: String = "u"): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val v = F.col(column).cast("double")
    val (n, ranks0) = minRanksWithN(df, column, "__rk")
    if (n == 0L)
      return df.withColumn(uCol, F.lit(null).cast("double"))
        .withColumn(outCol, F.lit(null).cast("double"))
    val ranks = ranks0.withColumnRenamed(column, "__v")
    val u = (F.col("__rk") - 0.5) / n.toDouble
    val ppf = ColumnBridge.column(graft.functions.DistScalar.build("ppf",
      Seq(ColumnBridge.expression(F.lit(dist)),
        ColumnBridge.expression(F.array(params.map(F.lit): _*)),
        ColumnBridge.expression(F.col(uCol))),
      Map.empty, Map.empty))
    df.join(ranks, v === F.col("__v"), "left")
      .withColumn(uCol, u)
      .withColumn(outCol, ppf)
      .drop("__v", "__rk")
  }

  /** Gini coefficient of a non-negative value column per group — the
    * inequality summary for a data card ("how concentrated is revenue /
    * token count / document length within each segment"):
    *
    *   G = (2·Σ i·x₍ᵢ₎ − (n+1)·Σx) / (n·Σx)
    *
    * over the group's values sorted ascending (i = 1..n). Ties make the
    * rank assignment arbitrary but leave the sum invariant (equal x
    * share the swapped coefficients), so the result is deterministic.
    * One rank window PARTITIONED BY GROUP + one aggregation per group;
    * zero-total groups are omitted (G undefined).
    *
    * @return one row per group: (groupCols..., gini, n, total) — gini
    *         rounded to 6, total to 2 */
  def giniByGroup(df: DataFrame, groupCols: Seq[String],
                  valueCol: String): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    require(!groupCols.exists(_.startsWith("__")),
      "group columns must not use the __ internal prefix")
    import org.apache.spark.sql.expressions.Window
    val v = F.col(valueCol).cast("double")
    val gCols = groupCols.map(F.col)
    val w = Window.partitionBy(gCols: _*).orderBy("__v")
    val ranked = df
      .where(v.isNotNull && !F.isnan(v) && v >= 0.0)
      .select(gCols :+ v.as("__v"): _*)
      .withColumn("__i", F.row_number().over(w).cast("long"))
    ranked.groupBy(gCols: _*).agg(
      F.count(F.lit(1)).as("n"),
      F.sum("__v").as("__s"),
      F.sum(F.col("__i") * F.col("__v")).as("__is"))
      .where(F.col("__s") > 0.0)
      .select(gCols ++ Seq(
        F.round((F.lit(2.0) * F.col("__is") -
          (F.col("n") + 1L) * F.col("__s")) /
          (F.col("n") * F.col("__s")), 6).as("gini"),
        F.col("n"), F.round(F.col("__s"), 2).as("total")): _*)
  }

  /** Inequality index panel per group — the moment-based companions to
    * [[giniByGroup]]'s rank-based index, from ONE aggregation (no
    * ranking pass, so it composes into any existing group-by):
    *
    *   Theil T     = (1/(nμ))·Σ x·ln x − ln μ      (0 = equal; top-
    *                 sensitive, decomposable across subgroups),
    *   Atkinson(1) = 1 − exp((1/n)·Σ ln x)/μ       (1 − geomean/μ —
    *                 bottom-sensitive welfare loss),
    *   CV          = σ_pop/μ                        (the plain spread)
    *
    * Strictly positive values only (both indices need ln x); groups
    * with n < 2 or zero mean are omitted.
    *
    * @return one row per group: (groupCols..., n, mean, theil_t,
    *         atkinson_1, cv), floats rounded to 6 */
  def inequalityByGroup(df: DataFrame, groupCols: Seq[String],
                        valueCol: String): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    require(!groupCols.exists(_.startsWith("__")),
      "group columns must not use the __ internal prefix")
    val v = F.col(valueCol).cast("double")
    val gCols = groupCols.map(F.col)
    val agged = df
      .where(v.isNotNull && !F.isnan(v) && v > 0.0)
      .select(gCols :+ v.as("__v"): _*)
      .groupBy(gCols: _*).agg(
        F.count(F.lit(1)).as("n"),
        F.sum("__v").as("__s"),
        F.sum(F.col("__v") * F.col("__v")).as("__ss"),
        F.sum(F.col("__v") * F.log(F.col("__v"))).as("__sxl"),
        F.sum(F.log(F.col("__v"))).as("__sl"))
    val n = F.col("n").cast("double")
    val mu = F.col("__s") / n
    val theil = F.col("__sxl") / (n * mu) - F.log(mu)
    val atk = F.lit(1.0) - F.exp(F.col("__sl") / n) / mu
    val varPop = F.col("__ss") / n - mu * mu
    agged
      .where(F.col("n") >= 2L && F.col("__s") > 0.0)
      .select(gCols ++ Seq(F.col("n"),
        F.round(mu, 6).as("mean"),
        F.round(theil, 6).as("theil_t"),
        F.round(atk, 6).as("atkinson_1"),
        F.round(F.when(varPop > 0.0, F.sqrt(varPop)).otherwise(0.0) /
          mu, 6).as("cv")): _*)
  }

  /** Pareto concentration per group: how many of the group's KEYS
    * (customers, documents, suppliers) carry `share` of the group's
    * total value — the "do 20% of customers make 80% of revenue"
    * diagnostic, and the skew early-warning for partition planning.
    *
    * One (group, key) aggregation, then a window PARTITIONED BY GROUP
    * ordered by (key total desc, key asc — deterministic under ties);
    * k_top = the first rank whose cumulative share reaches `share`.
    *
    * @return one row per group: (groupCols..., n_keys, total, k_top,
    *         k_frac) — total rounded to 2, k_frac to 6 */
  def paretoByGroup(df: DataFrame, groupCols: Seq[String], keyCol: String,
                    valueCol: String, share: Double = 0.8): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    require(!groupCols.exists(_.startsWith("__")),
      "group columns must not use the __ internal prefix")
    require(share > 0.0 && share < 1.0, "share must be in (0,1)")
    import org.apache.spark.sql.expressions.Window
    val v = F.col(valueCol).cast("double")
    val gCols = groupCols.map(F.col)
    val keys = df
      .where(v.isNotNull && !F.isnan(v) && F.col(keyCol).isNotNull)
      .groupBy(gCols :+ F.col(keyCol).as("__k"): _*)
      .agg(F.sum(v).as("__kv"))
    val wAll = Window.partitionBy(gCols: _*)
    val wOrd = Window.partitionBy(gCols: _*)
      .orderBy(F.col("__kv").desc, F.col("__k").asc)
    keys
      .withColumn("__tot", F.sum("__kv").over(wAll))
      .withColumn("__cum", F.sum("__kv").over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__r", F.row_number().over(wOrd).cast("long"))
      .where(F.col("__tot") > 0.0)
      .groupBy(gCols: _*).agg(
        F.count(F.lit(1)).as("n_keys"),
        F.round(F.max("__tot"), 2).as("total"),
        F.min(F.when(F.col("__cum") >= F.lit(share) * F.col("__tot"),
          F.col("__r"))).as("k_top"))
      .withColumn("k_frac", F.round(
        F.col("k_top").cast("double") / F.col("n_keys"), 6))
  }

  /** Spearman rank correlation of two columns with SQL rank() (min-rank)
    * tie semantics — Pearson correlation over joined rank tables. The
    * result is computed eagerly so the rank tables' cache lifecycle ends
    * inside this call. */
  def spearman(df: DataFrame, colA: String, colB: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // the two rank constructions are independent — build colA's on a
    // driver thread while colB's is submitted, so their scans overlap
    // (opt guide §2.6); each is internally materialized (checkpointed)
    val raF = scala.concurrent.Future(minRanks(df, colA, "__ra"))(
      scala.concurrent.ExecutionContext.global)
    val rb = minRanks(df, colB, "__rb")
    val ra = scala.concurrent.Await.result(raF,
      scala.concurrent.duration.Duration.Inf)
    val rho = df
      .select(F.col(colA).cast("double").as(colA), F.col(colB).cast("double").as(colB))
      .join(ra, Seq(colA))
      .join(rb, Seq(colB))
      .agg(F.corr("__ra", "__rb").as("spearman"))
      .head().getDouble(0)
    Seq(rho).toDF("spearman")
  }

  /** Kendall τ-b rank correlation with full tie correction:
    *
    *   τ_b = (C − D) / √((n₀ − n₁)(n₀ − n₂)),
    *   n₀ = n(n−1)/2, n₁/n₂ = Σ t(t−1)/2 over x / y tie groups
    *
    * — the concordance coefficient ("do bigger orders get bigger
    * discounts, pair by pair") that is robust where Pearson is not and
    * better-behaved than Spearman under heavy ties. Exact, from the
    * CONTINGENCY CELLS rather than row pairs: C and D are one
    * cell-level join on (x' > x) with the y comparison folded as a
    * conditional sum — each unordered concordant/discordant pair is
    * counted exactly once. Cost is O(cells²) in the worst case, NOT
    * O(n²): rows reduce to (x, y) cells in one aggregation first, so
    * the operator scales to any row count whose joint support is
    * bounded (quantities, buckets, grades...). For continuous columns,
    * bucket first — a LOUD cardinality guard refuses row-scale cell
    * frames rather than silently attempting the quadratic join. Pair
    * counts are exact Longs (overflows only past ~4·10⁹ rows — switch
    * the sums to DECIMAL(38,0) beyond that).
    *
    * @return one row: (n, concordant, discordant, tau_b rounded to 6;
    *         null τ when either margin is all-ties) */
  def kendallTauB(df: DataFrame, colA: String, colB: String): DataFrame = Persisted { scope =>
    val a = F.col(colA).cast("double")
    val b = F.col(colB).cast("double")
    val cells = scope.checkpoint(df
      .where(a.isNotNull && !F.isnan(a) && b.isNotNull && !F.isnan(b))
      .groupBy(a.as("__x"), b.as("__y"))
      .agg(F.count(F.lit(1)).as("__c")))
    // loud guard, not a silent cap: the concordance join is |cells|²
    val nCells = cells.count()
    require(nCells <= 16384L,
      s"$nCells joint cells — kendallTauB is exact on LOW-CARDINALITY " +
        "pairs (the cell join is O(cells²)); bin/quantize the " +
        "columns first")
    val l = cells.select(F.col("__x").as("__xl"), F.col("__y").as("__yl"),
      F.col("__c").as("__cl"))
    val r = cells.select(F.col("__x").as("__xr"), F.col("__y").as("__yr"),
      F.col("__c").as("__cr"))
    val pairs = l.join(F.broadcast(r),
      F.col("__xr") > F.col("__xl") && F.col("__yr") =!= F.col("__yl"))
      .agg(
        F.coalesce(F.sum(F.when(F.col("__yr") > F.col("__yl"),
          F.col("__cl") * F.col("__cr")).otherwise(0L)), F.lit(0L))
          .as("concordant"),
        F.coalesce(F.sum(F.when(F.col("__yr") < F.col("__yl"),
          F.col("__cl") * F.col("__cr")).otherwise(0L)), F.lit(0L))
          .as("discordant"))
    val margins = cells.agg(F.sum("__c").as("__n"))
    val tx = cells.groupBy("__x").agg(F.sum("__c").as("__t"))
      .agg(F.sum(F.col("__t") * (F.col("__t") - 1L) / 2L).as("__n1"))
    val ty = cells.groupBy("__y").agg(F.sum("__c").as("__t"))
      .agg(F.sum(F.col("__t") * (F.col("__t") - 1L) / 2L).as("__n2"))
    val joined = pairs.crossJoin(margins).crossJoin(tx).crossJoin(ty)
    val n = F.col("__n")
    val n0 = n * (n - 1L) / 2L
    val denom = F.sqrt((n0 - F.col("__n1")).cast("double") *
      (n0 - F.col("__n2")).cast("double"))
    joined
      .withColumn("n", n)
      .withColumn("tau_b", F.when(
        n0 > F.col("__n1") && n0 > F.col("__n2"),
        F.round((F.col("concordant") - F.col("discordant"))
          .cast("double") / denom, 6)))
      .select("n", "concordant", "discordant", "tau_b")
  }

  /** Empirical quantile mapping (CDF matching): rewrite cohort SRC's
    * value scale onto cohort REF's distribution — each distinct src
    * value v maps to REF's ⌈u·n_R⌉-th order statistic at v's plotting
    * position u = (rank_S(v) − ½)/n_S. The domain-adaptation /
    * batch-effect-correction primitive ("make shard B's score
    * distribution look like shard A's" before thresholds transfer).
    *
    * Exact and scale-safe: both rank tables come from the
    * [[minRanks]] prefix-sum; the order-statistic lookup is a
    * RANGE-SORTED MERGE of the two distinct-value tables with a
    * per-partition last-ref-value carry seeded by a broadcast scan
    * (the as-of pattern without its single-key window) — driver
    * traffic is O(#partitions), nothing value-sized collects.
    *
    * @return the distinct-src-value mapping table: (value, u, mapped)
    *         — join it back to rewrite rows */
  def quantileMap(df: DataFrame, cohortCol: String, valueCol: String,
                  labelSrc: String, labelRef: String): DataFrame = Persisted { scope =>
    require(labelSrc != labelRef, "cohort labels must differ")
    val spark = df.sparkSession
    import spark.implicits._
    val g = F.col(cohortCol).cast("string")
    val v = F.col(valueCol).cast("double")
    val clean = df
      .where(v.isNotNull && !F.isnan(v) && g.isin(labelSrc, labelRef))
      .select(g.as("__g"), v.as("__v"))
    val (nS, srcR) = minRanksWithN(
      clean.where(F.col("__g") === labelSrc).select("__v"), "__v", "__rk")
    val (nR, refR) = minRanksWithN(
      clean.where(F.col("__g") === labelRef).select("__v"), "__v", "__rk")
    require(nS > 0L && nR > 0L, "both cohorts need rows")
    val srcRows = srcR.select(
      F.ceil(((F.col("__rk") - 0.5) / nS) * nR).cast("double")
        .as("__pos"),
      F.lit(1).as("__side"),
      F.lit(null).cast("double").as("__refv"),
      F.col("__v").as("__value"),
      ((F.col("__rk") - 0.5) / nS).as("__u"))
    val refRows = refR.select(
      F.col("__rk").as("__pos"), F.lit(0).as("__side"),
      F.col("__v").as("__refv"),
      F.lit(null).cast("double").as("__value"),
      F.lit(null).cast("double").as("__u"))
    // ref boundaries sort BEFORE src probes at equal position, so a
    // probe t matches the ref value whose rank range starts at t
    PrefixSum(refRows.unionByName(srcRows)
        .as[(Double, Int, Option[Double], Option[Double], Option[Double])],
        F.col("__pos"), F.col("__side")) { ps =>
      val partLast = ps.parts { it =>
        var last: Option[Double] = None
        it.foreach { r => if (r._2 == 0) last = r._3 }
        last
      }
      val seeds = partLast.scanLeft(Option.empty[Double]) {
        (acc, cur) => cur.orElse(acc)
      }
      scope.checkpoint(ps.walk(seeds) { (seed, it) =>
        var carry = seed
        it.flatMap { r =>
          if (r._2 == 0) { carry = r._3; None }
          // a ref row with rank 1 precedes every probe, so the carry
          // is always defined by the time a probe is reached
          else Some((r._4.get, r._5.get, carry.get))
        }
      }.toDF("value", "u", "mapped"))
    }
  }

  /** Exact weighted median per group (type-1 / lower): the smallest
    * value whose cumulative weight reaches half the group's total —
    * "the revenue-weighted typical price". Per-(group, value) weight
    * cells + a per-GROUP cumulative window; the running sum's
    * association is fixed by the (deterministic) value order, so the
    * pick replays exactly. Rows with null/NaN values or null/NaN/
    * negative weights are ignored; zero-total groups are omitted.
    *
    * @return one row per group: (groupCols..., total_weight, w_median) */
  def weightedMedianByGroup(df: DataFrame, groupCols: Seq[String],
                            valueCol: String,
                            weightCol: String): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    import org.apache.spark.sql.expressions.Window
    val gCols = groupCols.map(F.col)
    val v = F.col(valueCol).cast("double")
    val w = F.col(weightCol).cast("double")
    val cells = df
      .where(v.isNotNull && !F.isnan(v) && w.isNotNull && !F.isnan(w) &&
        w > 0.0)
      .groupBy(gCols :+ v.as("__v"): _*)
      .agg(F.sum(w).as("__w"))
    val wg = Window.partitionBy(gCols: _*)
    val wCum = Window.partitionBy(gCols: _*).orderBy("__v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells
      .withColumn("__tw", F.sum("__w").over(wg))
      .withColumn("__cum", F.sum("__w").over(wCum))
      .groupBy(gCols: _*)
      .agg(F.round(F.max("__tw"), 6).as("total_weight"),
        F.min(F.when(F.col("__cum") >= F.col("__tw") * 0.5,
          F.col("__v"))).as("w_median"))
  }

  /** Chatterjee's ξ (xicor, JASA 2021) per group — the modern
    * dependence coefficient [[spearman]] and [[kendallTauB]] miss:
    * ξ → 0 iff X ⊥ Y and → 1 iff Y is a measurable FUNCTION of X,
    * monotone or not (a parabola scores ξ ≈ 1, Spearman ≈ 0). The
    * estimator orders rows by X and measures how wildly the Y-ranks
    * jump:
    *
    *   ξ = 1 − n·Σᵢ|r_{i+1} − rᵢ| / (2·Σᵢ lᵢ(n−lᵢ))
    *
    * with rᵢ = #{y_j ≤ y_i}, lᵢ = #{y_j ≥ y_i} (the general
    * ties-allowed form). X-ties are broken by the caller-supplied
    * deterministic key columns rather than the paper's randomization,
    * so the statistic is reproducible and replays exactly — document
    * the tie-break as part of the result's identity.
    *
    * Scale shape: two RANGE-frame cumulative counts (y ascending /
    * descending) plus one lag, all partitioned BY GROUP — the same
    * key-partitioned-window contract as the rolling-feature panels;
    * every term is an exact integer until the single final ratio.
    *
    * @param tieCols deterministic X-tie-break columns (need not be a
    *                unique key — y is appended as the final tie-break,
    *                which cannot move the statistic; see below)
    * @return one row per group: (groupCols…, n, xi) */
  def xicorByGroup(df: DataFrame, groupCols: Seq[String], xCol: String,
                   yCol: String, tieCols: Seq[String]): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    require(tieCols.nonEmpty, "need deterministic x-tie-break columns")
    import org.apache.spark.sql.expressions.Window
    val gCols = groupCols.map(F.col)
    val x = F.col(xCol).cast("double")
    val y = F.col(yCol).cast("double")
    val clean = df
      .where(x.isNotNull && !F.isnan(x) && y.isNotNull && !F.isnan(y))
      .select(gCols ++ Seq(x.as("__x"), y.as("__y")) ++
        tieCols.map(F.col): _*)
    val wg = Window.partitionBy(gCols: _*)
    val wUp = wg.orderBy(F.col("__y").asc)
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val wDn = wg.orderBy(F.col("__y").desc)
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    // __y is appended as the FINAL tie-break: rows still tied after
    // (x, tieCols…) then share y, hence share the y-rank r, so any
    // residual order ambiguity cannot move Σ|Δr| — determinism holds
    // even when tieCols are not a unique key
    val wX = wg.orderBy(
      (F.col("__x").asc +: tieCols.map(c => F.col(c).asc)) :+
        F.col("__y").asc: _*)
    val ranked = clean
      .withColumn("__n", F.count(F.lit(1)).over(wg))
      .withColumn("__r", F.count(F.lit(1)).over(wUp))
      .withColumn("__l", F.count(F.lit(1)).over(wDn))
      .withColumn("__dr",
        F.abs(F.col("__r") - F.lag("__r", 1).over(wX)))
    ranked
      .groupBy(gCols: _*)
      .agg(F.max("__n").as("n"),
        F.sum("__dr").as("__num"),
        F.sum(F.col("__l") * (F.col("__n") - F.col("__l"))).as("__den"))
      .withColumn("xi",
        F.when(F.col("__den") > 0L,
          F.round(F.lit(1.0) - F.col("n").cast("double") *
            F.col("__num") / (F.lit(2.0) * F.col("__den")), 6)))
      .select(gCols :+ F.col("n") :+ F.col("xi"): _*)
  }
}
