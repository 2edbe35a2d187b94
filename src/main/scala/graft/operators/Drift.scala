package graft.operators

import org.apache.spark.sql.{DataFrame, functions => F}

/** Data-drift metrics between two cohorts of one table (reference vs
  * current snapshot, control vs treatment, yesterday vs today) — the
  * monitoring companions to the model-level normal KL in
  * [[graft.functions.Metrics.klNormal]] and the streaming drift score:
  *
  *  - [[histDrift]]: Population Stability Index + KL both ways over a
  *    FIXED equal-width binning of a continuous column (the industry
  *    drift gauge: PSI < 0.1 stable, 0.1–0.25 drifting, > 0.25 shifted).
  *  - [[pmfDrift]]: the same divergences over the empirical PMF of a
  *    discrete/categorical column (label drift, source-mix drift).
  *
  * Scale shape: ONE groupBy over the cell key — partial-aggregated
  * map-side with both cohort counts as conditional sums, so the exchange
  * carries ≤ cells rows regardless of input size — then the divergence
  * folds over that tiny frame. Cells observed in only one cohort get a
  * deterministic +0.5 Laplace smoothing (divergences need p, q > 0); the
  * support is the cells observed in EITHER cohort, which is exactly the
  * set an external SQL engine's GROUP BY sees, so every count is integer
  * and the whole metric replays hash-exactly up to ln ULPs (absorbed by
  * the caller's rounding).
  */
object Drift {

  /** PSI + KL(a‖b) + KL(b‖a) over `numBins` equal-width bins of
    * `[binStart, binStart + numBins·binWidth)`, values outside clamped to
    * the edge bins (same floor-bin arithmetic as the histogram path).
    * `cohortCol` must take exactly the values "a" and "b".
    *
    * @return one row: (psi, kl_ab, kl_ba, n_a, n_b, n_cells) */
  def histDrift(df: DataFrame, cohortCol: String, valueCol: String,
                binStart: Double, binWidth: Double, numBins: Int): DataFrame = {
    require(numBins > 0 && binWidth > 0, "need positive bins/width")
    val v = F.col(valueCol).cast("double")
    val bin = F.least(
      F.greatest(F.floor((v - F.lit(binStart)) / F.lit(binWidth)), F.lit(0L)),
      F.lit((numBins - 1).toLong))
    // NaN is excluded like every other Drift entry point: floor(NaN)
    // codegens to 0L, so admitting it would silently count NaN rows as
    // bin-0 mass (and desynchronize from any external replay)
    divergences(df.where(v.isNotNull && !F.isnan(v))
      .select(F.col(cohortCol).as("g"), bin.as("k")))
  }

  /** The same divergences over the empirical PMF of a discrete column.
    *
    * @return one row: (psi, kl_ab, kl_ba, n_a, n_b, n_cells) */
  def pmfDrift(df: DataFrame, cohortCol: String, valueCol: String): DataFrame =
    divergences(df.where(F.col(valueCol).isNotNull)
      .select(F.col(cohortCol).as("g"), F.col(valueCol).as("k")))

  /** Two-sample Kolmogorov–Smirnov distance between the cohorts' empirical
    * CDFs — the distribution-level drift test (sensitive to ANY shape
    * change, not just binned mass moves), with the asymptotic p-value at
    * effective n = na·nb/(na+nb).
    *
    * Scale shape: the same construction as [[Ranks.minRanks]] — one
    * per-distinct-value conditional-count shuffle, range-partitioned
    * per-partition running sums seeded by broadcast offsets (driver sees
    * only ≤ #partitions longs), then a per-partition max of
    * |Fa − Fb| folded on the driver. No global window, no single-partition
    * stage; D is a ratio of exact integers, so it replays hash-exactly.
    *
    * Cohort contract: rows whose `cohortCol` equals `labelA` or `labelB`
    * (defaults "a"/"b") are compared; any OTHER label is ignored, and if
    * either named cohort ends up empty the call fails fast rather than
    * returning a vacuous D.
    *
    * @return one row: (ks_d, p_value, n_a, n_b) */
  def ksTwoSample(df: DataFrame, cohortCol: String, valueCol: String,
                  labelA: String = "a", labelB: String = "b"): DataFrame = {
    require(labelA != labelB, "cohort labels must differ")
    val spark = df.sparkSession
    import spark.implicits._
    val counts = df
      .select(F.col(cohortCol).cast("string").as("g"),
        F.col(valueCol).cast("double").as("v"))
      .where(F.col("v").isNotNull && !F.isnan(F.col("v")) &&
        F.col("g").isin(labelA, labelB))
      .groupBy("v").agg(
        F.sum(F.when(F.col("g") === labelA, 1L).otherwise(0L)).as("ca"),
        F.sum(F.when(F.col("g") === labelB, 1L).otherwise(0L)).as("cb"))
    PrefixSum(counts.as[(Double, Long, Long)], F.col("v")) { ps =>
      val off = ps.offsets(2) { (s, r) => s(0) += r._2; s(1) += r._3 }
      val na = off.last(0); val nb = off.last(1)
      require(na > 0 && nb > 0, "both cohorts need rows")
      val d = ps.walk(off) { (o, it) =>
        var cumA = o(0); var cumB = o(1)
        var best = 0.0
        it.foreach { case (_, a, b) =>
          cumA += a; cumB += b
          val diff = math.abs(cumA.toDouble / na - cumB.toDouble / nb)
          if (diff > best) best = diff
        }
        Iterator(best)
      }.collect().max
      val nEff = na.toDouble * nb / (na.toDouble + nb)
      val p = graft.functions.SpecialMath.kolmogorovSf(math.sqrt(nEff) * d)
      Seq((d, p, na, nb)).toDF("ks_d", "p_value", "n_a", "n_b")
    }
  }

  /** Exact two-sample 1-D Wasserstein-1 distance (earth mover's) between
    * the cohorts' empirical distributions:
    * W₁ = ∫|F̂_a − F̂_b| dx = Σᵢ |F̂_a(vᵢ) − F̂_b(vᵢ)|·(vᵢ₊₁ − vᵢ) over
    * the pooled distinct values — the magnitude-aware companion to
    * [[ksTwoSample]]'s sup-distance (K-S says the CDFs differ; W₁ says
    * by HOW MUCH, in the value's own units, so it survives averaging
    * over segments).
    *
    * Scale shape: the identical construction to [[ksTwoSample]] — one
    * per-distinct-value conditional-count shuffle, range-partitioned
    * running sums seeded by broadcast offsets. The only extra machinery
    * is the value gap across partition boundaries: the driver collects
    * each partition's FIRST value (≤ #partitions doubles) and hands
    * partition i its successor's, so the per-partition folds tile the
    * integral exactly. Partials come back in partition order — the
    * driver-side sum is deterministic for a given dataset.
    *
    * @return one row: (w1, n_a, n_b), w1 rounded to 6 */
  def wassersteinTwoSample(df: DataFrame, cohortCol: String,
                           valueCol: String, labelA: String = "a",
                           labelB: String = "b"): DataFrame = {
    require(labelA != labelB, "cohort labels must differ")
    val spark = df.sparkSession
    import spark.implicits._
    val counts = df
      .select(F.col(cohortCol).cast("string").as("g"),
        F.col(valueCol).cast("double").as("v"))
      .where(F.col("v").isNotNull && !F.isnan(F.col("v")) &&
        F.col("g").isin(labelA, labelB))
      .groupBy("v").agg(
        F.sum(F.when(F.col("g") === labelA, 1L).otherwise(0L)).as("ca"),
        F.sum(F.when(F.col("g") === labelB, 1L).otherwise(0L)).as("cb"))
    PrefixSum(counts.as[(Double, Long, Long)], F.col("v")) { ps =>
      val partInfo = ps.parts { it =>
        var sa = 0L; var sb = 0L
        var first = Double.NaN
        it.foreach { r =>
          if (first.isNaN) first = r._1
          sa += r._2; sb += r._3
        }
        (Array(sa, sb), first)
      }
      val off = PrefixSum.scan(2, partInfo.map(_._1))
      val na = off.last(0); val nb = off.last(1)
      require(na > 0 && nb > 0, "both cohorts need rows")
      // successor's first value per partition: the first non-NaN first
      // value among the partitions to the right (empty ones skipped)
      val nexts = new Array[Double](partInfo.length)
      var carry = Double.NaN
      var i = partInfo.length - 1
      while (i >= 0) {
        nexts(i) = carry
        if (!partInfo(i)._2.isNaN) carry = partInfo(i)._2
        i -= 1
      }
      val partials = ps.walk(off.zip(nexts)) { (seed, it) =>
        var cumA = seed._1(0); var cumB = seed._1(1)
        var acc = 0.0
        var prev = Double.NaN
        it.foreach { case (v, a, b) =>
          if (!prev.isNaN)
            acc += math.abs(cumA.toDouble / na - cumB.toDouble / nb) *
              (v - prev)
          cumA += a; cumB += b; prev = v
        }
        val succ = seed._2
        if (!prev.isNaN && !succ.isNaN)
          acc += math.abs(cumA.toDouble / na - cumB.toDouble / nb) *
            (succ - prev)
        Iterator(acc)
      }.collect()
      val w1 = math.rint(partials.sum * 1e6) / 1e6
      Seq((w1, na, nb)).toDF("w1", "n_a", "n_b")
    }
  }

  /** Exact two-sample K-S PER GROUP — distribution-level drift per
    * segment, the sup-distance companion to the binned
    * [[histDriftByGroup]] PSI: within each group, D = sup|F̂_a − F̂_b|
    * over the pooled distinct values, via windows PARTITIONED BY GROUP
    * on the (group, value) cells frame — no global window, no fold; a
    * million groups cost one shuffle. p = Kolmogorov survival at
    * √(n_a·n_b/(n_a+n_b))·D with D 6-rounded first (the replay
    * discipline). Groups missing a cohort are omitted.
    *
    * @return one row per group: (groupCols..., ks_d, p_value, n_a,
    *         n_b) */
  def ksTwoSampleByGroup(df: DataFrame, groupCols: Seq[String],
                         cohortCol: String, valueCol: String,
                         labelA: String = "a",
                         labelB: String = "b"): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    require(!groupCols.exists(_.startsWith("__")),
      "group columns must not use the __ internal prefix")
    require(labelA != labelB, "cohort labels must differ")
    import org.apache.spark.sql.expressions.Window
    val gCols = groupCols.map(F.col)
    val g = F.col(cohortCol).cast("string")
    val v = F.col(valueCol).cast("double")
    val cells = df
      .where(v.isNotNull && !F.isnan(v) && g.isin(labelA, labelB))
      .select(gCols :+ g.as("__g") :+ v.as("__v"): _*)
      .groupBy(gCols :+ F.col("__v"): _*)
      .agg(F.sum(F.when(F.col("__g") === labelA, 1L).otherwise(0L))
          .as("__ca"),
        F.sum(F.when(F.col("__g") =!= labelA, 1L).otherwise(0L))
          .as("__cb"))
    val wg = Window.partitionBy(gCols: _*)
    val wCum = wg.orderBy("__v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pUdf = F.udf((d: Double, na: Long, nb: Long) => {
      val nEff = na.toDouble * nb / (na.toDouble + nb)
      math.rint(graft.functions.SpecialMath.kolmogorovSf(
        math.sqrt(nEff) * d) * 1e6) / 1e6
    })
    cells
      .withColumn("__na", F.sum("__ca").over(wg))
      .withColumn("__nb", F.sum("__cb").over(wg))
      // guard BEFORE dividing: a group missing a cohort would hit
      // ANSI divide-by-zero inside the window projection, not the
      // later filter
      .withColumn("__diff",
        F.when(F.col("__na") > 0L && F.col("__nb") > 0L, F.abs(
          F.sum("__ca").over(wCum).cast("double") / F.col("__na") -
          F.sum("__cb").over(wCum).cast("double") / F.col("__nb"))))
      .groupBy(gCols: _*)
      .agg(F.round(F.max("__diff"), 6).as("ks_d"),
        F.max("__na").as("n_a"), F.max("__nb").as("n_b"))
      .where(F.col("n_a") > 0L && F.col("n_b") > 0L)
      .withColumn("p_value",
        pUdf(F.col("ks_d"), F.col("n_a"), F.col("n_b")))
      .select(gCols ++ Seq(F.col("ks_d"), F.col("p_value"),
        F.col("n_a"), F.col("n_b")): _*)
  }

  /** D̂ from two ALREADY-BUILT KLL sketches — the per-shard union use
    * case: per-day sketches (tree-merged by [[Sketches.kllSketch]], or
    * unioned later with `KllDoublesSketch.merge`) compare here with NO
    * access to raw data at all. D̂ is the max rank gap probed at a
    * quantile grid of both sketches; KLL's rank guarantee (~1.65/√k at
    * 99% per side) plus the grid pitch bound the error:
    * |D̂ − D| ≤ εa + εb + 1/probes. */
  def ksFromSketches(ska: org.apache.datasketches.kll.KllDoublesSketch,
                     skb: org.apache.datasketches.kll.KllDoublesSketch,
                     probes: Int = 200): Double = {
    require(!ska.isEmpty && !skb.isEmpty, "both sketches need values")
    val qs = (0 to probes).map(_.toDouble / probes)
    val pts = (qs.map(ska.getQuantile) ++ qs.map(skb.getQuantile)).distinct
    pts.map(x => math.abs(ska.getRank(x) - skb.getRank(x))).max
  }

  /** [[ksFromSketches]] plus the asymptotic two-sample significance: the
    * Kolmogorov survival function at √(n_a·n_b/(n_a+n_b))·D̂ — the same
    * tail series the exact [[ksTwoSample]] and the one-sample M7 metric
    * use, at the counts the sketches carry exactly (KLL tracks N
    * losslessly; only ranks are approximate). A drift monitor needs the
    * calibrated threshold, not just the raw distance: D̂ = 0.01 is
    * decisive at n = 10⁶ per side and meaningless at n = 100. Because
    * D̂ carries the sketch error ε_a + ε_b + 1/probes, the p-value
    * inherits it — at monitoring scale (n ≫ 10⁴) that error moves p
    * across a 0.05 line only when D sits essentially ON the line, which
    * is exactly when a monitor should escalate to the exact test anyway.
    *
    * @return (d_hat, p_value) */
  def ksFromSketchesTest(ska: org.apache.datasketches.kll.KllDoublesSketch,
                         skb: org.apache.datasketches.kll.KllDoublesSketch,
                         probes: Int = 200): (Double, Double) = {
    val d = ksFromSketches(ska, skb, probes)
    val na = ska.getN.toDouble; val nb = skb.getN.toDouble
    val nEff = na * nb / (na + nb)
    (d, graft.functions.SpecialMath.kolmogorovSf(math.sqrt(nEff) * d))
  }

  /** Sketch-only two-sample K-S — the shard-mergeable form of
    * [[ksTwoSample]]: ONE pass over the data builds both cohorts' KLL
    * sketches per partition (no second scan, no cohort filter re-read),
    * the pairs tree-merge executor-side, and the estimate is
    * [[ksFromSketches]]. This path never computes the exact D (that
    * would re-read everything the sketch form exists to avoid); the
    * harness row audits the estimate against the exact construction
    * separately, the kllRankCheck pattern.
    *
    * Cohort contract (same as [[ksTwoSample]]): only rows labelled
    * `labelA`/`labelB` are sketched; any other label is ignored, and an
    * empty named cohort fails fast ([[ksFromSketches]]' non-empty
    * require) instead of yielding a silent one-sided comparison.
    *
    * @return one row: (ks_est, p_value, n_a, n_b) — p from
    *         [[ksFromSketchesTest]], rounded like the estimate */
  def ksTwoSampleSketch(df: DataFrame, cohortCol: String, valueCol: String,
                        k: Int = 800, probes: Int = 200,
                        labelA: String = "a", labelB: String = "b"): DataFrame = {
    import org.apache.datasketches.kll.KllDoublesSketch
    import org.apache.datasketches.memory.Memory
    require(labelA != labelB, "cohort labels must differ")
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.select(F.col(cohortCol).cast("string").as("g"),
        F.col(valueCol).cast("double").as("v"))
      .where(F.col("v").isNotNull && !F.isnan(F.col("v")) &&
        F.col("g").isin(labelA, labelB))
    val la = labelA // capture the string, not the enclosing object
    val rdd = base.rdd.mapPartitions { it =>
      val sa = KllDoublesSketch.newHeapInstance(k)
      val sb = KllDoublesSketch.newHeapInstance(k)
      it.foreach { r =>
        if (r.getString(0) == la) sa.update(r.getDouble(1))
        else sb.update(r.getDouble(1))
      }
      Iterator.single((sa.toByteArray, sb.toByteArray))
    }
    require(rdd.getNumPartitions > 0, "empty input")
    val (ba, bb) = rdd.treeReduce({ case ((a1, b1), (a2, b2)) =>
      def merge(x: Array[Byte], y: Array[Byte]) = {
        val m = KllDoublesSketch.heapify(Memory.wrap(x))
        m.merge(KllDoublesSketch.heapify(Memory.wrap(y)))
        m.toByteArray
      }
      (merge(a1, a2), merge(b1, b2))
    }, math.max(2, math.ceil(
      math.log(math.max(rdd.getNumPartitions, 2).toDouble) / math.log(16.0)).toInt))
    val ska = KllDoublesSketch.heapify(Memory.wrap(ba))
    val skb = KllDoublesSketch.heapify(Memory.wrap(bb))
    val (dEst, pEst) = ksFromSketchesTest(ska, skb, probes)
    Seq((math.rint(dEst * 1e6) / 1e6, math.rint(pEst * 1e6) / 1e6,
        ska.getN, skb.getN))
      .toDF("ks_est", "p_value", "n_a", "n_b")
  }

  /** Per-GROUP drift: PSI + KL both ways per group in ONE aggregation
    * pass — "which tenants / domains / languages drifted?" asked of a
    * million groups at once, where running [[histDrift]] per group from
    * the driver would launch one job per group. The same fixed binning
    * as [[histDrift]]; cohort labels parameterized like [[ksTwoSample]].
    *
    * Scale shape: one groupBy on (group, bin) — partial-aggregated
    * map-side, the exchange carries ≤ groups·bins rows — then per-group
    * totals ride a window over that tiny frame (partitioned by group, so
    * no global sort) and the divergences fold in a second groupBy of the
    * same size. Groups where either cohort is EMPTY are omitted (the
    * honest per-group signal, same discipline as
    * [[GroupedFit.fitByGroup]]) rather than failing the whole frame.
    *
    * @return one row per group: (groupCols..., psi, kl_ab, kl_ba,
    *         n_a, n_b, n_cells) */
  def histDriftByGroup(df: DataFrame, cohortCol: String, valueCol: String,
                       groupCols: Seq[String], binStart: Double,
                       binWidth: Double, numBins: Int,
                       labelA: String = "a", labelB: String = "b"): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    require(numBins > 0 && binWidth > 0, "need positive bins/width")
    require(labelA != labelB, "cohort labels must differ")
    val v = F.col(valueCol).cast("double")
    val bin = F.least(
      F.greatest(F.floor((v - F.lit(binStart)) / F.lit(binWidth)), F.lit(0L)),
      F.lit((numBins - 1).toLong))
    divergencesByGroup(
      df.where(v.isNotNull && !F.isnan(v) &&
          F.col(cohortCol).isin(labelA, labelB))
        .select(groupCols.map(F.col) :+
          F.col(cohortCol).as("__g") :+ bin.as("__k"): _*),
      groupCols, labelA, labelB)
  }

  /** [[pmfDrift]] per group — categorical/label drift for every group in
    * one pass. Same contract as [[histDriftByGroup]]. */
  def pmfDriftByGroup(df: DataFrame, cohortCol: String, valueCol: String,
                      groupCols: Seq[String],
                      labelA: String = "a", labelB: String = "b"): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    require(labelA != labelB, "cohort labels must differ")
    divergencesByGroup(
      df.where(F.col(valueCol).isNotNull &&
          F.col(cohortCol).isin(labelA, labelB))
        .select(groupCols.map(F.col) :+
          F.col(cohortCol).as("__g") :+ F.col(valueCol).as("__k"): _*),
      groupCols, labelA, labelB)
  }

  /** Jensen–Shannon divergence per group between the cohorts' value
    * PMFs — the bounded, symmetric drift score ([0, ln 2] in nats;
    * `jsd_norm` rescales to [0, 1]) that stays finite where KL blows up
    * on mass a cohort lacks. Same cells frame, smoothing and scale
    * shape as [[pmfDriftByGroup]]: ONE (group, value) aggregation, the
    * fold rides windows PARTITIONED BY GROUP over category cells — a
    * million segments cost one shuffle. Groups missing a cohort are
    * omitted.
    *
    * JSD = ½·Σ p_a·ln(p_a/m) + ½·Σ p_b·ln(p_b/m), m = (p_a+p_b)/2,
    * with the same (c + 0.5)/(n + 0.5·cells) smoothing as PSI/KL so
    * every term is finite and integer-count-exact.
    *
    * @return one row per group: (groupCols..., jsd, jsd_norm, n_a,
    *         n_b, n_cells), jsd/jsd_norm rounded to 6 */
  def jsdByGroup(df: DataFrame, cohortCol: String, valueCol: String,
                 groupCols: Seq[String], labelA: String = "a",
                 labelB: String = "b"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(groupCols.nonEmpty, "need at least one group column")
    require(labelA != labelB, "cohort labels must differ")
    require(!groupCols.exists(_.startsWith("__")),
      "group columns must not use the __ internal prefix")
    val counts = df
      .where(F.col(valueCol).isNotNull &&
        F.col(cohortCol).isin(labelA, labelB))
      .groupBy(groupCols.map(F.col) :+ F.col(valueCol).as("__k"): _*)
      .agg(
        F.sum(F.when(F.col(cohortCol) === labelA, 1L).otherwise(0L))
          .as("__ca"),
        F.sum(F.when(F.col(cohortCol) === labelB, 1L).otherwise(0L))
          .as("__cb"))
    val w = Window.partitionBy(groupCols.map(F.col): _*)
    val tot = counts
      .withColumn("__na", F.sum("__ca").over(w))
      .withColumn("__nb", F.sum("__cb").over(w))
      .withColumn("__cells", F.count(F.lit(1)).over(w))
      .where(F.col("__na") > 0L && F.col("__nb") > 0L)
    val pa = (F.col("__ca") + F.lit(0.5)) /
      (F.col("__na") + F.lit(0.5) * F.col("__cells"))
    val pb = (F.col("__cb") + F.lit(0.5)) /
      (F.col("__nb") + F.lit(0.5) * F.col("__cells"))
    val m = (pa + pb) / 2.0
    tot.groupBy(groupCols.map(F.col): _*)
      .agg(
        F.round(F.sum(F.lit(0.5) * pa * F.log(pa / m) +
          F.lit(0.5) * pb * F.log(pb / m)), 6).as("jsd"),
        F.round(F.sum(F.lit(0.5) * pa * F.log(pa / m) +
          F.lit(0.5) * pb * F.log(pb / m)) / math.log(2.0), 6)
          .as("jsd_norm"),
        F.first(F.col("__na")).as("n_a"),
        F.first(F.col("__nb")).as("n_b"),
        F.first(F.col("__cells")).as("n_cells"))
  }

  /** Internal columns are __-prefixed (the repo's GroupedFit discipline)
    * so a user group column named na/cells/g/k can never be silently
    * shadowed by the cohort totals. */
  private def divergencesByGroup(cells: DataFrame, groupCols: Seq[String],
                                 labelA: String, labelB: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(!groupCols.exists(_.startsWith("__")),
      "group columns must not use the __ internal prefix")
    val counts = cells.groupBy((groupCols :+ "__k").map(F.col): _*)
      .agg(
        F.sum(F.when(F.col("__g") === labelA, 1L).otherwise(0L)).as("__ca"),
        F.sum(F.when(F.col("__g") === labelB, 1L).otherwise(0L)).as("__cb"))
    val w = Window.partitionBy(groupCols.map(F.col): _*)
    val tot = counts
      .withColumn("__na", F.sum("__ca").over(w))
      .withColumn("__nb", F.sum("__cb").over(w))
      .withColumn("__cells", F.count(F.lit(1)).over(w))
      .where(F.col("__na") > 0L && F.col("__nb") > 0L)
    val pa = (F.col("__ca") + F.lit(0.5)) /
      (F.col("__na") + F.lit(0.5) * F.col("__cells"))
    val pb = (F.col("__cb") + F.lit(0.5)) /
      (F.col("__nb") + F.lit(0.5) * F.col("__cells"))
    tot.groupBy(groupCols.map(F.col): _*)
      .agg(
        F.sum((pa - pb) * F.log(pa / pb)).as("psi"),
        F.sum(pa * F.log(pa / pb)).as("kl_ab"),
        F.sum(pb * F.log(pb / pa)).as("kl_ba"),
        F.first(F.col("__na")).as("n_a"),
        F.first(F.col("__nb")).as("n_b"),
        F.first(F.col("__cells")).as("n_cells"))
  }

  /** One (cell → both-cohort counts) aggregate, then the smoothed
    * divergence fold. Smoothing: p = (count + 0.5) / (n + 0.5·cells) —
    * strictly positive, integer-count-exact. */
  /** PSI/KL over REFERENCE-QUANTILE bins — the production PSI
    * convention for continuous features (equal-mass bins of the
    * baseline cohort, so every bin carries ~n/bins reference rows and
    * the statistic is scale-free), vs [[histDrift]]'s fixed grid which
    * needs the caller to know the range. Edges are EXACT order
    * statistics of cohort A (the ⌈n·i/bins⌉-th smallest via the
    * [[Ranks.minRanks]] prefix-sum — no global window, no approximate
    * percentile), folded in as plan literals; both cohorts then bin by
    * the same edges and ride the shared smoothed-divergence fold.
    * Heavily tied references collapse adjacent edges — those bins go
    * empty on both sides and the smoothing absorbs them.
    *
    * @return one row: (psi, kl_ab, kl_ba, n_a, n_b, n_cells) */
  def quantileBinDrift(df: DataFrame, cohortCol: String, valueCol: String,
                       bins: Int = 10, labelA: String = "a",
                       labelB: String = "b"): DataFrame = {
    require(bins >= 2, "need at least 2 bins")
    require(labelA != labelB, "cohort labels must differ")
    val g = F.col(cohortCol).cast("string")
    val v = F.col(valueCol).cast("double")
    val clean = df
      .where(v.isNotNull && !F.isnan(v) && g.isin(labelA, labelB))
      .select(g.as("__g"), v.as("__v"))
    val refVals = clean.where(F.col("__g") === labelA).select("__v")
    val (n, ranks) = Ranks.minRanksWithN(refVals, "__v", "__rk")
    require(n > 0L, "reference cohort is empty")
    val edgeAggs = (1 until bins).map { i =>
      val t = math.ceil(n.toDouble * i / bins).toLong
      // the t-th smallest = max value whose min-rank is <= t
      F.max(F.when(F.col("__rk") <= t, F.col("__v"))).as(s"__e$i")
    }
    val row = ranks.agg(edgeAggs.head, edgeAggs.tail: _*).head()
    val edges = (1 until bins).map(i => row.getDouble(i - 1))
    val bin = edges.foldLeft(F.lit(0)) { (acc, e) =>
      acc + F.when(F.col("__v") > e, 1).otherwise(0)
    }
    divergences(clean.select(
      F.when(F.col("__g") === labelA, "a").otherwise("b").as("g"),
      bin.cast("long").as("k")))
  }

  private def divergences(cells: DataFrame): DataFrame = {
    val counts = cells.groupBy("k")
      .agg(
        F.sum(F.when(F.col("g") === "a", 1L).otherwise(0L)).as("ca"),
        F.sum(F.when(F.col("g") === "b", 1L).otherwise(0L)).as("cb"))
    val head = counts.agg(F.sum("ca"), F.sum("cb"), F.count(F.lit(1))).head()
    require(!head.isNullAt(0) && head.getLong(0) > 0 && head.getLong(1) > 0,
      "both cohorts need rows")
    val na = head.getLong(0); val nb = head.getLong(1); val nCells = head.getLong(2)
    val pa = (F.col("ca") + F.lit(0.5)) / F.lit(na + 0.5 * nCells)
    val pb = (F.col("cb") + F.lit(0.5)) / F.lit(nb + 0.5 * nCells)
    counts.agg(
      F.sum((pa - pb) * F.log(pa / pb)).as("psi"),
      F.sum(pa * F.log(pa / pb)).as("kl_ab"),
      F.sum(pb * F.log(pb / pa)).as("kl_ba"))
      .withColumn("n_a", F.lit(na))
      .withColumn("n_b", F.lit(nb))
      .withColumn("n_cells", F.lit(nCells))
  }

  /** Hellinger distance + Bhattacharyya divergence per group over the
    * two cohorts' categorical PMFs — the BOUNDED companions to the
    * PSI/KL pair (KL explodes on a vanishing cell; Hellinger ∈ [0,1]
    * is a true metric and safe to threshold, alert-dashboard style):
    *
    *   BC = Σ√(p_a·p_b),  H = √(1−BC),  D_B = −ln BC (null at BC = 0)
    *
    * One (group, cohort, value) aggregation → per-group cell frame →
    * one fold; cell probabilities are exact integer ratios, so the
    * only FP work is the √ and the final sum.
    *
    * @return one row per group with both cohorts present:
    *         (groupCols..., n_a, n_b, n_cells, bc, hellinger,
    *         bhattacharyya), doubles rounded to 6.
    */
  def hellingerByGroup(df: DataFrame, cohortCol: String, valueCol: String,
                       groupCols: Seq[String],
                       labelA: String = "a",
                       labelB: String = "b"): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    require(labelA != labelB, "cohort labels must differ")
    val g = groupCols.map(F.col)
    val coh = F.col(cohortCol).cast("string")
    val cells = df
      .where(F.col(valueCol).isNotNull && coh.isin(labelA, labelB))
      .groupBy(g :+ F.col(valueCol).as("__v"): _*)
      .agg(
        F.sum(F.when(coh === labelA, 1L).otherwise(0L)).as("__ca"),
        F.sum(F.when(coh === labelB, 1L).otherwise(0L)).as("__cb"))
    import org.apache.spark.sql.expressions.Window
    val wg = Window.partitionBy(g: _*)
    val withTotals = cells
      .withColumn("__na", F.sum("__ca").over(wg))
      .withColumn("__nb", F.sum("__cb").over(wg))
    val bcTerm = F.sqrt(
      (F.col("__ca").cast("double") / F.col("__na")) *
      (F.col("__cb").cast("double") / F.col("__nb")))
    val agged = withTotals.groupBy(g: _*).agg(
      F.max("__na").as("n_a"), F.max("__nb").as("n_b"),
      F.count(F.lit(1)).as("n_cells"),
      F.sum(bcTerm).as("__bc"))
      .where(F.col("n_a") > 0L && F.col("n_b") > 0L)
    val bc = F.least(F.col("__bc"), F.lit(1.0)) // FP guard: BC ≤ 1
    agged.select(g ++ Seq(
      F.col("n_a"), F.col("n_b"), F.col("n_cells"),
      F.round(F.col("__bc"), 6).as("bc"),
      F.round(F.sqrt(F.lit(1.0) - bc), 6).as("hellinger"),
      F.when(F.col("__bc") > 0.0, F.round(-F.log(bc), 6))
        .as("bhattacharyya")): _*)
  }
}
