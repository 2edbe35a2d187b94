package graft.operators

import org.apache.spark.sql.{DataFrame, Column, functions => F}
import org.apache.spark.sql.expressions.Window
import graft.functions.SpecialMath

/** Nonparametric survival analysis — the Kaplan–Meier product-limit
  * estimator, per group, with Greenwood standard errors and median
  * survival times. The distribution-free companion to the parametric
  * censored-MLE path (reference: spark-bestfit's censored fitting,
  * `src/spark_bestfit/fitting.py` censored branch): the same
  * (duration, event-observed) data model, answering "what does the
  * survival curve actually look like" before any family is assumed —
  * churn/retention curves, time-to-failure, job-completion tails.
  *
  * Scale shape: ONE (group, time) aggregation reduces the data to
  * per-distinct-time event/censor counts (map-side combined, the
  * exchange carries ≤ groups·times rows), then at-risk counts, the
  * product-limit survival, and the Greenwood variance all ride windows
  * PARTITIONED BY GROUP over that tiny cells frame — no global window,
  * no driver loop; a million groups fit one pass. The product is
  * computed as exp(Σ ln(1 − d/n)) — the one ln/exp pair an external SQL
  * engine replays identically (absorbed by 6-decimal rounding).
  */
object Survival {

  /** Shared scaffolding for the per-group estimators: reduce the data to
    * per-(group, distinct-time) cells (events `__d`, subjects `__c`) and
    * attach the at-risk count `__nr` = #{duration ≥ t} via per-GROUP
    * windows over that tiny frame. Null/NaN/negative durations and null
    * event flags are excluded — the right-censoring data model. */
  private def cellsWithRisk(df: DataFrame, durationCol: String,
                            eventCol: String,
                            groupCols: Seq[String]): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    require(!groupCols.exists(_.startsWith("__")),
      "group columns must not use the __ internal prefix")
    val gCols = groupCols.map(F.col)
    val cells = df
      .select(gCols :+
        F.col(durationCol).cast("double").as("__t") :+
        F.col(eventCol).cast("boolean").as("__e"): _*)
      .where(F.col("__t").isNotNull && !F.isnan(F.col("__t")) &&
        F.col("__t") >= 0.0 && F.col("__e").isNotNull)
      .groupBy(gCols :+ F.col("__t"): _*)
      .agg(F.sum(F.when(F.col("__e"), 1L).otherwise(0L)).as("__d"),
        F.count(F.lit(1)).as("__c"))
    val wg = Window.partitionBy(gCols: _*)
    val wPrev = wg.orderBy("__t")
      .rowsBetween(Window.unboundedPreceding, -1)
    cells.withColumn("__nr", F.sum("__c").over(wg) -
      F.coalesce(F.sum("__c").over(wPrev), F.lit(0L)))
  }

  /** Kaplan–Meier curve per group: for each distinct duration t (in
    * ascending order within a group),
    *
    *   n_risk(t)  = #{duration ≥ t},
    *   S(t)       = Π_{t' ≤ t} (1 − d(t')/n_risk(t')),
    *   Var(S(t))  = S(t)² · Σ_{t' ≤ t} d/(n·(n−d))   (Greenwood),
    *
    * where d = events at t (censored rows count in n_risk but not d —
    * the standard right-censoring convention: a row with event = false
    * is known to survive PAST its duration). The final time of a group
    * can exhaust the risk set (d = n_risk → S = 0); there the Greenwood
    * variance is undefined and `std_err` is null.
    *
    * 95% confidence band: the log-log (complementary log) transform —
    * the standard band that respects S ∈ [0, 1], unlike plain S ± z·SE —
    *
    *   θ = ln(−ln S),  se_θ = √V / |ln S|,  V = Σ d/(n·(n−d)),
    *   CI = [ S^exp(+z·se_θ), S^exp(−z·se_θ) ],  z = 1.959964.
    *
    * `ci_lo`/`ci_hi` are null wherever the transform is undefined:
    * S = 1 (no events yet — ln S = 0) and S = 0 (risk set exhausted).
    *
    * @param durationCol non-negative numeric time-to-event/censoring
    * @param eventCol    boolean-ish: true/nonzero = event observed,
    *                    false/0 = right-censored
    * @return one row per (group, t): (groupCols..., t, n_risk, n_event,
    *         n_censored, survival, std_err, ci_lo, ci_hi), floats
    *         rounded to 6 decimals */
  def kmByGroup(df: DataFrame, durationCol: String, eventCol: String,
                groupCols: Seq[String]): DataFrame = {
    val gCols = groupCols.map(F.col)
    val withRisk = cellsWithRisk(df, durationCol, eventCol, groupCols)
    val wCum = Window.partitionBy(gCols: _*).orderBy("__t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dOverN = F.col("__d").cast("double") / F.col("__nr")
    // d = n_risk only at a group's final time (later rows would be in
    // the risk set) — guard the ln there; the running sums never see a
    // non-finite term because that row IS the end of its frame
    val lnTerm = F.when(F.col("__d") === F.col("__nr"), F.lit(0.0))
      .otherwise(F.log(F.lit(1.0) - dOverN))
    val gwTerm = F.when(F.col("__d") === F.col("__nr"), F.lit(0.0))
      .otherwise(F.col("__d").cast("double") /
        (F.col("__nr") * (F.col("__nr") - F.col("__d"))))
    val surv = F.when(F.col("__d") === F.col("__nr"), F.lit(0.0))
      .otherwise(F.exp(F.sum(lnTerm).over(wCum)))
    val stdErr = F.when(F.col("__d") === F.col("__nr"),
        F.lit(null).cast("double"))
      .otherwise(F.round(
        F.col("__surv") * F.sqrt(F.sum(gwTerm).over(wCum)), 6))
    // log-log band: S^exp(±z·√V/ln S); ln S < 0 wherever defined, so the
    // +z branch is the LOWER limit. Null at S ∈ {0, 1}.
    val z95 = 1.959964
    val lnS = F.log(F.col("__surv"))
    val seTheta = F.sqrt(F.sum(gwTerm).over(wCum)) / F.abs(lnS)
    def band(sign: Double): Column =
      F.when(F.col("__d") === F.col("__nr") || F.col("__surv") >= 1.0 ||
          F.col("__surv") <= 0.0, F.lit(null).cast("double"))
        .otherwise(F.round(
          F.pow(F.col("__surv"), F.exp(F.lit(sign * z95) * seTheta)), 6))
    withRisk
      .withColumn("__surv", surv)
      .select(gCols ++ Seq(
        F.col("__t").as("t"),
        F.col("__nr").as("n_risk"),
        F.col("__d").as("n_event"),
        (F.col("__c") - F.col("__d")).as("n_censored"),
        F.round(F.col("__surv"), 6).as("survival"),
        stdErr.as("std_err"),
        band(+1.0).as("ci_lo"),
        band(-1.0).as("ci_hi")): _*)
  }

  /** Aalen–Johansen cumulative incidence under COMPETING RISKS: when a
    * subject can fail from multiple causes (churn vs upgrade, returned
    * vs damaged), 1 − KM per cause OVERSTATES every cause's risk
    * (treating other causes as censoring pretends those subjects could
    * still fail). The correct estimator:
    *
    *   CIF_c(t) = Σ_{t' ≤ t} S(t'⁻) · d_c(t')/n(t'),
    *
    * with S(t⁻) the all-cause KM just before t. Same scale shape as
    * [[kmByGroup]]: ONE (group, time) aggregation for the all-cause
    * frame + ONE (group, time, cause) aggregation for the increments,
    * joined on (group, time), per-group/cause windows over the cells.
    * At each group's largest event time Σ_c CIF_c = 1 − S(t) exactly.
    *
    * @param causeCol integral: 0 = censored, ≥ 1 = failure cause
    * @return one row per (group, cause, event time): (groupCols...,
    *         cause, t, n_risk, n_event_cause, cif rounded 6) */
  def cumulativeIncidence(df: DataFrame, durationCol: String,
                          causeCol: String,
                          groupCols: Seq[String]): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    require(!groupCols.exists(_.startsWith("__")),
      "group columns must not use the __ internal prefix")
    val gCols = groupCols.map(F.col)
    val t = F.col(durationCol).cast("double")
    val cause = F.col(causeCol).cast("long")
    val base = df
      .where(t.isNotNull && !F.isnan(t) && t >= 0.0 && cause.isNotNull)
      .select(gCols :+ t.as("__t") :+ cause.as("__cause"): _*)
    val cells = base.groupBy(gCols :+ F.col("__t"): _*)
      .agg(F.count(F.lit(1)).as("__c"),
        F.sum(F.when(F.col("__cause") > 0L, 1L).otherwise(0L)).as("__d"))
    val wg = Window.partitionBy(gCols: _*)
    val wPrev = Window.partitionBy(gCols: _*).orderBy("__t")
      .rowsBetween(Window.unboundedPreceding, -1)
    // d = n_risk only at a group's FINAL time, so the guarded ln never
    // enters the exclusive frame of an existing later row (kmByGroup's
    // argument)
    val dOverN = F.col("__d").cast("double") / F.col("__nr")
    val lnTerm = F.when(F.col("__d") === F.col("__nr"), F.lit(0.0))
      .otherwise(F.log(F.lit(1.0) - dOverN))
    val tFrame = cells
      .withColumn("__nr", F.sum("__c").over(wg) -
        F.coalesce(F.sum("__c").over(wPrev), F.lit(0L)))
      .withColumn("__sprev",
        F.exp(F.coalesce(F.sum(lnTerm).over(wPrev), F.lit(0.0))))
    val causeCells = base.where(F.col("__cause") > 0L)
      .groupBy(gCols :+ F.col("__t") :+
        F.col("__cause").as("cause"): _*)
      .agg(F.count(F.lit(1)).as("__dc"))
    val wCum = Window.partitionBy(gCols :+ F.col("cause"): _*)
      .orderBy("__t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    causeCells
      .join(tFrame, groupCols :+ "__t")
      .withColumn("cif", F.round(F.sum(
        F.col("__sprev") * F.col("__dc") / F.col("__nr")).over(wCum), 6))
      .select(gCols ++ Seq(F.col("cause"), F.col("__t").as("t"),
        F.col("__nr").as("n_risk"), F.col("__dc").as("n_event_cause"),
        F.col("cif")): _*)
  }

  /** Actuarial life table per group: durations bucketed into fixed
    * intervals of `width`, with the classic actuarial censoring
    * adjustment — subjects censored WITHIN an interval count as exposed
    * for half of it:
    *
    *   n_eff(k) = n_risk(k) − w(k)/2,
    *   q(k)     = d(k)/n_eff(k),
    *   S(k)     = Π_{j ≤ k} (1 − q(j))
    *
    * — the grouped-time complement to [[kmByGroup]] (K-M jumps at exact
    * times; the life table is the reporting format when durations are
    * only known to the month/billing-cycle, and the half-interval
    * adjustment is what distinguishes it from K-M on bucketed data).
    * Same scale shape as K-M: one (group, period) aggregation +
    * per-GROUP windows over the cells; q ≤ 1 by construction
    * (n_eff − d ≥ w/2), with q = 1 only at a group's final period —
    * guarded exactly like K-M's exhausted risk set.
    *
    * @param width interval width in duration units (> 0)
    * @return one row per (group, period): (groupCols..., period,
    *         t_start, t_end, n_risk, n_event, n_censored, n_eff,
    *         hazard, survival), floats rounded to 6 */
  def lifeTable(df: DataFrame, durationCol: String, eventCol: String,
                groupCols: Seq[String], width: Double): DataFrame = {
    require(width > 0.0, "width must be > 0")
    val gCols = groupCols.map(F.col)
    val t = F.col(durationCol).cast("double")
    val bucketed = df
      .where(t.isNotNull && !F.isnan(t) && t >= 0.0)
      .withColumn("__period", (F.floor(t / width) + 1L).cast("double"))
    val withRisk = cellsWithRisk(bucketed, "__period", eventCol,
      groupCols)
    val wCum = Window.partitionBy(gCols: _*).orderBy("__t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val nEff = F.col("__nr").cast("double") -
      (F.col("__c") - F.col("__d")).cast("double") / 2.0
    val q = F.col("__d").cast("double") / F.col("__neff")
    val lnTerm = F.when(F.col("__q") >= 1.0, F.lit(0.0))
      .otherwise(F.log(F.lit(1.0) - F.col("__q")))
    val surv = F.when(F.col("__q") >= 1.0, F.lit(0.0))
      .otherwise(F.exp(F.sum(lnTerm).over(wCum)))
    // n_eff ≥ n_risk/2 > 0 always (w ≤ n_risk), so no guard filter —
    // a dropped period would corrupt the downstream survival products
    withRisk
      .withColumn("__neff", nEff)
      .withColumn("__q", q)
      .select(gCols ++ Seq(
        F.col("__t").cast("long").as("period"),
        ((F.col("__t") - 1.0) * width).as("t_start"),
        (F.col("__t") * width).as("t_end"),
        F.col("__nr").as("n_risk"),
        F.col("__d").as("n_event"),
        (F.col("__c") - F.col("__d")).as("n_censored"),
        F.round(F.col("__neff"), 6).as("n_eff"),
        F.round(F.col("__q"), 6).as("hazard"),
        F.round(surv, 6).as("survival")): _*)
  }

  /** Nelson–Aalen cumulative-hazard estimator per group: for each
    * distinct duration t (ascending within a group),
    *
    *   H(t)      = Σ_{t' ≤ t} d(t')/n_risk(t'),
    *   Var(H(t)) = Σ_{t' ≤ t} d(t')/n_risk(t')²   (Poisson/Aalen form),
    *
    * with the same right-censoring data model as [[kmByGroup]]. The
    * additive companion to the product-limit curve: hazard increments
    * are what a rate monitor or a piecewise-exponential fit consumes,
    * and unlike K-M the estimator stays finite when the last risk set
    * is exhausted. Same scale shape as [[kmByGroup]]: ONE (group, time)
    * aggregation, per-GROUP windows over the tiny cells frame, pure
    * ratio-of-integer arithmetic (no ln/exp at all — replays exactly).
    *
    * @return one row per (group, t): (groupCols..., t, n_risk, n_event,
    *         n_censored, cum_hazard, std_err), both rounded to 6 */
  def naByGroup(df: DataFrame, durationCol: String, eventCol: String,
                groupCols: Seq[String]): DataFrame = {
    val gCols = groupCols.map(F.col)
    val wCum = Window.partitionBy(gCols: _*).orderBy("__t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val d = F.col("__d").cast("double")
    cellsWithRisk(df, durationCol, eventCol, groupCols)
      .withColumn("__h", F.sum(d / F.col("__nr")).over(wCum))
      .withColumn("__v",
        F.sum(d / (F.col("__nr") * F.col("__nr"))).over(wCum))
      .select(gCols ++ Seq(
        F.col("__t").as("t"),
        F.col("__nr").as("n_risk"),
        F.col("__d").as("n_event"),
        (F.col("__c") - F.col("__d")).as("n_censored"),
        F.round(F.col("__h"), 6).as("cum_hazard"),
        F.round(F.sqrt(F.col("__v")), 6).as("std_err")): _*)
  }

  /** Two-sample log-rank (Mantel–Cox) test: do two cohorts share one
    * survival curve? Over the distinct event times of the pooled data,
    * with n_g(t) = cohort-g subjects at risk and d_g(t) = cohort-g
    * events,
    *
    *   O_a = Σ d_a(t),   E_a = Σ d(t)·n_a(t)/n(t),
    *   V   = Σ d(t) · (n_a/n) · (1 − n_a/n) · (n − d)/(n − 1),
    *   X²  = (O_a − E_a)²/V   ~ χ²(1),   p = erfc(√(X²/2)).
    *
    * Censored rows leave the risk set at their duration without
    * counting as events (the same convention as [[kmByGroup]]).
    *
    * Scale shape: the [[StatTests]] prefix-sum construction — one
    * (time) aggregate reduces the data to per-distinct-time cohort
    * event/total counts, range-partitioned ascending; at-risk counts
    * are n_g − (prefix count), seeded per partition by broadcast
    * offsets, and each partition folds its O/E/V contribution locally
    * — driver traffic O(#partitions), no global window. O_a is an
    * exact integer; E_a and V are rounded to 6 before X² so the replay
    * is deterministic, and p is evaluated at the ROUNDED X².
    *
    * @return one row: (chi2, o_a, e_a, var_lr, p_value, n_a, n_b) */
  def logRank(df: DataFrame, durationCol: String, eventCol: String,
              cohortCol: String, labelA: String = "a",
              labelB: String = "b"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val (oA, eA, vLr, _, _, na, nb) =
      mantelFold(df, durationCol, eventCol, cohortCol, labelA, labelB)
    val eAr = math.rint(eA * 1e6) / 1e6
    val vR = math.rint(vLr * 1e6) / 1e6
    val chi2 =
      if (vR <= 0.0) 0.0
      else math.rint((oA - eAr) * (oA - eAr) / vR * 1e6) / 1e6
    val p = math.rint(SpecialMath.erfc(math.sqrt(chi2 / 2.0)) * 1e6) / 1e6
    Seq((chi2, oA, eAr, vR, p, na, nb))
      .toDF("chi2", "o_a", "e_a", "var_lr", "p_value", "n_a", "n_b")
  }

  /** Gehan–Breslow–Wilcoxon test: the log-rank fold with weight
    * w(t) = n(t)/N (fraction of subjects still at risk), so EARLY
    * differences — where the risk set is large — dominate; the standard
    * companion when hazards cross late. Z = Σ w·(d_a − d·n_a/n),
    * V = Σ w²·V_t, X² = Z²/V ~ χ²(1) — invariant to the weight's scale,
    * and the 1/N normalization keeps Z and V at O(N) where 6-decimal
    * rounding is meaningful (raw n(t)² weights push V past double's
    * 15-digit grain at corpus sizes). Same prefix-sum scale shape as
    * [[logRank]]; Z and V rounded to 6 before X², p at the ROUNDED X².
    *
    * @return one row: (chi2, z_num, var_gw, p_value, n_a, n_b) */
  def gehanWilcoxon(df: DataFrame, durationCol: String, eventCol: String,
                    cohortCol: String, labelA: String = "a",
                    labelB: String = "b"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val (_, _, _, zW, vW, na, nb) =
      mantelFold(df, durationCol, eventCol, cohortCol, labelA, labelB)
    val zR = math.rint(zW * 1e6) / 1e6
    val vR = math.rint(vW * 1e6) / 1e6
    val chi2 =
      if (vR <= 0.0) 0.0
      else math.rint(zR * zR / vR * 1e6) / 1e6
    val p = math.rint(SpecialMath.erfc(math.sqrt(chi2 / 2.0)) * 1e6) / 1e6
    Seq((chi2, zR, vR, p, na, nb))
      .toDF("chi2", "z_num", "var_gw", "p_value", "n_a", "n_b")
  }

  /** Shared Mantel fold over pooled distinct event times: one (time)
    * aggregation to per-time cohort event/total counts, range
    * partitions ascending, at-risk counts seeded by broadcast prefix
    * offsets, each partition folding its contributions locally —
    * driver traffic O(#partitions). Returns the UNROUNDED sums
    * (o_a, e_a, var_lr, z_gehan, var_gehan, n_a, n_b); callers round. */
  private def mantelFold(df: DataFrame, durationCol: String,
                         eventCol: String, cohortCol: String,
                         labelA: String, labelB: String)
      : (Long, Double, Double, Double, Double, Long, Long) = {
    require(labelA != labelB, "cohort labels must differ")
    val spark = df.sparkSession
    import spark.implicits._
    val cells = df
      .select(F.col(cohortCol).cast("string").as("g"),
        F.col(durationCol).cast("double").as("t"),
        F.col(eventCol).cast("boolean").as("e"))
      .where(F.col("t").isNotNull && !F.isnan(F.col("t")) &&
        F.col("t") >= 0.0 && F.col("e").isNotNull &&
        F.col("g").isin(labelA, labelB))
      .groupBy("t").agg(
        F.sum(F.when(F.col("g") === labelA && F.col("e"), 1L)
          .otherwise(0L)).as("da"),
        F.sum(F.when(F.col("g") === labelA, 1L).otherwise(0L)).as("ca"),
        F.sum(F.when(F.col("g") =!= labelA && F.col("e"), 1L)
          .otherwise(0L)).as("db"),
        F.sum(F.when(F.col("g") =!= labelA, 1L).otherwise(0L)).as("cb"))
    val typed = cells.as[(Double, Long, Long, Long, Long)]
    PrefixSum(typed, F.col("t")) { ps =>
      val off = ps.offsets(2) { (s, r) => s(0) += r._3; s(1) += r._5 }
      val na = off.last(0); val nb = off.last(1)
      require(na > 0 && nb > 0, "both cohorts need rows")
      val nTot = (na + nb).toDouble
      val parts = ps.walk(off) { (seed, it) =>
        var cumA = seed(0); var cumB = seed(1)
        var o = 0L; var e = 0.0; var v = 0.0
        var z = 0.0; var vw = 0.0
        it.foreach { case (_, da, ca, db, cb) =>
          val nAt = (na - cumA).toDouble
          val nBt = (nb - cumB).toDouble
          val nT = nAt + nBt
          val dT = (da + db).toDouble
          val wN = nT / nTot
          o += da
          e += dT * nAt / nT
          z += wN * (da - dT * nAt / nT)
          if (nT > 1.0) {
            val vt = dT * (nAt / nT) * (nBt / nT) * (nT - dT) / (nT - 1.0)
            v += vt
            vw += wN * wN * vt
          }
          cumA += ca; cumB += cb
        }
        Iterator((o, e, v, z, vw))
      }.collect()
      (parts.map(_._1).sum, parts.map(_._2).sum, parts.map(_._3).sum,
        parts.map(_._4).sum, parts.map(_._5).sum, na, nb)
    }
  }

  /** Median survival per group: the smallest t with S(t) ≤ ½ (null when
    * the curve never reaches it — heavy censoring), plus the group's
    * subject count and final survival level. One [[kmByGroup]] pass and
    * a per-group fold over the tiny curve frame.
    *
    * @return one row per group: (groupCols..., median_t, n, final_survival) */
  def medianSurvival(df: DataFrame, durationCol: String, eventCol: String,
                     groupCols: Seq[String]): DataFrame = {
    val km = kmByGroup(df, durationCol, eventCol, groupCols)
    val gCols = groupCols.map(F.col)
    km.groupBy(gCols: _*).agg(
      F.min(F.when(F.col("survival") <= 0.5, F.col("t"))).as("median_t"),
      (F.sum("n_event") + F.sum("n_censored")).as("n"),
      F.max_by(F.col("survival"), F.col("t")).as("final_survival"))
  }

  /** Piecewise-exponential hazard rates per group — the bridge from the
    * nonparametric [[naByGroup]] curve to a parametric rate model: on
    * each inter-event interval (t_prev, t] the constant-hazard rate is
    * the Nelson–Aalen increment over the interval width,
    *
    *   λ̂(t_prev, t] = ΔH/Δt = d(t) / (n_risk(t) · (t − t_prev)),
    *
    * the sufficient statistic a piecewise-exponential lifetime model (or
    * a rate monitor alerting on hazard spikes) consumes directly. The
    * first interval starts at 0; a zero-width interval (events AT t = 0)
    * has no rate (null). Same scale shape as [[naByGroup]]: ONE
    * (group, time) aggregation + per-GROUP windows on the cells frame,
    * pure ratio-of-integer arithmetic.
    *
    * @return one row per (group, interval): (groupCols..., t_start,
    *         t_end, n_risk, n_event, rate), rate rounded to 6 */
  def piecewiseExpByGroup(df: DataFrame, durationCol: String,
                          eventCol: String,
                          groupCols: Seq[String]): DataFrame = {
    val gCols = groupCols.map(F.col)
    val wOrd = Window.partitionBy(gCols: _*).orderBy("__t")
    val tPrev = F.coalesce(F.lag("__t", 1).over(wOrd), F.lit(0.0))
    val width = F.col("__t") - F.col("__tp")
    cellsWithRisk(df, durationCol, eventCol, groupCols)
      .withColumn("__tp", tPrev)
      .select(gCols ++ Seq(
        F.col("__tp").as("t_start"),
        F.col("__t").as("t_end"),
        F.col("__nr").as("n_risk"),
        F.col("__d").as("n_event"),
        F.when(width > 0.0, F.round(
            F.col("__d").cast("double") / (F.col("__nr") * width), 6))
          .otherwise(F.lit(null).cast("double")).as("rate")): _*)
  }

  /** Restricted mean survival time per group: the area under the K-M
    * curve up to the horizon τ,
    *
    *   RMST(τ) = Σ_{tᵢ ≤ τ} S(tᵢ₋₁)·(tᵢ − tᵢ₋₁) + S(t_last)·(τ − t_last),
    *
    * with S(t₀ = 0) = 1 — "expected survival time within the first τ
    * units", the robust effect measure when median survival is
    * undefined (heavy censoring) and the standard reporting companion
    * to a hazard ratio. One [[kmByGroup]] pass + lag windows per group
    * over the curve frame; the 6-rounded survival feeds the area so the
    * replay is exact. Groups with no observed time ≤ τ are omitted
    * (their curve is flat at 1 through τ).
    *
    * @return one row per group: (groupCols..., tau, rmst, n_times),
    *         rmst rounded to 6 */
  def rmstByGroup(df: DataFrame, durationCol: String, eventCol: String,
                  groupCols: Seq[String], tau: Double): DataFrame = {
    require(tau > 0.0, "tau must be positive")
    val gCols = groupCols.map(F.col)
    val km = kmByGroup(df, durationCol, eventCol, groupCols)
      .where(F.col("t") <= tau)
    val wOrd = Window.partitionBy(gCols: _*).orderBy("t")
    km
      .withColumn("__tp", F.coalesce(F.lag("t", 1).over(wOrd), F.lit(0.0)))
      .withColumn("__sp",
        F.coalesce(F.lag("survival", 1).over(wOrd), F.lit(1.0)))
      .groupBy(gCols: _*)
      .agg(
        F.round(
          F.sum(F.col("__sp") * (F.col("t") - F.col("__tp"))) +
            F.max_by(F.col("survival"), F.col("t")) *
              (F.lit(tau) - F.max(F.col("t"))), 6).as("rmst"),
        F.count(F.lit(1)).as("n_times"))
      .select(gCols ++ Seq(F.lit(tau).as("tau"), F.col("rmst"),
        F.col("n_times")): _*)
  }

  /** Conditional survival table — "GIVEN you survived to the anchor,
    * what are your odds of surviving `horizon` more": for each group
    * and anchor a,
    *
    *   S(a + h | a) = S(a + h) / S(a)
    *
    * with S the as-of (step-function) KM value at each point — the
    * re-forecast a dashboard shows a cohort that already made it
    * through onboarding, where the unconditional curve is stale news.
    * Anchors where S(a) has hit 0 (or no curve point exists yet,
    * S = 1) are handled: the as-of lookup takes the LAST curve point
    * ≤ the anchor, defaulting to survival 1 before the first event.
    *
    * One [[kmByGroup]] pass; each (group, anchor) as-of lookup is a
    * max_by over the tiny curve frame — anchors × groups rows.
    *
    * @return one row per (group, anchor): (groupCols..., anchor,
    *         s_anchor, s_horizon, cond_survival), rounded 6 */
  def conditionalSurvival(df: DataFrame, durationCol: String,
                          eventCol: String, groupCols: Seq[String],
                          anchors: Seq[Double],
                          horizon: Double): DataFrame = {
    require(anchors.nonEmpty, "need at least one anchor")
    require(horizon > 0.0, "horizon must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    val gCols = groupCols.map(F.col)
    val km = kmByGroup(df, durationCol, eventCol, groupCols)
      .select(gCols :+ F.col("t") :+ F.col("survival"): _*)
    val anchorDf = anchors.toDF("anchor")
    val grid = km.select(gCols: _*).distinct()
      .crossJoin(F.broadcast(anchorDf))
    val kmR = km.select(groupCols.map(c =>
      F.col(c).as(s"__g_$c")) :+ F.col("t") :+ F.col("survival"): _*)
    def asOf(at: org.apache.spark.sql.Column, out: String) =
      grid.join(kmR,
          groupCols.map(c => F.col(c) === F.col(s"__g_$c"))
            .reduce(_ && _) && F.col("t") <= at, "left")
        .groupBy(gCols :+ F.col("anchor"): _*)
        .agg(F.coalesce(F.max_by(F.col("survival"), F.col("t")),
          F.lit(1.0)).as(out))
    val sA = asOf(F.col("anchor"), "s_anchor")
    val sH = asOf(F.col("anchor") + horizon, "s_horizon")
    sA.join(sH, groupCols :+ "anchor")
      .select(gCols ++ Seq(F.col("anchor"),
        F.col("s_anchor"), F.col("s_horizon"),
        F.when(F.col("s_anchor") > 0.0,
          F.round(F.col("s_horizon") / F.col("s_anchor"), 6))
          .as("cond_survival")): _*)
  }

  /** Truncated mean residual life curve — "a subject alive at t has
    * how much time left (within horizon τ)":
    *
    *   mrl_τ(t) = ∫_t^τ S(u) du / S(t)
    *
    * per (group, event time ≤ τ) — the capacity-planning / LTV view of
    * the KM curve ([[conditionalSurvival]] gives the probability of
    * lasting h more; this gives the EXPECTED remaining time). The
    * remaining areas ride the same ONE t-ordered cumulative window as
    * [[rmstDiff]]; rows where S(t) = 0 get a null mrl.
    *
    * @return one row per (group, t): (groupCols..., t, survival, mrl),
    *         floats rounded 6 */
  def meanResidualLife(df: DataFrame, durationCol: String,
                       eventCol: String, groupCols: Seq[String],
                       tau: Double): DataFrame = {
    require(tau > 0.0, "tau must be positive")
    val gCols = groupCols.map(F.col)
    val km = kmByGroup(df, durationCol, eventCol, groupCols)
      .where(F.col("t") <= tau)
    val wOrd = Window.partitionBy(gCols: _*).orderBy("t")
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding,
      Window.currentRow)
    val seg = km
      .withColumn("__tp",
        F.coalesce(F.lag("t", 1).over(wOrd), F.lit(0.0)))
      .withColumn("__sp",
        F.coalesce(F.lag("survival", 1).over(wOrd), F.lit(1.0)))
      .withColumn("__seg", F.col("__sp") * (F.col("t") - F.col("__tp")))
      .withColumn("__cum", F.sum("__seg").over(wCum))
    val tot = seg.groupBy(gCols: _*).agg(
      (F.sum("__seg") + F.max_by(F.col("survival"), F.col("t")) *
        (F.lit(tau) - F.max(F.col("t")))).as("__rmst"))
    seg.join(F.broadcast(tot), groupCols)
      .select(gCols ++ Seq(F.col("t"), F.col("survival"),
        F.when(F.col("survival") > 0.0,
          F.round((F.col("__rmst") - F.col("__cum")) /
            F.col("survival"), 6)).as("mrl")): _*)
  }

  /** Two-sample RMST difference test — "how many time units of
    * survival does cohort B buy over cohort A by horizon τ", the
    * effect-size companion to [[logRank]]'s pure significance (and the
    * contrast that stays valid when hazards cross and the log-rank
    * loses power). Per cohort, RMST = ∫₀^τ S(u)du from the
    * [[kmByGroup]] step curve, with variance (Uno et al. 2014)
    *
    *   Var = Σ_{events tᵢ ≤ τ} A(tᵢ)² · dᵢ/(Yᵢ(Yᵢ−dᵢ)),
    *   A(tᵢ) = ∫_{tᵢ}^τ S(u)du   (the remaining area),
    *
    * z = (RMST_b − RMST_a)/√(V_a+V_b), p = erfc(|z|/√2). The remaining
    * areas ride ONE t-ordered cumulative window over the KM cells
    * (A = RMST − area-so-far); nothing beyond the per-(cohort, time)
    * cells frame ever shuffles. Exhausted-risk rows (d = Y) contribute
    * zero variance, matching the Greenwood guard.
    *
    * @return one row: (tau, rmst_a, rmst_b, diff, se, z_stat, p_value,
    *         n_a, n_b), floats rounded to 6 */
  def rmstDiff(df: DataFrame, durationCol: String, eventCol: String,
               cohortCol: String, labelA: String, labelB: String,
               tau: Double): DataFrame = {
    require(tau > 0.0, "tau must be positive")
    require(labelA != labelB, "cohort labels must differ")
    val g = F.col(cohortCol).cast("string")
    // "graft_g" not "__g": cellsWithRisk rejects the internal prefix
    val base = df.where(g.isin(labelA, labelB))
      .withColumn("graft_g", g)
    val km = kmByGroup(base, durationCol, eventCol, Seq("graft_g"))
      .where(F.col("t") <= tau)
    val wOrd = Window.partitionBy("graft_g").orderBy("t")
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding,
      Window.currentRow)
    val seg = km
      .withColumn("__tp",
        F.coalesce(F.lag("t", 1).over(wOrd), F.lit(0.0)))
      .withColumn("__sp",
        F.coalesce(F.lag("survival", 1).over(wOrd), F.lit(1.0)))
      .withColumn("__seg", F.col("__sp") * (F.col("t") - F.col("__tp")))
      .withColumn("__cum", F.sum("__seg").over(wCum))
    val tot = seg.groupBy("graft_g").agg(
      (F.sum("__seg") + F.max_by(F.col("survival"), F.col("t")) *
        (F.lit(tau) - F.max(F.col("t")))).as("__rmst"),
      F.sum(F.col("n_event") + F.col("n_censored")).as("__n"))
    val perG = seg.join(F.broadcast(tot), "graft_g")
      .withColumn("__vt", F.when(F.col("n_event") > 0L &&
          F.col("n_risk") > F.col("n_event"),
        (F.col("__rmst") - F.col("__cum")) *
          (F.col("__rmst") - F.col("__cum")) *
          F.col("n_event").cast("double") /
          (F.col("n_risk").cast("double") *
            (F.col("n_risk") - F.col("n_event")).cast("double")))
        .otherwise(F.lit(0.0)))
      .groupBy("graft_g").agg(F.max("__rmst").as("__r"),
        F.sum("__vt").as("__v"), F.max("__n").as("__cnt"))
    def side(lbl: String, c: String) =
      F.sum(F.when(F.col("graft_g") === lbl, F.col(c)))
    val one = perG.agg(
      side(labelA, "__r").as("ra"), side(labelB, "__r").as("rb"),
      side(labelA, "__v").as("va"), side(labelB, "__v").as("vb"),
      side(labelA, "__cnt").as("n_a"), side(labelB, "__cnt").as("n_b"))
    val se = F.sqrt(F.col("va") + F.col("vb"))
    val erfcUdf = F.udf((x: Double) =>
      graft.functions.SpecialMath.erfc(math.abs(x) / math.sqrt(2.0)))
    one
      .where(F.col("ra").isNotNull && F.col("rb").isNotNull && se > 0.0)
      .withColumn("z_stat",
        F.round((F.col("rb") - F.col("ra")) / se, 6))
      .select(F.lit(tau).as("tau"),
        F.round(F.col("ra"), 6).as("rmst_a"),
        F.round(F.col("rb"), 6).as("rmst_b"),
        F.round(F.col("rb") - F.col("ra"), 6).as("diff"),
        F.round(se, 6).as("se"), F.col("z_stat"),
        F.round(erfcUdf(F.col("z_stat")), 6).as("p_value"),
        F.col("n_a"), F.col("n_b"))
  }

  /** A fitted Cox proportional-hazards model: per-feature coefficient,
    * hazard ratio e^β, standard error (inverse-information diagonal),
    * plus the Breslow partial log-likelihood at β and at β = 0. */
  final case class CoxModel(features: Seq[String], beta: Array[Double],
                            se: Array[Double], logLik: Double,
                            logLik0: Double, n: Long, nEvents: Long,
                            iters: Int) {
    def hazardRatio(i: Int): Double = math.exp(beta(i))
    /** Relative-risk score exp(xᵀβ) as a codegen'd column (β enters as
      * plan literals — no UDF): the per-row hazard multiplier, the
      * ranking surface a churn/failure triage consumes. */
    def riskScore: Column = {
      val z = features.zipWithIndex.foldLeft(F.lit(0.0)) {
        case (acc, (f, i)) => acc + F.col(f).cast("double") * beta(i)
      }
      F.exp(z)
    }
    def toDf(spark: org.apache.spark.sql.SparkSession): DataFrame = {
      import spark.implicits._
      features.indices.map { i =>
        (features(i), beta(i), math.exp(beta(i)), se(i),
          beta(i) / se(i), logLik, logLik0, n, nEvents)
      }.toDF("feature", "coef", "hazard_ratio", "se", "z_stat",
        "log_lik", "log_lik0", "n", "n_events")
    }
  }

  /** Breslow baseline cumulative hazard for a fitted [[CoxModel]] —
    * the absolute-risk completion of the relative-hazard fit:
    *
    *   H₀(t) = Σ_{tᵢ ≤ t} d(tᵢ) / Σ_{tⱼ ≥ tᵢ} e^{xⱼᵀβ},
    *   S₀(t) = exp(−H₀(t)),   S(t|x) = S₀(t)^exp(xᵀβ),
    *
    * so `riskScore` turns the returned curve into a per-subject
    * survival prediction. Scale shape: ONE groupBy(t) cells aggregation
    * (β as literals), then TWO prefix-sum fold passes over the
    * range-partitioned cells — pass 1 computes per-partition (Σd/m₀)
    * with the risk-set suffix m₀ seeded by broadcast r₀ offsets, pass 2
    * emits rows with the H₀ running sum seeded by the pass-1 offsets.
    * Driver traffic O(#partitions); no global window even when every
    * duration is distinct.
    *
    * @return one row per distinct event time: (t, n_event, h0, s0),
    *         h0/s0 rounded to 6 */
  def baselineHazard(df: DataFrame, durationCol: String,
                     eventCol: String, model: CoxModel): DataFrame = Persisted { scope =>
    val spark = df.sparkSession
    import spark.implicits._
    val xs = model.features.map(c => F.col(c).cast("double"))
    val okX = xs.map(c => c.isNotNull && !F.isnan(c)).reduce(_ && _)
    val xb = model.features.indices.foldLeft(F.lit(0.0)) {
      case (acc, i) => acc + xs(i) * model.beta(i)
    }
    val cells = df
      .where(F.col(durationCol).cast("double").isNotNull &&
        !F.isnan(F.col(durationCol).cast("double")) &&
        F.col(durationCol).cast("double") >= 0.0 &&
        F.col(eventCol).cast("boolean").isNotNull && okX)
      .groupBy(F.col(durationCol).cast("double").as("t"))
      .agg(F.sum(F.when(F.col(eventCol).cast("boolean"), 1L)
          .otherwise(0L)).as("d"),
        F.sum(F.exp(xb)).as("r0"))
    PrefixSum(cells.as[(Double, Long, Double)], F.col("t")) { ps =>
      val partR0 = ps.parts { it =>
        var r = 0.0
        it.foreach(row => r += row._3)
        r
      }
      val totR0 = partR0.sum
      val offR0 = partR0.scanLeft(0.0)(_ + _)
      // pass 1: per-partition Σ d/m0 (m0 = suffix r0 = tot − prefix)
      val hSums = ps.walk(offR0) { (pre0, it) =>
        var pre = pre0
        var h = 0.0
        it.foreach { case (_, d, r0) =>
          val m0 = totR0 - pre
          if (d > 0L && m0 > 0.0) h += d.toDouble / m0
          pre += r0
        }
        Iterator(h)
      }.collect()
      val offH = hSums.scanLeft(0.0)(_ + _)
      // pass 2: emit the curve rows with seeded running sums
      val rows = ps.walk(offR0.zip(offH)) { (seed, it) =>
        var (pre, h) = seed
        it.flatMap { case (t, d, r0) =>
          val m0 = totR0 - pre
          pre += r0
          if (d > 0L && m0 > 0.0) {
            h += d.toDouble / m0
            Some((t, d, math.rint(h * 1e6) / 1e6,
              math.rint(math.exp(-h) * 1e6) / 1e6))
          } else None
        }
      }
      scope.checkpoint(rows.toDF("t", "n_event", "h0", "s0"))
    }
  }

  /** Cox proportional hazards (Breslow ties) by fixed Newton steps —
    * the semi-parametric rung above [[logRank]]: WHICH covariate drives
    * the hazard, not just whether two curves differ. The Breslow
    * partial likelihood over distinct event times t with event count
    * d(t) and event covariate sum s(t):
    *
    *   ℓ(β) = Σ_t [ βᵀs(t) − d(t)·ln m₀(t, β) ],
    *   U(β) = Σ_t [ s(t) − d(t)·m₁/m₀ ],
    *   I(β) = Σ_t d(t)·[ M₂/m₀ − (m₁/m₀)(m₁/m₀)ᵀ ],
    *
    * where m₀/m₁/M₂ are the risk-set sums Σ_{tⱼ ≥ t} {1, x, xxᵀ}·e^{βᵀx}.
    *
    * Scale shape — the [[logRank]] prefix-sum fold crossed with
    * [[Regression.logisticIrls]]'s Gram aggregation: each Newton step is
    * (1) ONE groupBy(t) aggregation with β folded into the column
    * expressions as literals, reducing the data to per-distinct-time
    * cells of k(k+3)/2 + 2 sums; (2) a range-partitioned DESCENDING
    * prefix fold over that tiny cells frame (prefix in t-desc order =
    * risk-set suffix in time), seeded per partition by broadcast
    * offsets, each partition folding its U/I/ℓ contribution locally —
    * driver traffic O(#partitions · k²), no global window, no row ever
    * collected. β starts at 0 (so step 1's risk sums are plain counts);
    * `iters` fixed Newton steps + ONE final pass at β_final for the
    * observed information (→ standard errors) and the log-likelihood:
    * iters + 1 passes total, independent of data size.
    */
  def coxPH(df: DataFrame, durationCol: String, eventCol: String,
            xCols: Seq[String], iters: Int = 4): CoxModel = Persisted { scope =>
    require(xCols.nonEmpty, "need at least one covariate")
    require(iters >= 1, "need at least one Newton step")
    val k = xCols.length
    val spark = df.sparkSession
    val xs = xCols.map(c => F.col(c).cast("double"))
    val okX = xs.map(c => c.isNotNull && !F.isnan(c)).reduce(_ && _)
    // every Newton pass re-aggregates this same narrow projection
    val clean = scope.cache(df
      .select(F.col(durationCol).cast("double").as("__t") +:
        F.col(eventCol).cast("boolean").as("__e") +:
        xs.zipWithIndex.map { case (c, i) => c.as(s"__x$i") }: _*)
      .where(F.col("__t").isNotNull && !F.isnan(F.col("__t")) &&
        F.col("__t") >= 0.0 && F.col("__e").isNotNull && okX))

    // one Newton-step pass at a fixed β: (U, I, ℓ, n, d_total)
    def pass(beta: Array[Double]): (Array[Double], Array[Array[Double]],
                                    Double, Long, Long) = {
      import spark.implicits._
      val tri = k * (k + 1) / 2
      val xb = (0 until k).foldLeft(F.lit(0.0)) {
        case (acc, i) => acc + F.col(s"__x$i") * beta(i)
      }
      val ebx = F.exp(xb)
      val sCols = (0 until k).map(i =>
        F.sum(F.when(F.col("__e"), F.col(s"__x$i")).otherwise(0.0)))
      val rCols = F.sum(ebx) +:
        (0 until k).map(i => F.sum(F.col(s"__x$i") * ebx)) ++:
        (for { i <- 0 until k; j <- i until k }
          yield F.sum(F.col(s"__x$i") * F.col(s"__x$j") * ebx))
      val cells = clean.groupBy("__t").agg(
        F.sum(F.when(F.col("__e"), 1L).otherwise(0L)).as("__d"),
        F.count(F.lit(1)).as("__c"),
        F.array(sCols: _*).as("__s"),
        F.array(rCols: _*).as("__r"))
      // t-DESCENDING prefix = risk-set suffix: rows seen so far (plus
      // the current row — tⱼ ≥ t includes t itself) ARE the risk set
      PrefixSum(cells.as[(Double, Long, Long, Seq[Double], Seq[Double])],
          F.col("__t").desc) { ps =>
        val rLen = 1 + k + tri
        val partSums = ps.parts { it =>
          val acc = new Array[Double](rLen)
          var c = 0L; var d = 0L
          it.foreach { row =>
            var j = 0
            while (j < rLen) { acc(j) += row._5(j); j += 1 }
            c += row._3; d += row._2
          }
          (acc, c, d)
        }
        val n = partSums.map(_._2).sum
        val dTot = partSums.map(_._3).sum
        require(dTot > 0, "no events observed")
        val offsets = partSums.map(_._1).scanLeft(new Array[Double](rLen)) {
          (a, b) => Array.tabulate(rLen)(j => a(j) + b(j))
        }
        val parts = ps.walk(offsets) { (seed, it) =>
          val cum = seed.clone()
          val u = new Array[Double](k)
          val inf = Array.ofDim[Double](k, k)
          var ll = 0.0
          it.foreach { case (_, d, _, s, r) =>
            var j = 0
            while (j < rLen) { cum(j) += r(j); j += 1 }
            if (d > 0L) {
              val m0 = cum(0)
              val dD = d.toDouble
              var bs = 0.0
              var i = 0
              while (i < k) { bs += beta(i) * s(i); i += 1 }
              ll += bs - dD * math.log(m0)
              i = 0
              var off = 1 + k
              while (i < k) {
                u(i) += s(i) - dD * cum(1 + i) / m0
                var jj = i
                while (jj < k) {
                  val v = dD * (cum(off) / m0 -
                    (cum(1 + i) / m0) * (cum(1 + jj) / m0))
                  inf(i)(jj) += v
                  if (jj != i) inf(jj)(i) += v
                  off += 1; jj += 1
                }
                i += 1
              }
            }
          }
          Iterator((u, inf, ll))
        }.collect()
        val u = new Array[Double](k)
        val inf = Array.ofDim[Double](k, k)
        var ll = 0.0
        parts.foreach { case (pu, pinf, pll) =>
          var i = 0
          while (i < k) {
            u(i) += pu(i)
            var j = 0
            while (j < k) { inf(i)(j) += pinf(i)(j); j += 1 }
            i += 1
          }
          ll += pll
        }
        (u, inf, ll, n, dTot)
      }
    }

    var beta = Array.fill(k)(0.0)
    var ll0 = 0.0
    var it = 0
    while (it < iters) {
      val (u, inf, ll, _, _) = pass(beta)
      if (it == 0) ll0 = ll
      val delta = Regression.solve(inf, u)
      beta = Array.tabulate(k)(i => beta(i) + delta(i))
      it += 1
    }
    // final pass at β_final: observed information → SEs, final ℓ
    val (_, infF, llF, n, dTot) = pass(beta)
    val se = Array.tabulate(k) { i =>
      // i-th diagonal of I⁻¹ via k solves against unit vectors would be
      // wasteful; solve once per feature (k ≤ dozens, driver-side)
      val ei = Array.tabulate(k)(j => if (j == i) 1.0 else 0.0)
      math.sqrt(Regression.solve(infF, ei)(i))
    }
    CoxModel(xCols, beta, se, llF, ll0, n, dTot, iters)
  }

  /** Cox proportional hazards with EFRON ties — the tie correction R's
    * `coxph` defaults to, and the one that matters when durations are
    * coarse (integer days, quantized amounts) so event times tie
    * heavily. Where Breslow charges all d tied events the FULL risk set
    * m₀, Efron removes the tied events gradually: for r = 0..d−1 the
    * r-th tied event sees the risk sums minus (r/d) of the TIED-EVENT
    * sums (e₀, e₁, E₂),
    *
    *   ℓ  = Σ_t [ βᵀs − Σ_r ln φ_r ],          φ_r = m₀ − (r/d)e₀
    *   U  = Σ_t [ s − Σ_r (m₁ − (r/d)e₁)/φ_r ]
    *   I  = Σ_t Σ_r [ (M₂ − (r/d)E₂)/φ_r − ((m₁−(r/d)e₁)/φ_r)⊗² ]
    *
    * With d = 1 everywhere this is EXACTLY [[coxPH]] (φ₀ = m₀) — the
    * tie-free agreement contract. Same scale shape as coxPH: per
    * Newton step ONE groupBy(t) cells aggregation (now carrying the
    * event-only sums alongside the risk sums) + the t-DESC prefix
    * fold; the within-tie r-loop runs INSIDE the fold over the tiny
    * cells frame (Σ_t d = nEvents iterations total, executor-local).
    * iters + 1 passes, independent of data size; no row collected. */
  def coxPHEfron(df: DataFrame, durationCol: String, eventCol: String,
                 xCols: Seq[String], iters: Int = 4): CoxModel = Persisted { scope =>
    require(xCols.nonEmpty, "need at least one covariate")
    require(iters >= 1, "need at least one Newton step")
    val k = xCols.length
    val spark = df.sparkSession
    val xs = xCols.map(c => F.col(c).cast("double"))
    val okX = xs.map(c => c.isNotNull && !F.isnan(c)).reduce(_ && _)
    // every Newton pass re-aggregates this same narrow projection
    val clean = scope.cache(df
      .select(F.col(durationCol).cast("double").as("__t") +:
        F.col(eventCol).cast("boolean").as("__e") +:
        xs.zipWithIndex.map { case (c, i) => c.as(s"__x$i") }: _*)
      .where(F.col("__t").isNotNull && !F.isnan(F.col("__t")) &&
        F.col("__t") >= 0.0 && F.col("__e").isNotNull && okX))

    def pass(beta: Array[Double]): (Array[Double], Array[Array[Double]],
                                    Double, Long, Long) = {
      import spark.implicits._
      val tri = k * (k + 1) / 2
      val xb = (0 until k).foldLeft(F.lit(0.0)) {
        case (acc, i) => acc + F.col(s"__x$i") * beta(i)
      }
      val ebx = F.exp(xb)
      val evx = F.when(F.col("__e"), ebx).otherwise(0.0)
      val sCols = (0 until k).map(i =>
        F.sum(F.when(F.col("__e"), F.col(s"__x$i")).otherwise(0.0)))
      val rCols = F.sum(ebx) +:
        (0 until k).map(i => F.sum(F.col(s"__x$i") * ebx)) ++:
        (for { i <- 0 until k; j <- i until k }
          yield F.sum(F.col(s"__x$i") * F.col(s"__x$j") * ebx))
      // event-only sums: what Efron subtracts fractionally
      val eCols = F.sum(evx) +:
        (0 until k).map(i => F.sum(F.col(s"__x$i") * evx)) ++:
        (for { i <- 0 until k; j <- i until k }
          yield F.sum(F.col(s"__x$i") * F.col(s"__x$j") * evx))
      val cells = clean.groupBy("__t").agg(
        F.sum(F.when(F.col("__e"), 1L).otherwise(0L)).as("__d"),
        F.count(F.lit(1)).as("__c"),
        F.array(sCols: _*).as("__s"),
        F.array(rCols: _*).as("__r"),
        F.array(eCols: _*).as("__ev"))
      PrefixSum(cells.as[(Double, Long, Long, Seq[Double], Seq[Double],
          Seq[Double])], F.col("__t").desc) { ps =>
        val rLen = 1 + k + tri
        val partSums = ps.parts { it =>
          val acc = new Array[Double](rLen)
          var c = 0L; var d = 0L
          it.foreach { row =>
            var j = 0
            while (j < rLen) { acc(j) += row._5(j); j += 1 }
            c += row._3; d += row._2
          }
          (acc, c, d)
        }
        val n = partSums.map(_._2).sum
        val dTot = partSums.map(_._3).sum
        require(dTot > 0, "no events observed")
        val offsets = partSums.map(_._1).scanLeft(new Array[Double](rLen)) {
          (a, b) => Array.tabulate(rLen)(j => a(j) + b(j))
        }
        val parts = ps.walk(offsets) { (seed, it) =>
          val cum = seed.clone()
          val u = new Array[Double](k)
          val inf = Array.ofDim[Double](k, k)
          var ll = 0.0
          it.foreach { case (_, d, _, s, r, ev) =>
            var j = 0
            while (j < rLen) { cum(j) += r(j); j += 1 }
            if (d > 0L) {
              val dD = d.toDouble
              var bs = 0.0
              var i = 0
              while (i < k) { bs += beta(i) * s(i); i += 1 }
              ll += bs
              var rr = 0L
              while (rr < d) {
                val frac = rr.toDouble / dD
                val phi = cum(0) - frac * ev(0)
                ll -= math.log(phi)
                i = 0
                var off = 1 + k
                while (i < k) {
                  val a1i = (cum(1 + i) - frac * ev(1 + i)) / phi
                  u(i) -= a1i
                  var jj = i
                  while (jj < k) {
                    val a1j = (cum(1 + jj) - frac * ev(1 + jj)) / phi
                    val v = (cum(off) - frac * ev(off)) / phi - a1i * a1j
                    inf(i)(jj) += v
                    if (jj != i) inf(jj)(i) += v
                    off += 1; jj += 1
                  }
                  i += 1
                }
                rr += 1L
              }
              i = 0
              while (i < k) { u(i) += s(i); i += 1 }
            }
          }
          Iterator((u, inf, ll))
        }.collect()
        val u = new Array[Double](k)
        val inf = Array.ofDim[Double](k, k)
        var ll = 0.0
        parts.foreach { case (pu, pinf, pll) =>
          var i = 0
          while (i < k) {
            u(i) += pu(i)
            var j = 0
            while (j < k) { inf(i)(j) += pinf(i)(j); j += 1 }
            i += 1
          }
          ll += pll
        }
        (u, inf, ll, n, dTot)
      }
    }

    var beta = Array.fill(k)(0.0)
    var ll0 = 0.0
    var it = 0
    while (it < iters) {
      val (u, inf, ll, _, _) = pass(beta)
      if (it == 0) ll0 = ll
      val delta = Regression.solve(inf, u)
      beta = Array.tabulate(k)(i => beta(i) + delta(i))
      it += 1
    }
    val (_, infF, llF, n, dTot) = pass(beta)
    val se = Array.tabulate(k) { i =>
      val ei = Array.tabulate(k)(j => if (j == i) 1.0 else 0.0)
      math.sqrt(Regression.solve(infF, ei)(i))
    }
    CoxModel(xCols, beta, se, llF, ll0, n, dTot, iters)
  }

  /** Harrell's concordance index — the acceptance metric for [[coxPH]]
    * and any survival risk score: over all COMPARABLE pairs (the
    * shorter time had an event, times differ), how often does the
    * shorter-lived subject carry the HIGHER risk? Ties in score score
    * ½; C = ½ is a coin flip, 1 perfect discrimination. Somers'
    * D = 2C − 1 reported alongside.
    *
    * Exact on low-cardinality (duration, score) data: the n² pairs
    * collapse to |cells|² weighted cell pairs (per cell: event count +
    * total at risk), one broadcast cell cross join with t₁ < t₂ —
    * every count an exact integer, so C replays bit-for-bit. Quantize
    * continuous scores upstream (the same contract as
    * [[graft.operators.StatTests.distanceCorrCells]]).
    *
    * @return one row: (n, n_comparable, n_concordant, n_tied_score,
    *         c_index, somers_d) */
  def concordanceIndex(df: DataFrame, durationCol: String,
                       eventCol: String, scoreCol: String): DataFrame = Persisted { scope =>
    val spark = df.sparkSession
    import spark.implicits._
    val t = F.col(durationCol).cast("double")
    val e = F.col(eventCol).cast("boolean")
    val s = F.col(scoreCol).cast("double")
    val cells = scope.checkpoint(df
      .where(t.isNotNull && !F.isnan(t) && e.isNotNull &&
        s.isNotNull && !F.isnan(s))
      .groupBy(t.as("t"), s.as("s"))
      .agg(F.sum(F.when(e, 1L).otherwise(0L)).as("ev"),
        F.count(F.lit(1)).as("c")))
    val cn = cells.agg(F.sum("c").as("n"),
      F.count(F.lit(1)).as("cells")).head()
    val n = cn.getAs[Long]("n")
    // loud guard, not a silent cap: the pair join is |cells|²
    require(cn.getAs[Long]("cells") <= 4096L,
      s"${cn.getAs[Long]("cells")} (duration, score) cells — " +
        "concordanceIndex is exact on LOW-CARDINALITY inputs; " +
        "quantize the score first")
    require(n >= 2L, "need at least two subjects")
    val a = cells.select(F.col("t").as("t1"), F.col("s").as("s1"),
      F.col("ev").as("e1"))
    val b = cells.select(F.col("t").as("t2"), F.col("s").as("s2"),
      F.col("c").as("c2"))
    val sums = a.join(F.broadcast(b), F.col("t1") < F.col("t2"))
      .agg(
        F.coalesce(F.sum(F.col("e1") * F.col("c2")), F.lit(0L))
          .as("comp"),
        F.coalesce(F.sum(F.when(F.col("s1") > F.col("s2"),
          F.col("e1") * F.col("c2")).otherwise(0L)), F.lit(0L))
          .as("conc"),
        F.coalesce(F.sum(F.when(F.col("s1") === F.col("s2"),
          F.col("e1") * F.col("c2")).otherwise(0L)), F.lit(0L))
          .as("tied"))
      .head()
    val comp = sums.getAs[Long]("comp")
    require(comp > 0L, "no comparable pairs (no events or one time)")
    val conc = sums.getAs[Long]("conc")
    val tied = sums.getAs[Long]("tied")
    val c = (conc + 0.5 * tied) / comp
    def r6(v: Double) = math.rint(v * 1e6) / 1e6
    Seq((n, comp, conc, tied, r6(c), r6(2.0 * c - 1.0)))
      .toDF("n", "n_comparable", "n_concordant", "n_tied_score",
        "c_index", "somers_d")
  }

  /** Log-rank trend test across k ORDERED groups (Tarone 1975) — the
    * dose-response survival question [[logRank]]'s two-sample form
    * can't ask: "does survival get monotonically worse along these
    * ordered segments" (quantity bands, quality tiers, exposure
    * levels). With integer scores a_g = 0..k−1 over the sorted group
    * labels,
    *
    *   U = Σ_t Σ_g a_g (d_gt − e_gt),
    *   Var U = Σ_t d_t (n_t−d_t)/(n_t−1) · (Σ_g a_g² p_g − (Σ_g a_g p_g)²)
    *
    * with p_g = n_gt/n_t the at-risk shares — the hypergeometric
    * covariance folded into one scalar per event time, so the fold
    * carries k at-risk lanes exactly like [[graft.operators.StatTests
    * .adKSample]]. z = U/√Var, two-sided p at the 6-rounded z; k = 2
    * is algebraically the plain log-rank z (up to sign convention).
    * Bounded-label loud guard; labels order the groups — encode the
    * dose in the label sort order.
    *
    * @return one row: (n_cohorts, n_total, u_stat, var_u, z,
    *         p_value), 6-rounded */
  def logRankTrend(df: DataFrame, durationCol: String, eventCol: String,
                   cohortCol: String, maxCohorts: Int = 16): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val g = F.col(cohortCol).cast("string")
    val t = F.col(durationCol).cast("double")
    val e = F.col(eventCol).cast("boolean")
    val clean = df
      .where(g.isNotNull && t.isNotNull && !F.isnan(t) && t >= 0.0 &&
        e.isNotNull)
      .select(g.as("__g"), t.as("__t"), e.as("__e"))
    val labels = clean.select("__g").distinct().orderBy("__g")
      .as[String].collect()
    val k = labels.length
    require(k >= 2, s"need at least 2 cohorts, got $k")
    require(k <= maxCohorts,
      s"$k distinct cohort labels — the trend fold carries one " +
        s"at-risk lane per cohort (maxCohorts=$maxCohorts); band the " +
        "doses first")
    val dCols = labels.zipWithIndex.map { case (l, i) =>
      F.sum(F.when(F.col("__g") === l && F.col("__e"), 1L)
        .otherwise(0L)).as(s"__d$i")
    }
    val cCols = labels.zipWithIndex.map { case (l, i) =>
      F.sum(F.when(F.col("__g") === l, 1L).otherwise(0L)).as(s"__c$i")
    }
    val cells = clean.groupBy("__t").agg((dCols ++ cCols).head,
      (dCols ++ cCols).tail: _*)
    // row layout: (t, d_0..d_{k-1}, c_0..c_{k-1})
    PrefixSum(cells, F.col("__t")) { ps =>
      val offs = ps.offsets(k) { (s, r) =>
        var j = 0; while (j < k) { s(j) += r.getLong(k + j + 1); j += 1 }
      }
      val ns = offs.last
      require(ns.forall(_ > 0L), "every cohort needs rows")
      val nTot = ns.sum
      val acc = ps.walk(offs) { (o, it) =>
        val cum = o.clone()
        var u = 0.0; var vv = 0.0
        it.foreach { r =>
          val ds = Array.tabulate(k)(i => r.getLong(i + 1))
          val cs = Array.tabulate(k)(i => r.getLong(k + i + 1))
          var dT = 0L; var nT = 0L
          var j = 0
          while (j < k) {
            dT += ds(j); nT += ns(j) - cum(j); j += 1
          }
          if (dT > 0L && nT > 1L) {
            val nTD = nT.toDouble
            val dTD = dT.toDouble
            var s1 = 0.0; var s2 = 0.0 // Σ a p, Σ a² p
            j = 0
            while (j < k) {
              val p = (ns(j) - cum(j)) / nTD
              u += j * (ds(j) - dTD * p)
              s1 += j * p
              s2 += j * j * p
              j += 1
            }
            vv += dTD * (nTD - dTD) / (nTD - 1.0) * (s2 - s1 * s1)
          }
          var j2 = 0
          while (j2 < k) { cum(j2) += cs(j2); j2 += 1 }
        }
        Iterator((u, vv))
      }.collect()
      val u = acc.map(_._1).sum
      val vv = acc.map(_._2).sum
      require(vv > 0.0, "zero trend variance (no comparable events)")
      def r6(x: Double) = math.rint(x * 1e6) / 1e6 + 0.0
      val z = r6(r6(u) / math.sqrt(r6(vv)))
      val p = r6(SpecialMath.erfc(math.abs(z) / math.sqrt(2.0)))
      Seq((k.toLong, nTot, r6(u), r6(vv), z, p))
        .toDF("n_cohorts", "n_total", "u_stat", "var_u", "z", "p_value")
    }
  }

  /** Weibull AFT (accelerated failure time) regression — the
    * PARAMETRIC rung of the survival shelf, above the nonparametric
    * [[kmByGroup]] and the semi-parametric [[coxPH]]: it fits the
    * full lifetime law, so it EXTRAPOLATES beyond the observed
    * horizon (median/quantile predictions Cox cannot give). Model:
    *
    *   ln T = μ + βx + σW,   W ~ standard Gumbel(min)
    *
    * (equivalently T Weibull with shape 1/σ and scale exp(μ + βx)).
    * Censored MLE by fixed-round block Newton on (μ, β) ⊕ ln σ, both
    * blocks updated from ONE aggregation per round at the previous
    * 6-ROUNDED parameters — the house chained-CTE replay discipline
    * ([[coxPH]]'s): with w = (ln t − μ − βx)/σ, z = eʷ, the score and
    * information reduce to the seven sums Σz, Σzx, Σzx², Σ(z−δ),
    * Σ(z−δ)x, Σw(z−δ), Σw²z. Warm start: OLS of ln t on x over the
    * UNCENSORED rows, σ₀ from the residual moment (Var = σ²π²/6).
    * Any round with a non-finite or non-PD information raises loudly
    * (standardize the covariate / check for ln t outliers) — no
    * silent sentinels.
    *
    * Scale shape: `iters`+1 full-scan aggregations of codegen'd
    * column arithmetic, no shuffle beyond a scalar collect per round
    * — the [[coxPH]] pattern without even the risk-set walk.
    *
    * @return one row: (n, n_events, icept, slope, sigma,
    *         median_at_mean) — median_at_mean = exp(μ + βx̄ +
    *         σ·ln ln 2), the predicted median lifetime at the average
    *         covariate; everything 6-rounded */
  def weibullAft(df: DataFrame, durationCol: String, eventCol: String,
                 xCol: String, iters: Int = 4): DataFrame = Persisted { scope =>
    require(iters >= 1 && iters <= 12, "iters must be in 1..12")
    val spark = df.sparkSession
    import spark.implicits._
    val t = F.col(durationCol).cast("double")
    val e = F.col(eventCol).cast("boolean")
    val x = F.col(xCol).cast("double")
    // the warm-start pass + `iters` Newton rounds all aggregate this
    // 3-column projection
    val clean = scope.cache(df
      .where(t.isNotNull && !F.isnan(t) && t > 0.0 && e.isNotNull &&
        x.isNotNull && !F.isnan(x))
      .select(F.log(t).as("__lt"), x.as("__x"),
        F.when(e, 1.0).otherwise(0.0).as("__d")))
    def r6(v: Double) = math.rint(v * 1e6) / 1e6 + 0.0
    // warm start: OLS of ln t on x over uncensored rows
    val init = clean.agg(
      F.count(F.lit(1)).as("n"),
      F.sum("__d").as("nev"),
      F.sum("__x").as("sxa"),
      F.sum(F.col("__d") * F.col("__x")).as("sx"),
      F.sum(F.col("__d") * F.col("__x") * F.col("__x")).as("sxx"),
      F.sum(F.col("__d") * F.col("__lt")).as("sy"),
      F.sum(F.col("__d") * F.col("__x") * F.col("__lt")).as("sxy"),
      F.sum(F.col("__d") * F.col("__lt") * F.col("__lt")).as("syy"))
      .head()
    val n = init.getAs[Long]("n")
    val nev = init.getAs[Double]("nev")
    require(n >= 8L && nev >= 5.0,
      s"need n >= 8 rows and >= 5 events, got n=$n events=$nev")
    val sx = init.getAs[Double]("sx"); val sxx = init.getAs[Double]("sxx")
    val sy = init.getAs[Double]("sy"); val sxy = init.getAs[Double]("sxy")
    val syy = init.getAs[Double]("syy")
    val det0 = nev * sxx - sx * sx
    require(det0 > 0.0, "constant covariate among events — no OLS start")
    var bb = r6((nev * sxy - sx * sy) / det0)
    var mu = r6((sy * sxx - sx * sxy) / det0)
    val mse = (syy - mu * sy - bb * sxy) / nev
    require(mse > 0.0, "zero residual variance in the OLS start")
    // Gumbel moment: Var(ln t) = sigma^2 * pi^2 / 6
    var sg = r6(math.sqrt(mse * 6.0) / math.Pi)
    val xbar = init.getAs[Double]("sxa") / n
    var it = 0
    while (it < iters) {
      val w = (F.col("__lt") - F.lit(mu) - F.lit(bb) * F.col("__x")) /
        F.lit(sg)
      val z = F.exp(w)
      val r = clean.agg(
        F.sum(z).as("a1"),
        F.sum(z * F.col("__x")).as("a2"),
        F.sum(z * F.col("__x") * F.col("__x")).as("a3"),
        F.sum(z - F.col("__d")).as("g1"),
        F.sum((z - F.col("__d")) * F.col("__x")).as("g2"),
        F.sum(w * (z - F.col("__d"))).as("u3"),
        F.sum(w * w * z).as("i3")).head()
      val a1 = r.getAs[Double]("a1"); val a2 = r.getAs[Double]("a2")
      val a3 = r.getAs[Double]("a3"); val g1 = r.getAs[Double]("g1")
      val g2 = r.getAs[Double]("g2"); val u3 = r.getAs[Double]("u3")
      val i3 = r.getAs[Double]("i3")
      val dd = a1 * a3 - a2 * a2
      val is = u3 + i3
      require(java.lang.Double.isFinite(dd) &&
        java.lang.Double.isFinite(g1) && java.lang.Double.isFinite(g2) &&
        java.lang.Double.isFinite(is) && dd > 0.0 && is > 0.0,
        s"Weibull AFT Newton round ${it + 1} degenerate (det=$dd, " +
          s"I_s=$is) — standardize the covariate or check ln-duration " +
          "outliers; refusing to emit garbage")
      val muN = r6(mu + sg * (a3 * g1 - a2 * g2) / dd)
      val bbN = r6(bb + sg * (a1 * g2 - a2 * g1) / dd)
      val sgN = r6(sg * math.exp((u3 - nev) / is))
      mu = muN; bb = bbN; sg = sgN
      require(sg > 0.0, s"sigma collapsed at round ${it + 1}")
      it += 1
    }
    val med = r6(math.exp(mu + bb * xbar + sg * math.log(math.log(2.0))))
    Seq((n, nev.toLong, mu, bb, sg, med))
      .toDF("n", "n_events", "icept", "slope", "sigma",
        "median_at_mean")
  }

  /** Predicted median lifetime under a fitted [[weibullAft]] model as
    * a codegen'd COLUMN — exp(μ + βx + σ·ln ln 2): attach to any
    * frame carrying the covariate for scoring at scale. */
  def weibullAftMedian(icept: Double, slope: Double, sigma: Double,
                       x: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    F.exp(F.lit(icept) + F.lit(slope) * x +
      F.lit(sigma * math.log(math.log(2.0))))
}
