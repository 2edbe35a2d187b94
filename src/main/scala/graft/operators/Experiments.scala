package graft.operators

import org.apache.spark.sql.{DataFrame, functions => F}
import graft.functions.SpecialMath

/** Experimentation analytics — the A/B-measurement layer over event or
  * document tables: did the treatment move a conversion rate, what is
  * the uncertainty band per segment, and how much variance does a
  * pre-period covariate soak up. Every operator is ONE aggregation
  * (conditional sums / moment columns); p-values follow the repo's
  * replay discipline — evaluated at the 6-decimal-ROUNDED statistic so
  * an external engine reproduces them bit-for-bit.
  */
object Experiments {

  /** Two-proportion z-test (pooled): does cohort A convert differently
    * from cohort B?
    *
    *   p̂ = (x_a + x_b)/(n_a + n_b),
    *   z  = (p̂_a − p̂_b) / √(p̂(1−p̂)(1/n_a + 1/n_b)),
    *   p  = erfc(|z|/√2)   (two-sided).
    *
    * @param successCol boolean-ish conversion flag
    * @return one row: (z, p_value, rate_a, rate_b, x_a, n_a, x_b, n_b),
    *         z/rates rounded to 6 */
  def twoProportionZ(df: DataFrame, cohortCol: String, successCol: String,
                     labelA: String = "a",
                     labelB: String = "b"): DataFrame = {
    require(labelA != labelB, "cohort labels must differ")
    val spark = df.sparkSession
    import spark.implicits._
    val g = F.col(cohortCol).cast("string")
    val y = F.col(successCol).cast("boolean")
    val r = df
      .where(g.isin(labelA, labelB) && y.isNotNull)
      .agg(
        F.sum(F.when(g === labelA && y, 1L).otherwise(0L)).as("xa"),
        F.sum(F.when(g === labelA, 1L).otherwise(0L)).as("na"),
        F.sum(F.when(g =!= labelA && y, 1L).otherwise(0L)).as("xb"),
        F.sum(F.when(g =!= labelA, 1L).otherwise(0L)).as("nb"))
      .head()
    val (xa, na, xb, nb) = (r.getAs[Long]("xa"), r.getAs[Long]("na"),
      r.getAs[Long]("xb"), r.getAs[Long]("nb"))
    require(na > 0 && nb > 0, "both cohorts need rows")
    val pa = xa.toDouble / na
    val pb = xb.toDouble / nb
    val pp = (xa + xb).toDouble / (na + nb)
    val se = math.sqrt(pp * (1.0 - pp) * (1.0 / na + 1.0 / nb))
    val z = if (se == 0.0) 0.0
      else math.rint((pa - pb) / se * 1e6) / 1e6
    val p = math.rint(SpecialMath.erfc(
      math.abs(z) / math.sqrt(2.0)) * 1e6) / 1e6
    Seq((z, p, math.rint(pa * 1e6) / 1e6, math.rint(pb * 1e6) / 1e6,
        xa, na, xb, nb))
      .toDF("z", "p_value", "rate_a", "rate_b", "x_a", "n_a", "x_b", "n_b")
  }

  /** Conversion rate with the Wilson score interval per group — the
    * band that behaves at extreme rates and small segments where the
    * normal interval fails (negative or >1 limits):
    *
    *   center = (p̂ + z²/2n) / (1 + z²/n),
    *   half   = z·√(p̂(1−p̂)/n + z²/4n²) / (1 + z²/n).
    *
    * ONE aggregation; a million segments cost one group-key shuffle.
    *
    * @return one row per group: (groupCols..., n, x, rate, ci_lo,
    *         ci_hi), floats rounded to 6 */
  def wilsonByGroup(df: DataFrame, groupCols: Seq[String],
                    successCol: String,
                    z: Double = 1.959964): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    val y = F.col(successCol).cast("boolean")
    val agged = df.where(y.isNotNull)
      .groupBy(groupCols.map(F.col): _*)
      .agg(F.count(F.lit(1)).as("n"),
        F.sum(F.when(y, 1L).otherwise(0L)).as("x"))
    val n = F.col("n").cast("double")
    val p = F.col("x").cast("double") / n
    val z2 = z * z
    val denom = F.lit(1.0) + F.lit(z2) / n
    val center = (p + F.lit(z2 / 2.0) / n) / denom
    val half = F.lit(z) * F.sqrt(p * (F.lit(1.0) - p) / n +
      F.lit(z2 / 4.0) / (n * n)) / denom
    agged
      .withColumn("rate", F.round(p, 6))
      .withColumn("ci_lo", F.round(center - half, 6))
      .withColumn("ci_hi", F.round(center + half, 6))
      .select(groupCols.map(F.col) ++ Seq(F.col("n"), F.col("x"),
        F.col("rate"), F.col("ci_lo"), F.col("ci_hi")): _*)
  }

  /** Poisson rate-ratio test between two cohorts with exposure — the
    * incident-rate comparison ("errors per machine-hour, crashes per
    * session-day") where a proportion test is the wrong model because
    * a unit can contribute many events:
    *
    *   RR = (x_a/e_a)/(x_b/e_b),  se_lnRR = √(1/x_a + 1/x_b),
    *   z  = ln RR / se,  p = erfc(|z|/√2)
    *
    * with the log-scale 95% CI. ONE conditional aggregation of counts
    * and exposures. Null ratio/CI when either count is 0 (continuity-
    * correct upstream if estimates are needed there).
    *
    * @param exposureCol per-row positive exposure (time at risk,
    *                    opportunity count)
    * @return one row: (x_a, e_a, x_b, e_b, rate_a, rate_b, rate_ratio,
    *         rr_lo, rr_hi, z, p_value), floats rounded to 6 */
  def rateRatio(df: DataFrame, cohortCol: String, eventCol: String,
                exposureCol: String, labelA: String = "a",
                labelB: String = "b",
                zCrit: Double = 1.959964): DataFrame = {
    require(labelA != labelB, "cohort labels must differ")
    val g = F.col(cohortCol).cast("string")
    val y = F.col(eventCol).cast("boolean")
    val e = F.col(exposureCol).cast("double")
    val pUdf = F.udf((z: Double) => math.rint(SpecialMath.erfc(
      math.abs(z) / math.sqrt(2.0)) * 1e6) / 1e6)
    val agged = df
      .where(g.isin(labelA, labelB) && y.isNotNull && e.isNotNull &&
        !F.isnan(e) && e > 0.0)
      .agg(
        F.sum(F.when(g === labelA && y, 1L).otherwise(0L)).as("x_a"),
        F.round(F.sum(F.when(g === labelA, e).otherwise(0.0)), 6)
          .as("e_a"),
        F.sum(F.when(g === labelB && y, 1L).otherwise(0L)).as("x_b"),
        F.round(F.sum(F.when(g === labelB, e).otherwise(0.0)), 6)
          .as("e_b"))
    val ra = F.col("x_a").cast("double") / F.col("e_a")
    val rb = F.col("x_b").cast("double") / F.col("e_b")
    val ok = F.col("x_a") > 0L && F.col("x_b") > 0L &&
      F.col("e_a") > 0.0 && F.col("e_b") > 0.0
    val lnRr = F.log(ra / rb)
    val se = F.sqrt(F.lit(1.0) / F.col("x_a") +
      F.lit(1.0) / F.col("x_b"))
    agged
      .withColumn("rate_a",
        F.when(F.col("e_a") > 0.0, F.round(ra, 6)))
      .withColumn("rate_b",
        F.when(F.col("e_b") > 0.0, F.round(rb, 6)))
      .withColumn("rate_ratio", F.when(ok, F.round(ra / rb, 6)))
      .withColumn("rr_lo",
        F.when(ok, F.round(F.exp(lnRr - F.lit(zCrit) * se), 6)))
      .withColumn("rr_hi",
        F.when(ok, F.round(F.exp(lnRr + F.lit(zCrit) * se), 6)))
      .withColumn("z", F.when(ok, F.round(lnRr / se, 6)))
      .withColumn("p_value", F.when(ok, pUdf(F.col("z"))))
      .select("x_a", "e_a", "x_b", "e_b", "rate_a", "rate_b",
        "rate_ratio", "rr_lo", "rr_hi", "z", "p_value")
  }

  /** Empirical-Bayes (beta-binomial) shrinkage of per-group rates —
    * "small segments borrow strength": the beta prior is moment-matched
    * from the OBSERVED spread of group rates (m = mean, v = variance →
    * α+β = m(1−m)/v − 1), and each group's estimate becomes
    *
    *   shrunk = (x + α)/(n + α + β)
    *
    * — big groups keep their data, a 3-row segment gets pulled to the
    * prior instead of reporting 0% or 100%. ONE group aggregation; the
    * prior is two scalars from a groups-sized fold (explicit Σr/Σr²
    * algebra). Degenerate spreads (v = 0 or v ≥ m(1−m), where the
    * beta-binomial moment match is undefined) fall back to α = β = 0 —
    * shrunk = raw.
    *
    * @return one row per group: (groupCols..., n, x, rate, shrunk_rate,
    *         alpha, beta), floats rounded to 6 */
  def ebShrinkRates(df: DataFrame, groupCols: Seq[String],
                    successCol: String): DataFrame = Persisted { scope =>
    require(groupCols.nonEmpty, "need at least one group column")
    val y = F.col(successCol).cast("boolean")
    val groups = scope.checkpoint(df.where(y.isNotNull)
      .groupBy(groupCols.map(F.col): _*)
      .agg(F.count(F.lit(1)).as("n"),
        F.sum(F.when(y, 1L).otherwise(0L)).as("x"))
      .withColumn("__r", F.col("x").cast("double") / F.col("n")))
    val row = groups.agg(F.count(F.lit(1)).as("k"),
      F.sum("__r").as("sr"),
      F.sum(F.col("__r") * F.col("__r")).as("srr")).head()
    val k = row.getAs[Long]("k").toDouble
    require(k >= 1.0, "need at least one group")
    val m = row.getAs[Double]("sr") / k
    val v = row.getAs[Double]("srr") / k - m * m
    val s = if (v > 0.0 && v < m * (1.0 - m))
      m * (1.0 - m) / v - 1.0 else 0.0
    val alpha = m * s
    val beta = (1.0 - m) * s
    groups
      .withColumn("rate", F.round(F.col("__r"), 6))
      .withColumn("shrunk_rate", F.round(
        (F.col("x").cast("double") + alpha) /
          (F.col("n").cast("double") + alpha + beta), 6))
      .withColumn("alpha", F.round(F.lit(alpha), 6))
      .withColumn("beta", F.round(F.lit(beta), 6))
      .select(groupCols.map(F.col) ++ Seq(F.col("n"), F.col("x"),
        F.col("rate"), F.col("shrunk_rate"), F.col("alpha"),
        F.col("beta")): _*)
  }

  /** Staggered-adoption event study — the Callaway–Sant'Anna-shaped
    * ATT(g, t) panel that generalizes [[didEstimate]]'s single 2×2 to
    * MANY treatment cohorts ("feature rolled out to different users
    * in different weeks — what did it do, per cohort, per week"):
    * for each cohort g (first-treated period) and period t ≥ g,
    *
    *   ATT(g,t) = [ȳ(g,t) − ȳ(g,g−1)] − [ȳ(∞,t) − ȳ(∞,g−1)]
    *
    * with ȳ(∞,·) the NEVER-TREATED control means — each cell a
    * cohort-period mean of per-(unit, period) decimal-exact means, so
    * the whole panel is exact cell algebra and replays. Cells missing
    * the g−1 baseline (cohort treated in the first observed period)
    * are omitted — an event study without a pre-period is not one.
    *
    * Scale shape: one (unit, period) aggregation, one (cohort,
    * period) aggregation over it, two bounded self-joins on the
    * cohort-period frame (cohorts × periods, never rows).
    *
    * @param cohortCol per-row first-treatment period of the row's
    *        unit (constant within unit; null = never treated)
    * @return one row per (cohort, period ≥ cohort with baseline):
    *         (cohort, period, n_treated, n_control, att) */
  def eventStudy(df: DataFrame, unitCol: String, timeCol: String,
                 cohortCol: String, yCol: String): DataFrame = Persisted { scope =>
    val y = F.col(yCol).cast("double")
    val t = F.col(timeCol).cast("long")
    val g = F.col(cohortCol).cast("long")
    val cells = df
      .where(F.col(unitCol).isNotNull && t.isNotNull && y.isNotNull &&
        !F.isnan(y))
      .groupBy(F.col(unitCol).as("__u"), t.as("__t"))
      .agg((dsum(y) / F.count(F.lit(1))).as("__y"),
        F.max(g).as("__g"))
    val cp = scope.checkpoint(cells
      .groupBy(F.col("__g"), F.col("__t"))
      .agg(F.count(F.lit(1)).as("__n"),
        (dsum(F.col("__y")) / F.count(F.lit(1))).as("__m")))
    val treated = cp.where(F.col("__g").isNotNull &&
      F.col("__t") >= F.col("__g"))
      .select(F.col("__g").as("cohort"), F.col("__t").as("period"),
        F.col("__n").as("n_treated"), F.col("__m").as("__mgt"))
    val baseT = cp.where(F.col("__g").isNotNull)
      .select(F.col("__g").as("cohort"),
        F.col("__t").as("__bt"), F.col("__m").as("__mgb"))
    val ctrl = cp.where(F.col("__g").isNull)
      .select(F.col("__t").as("period"), F.col("__n").as("n_control"),
        F.col("__m").as("__m0t"))
    val ctrlB = cp.where(F.col("__g").isNull)
      .select(F.col("__t").as("__bt"), F.col("__m").as("__m0b"))
    treated
      .join(baseT, treated("cohort") === baseT("cohort") &&
        F.col("__bt") === treated("cohort") - 1L)
      .drop(baseT("cohort")).drop("__bt")
      .join(ctrl, "period")
      .join(ctrlB, F.col("__bt") === F.col("cohort") - 1L)
      .drop("__bt")
      .select(F.col("cohort"), F.col("period"), F.col("n_treated"),
        F.col("n_control"),
        F.round((F.col("__mgt") - F.col("__mgb")) -
          (F.col("__m0t") - F.col("__m0b")), 6).as("att"))
  }

  /** Gamma–Poisson (negative-binomial) empirical-Bayes shrinkage of
    * per-group EVENT RATES with exposure — [[ebShrinkRates]]'s sibling
    * for counts-per-volume metrics (defects per shipped line, errors
    * per request-hour) where the beta-binomial's n-trials framing
    * doesn't apply: method-of-moments gamma prior over the group
    * rates (mean m = α/β, variance v = α/β² → β = m/v, α = m²/v),
    * posterior mean (c_g + α)/(e_g + β) — small-exposure groups pull
    * toward the global rate, big ones keep their own.
    *
    * Scale shape: ONE decimal-exact group aggregation, one k-row fold
    * for the prior (k = group count), posterior as column arithmetic.
    * Zero between-group variance degenerates to no shrink (α = β = 0).
    *
    * @param eventCol per-row event count (0/1 indicators work)
    * @param exposureCol per-row exposure volume
    * @return one row per group: (groupCols…, events, exposure, rate,
    *         shrunk_rate, alpha, beta), doubles rounded to 6 */
  def ebShrinkPoisson(df: DataFrame, groupCols: Seq[String],
                      eventCol: String,
                      exposureCol: String): DataFrame = Persisted { scope =>
    require(groupCols.nonEmpty, "need at least one group column")
    val c = F.col(eventCol).cast("double")
    val e = F.col(exposureCol).cast("double")
    val groups = scope.checkpoint(df
      .where(c.isNotNull && !F.isnan(c) && e.isNotNull && !F.isnan(e))
      .groupBy(groupCols.map(F.col): _*)
      .agg(dsum(c).as("__ev"), dsum(e).as("__ex"))
      .where(F.col("__ex") > 0.0)
      .withColumn("__r", F.col("__ev") / F.col("__ex"))
      // the prior folds the 6-rounded rates as decimals so α/β are pure
      // functions of rounded scalars — partition-order-independent, and
      // the oracle's sequential fold reproduces them bit-for-bit
      .withColumn("__r6", F.round(F.col("__r"), 6)))
    val row = groups.agg(F.count(F.lit(1)).as("k"),
      F.sum(F.col("__r6").cast("decimal(38,6)")).cast("double").as("sr"),
      F.sum((F.col("__r6") * F.col("__r6")).cast("decimal(38,12)"))
        .cast("double").as("srr")).head()
    val k = row.getAs[Long]("k").toDouble
    require(k >= 1.0, "need at least one group with exposure")
    val m = row.getAs[Double]("sr") / k
    val v = row.getAs[Double]("srr") / k - m * m
    val (alpha, beta) =
      if (v > 0.0 && m > 0.0) (m * m / v, m / v) else (0.0, 0.0)
    groups
      .withColumn("rate", F.col("__r6"))
      .withColumn("shrunk_rate", F.round(
        (F.col("__ev") + alpha) / (F.col("__ex") + beta), 6))
      .withColumn("alpha", F.round(F.lit(alpha), 6))
      .withColumn("beta", F.round(F.lit(beta), 6))
      .select(groupCols.map(F.col) ++ Seq(
        F.round(F.col("__ev"), 6).as("events"),
        F.round(F.col("__ex"), 6).as("exposure"),
        F.col("rate"), F.col("shrunk_rate"), F.col("alpha"),
        F.col("beta")): _*)
  }

  /** Group-sequential monitor with the O'Brien–Fleming-shaped boundary:
    * per analysis period k of K, the pooled two-proportion z on the
    * CUMULATIVE counts against the spending boundary
    *
    *   b(k) = z_final · √(K/k)
    *
    * — early looks must clear a much higher bar, which is what makes
    * peeking at a running experiment legitimate (naive repeated
    * α = .05 looks inflate false positives several-fold). One (period,
    * cohort) aggregation; cumulative counts and z ride windows over
    * the ≤ K period cells.
    *
    * @param periodCol integral analysis period (1-based or any ordered
    *                  integers)
    * @param zFinal    the final-look critical value (1.959964 = 5%)
    * @return one row per period: (period, n_a, x_a, n_b, x_b, z,
    *         boundary, crossed) — cumulative counts, z/boundary
    *         rounded to 6 */
  def sequentialMonitor(df: DataFrame, periodCol: String,
                        cohortCol: String, successCol: String,
                        labelA: String = "a", labelB: String = "b",
                        zFinal: Double = 1.959964): DataFrame = {
    require(labelA != labelB, "cohort labels must differ")
    import org.apache.spark.sql.expressions.Window
    val g = F.col(cohortCol).cast("string")
    val y = F.col(successCol).cast("boolean")
    val p = F.col(periodCol).cast("long")
    val cells = df
      .where(p.isNotNull && y.isNotNull && g.isin(labelA, labelB))
      .groupBy(p.as("period"))
      .agg(
        F.sum(F.when(g === labelA, 1L).otherwise(0L)).as("__na"),
        F.sum(F.when(g === labelA && y, 1L).otherwise(0L)).as("__xa"),
        F.sum(F.when(g === labelB, 1L).otherwise(0L)).as("__nb"),
        F.sum(F.when(g === labelB && y, 1L).otherwise(0L)).as("__xb"))
    val wCum = Window.orderBy("period")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.orderBy("period")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wK = Window.orderBy("period")
    val cum = cells
      .withColumn("n_a", F.sum("__na").over(wCum))
      .withColumn("x_a", F.sum("__xa").over(wCum))
      .withColumn("n_b", F.sum("__nb").over(wCum))
      .withColumn("x_b", F.sum("__xb").over(wCum))
      .withColumn("__k", F.row_number().over(wK).cast("long"))
      .withColumn("__bigk", F.count(F.lit(1)).over(wAll))
    val pa = F.col("x_a").cast("double") / F.col("n_a")
    val pb = F.col("x_b").cast("double") / F.col("n_b")
    val pp = (F.col("x_a") + F.col("x_b")).cast("double") /
      (F.col("n_a") + F.col("n_b"))
    val se = F.sqrt(pp * (F.lit(1.0) - pp) *
      (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b")))
    cum
      .where(F.col("n_a") > 0L && F.col("n_b") > 0L)
      .withColumn("__se", se)
      .where(F.col("__se") > 0.0)
      .withColumn("z", F.round((pa - pb) / F.col("__se"), 6))
      .withColumn("boundary", F.round(F.lit(zFinal) *
        F.sqrt(F.col("__bigk").cast("double") / F.col("__k")), 6))
      .withColumn("crossed", F.abs(F.col("z")) > F.col("boundary"))
      .select("period", "n_a", "x_a", "n_b", "x_b", "z", "boundary",
        "crossed")
  }

  /** Stratified average treatment effect — the observational-data
    * workhorse: bucket units into k strata of a balancing score
    * (propensity from [[Regression.logisticIrls]], or any confounder
    * proxy), estimate the treated-vs-control outcome gap WITHIN each
    * stratum, and average the gaps weighted by stratum size:
    *
    *   ATE = Σ_s (n_s/N) · (ȳ_t(s) − ȳ_c(s))
    *
    * — the five-strata classic that removes ~90% of the bias a naive
    * mean difference carries (Rosenbaum–Rubin). The strata are one
    * [[Ranks.bucketTable]] (tie-stable, the naive gap read from the same
    * sums); strata missing an arm are excluded from BOTH the weights
    * and the ATE (reported as n_excluded).
    *
    * @return one row: (ate, naive_diff, n, n_strata, n_excluded),
    *         floats rounded to 6; ate null when no stratum has both
    *         arms, naive_diff null when an arm is empty */
  def stratifiedAte(df: DataFrame, treatedCol: String,
                    outcomeCol: String, scoreCol: String,
                    k: Int = 5): DataFrame = {
    require(k >= 2, "need at least 2 strata")
    val t = F.col(treatedCol).cast("boolean")
    val y = F.col(outcomeCol).cast("double")
    val s = F.col(scoreCol).cast("double")
    val (_, strata) = Ranks.bucketTable(
      df.where(t.isNotNull && y.isNotNull && !F.isnan(y)), s, k,
      "__nt" -> F.when(t, 1L).otherwise(0L),
      "__nc" -> F.when(!t, 1L).otherwise(0L),
      "__st" -> F.when(t, y).otherwise(0.0),
      "__sc" -> F.when(!t, y).otherwise(0.0))
    val ok = F.col("__nt") > 0L && F.col("__nc") > 0L
    val gap = F.col("__st") / F.col("__nt") -
      F.col("__sc") / F.col("__nc")
    strata
      .agg(
        F.round(F.sum(F.when(ok, F.col("__c").cast("double") * gap)) /
          F.sum(F.when(ok, F.col("__c"))).cast("double"), 6).as("ate"),
        F.sum(F.when(ok, F.col("__c")).otherwise(0L)).as("n"),
        F.sum(F.when(ok, 1L).otherwise(0L)).as("n_strata"),
        F.coalesce(F.sum(F.when(!ok, F.col("__c"))), F.lit(0L))
          .as("n_excluded"),
        // the naive gap over every stratum, one-armed ones included;
        // null when an arm is empty (x / 0 raises under ANSI)
        F.when(F.sum("__nt") > 0L && F.sum("__nc") > 0L,
          F.round(F.sum("__st") / F.sum("__nt") -
            F.sum("__sc") / F.sum("__nc"), 6)).as("naive_diff"))
      .select("ate", "naive_diff", "n", "n_strata", "n_excluded")
  }

  /** Two-proportion power analysis from the OBSERVED experiment state —
    * the "should we keep running" readout: at the observed rates and
    * sizes,
    *
    *   power    = Φ(δ/se − z_α)          (achieved, two-arm normal),
    *   n_needed = (z_α·√(2p̄q̄) + z_β·√(p_a·q_a + p_b·q_b))² / δ²
    *
    * per arm for the target power at the observed effect δ = |p_a−p_b|.
    * ONE conditional-count aggregation; all algebra is closed-form
    * normal with the z constants as literals, so the whole row replays
    * exactly (Φ via erfc).
    *
    * @return one row: (rate_a, rate_b, delta, n_a, n_b, power,
    *         n_needed_per_arm), floats rounded to 6; null power/
    *         n_needed when δ = 0 or a rate is degenerate */
  def powerTwoProportion(df: DataFrame, cohortCol: String,
                         successCol: String, labelA: String = "a",
                         labelB: String = "b", zAlpha: Double = 1.959964,
                         zBeta: Double = 0.841621): DataFrame = {
    require(labelA != labelB, "cohort labels must differ")
    val g = F.col(cohortCol).cast("string")
    val y = F.col(successCol).cast("boolean")
    val agged = df
      .where(g.isin(labelA, labelB) && y.isNotNull)
      .agg(
        F.sum(F.when(g === labelA && y, 1L).otherwise(0L)).as("x_a"),
        F.sum(F.when(g === labelA, 1L).otherwise(0L)).as("n_a"),
        F.sum(F.when(g === labelB && y, 1L).otherwise(0L)).as("x_b"),
        F.sum(F.when(g === labelB, 1L).otherwise(0L)).as("n_b"))
    val pa = F.col("x_a").cast("double") / F.col("n_a")
    val pb = F.col("x_b").cast("double") / F.col("n_b")
    val delta = F.abs(pa - pb)
    val pbar = (F.col("x_a") + F.col("x_b")).cast("double") /
      (F.col("n_a") + F.col("n_b"))
    val se = F.sqrt(pa * (F.lit(1.0) - pa) / F.col("n_a") +
      pb * (F.lit(1.0) - pb) / F.col("n_b"))
    val powUdf = F.udf((z: Double) =>
      math.rint(0.5 * SpecialMath.erfc(-z / math.sqrt(2.0)) * 1e6) / 1e6)
    val nNum = F.lit(zAlpha) * F.sqrt(F.lit(2.0) * pbar *
      (F.lit(1.0) - pbar)) + F.lit(zBeta) *
      F.sqrt(pa * (F.lit(1.0) - pa) + pb * (F.lit(1.0) - pb))
    agged
      .where(F.col("n_a") > 0L && F.col("n_b") > 0L)
      .withColumn("rate_a", F.round(pa, 6))
      .withColumn("rate_b", F.round(pb, 6))
      .withColumn("delta", F.round(delta, 6))
      .withColumn("__se", se)
      .withColumn("power", F.when(F.col("__se") > 0.0,
        powUdf(F.round(delta / F.col("__se") - zAlpha, 6))))
      .withColumn("n_needed_per_arm", F.when(delta > 0.0,
        F.round(nNum * nNum / (delta * delta), 6)))
      .select("rate_a", "rate_b", "delta", "n_a", "n_b", "power",
        "n_needed_per_arm")
  }

  /** Effect sizes for a 2×2 cohort×outcome table — what the z-test's
    * p-value does NOT say ("significant, but how big?"):
    *
    *   OR = (x_a·(n_b−x_b)) / (x_b·(n_a−x_a)),
    *   RR = (x_a/n_a) / (x_b/n_b)
    *
    * with 95% log-scale normal CIs (se_lnOR = √(1/a+1/b+1/c+1/d),
    * se_lnRR = √(1/x_a − 1/n_a + 1/x_b − 1/n_b)) — the table a medical
    * or experimentation readout leads with. ONE conditional-count
    * aggregation; ratios/CIs are null when a zero cell makes them
    * undefined (use a continuity-corrected upstream +0.5 if you need
    * estimates there).
    *
    * @return one row: (x_a, n_a, x_b, n_b, odds_ratio, or_lo, or_hi,
    *         risk_ratio, rr_lo, rr_hi), rounded to 6 */
  def oddsRatio(df: DataFrame, cohortCol: String, successCol: String,
                labelA: String = "a", labelB: String = "b",
                z: Double = 1.959964): DataFrame = {
    require(labelA != labelB, "cohort labels must differ")
    val g = F.col(cohortCol).cast("string")
    val y = F.col(successCol).cast("boolean")
    val agged = df
      .where(g.isin(labelA, labelB) && y.isNotNull)
      .agg(
        F.sum(F.when(g === labelA && y, 1L).otherwise(0L)).as("x_a"),
        F.sum(F.when(g === labelA, 1L).otherwise(0L)).as("n_a"),
        F.sum(F.when(g === labelB && y, 1L).otherwise(0L)).as("x_b"),
        F.sum(F.when(g === labelB, 1L).otherwise(0L)).as("n_b"))
    val a = F.col("x_a").cast("double")
    val b = F.col("x_b").cast("double")
    val c = F.col("n_a").cast("double") - a
    val d = F.col("n_b").cast("double") - b
    val orOk = a > 0.0 && b > 0.0 && c > 0.0 && d > 0.0
    val lnOr = F.log((a * d) / (b * c))
    val seOr = F.sqrt(F.lit(1.0) / a + F.lit(1.0) / b +
      F.lit(1.0) / c + F.lit(1.0) / d)
    val rrOk = a > 0.0 && b > 0.0 &&
      F.col("n_a") > 0L && F.col("n_b") > 0L
    val lnRr = F.log((a / F.col("n_a")) / (b / F.col("n_b")))
    val seRr = F.sqrt(F.lit(1.0) / a - F.lit(1.0) / F.col("n_a") +
      F.lit(1.0) / b - F.lit(1.0) / F.col("n_b"))
    agged
      .withColumn("odds_ratio",
        F.when(orOk, F.round(F.exp(lnOr), 6)))
      .withColumn("or_lo",
        F.when(orOk, F.round(F.exp(lnOr - F.lit(z) * seOr), 6)))
      .withColumn("or_hi",
        F.when(orOk, F.round(F.exp(lnOr + F.lit(z) * seOr), 6)))
      .withColumn("risk_ratio",
        F.when(rrOk, F.round(F.exp(lnRr), 6)))
      .withColumn("rr_lo",
        F.when(rrOk, F.round(F.exp(lnRr - F.lit(z) * seRr), 6)))
      .withColumn("rr_hi",
        F.when(rrOk, F.round(F.exp(lnRr + F.lit(z) * seRr), 6)))
      .select("x_a", "n_a", "x_b", "n_b", "odds_ratio", "or_lo",
        "or_hi", "risk_ratio", "rr_lo", "rr_hi")
  }

  /** Qini / uplift decile table — "does targeting by this score
    * actually concentrate the treatment effect": rows ranked by an
    * uplift score DESCENDING into k tie-stable buckets (the
    * [[Evaluation.liftTable]] bucketing), then per cumulative prefix
    * the incremental conversions over the control baseline,
    *
    *   qini(b) = cumPos_t(b) − cumPos_c(b) · cumN_t(b)/cumN_c(b)
    *
    * (Radcliffe's Qini curve data; a model that targets noise gives a
    * flat curve). Same scale shape as liftTable: one
    * [[Ranks.bucketTable]] over the distinct scores, cumulative windows
    * over ≤ k bucket rows.
    *
    * @return one row per bucket: (bucket, n_t, n_c, pos_t, pos_c,
    *         rate_t, rate_c, uplift, qini) — floats rounded to 6;
    *         rates/uplift null for empty arms, qini null until both
    *         cumulative arms are populated */
  def qiniTable(df: DataFrame, treatedCol: String, labelCol: String,
                scoreCol: String, k: Int = 10): DataFrame = {
    require(k >= 2, "need at least 2 buckets")
    import org.apache.spark.sql.expressions.Window
    val t = F.col(treatedCol).cast("boolean")
    val y = F.col(labelCol).cast("boolean")
    val (n, cells) = Ranks.bucketTable(df.where(t.isNotNull && y.isNotNull),
      F.col(scoreCol), k,
      "n_t" -> F.when(t, 1L).otherwise(0L),
      "n_c" -> F.when(!t, 1L).otherwise(0L),
      "pos_t" -> F.when(t && y, 1L).otherwise(0L),
      "pos_c" -> F.when(!t && y, 1L).otherwise(0L))
    require(n > 0L, "no complete rows")
    val agged = cells.withColumn("bucket", F.lit(k.toLong) - F.col("__b"))
    val wCum = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val rateT = F.col("pos_t").cast("double") / F.col("n_t")
    val rateC = F.col("pos_c").cast("double") / F.col("n_c")
    agged
      .withColumn("__ct", F.sum("n_t").over(wCum))
      .withColumn("__cc", F.sum("n_c").over(wCum))
      .withColumn("__cpt", F.sum("pos_t").over(wCum))
      .withColumn("__cpc", F.sum("pos_c").over(wCum))
      .withColumn("rate_t",
        F.when(F.col("n_t") > 0L, F.round(rateT, 6)))
      .withColumn("rate_c",
        F.when(F.col("n_c") > 0L, F.round(rateC, 6)))
      .withColumn("uplift", F.when(F.col("n_t") > 0L &&
        F.col("n_c") > 0L, F.round(rateT - rateC, 6)))
      .withColumn("qini", F.when(F.col("__cc") > 0L, F.round(
        F.col("__cpt").cast("double") -
          F.col("__cpc").cast("double") * F.col("__ct") /
            F.col("__cc"), 6)))
      .select("bucket", "n_t", "n_c", "pos_t", "pos_c", "rate_t",
        "rate_c", "uplift", "qini")
  }

  /** Covariate balance table: per numeric covariate, the standardized
    * mean difference between two cohorts,
    *
    *   SMD = (x̄_a − x̄_b) / √((s²_a + s²_b)/2),
    *
    * plus the variance ratio — the FIRST table any experiment or
    * observational comparison should print ("did randomization work /
    * how confounded is this split"; |SMD| > 0.1 is the conventional
    * imbalance flag). Covariates go long-form through one `stack`, so
    * ANY number of covariates costs ONE aggregation with conditional
    * moment sums; variances are population moments in explicit
    * Σx²/n − x̄² algebra so an external engine replays them exactly.
    * `smd` is null when the pooled variance is 0, `var_ratio` when
    * cohort B's variance is 0.
    *
    * @param cohortCol two-valued cohort label (rows with other values
    *                  are ignored)
    * @return one row per covariate: (covariate, n_a, n_b, mean_a,
    *         mean_b, smd, var_ratio), floats rounded to 6 */
  def covariateBalance(df: DataFrame, cohortCol: String,
                       covariates: Seq[String], labelA: String = "a",
                       labelB: String = "b"): DataFrame = {
    require(covariates.nonEmpty, "need at least one covariate")
    require(labelA != labelB, "cohort labels must differ")
    require(covariates.forall(!_.contains("'")) &&
      !labelA.contains("'") && !labelB.contains("'"),
      "names must not contain quotes")
    val g = F.col(cohortCol).cast("string")
    val long = df
      .where(g.isin(labelA, labelB))
      .withColumn("__a", g === labelA)
      .selectExpr("__a",
        s"stack(${covariates.size}, " + covariates.map(c =>
          s"'$c', CAST(`$c` AS DOUBLE)").mkString(", ") +
          ") AS (covariate, __x)")
      .where(F.col("__x").isNotNull && !F.isnan(F.col("__x")))
    val a = F.col("__a")
    val x = F.col("__x")
    val agged = long.groupBy("covariate").agg(
      F.sum(F.when(a, 1L).otherwise(0L)).as("n_a"),
      F.sum(F.when(!a, 1L).otherwise(0L)).as("n_b"),
      F.sum(F.when(a, x).otherwise(0.0)).as("__sa"),
      F.sum(F.when(!a, x).otherwise(0.0)).as("__sb"),
      F.sum(F.when(a, x * x).otherwise(0.0)).as("__ssa"),
      F.sum(F.when(!a, x * x).otherwise(0.0)).as("__ssb"))
      .where(F.col("n_a") > 0L && F.col("n_b") > 0L)
    val ma = F.col("__sa") / F.col("n_a")
    val mb = F.col("__sb") / F.col("n_b")
    val va = F.col("__ssa") / F.col("n_a") - ma * ma
    val vb = F.col("__ssb") / F.col("n_b") - mb * mb
    val pooled = (va + vb) / 2.0
    agged
      .withColumn("mean_a", F.round(ma, 6))
      .withColumn("mean_b", F.round(mb, 6))
      .withColumn("smd",
        F.when(pooled > 0.0, F.round((ma - mb) / F.sqrt(pooled), 6)))
      .withColumn("var_ratio",
        F.when(vb > 0.0, F.round(va / vb, 6)))
      .select("covariate", "n_a", "n_b", "mean_a", "mean_b", "smd",
        "var_ratio")
  }

  /** CUPED variance reduction diagnostic: with a pre-experiment
    * covariate x for metric y, the adjusted metric y − θ(x − x̄) with
    * θ = cov(x, y)/var(x) has variance var(y) − cov²/var(x) — in
    * closed form from ONE moment aggregation, no second pass. Reports
    * θ and the variance-reduction fraction; the adjusted-metric column
    * itself is `metric − θ·(cov − mean)` with the returned scalars as
    * plan literals.
    *
    * @return one row: (theta, var_raw, var_adj, reduction, n) —
    *         theta/reduction rounded to 6; the variances to 2 (they
    *         carry the metric's squared scale, where 6-decimal rounding
    *         would sit inside distributed-sum noise) */
  def cuped(df: DataFrame, metricCol: String,
            covariateCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val y = F.col(metricCol).cast("double")
    val x = F.col(covariateCol).cast("double")
    val r = df
      .where(y.isNotNull && !F.isnan(y) && x.isNotNull && !F.isnan(x))
      .agg(F.count(F.lit(1)).as("n"), F.var_pop(y).as("vy"),
        F.var_pop(x).as("vx"), F.covar_pop(x, y).as("cxy"))
      .head()
    val n = r.getAs[Long]("n")
    require(n >= 2, "need at least 2 complete rows")
    val (vy, vx, cxy) = (r.getAs[Double]("vy"), r.getAs[Double]("vx"),
      r.getAs[Double]("cxy"))
    require(vx > 0.0, "covariate has zero variance")
    val theta = cxy / vx
    val varAdj = vy - cxy * cxy / vx
    val reduction = if (vy > 0.0) 1.0 - varAdj / vy else 0.0
    Seq((math.rint(theta * 1e6) / 1e6, math.rint(vy * 100.0) / 100.0,
        math.rint(varAdj * 100.0) / 100.0,
        math.rint(reduction * 1e6) / 1e6, n))
      .toDF("theta", "var_raw", "var_adj", "reduction", "n")
  }

  /** Inverse-probability-weighted average treatment effect — the
    * OBSERVATIONAL companion to [[stratifiedAte]]: where stratification
    * needs a discrete confounder, IPW handles continuous covariates by
    * modeling the propensity e(x) = P(T=1|x) with the fixed-Newton
    * logistic of [[Regression.logisticIrls]] and reweighting each arm
    * to the full population (Hájek/stabilized form — ratio of weighted
    * sums, invariant to weight scale). Propensities are clipped to
    * [clip, 1−clip] (overlap guard: one near-deterministic unit
    * otherwise dominates the whole estimate).
    *
    * Cost: the logistic's iters+1 aggregations plus ONE weighted-mean
    * aggregation — no row ever collected; the fixed trajectory plus
    * the closed-form reweighting replays as chained SQL.
    *
    * @return one row: (ate, mu_treated, mu_control, ess_treated,
    *         ess_control, n) — doubles rounded to 6 decimals, ESS is
    *         the Kish effective sample size (Σw)²/Σw² per arm.
    */
  def ipwAte(df: DataFrame, treatedCol: String, outcomeCol: String,
             xCols: Seq[String], iters: Int = 3,
             clip: Double = 0.01): DataFrame = {
    require(clip > 0.0 && clip < 0.5, "clip must be in (0, 0.5)")
    val t = F.col(treatedCol).cast("double")
    val y = F.col(outcomeCol).cast("double")
    val ok = (xCols.map(F.col(_).cast("double")) :+ t :+ y)
      .map(c => c.isNotNull && !F.isnan(c)).reduce(_ && _)
    val clean = df.where(ok)
    val model = Regression.logisticIrls(
      clean.withColumn("__t", t), "__t", xCols, iters = iters)
    val e = F.least(F.greatest(model.score, F.lit(clip)),
      F.lit(1.0 - clip))
    val w1 = t / e
    val w0 = (F.lit(1.0) - t) / (F.lit(1.0) - e)
    val r = clean.agg(
      F.sum(w1 * y).as("s1y"), F.sum(w1).as("s1"),
      F.sum(w1 * w1).as("s1sq"),
      F.sum(w0 * y).as("s0y"), F.sum(w0).as("s0"),
      F.sum(w0 * w0).as("s0sq"),
      F.count(F.lit(1)).as("n"))
    val mu1 = F.col("s1y") / F.col("s1")
    val mu0 = F.col("s0y") / F.col("s0")
    r.select(
      F.round(mu1 - mu0, 6).as("ate"),
      F.round(mu1, 6).as("mu_treated"),
      F.round(mu0, 6).as("mu_control"),
      F.round(F.col("s1") * F.col("s1") / F.col("s1sq"), 6)
        .as("ess_treated"),
      F.round(F.col("s0") * F.col("s0") / F.col("s0sq"), 6)
        .as("ess_control"),
      F.col("n"))
  }

  /** AIPW doubly-robust ATE — [[ipwAte]] with per-arm OLS outcome
    * models as control variates: fit m₁(x) on the treated arm and
    * m₀(x) on the control arm ([[Regression.olsFit]], β 6-rounded for
    * the replay contract), then augment each arm's Hájek-weighted
    * residual mean with the model mean over the WHOLE sample,
    *
    *   μ̂ₐ = (1/n)Σᵢ mₐ(xᵢ) + Σᵢ wₐᵢ(yᵢ − mₐ(xᵢ)) / Σᵢ wₐᵢ
    *
    * (w₁ = T/ê, w₀ = (1−T)/(1−ê), ê the clipped fixed-Newton logistic
    * propensity). Consistent if EITHER the propensity model or the
    * outcome model is right; when the outcome models are constants the
    * augmentation telescopes and μ̂ₐ reduces EXACTLY to the Hájek IPW
    * mean — the ipwAte agreement contract. Cost: the logistic's
    * iters+1 aggregations + two Gram aggregations (one per arm) + ONE
    * final augmentation aggregation; no row ever collected.
    *
    * @return one row: (ate, mu_treated, mu_control,
    *         model_mean_treated, model_mean_control, n) — doubles
    *         rounded to 6 decimals */
  def aipwAte(df: DataFrame, treatedCol: String, outcomeCol: String,
              xCols: Seq[String], iters: Int = 3,
              clip: Double = 0.01): DataFrame = {
    require(clip > 0.0 && clip < 0.5, "clip must be in (0, 0.5)")
    val t = F.col(treatedCol).cast("double")
    val y = F.col(outcomeCol).cast("double")
    val ok = (xCols.map(F.col(_).cast("double")) :+ t :+ y)
      .map(c => c.isNotNull && !F.isnan(c)).reduce(_ && _)
    val clean = df.where(ok)
    val model = Regression.logisticIrls(
      clean.withColumn("__t", t), "__t", xCols, iters = iters)
    val e = F.least(F.greatest(model.score, F.lit(clip)),
      F.lit(1.0 - clip))
    def r6(v: Double) = math.rint(v * 1e6) / 1e6
    val m1 = Regression.olsFit(clean.where(t === 1.0), outcomeCol, xCols)
    val m0 = Regression.olsFit(clean.where(t === 0.0), outcomeCol, xCols)
    val p1 = Regression.linearPredictor(xCols, m1.beta.map(r6))
    val p0 = Regression.linearPredictor(xCols, m0.beta.map(r6))
    val w1 = t / e
    val w0 = (F.lit(1.0) - t) / (F.lit(1.0) - e)
    val r = clean.agg(
      F.sum(p1).as("sm1"), F.sum(p0).as("sm0"),
      F.sum(w1 * (y - p1)).as("a1"), F.sum(w1).as("s1"),
      F.sum(w0 * (y - p0)).as("a0"), F.sum(w0).as("s0"),
      F.count(F.lit(1)).as("n"))
    val mu1 = F.col("sm1") / F.col("n") + F.col("a1") / F.col("s1")
    val mu0 = F.col("sm0") / F.col("n") + F.col("a0") / F.col("s0")
    r.select(
      F.round(mu1 - mu0, 6).as("ate"),
      F.round(mu1, 6).as("mu_treated"),
      F.round(mu0, 6).as("mu_control"),
      F.round(F.col("sm1") / F.col("n"), 6).as("model_mean_treated"),
      F.round(F.col("sm0") / F.col("n"), 6).as("model_mean_control"),
      F.col("n"))
  }

  /** Mantel–Haenszel pooled odds ratio across strata — the classic
    * "adjust the 2×2 for a confounder without modeling it" estimator,
    * robust to sparse strata where per-stratum [[oddsRatio]] blows up
    * (a stratum with an empty cell still contributes to the pooled
    * sums). Includes the Robins–Breslow–Greenland variance for the
    * 95% CI and the Cochran–Mantel–Haenszel χ²(1) statistic
    * (continuity-uncorrected).
    *
    * One (stratum, cohort, outcome) aggregation + one fold over the
    * stratum-sized frame: sufficient statistics are exact integer
    * ratios, the CI needs only ln/exp/sqrt — fully SQL-replayable.
    *
    * @return one row: (or_mh, or_lo, or_hi, chi2_cmh, n_strata, n)
    */
  def mantelHaenszel(df: DataFrame, cohortCol: String, successCol: String,
                     strataCols: Seq[String],
                     labelA: String = "a", labelB: String = "b",
                     z: Double = 1.959964): DataFrame = {
    require(labelA != labelB, "cohort labels must differ")
    require(strataCols.nonEmpty, "need at least one stratum column")
    val g = F.col(cohortCol).cast("string")
    val y = F.col(successCol).cast("boolean")
    val cells = df
      .where(g.isin(labelA, labelB) && y.isNotNull)
      .groupBy(strataCols.map(F.col): _*)
      .agg(
        F.sum(F.when(g === labelA && y, 1L).otherwise(0L)).as("a"),
        F.sum(F.when(g === labelA && !y, 1L).otherwise(0L)).as("b"),
        F.sum(F.when(g === labelB && y, 1L).otherwise(0L)).as("c"),
        F.sum(F.when(g === labelB && !y, 1L).otherwise(0L)).as("d"))
    val a = F.col("a").cast("double"); val b = F.col("b").cast("double")
    val c = F.col("c").cast("double"); val d = F.col("d").cast("double")
    val ni = a + b + c + d
    val pR = a * d / ni
    val sS = b * c / ni
    val pP = (a + d) / ni
    val qQ = (b + c) / ni
    // CMH: E[a_i] and Var[a_i] under the stratum margins
    val r1 = a + b; val r2 = c + d; val c1 = a + c; val c2 = b + d
    val ea = r1 * c1 / ni
    val va = r1 * r2 * c1 * c2 / (ni * ni * (ni - 1.0))
    val agg = cells.where(ni > 1.0).agg(
      F.sum(pR).as("sr"), F.sum(sS).as("ss"),
      F.sum(pP * pR).as("spr"),
      F.sum(pP * sS + qQ * pR).as("sps_qr"),
      F.sum(qQ * sS).as("sqs"),
      F.sum(a - ea).as("dev"), F.sum(va).as("var"),
      F.count(F.lit(1)).as("n_strata"),
      F.sum(F.col("a") + F.col("b") + F.col("c") + F.col("d")).as("n"))
    val orMh = F.col("sr") / F.col("ss")
    val lnOr = F.log(orMh)
    val se = F.sqrt(
      F.col("spr") / (F.lit(2.0) * F.col("sr") * F.col("sr")) +
      F.col("sps_qr") / (F.lit(2.0) * F.col("sr") * F.col("ss")) +
      F.col("sqs") / (F.lit(2.0) * F.col("ss") * F.col("ss")))
    val ok = F.col("sr") > 0.0 && F.col("ss") > 0.0
    agg.select(
      F.when(ok, F.round(orMh, 6)).as("or_mh"),
      F.when(ok, F.round(F.exp(lnOr - F.lit(z) * se), 6)).as("or_lo"),
      F.when(ok, F.round(F.exp(lnOr + F.lit(z) * se), 6)).as("or_hi"),
      F.when(F.col("var") > 0.0,
        F.round(F.col("dev") * F.col("dev") / F.col("var"), 6))
        .as("chi2_cmh"),
      F.col("n_strata"), F.col("n").cast("long").as("n"))
  }

  /** Sample-ratio-mismatch check — the experiment-integrity gate that
    * should run before ANY readout (a 50.4/49.6 split on a million
    * users is a broken assignment pipeline, and every downstream
    * p-value is garbage): χ² goodness of fit of the observed arm
    * counts against the design shares.
    *
    *   χ² = Σ (O_a − n·s_a)² / (n·s_a),  dof = |arms with a share| − 1
    *
    * ONE counting aggregation; arms observed but absent from
    * `shares` are reported with a null expectation and EXCLUDED from
    * the statistic (they are their own red flag — see n_unexpected).
    * p = Q(dof/2, χ²/2) at the 6-rounded statistic.
    *
    * @return one row: (n, chi2, dof, p_value, srm (p < alpha),
    *         n_unexpected) */
  def srmCheck(df: DataFrame, armCol: String,
               shares: Seq[(String, Double)],
               alpha: Double = 0.001): DataFrame = {
    require(shares.nonEmpty, "shares must be non-empty")
    require(shares.forall(_._2 > 0.0), "shares must be positive")
    require(math.abs(shares.map(_._2).sum - 1.0) <= 1e-6,
      "shares must sum to 1")
    require(alpha > 0.0 && alpha < 1.0, "alpha must be in (0,1)")
    val spark = df.sparkSession
    import spark.implicits._
    val t = shares.toDF("__a", "share")
    // full-outer: a DESIGNED arm with zero observed rows still owes
    // its (0−e)²/e = e term — dropping it would hide a dead arm
    val counts = df.where(F.col(armCol).isNotNull)
      .groupBy(F.col(armCol).cast("string").as("__a"))
      .agg(F.count(F.lit(1)).as("__c"))
      .join(F.broadcast(t), Seq("__a"), "full_outer")
      .withColumn("c", F.coalesce(F.col("__c"), F.lit(0L)))
    val k = shares.length
    val inDesign = F.col("share").isNotNull
    val agged = counts.agg(
      F.sum(F.when(inDesign, F.col("c")).otherwise(0L)).as("__nd"),
      F.sum(F.when(!inDesign, F.col("c")).otherwise(0L))
        .as("__nunexp"))
      .head()
    val nDesign = agged.getAs[Long]("__nd")
    val nUnexpected = agged.getAs[Long]("__nunexp")
    require(nDesign > 0L, "no rows in designed arms")
    val o = F.col("c").cast("double")
    val e = F.lit(nDesign.toDouble) * F.col("share")
    val chi2 = counts.where(inDesign)
      .agg(F.round(F.sum((o - e) * (o - e) / e), 6).as("chi2"))
      .head().getAs[Double]("chi2")
    val p = math.rint(graft.functions.SpecialMath
      .gammaIncC((k - 1) / 2.0, chi2 / 2.0) * 1e6) / 1e6
    Seq((nDesign, chi2, (k - 1).toLong, p, p < alpha, nUnexpected))
      .toDF("n", "chi2", "dof", "p_value", "srm", "n_unexpected")
  }

  /** Ratio-metric confidence interval by the delta method — the
    * machinery behind every "revenue per session / CTR per user"
    * readout, where the naive per-row mean is WRONG because numerator
    * and denominator are correlated within the unit:
    *
    *   R = Σy/Σx = ȳ/x̄,
    *   Var(R) ≈ (s²_y + R²·s²_x − 2R·s_xy) / (n·x̄²)
    *
    * (unit-level delta method, sample covariances). ONE moment
    * aggregation per group; the CI is R ± z·se. Groups with n < 2 or
    * x̄ = 0 are omitted.
    *
    * @return one row per group: (groupCols..., n, ratio, se, ci_lo,
    *         ci_hi) */
  def ratioMetricCi(df: DataFrame, groupCols: Seq[String],
                    numCol: String, denCol: String,
                    z: Double = 1.959964): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    val y = F.col(numCol).cast("double")
    val x = F.col(denCol).cast("double")
    val clean = df.where(y.isNotNull && !F.isnan(y) &&
      x.isNotNull && !F.isnan(x))
    val agged = clean.groupBy(groupCols.map(F.col): _*).agg(
      F.count(F.lit(1)).as("n"),
      F.sum(y).as("sy"), F.sum(x).as("sx"),
      F.sum(y * y).as("syy"), F.sum(x * x).as("sxx"),
      F.sum(x * y).as("sxy"))
    val n = F.col("n").cast("double")
    val my = F.col("sy") / n; val mx = F.col("sx") / n
    val ratio = my / mx
    // sample (n−1) covariances via the explicit sums
    val vy = (F.col("syy") - n * my * my) / (n - 1.0)
    val vx = (F.col("sxx") - n * mx * mx) / (n - 1.0)
    val cxy = (F.col("sxy") - n * mx * my) / (n - 1.0)
    val se = F.sqrt((vy + ratio * ratio * vx -
      F.lit(2.0) * ratio * cxy) / (n * (mx * mx)))
    agged
      .where(F.col("n") >= 2L && F.abs(F.col("sx")) > 0.0)
      .select(groupCols.map(F.col) ++ Seq(F.col("n"),
        F.round(ratio, 6).as("ratio"), F.round(se, 6).as("se"),
        F.round(ratio - F.lit(z) * se, 6).as("ci_lo"),
        F.round(ratio + F.lit(z) * se, 6).as("ci_hi")): _*)
  }

  /** Post-stratified mean — the 1-D survey correction ("our logs
    * over-sample mobile; what's the mean as if the mix matched the
    * population"): strata means reweighted to caller-supplied target
    * shares, with the stratified-sampling standard error:
    *
    *   μ̂ = Σ_s t_s·ȳ_s,   SE = √( Σ_s t_s²·s²_s/n_s )
    *
    * ONE cells aggregation (the [[Weighting.ipfWeights]] one-margin
    * special case, but with the estimate + SE instead of row
    * weights). Strata absent from the targets are excluded; targets
    * must sum to 1.
    *
    * @return one row: (mean_raw, mean_post, se, n, n_strata) */
  def postStratifiedMean(df: DataFrame, strataCol: String,
                         yCol: String,
                         targets: Seq[(String, Double)]): DataFrame = {
    require(targets.nonEmpty, "targets must be non-empty")
    require(targets.forall(_._2 > 0.0), "target shares must be positive")
    require(targets.map(_._1).distinct.length == targets.length,
      "target values must be distinct")
    require(math.abs(targets.map(_._2).sum - 1.0) <= 1e-6,
      "target shares must sum to 1")
    val spark = df.sparkSession
    import spark.implicits._
    val t = targets.toDF("__s", "t")
    val y = F.col(yCol).cast("double")
    val cells = df
      .where(y.isNotNull && !F.isnan(y) && F.col(strataCol).isNotNull)
      .groupBy(F.col(strataCol).cast("string").as("__s"))
      .agg(F.count(F.lit(1)).as("n"), F.sum(y).as("sy"),
        F.sum(y * y).as("syy"))
      .join(F.broadcast(t), "__s")
    val n = F.col("n").cast("double")
    val m = F.col("sy") / n
    val s2 = (F.col("syy") - n * m * m) / (n - 1.0)
    cells
      .where(F.col("n") >= 2L)
      .agg(
        F.round(F.sum("sy") / F.sum("n").cast("double"), 6)
          .as("mean_raw"),
        F.round(F.sum(F.col("t") * m), 6).as("mean_post"),
        F.round(F.sqrt(F.sum(F.col("t") * F.col("t") * s2 / n)), 6)
          .as("se"),
        F.sum("n").as("n"),
        F.count(F.lit(1)).as("n_strata"))
  }

  /** Quantile treatment effects: the per-quantile lift q_b − q_a
    * between two cohorts, with distribution-free order-statistic CIs
    * per side — the readout when the MEAN hides the story (an
    * experiment that moves the p90 and nothing else is invisible to a
    * t-test). Quantiles are EXACT order statistics (⌈nq⌉-th), the CI
    * ranks use the binomial normal half-width z·√(nq(1−q))
    * ([[Outliers.quantileCiByGroup]]'s construction), so every output
    * is a value that occurred and the whole table replays.
    *
    * ONE distinct-value cells pass serves every requested quantile
    * (the per-q work is a conditional fold over the tiny cells
    * frame). CIs are MARGINAL per cohort, not joint on the
    * difference.
    *
    * @return one row per q: (q, n_a, n_b, q_a, q_b, qte, a_lo, a_hi,
    *         b_lo, b_hi) */
  def qteByQuantile(df: DataFrame, cohortCol: String, valueCol: String,
                    qs: Seq[Double], labelA: String = "a",
                    labelB: String = "b",
                    z: Double = 1.959964): DataFrame = Persisted { scope =>
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q < 1.0),
      "quantiles must be in (0,1)")
    require(labelA != labelB, "cohort labels must differ")
    import org.apache.spark.sql.expressions.Window
    val g = F.col(cohortCol).cast("string")
    val v = F.col(valueCol).cast("double")
    val cells = df
      .where(v.isNotNull && !F.isnan(v) && g.isin(labelA, labelB))
      .groupBy(g.as("__g"), v.as("__v"))
      .agg(F.count(F.lit(1)).as("__c"))
    val wg = Window.partitionBy("__g")
    val wCum = Window.partitionBy("__g").orderBy("__v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withCum = scope.checkpoint(cells
      .withColumn("__n", F.sum("__c").over(wg))
      .withColumn("__cum", F.sum("__c").over(wCum)))
    val nD = F.col("__n").cast("double")
    val perQ = qs.map { q =>
      val half = F.lit(z) * F.sqrt(nD * q * (1.0 - q))
      val rQ = F.ceil(nD * q)
      val rLo = F.greatest(F.lit(1L), F.floor(nD * q - half))
      val rHi = F.least(F.col("__n"), F.ceil(nD * q + half) + 1L)
      withCum.groupBy("__g").agg(
        F.max("__n").as("n"),
        F.min(F.when(F.col("__cum") >= rQ, F.col("__v"))).as("qv"),
        F.min(F.when(F.col("__cum") >= rLo, F.col("__v"))).as("lo"),
        F.min(F.when(F.col("__cum") >= rHi, F.col("__v"))).as("hi"))
        .withColumn("q", F.lit(q))
    }.reduce(_ unionAll _)
    val a = perQ.where(F.col("__g") === labelA)
      .select(F.col("q"), F.col("n").as("n_a"), F.col("qv").as("q_a"),
        F.col("lo").as("a_lo"), F.col("hi").as("a_hi"))
    val b = perQ.where(F.col("__g") === labelB)
      .select(F.col("q"), F.col("n").as("n_b"), F.col("qv").as("q_b"),
        F.col("lo").as("b_lo"), F.col("hi").as("b_hi"))
    a.join(b, Seq("q"))
      .select(F.col("q"), F.col("n_a"), F.col("n_b"), F.col("q_a"),
        F.col("q_b"), F.round(F.col("q_b") - F.col("q_a"), 6).as("qte"),
        F.col("a_lo"), F.col("a_hi"), F.col("b_lo"), F.col("b_hi"))
  }

  /** Difference-in-differences estimator on the classic 2×2 panel
    * (treated × post): the causal workhorse when randomization wasn't
    * an option but a parallel pre-trend is defensible —
    *
    *   DiD = (ȳ_treated,post − ȳ_treated,pre)
    *       − (ȳ_control,post − ȳ_control,pre)
    *
    * with the independent-cells normal SE √(Σ s²ᵢ/nᵢ) and a two-sided
    * p at the 6-rounded z (the shared Cody erfc). ONE conditional-
    * moment aggregation; explicit Σy²/n − ȳ² algebra so every number
    * replays.
    *
    * @return one row: (mean_t_pre, mean_t_post, mean_c_pre,
    *         mean_c_post, did, se, z, p_value, n) */
  def didEstimate(df: DataFrame, treatedCol: String, postCol: String,
                  yCol: String): DataFrame = {
    val t = F.col(treatedCol).cast("boolean")
    val post = F.col(postCol).cast("boolean")
    val y = F.col(yCol).cast("double")
    val clean = df.where(t.isNotNull && post.isNotNull &&
      y.isNotNull && !F.isnan(y))
    def cell(ct: Boolean, cp: Boolean, tag: String) = Seq(
      F.sum(F.when(t === ct && post === cp, 1L).otherwise(0L))
        .as(s"n_$tag"),
      F.sum(F.when(t === ct && post === cp, y)).as(s"s_$tag"),
      F.sum(F.when(t === ct && post === cp, y * y)).as(s"q_$tag"))
    val cols = cell(true, false, "tpre") ++ cell(true, true, "tpost") ++
      cell(false, false, "cpre") ++ cell(false, true, "cpost")
    val agged = clean.agg(cols.head, cols.tail: _*)
    def m(tag: String) = F.col(s"s_$tag") / F.col(s"n_$tag")
    // sample variance via the explicit sums: (Σy² − n·ȳ²)/(n−1)
    def v(tag: String) = (F.col(s"q_$tag") -
      F.col(s"n_$tag") * m(tag) * m(tag)) /
      (F.col(s"n_$tag") - 1L).cast("double")
    val did = (m("tpost") - m("tpre")) - (m("cpost") - m("cpre"))
    val se = F.sqrt(v("tpre") / F.col("n_tpre") +
      v("tpost") / F.col("n_tpost") + v("cpre") / F.col("n_cpre") +
      v("cpost") / F.col("n_cpost"))
    val erfcUdf = F.udf((z: Double) => math.rint(graft.functions
      .SpecialMath.erfc(math.abs(z) / math.sqrt(2.0)) * 1e6) / 1e6)
    agged
      .where(Seq("tpre", "tpost", "cpre", "cpost")
        .map(tag => F.col(s"n_$tag") > 1L).reduce(_ && _))
      .withColumn("z", F.round(did / se, 6))
      .select(
        F.round(m("tpre"), 6).as("mean_t_pre"),
        F.round(m("tpost"), 6).as("mean_t_post"),
        F.round(m("cpre"), 6).as("mean_c_pre"),
        F.round(m("cpost"), 6).as("mean_c_post"),
        F.round(did, 6).as("did"), F.round(se, 6).as("se"),
        F.col("z"), erfcUdf(F.col("z")).as("p_value"),
        (F.col("n_tpre") + F.col("n_tpost") + F.col("n_cpre") +
          F.col("n_cpost")).as("n"))
  }

  /** Sample size per arm for a two-MEANS test at the observed outcome
    * variance — the planning companion to [[powerTwoProportion]]
    * ("how long must this experiment run to see a Δ lift on spend"):
    *
    *   n/arm = ⌈ 2·(z_{α/2} + z_β)²·s² / Δ² ⌉
    *
    * ONE variance aggregation on the live metric; z quantiles are
    * pinned literals (the [[mantelHaenszel]] convention) so the
    * arithmetic replays. The raw n is 6-rounded BEFORE the ceiling so
    * engines can't straddle an integer boundary.
    *
    * @param mde minimum detectable effect in the metric's units
    * @return one row: (sigma2, mde, n_per_arm, n_total) */
  def powerTwoMeans(df: DataFrame, yCol: String, mde: Double,
                    zAlpha: Double = 1.959964,
                    zBeta: Double = 0.841621): DataFrame = {
    require(mde > 0.0, "mde must be positive")
    val y = F.col(yCol).cast("double")
    val agged = df.where(y.isNotNull && !F.isnan(y)).agg(
      F.count(F.lit(1)).as("__n"), F.sum(y).as("__s"),
      F.sum(y * y).as("__q"))
    val n = F.col("__n").cast("double")
    val mean = F.col("__s") / n
    val s2 = (F.col("__q") - n * mean * mean) / (n - 1.0)
    val zs = zAlpha + zBeta
    val raw = F.round(F.lit(2.0) * F.lit(zs * zs) * s2 /
      F.lit(mde * mde), 6)
    agged.where(F.col("__n") > 1L && s2 > 0.0)
      .select(F.round(s2, 6).as("sigma2"), F.lit(mde).as("mde"),
        F.ceil(raw).as("n_per_arm"),
        (F.ceil(raw) * 2L).as("n_total"))
  }

  /** Breslow–Day test of odds-ratio homogeneity across strata, with
    * Tarone's correction — the companion question to
    * [[mantelHaenszel]]: CMH asks "is there an effect, pooling
    * strata"; Breslow–Day asks "is it the SAME effect in every
    * stratum" (if not, the pooled OR is a fiction and the analysis
    * should stratify). Per stratum, the expected exposed-case count ã
    * under the common OR R solves the margin-fixed quadratic
    *
    *   (R−1)·ã² − [R(t1+k1) + t0 − k1]·ã + R·t1·k1 = 0
    *
    * (t1/t0 = cohort totals, k1 = case total) taking the root inside
    * [max(0, k1−t0), min(t1, k1)], with the linear limit ã = t1·k1/n
    * as R→1; Var(ã) is the harmonic 1/(1/ã + 1/(t1−ã) + 1/(k1−ã) +
    * 1/(t0−k1+ã)). Then BD = Σ (a−ã)²/Var ~ χ²(K−1), and Tarone's
    * BD_T = BD − (Σ(a−ã))²/ΣVar removes the statistic's slight
    * anti-conservatism when R is the estimated (not true) common OR.
    *
    * ONE cells aggregation (the [[mantelHaenszel]] shape) → a K-row
    * strata frame joined to the broadcast 1-row OR; every input to
    * the quadratic is an exact integer plus the shared R, and both
    * p-values are evaluated at the 6-rounded statistics — replayable.
    * Degenerate strata (an empty cohort or an all/no-case margin) are
    * excluded, as is convention. K is the stratum-column cardinality —
    * the shuffle carries K cell rows, never data rows.
    *
    * @return one row: (or_mh, bd_stat, bd_tarone, dof, p_value,
    *         p_tarone, n_strata)
    */
  def breslowDay(df: DataFrame, cohortCol: String, successCol: String,
                 strataCols: Seq[String],
                 labelA: String = "a", labelB: String = "b"): DataFrame = {
    require(labelA != labelB, "cohort labels must differ")
    require(strataCols.nonEmpty, "need at least one stratum column")
    val g = F.col(cohortCol).cast("string")
    val y = F.col(successCol).cast("boolean")
    val cells = df
      .where(g.isin(labelA, labelB) && y.isNotNull)
      .groupBy(strataCols.map(F.col): _*)
      .agg(
        F.sum(F.when(g === labelA && y, 1L).otherwise(0L)).as("a"),
        F.sum(F.when(g === labelA && !y, 1L).otherwise(0L)).as("b"),
        F.sum(F.when(g === labelB && y, 1L).otherwise(0L)).as("c"),
        F.sum(F.when(g === labelB && !y, 1L).otherwise(0L)).as("d"))
    val a = F.col("a").cast("double"); val b = F.col("b").cast("double")
    val c = F.col("c").cast("double"); val d = F.col("d").cast("double")
    val ni = a + b + c + d
    val ok = cells.where(
      (a + b) > 0.0 && (c + d) > 0.0 && (a + c) > 0.0 && (a + c) < ni)
    val tot = ok.agg(
      F.sum(a * d / ni).as("__sr"), F.sum(b * c / ni).as("__ss"),
      F.count(F.lit(1)).as("n_strata"))
    val joined = ok.crossJoin(F.broadcast(tot))
      .where(F.col("__sr") > 0.0 && F.col("__ss") > 0.0)
    val r = F.col("__sr") / F.col("__ss")
    val t1 = a + b; val t0 = c + d; val k1 = a + c
    val qa = r - 1.0
    val qb = -(r * (t1 + k1) + t0 - k1)
    val qc = r * t1 * k1
    val disc = F.sqrt(qb * qb - qa * qc * 4.0)
    val r1 = (-qb + disc) / (qa * 2.0)
    val r2 = (-qb - disc) / (qa * 2.0)
    val lo = F.greatest(F.lit(0.0), k1 - t0) - 1e-9
    val hi = F.least(t1, k1) + 1e-9
    val aHat = F.when(F.abs(qa) < 1e-12, -qc / qb)
      .when(r1 >= lo && r1 <= hi, r1).otherwise(r2)
    val vHat = F.lit(1.0) / (F.lit(1.0) / aHat + F.lit(1.0) / (t1 - aHat) +
      F.lit(1.0) / (k1 - aHat) + F.lit(1.0) / (t0 - k1 + aHat))
    val fold = joined
      .select(F.col("n_strata"), r.as("__r"),
        (a - aHat).as("__dev"), vHat.as("__v"))
      .groupBy()
      .agg(F.max("n_strata").as("n_strata"), F.max("__r").as("__r"),
        F.sum(F.col("__dev") * F.col("__dev") / F.col("__v")).as("__bd"),
        F.sum("__dev").as("__sd"), F.sum("__v").as("__sv"))
    val pUdf = F.udf((x: Double, dof: Double) =>
      math.rint(graft.functions.SpecialMath
        .gammaIncC(dof / 2.0, x / 2.0) * 1e6) / 1e6)
    val dof = (F.col("n_strata") - 1L).cast("double")
    fold
      .withColumn("bd_stat", F.round(F.col("__bd"), 6))
      .withColumn("bd_tarone", F.round(F.col("__bd") -
        F.col("__sd") * F.col("__sd") / F.col("__sv"), 6))
      .where(F.col("n_strata") > 1L)
      .select(
        F.round(F.col("__r"), 6).as("or_mh"),
        F.col("bd_stat"), F.col("bd_tarone"),
        (F.col("n_strata") - 1L).as("dof"),
        pUdf(F.col("bd_stat"), dof).as("p_value"),
        pUdf(F.col("bd_tarone"), dof).as("p_tarone"),
        F.col("n_strata"))
  }

  /** Exact Bayesian A/B verdict for conversion rates — the posterior
    * probability that arm B's true rate beats arm A's under uniform
    * Beta(1,1) priors: with integer posteriors α = s+1, β = n−s+1,
    *
    *   P(p_b > p_a) = Σ_{i=0}^{α_b−1}
    *     exp[ lnB(α_a+i, β_a+β_b) − ln(β_b+i)
    *          − lnB(1+i, β_b) − lnB(α_a, β_a) ]
    *
    * (the closed finite sum — no Monte Carlo, no RNG), evaluated
    * driver-side in ascending i over ≤ s_b+1 terms from ONE count
    * aggregation. The frequentist twins ([[twoProportionZ]],
    * [[oddsRatio]]) answer "is it significant"; this answers the
    * decision question "how sure are we B is better".
    *
    * @return one row: (n_a, s_a, n_b, s_b, rate_a, rate_b, uplift,
    *         prob_b_beats_a), floats rounded to 6 */
  def bayesAb(df: DataFrame, cohortCol: String, successCol: String,
              labelA: String, labelB: String): DataFrame = {
    require(labelA != labelB, "cohort labels must differ")
    val g = F.col(cohortCol).cast("string")
    val s = F.col(successCol).cast("boolean")
    val row = df
      .where(g.isin(labelA, labelB) && s.isNotNull)
      .agg(
        F.sum(F.when(g === labelA, 1L).otherwise(0L)).as("na"),
        F.sum(F.when(g === labelA && s, 1L).otherwise(0L)).as("sa"),
        F.sum(F.when(g === labelB, 1L).otherwise(0L)).as("nb"),
        F.sum(F.when(g === labelB && s, 1L).otherwise(0L)).as("sb"))
      .head()
    val na = row.getAs[Long]("na"); val sa = row.getAs[Long]("sa")
    val nb = row.getAs[Long]("nb"); val sb = row.getAs[Long]("sb")
    require(na > 0L && nb > 0L, "both cohorts need rows")
    // The exact Beta tail sum is O(s_b) terms on the driver, and the
    // DuckDB oracle replays it over generate_series(0, 100000) — a shared
    // hard bound keeps both sides honest: past it the driver loop is too
    // slow AND the oracle would silently truncate. For larger counts use
    // a normal approximation operator instead.
    require(sb <= 100000L,
      s"bayesAb exact series is bounded at s_b <= 100000 (got $sb); " +
        "use a normal-approximation test for larger cohorts")
    val aa = sa + 1.0; val ba = na - sa + 1.0
    val ab = sb + 1.0; val bb = nb - sb + 1.0
    import graft.functions.SpecialMath.lgamma
    def lbeta(x: Double, y: Double): Double =
      lgamma(x) + lgamma(y) - lgamma(x + y)
    val lbAB = lbeta(aa, ba)
    var p = 0.0
    var i = 0L
    while (i < ab.toLong) {
      val iD = i.toDouble
      p += math.exp(lbeta(aa + iD, ba + bb) - math.log(bb + iD) -
        lbeta(1.0 + iD, bb) - lbAB)
      i += 1L
    }
    val spark = df.sparkSession
    import spark.implicits._
    Seq((na, sa, nb, sb,
      math.rint(sa.toDouble / na * 1e6) / 1e6,
      math.rint(sb.toDouble / nb * 1e6) / 1e6,
      math.rint((ab / (ab + bb) - aa / (aa + ba)) * 1e6) / 1e6,
      math.rint(p * 1e6) / 1e6))
      .toDF("n_a", "s_a", "n_b", "s_b", "rate_a", "rate_b", "uplift",
        "prob_b_beats_a")
  }

  /** Kitagawa (Oaxaca-Blinder two-fold) decomposition of a mean gap —
    * "is cohort B's higher average because its rates are better, or
    * because its MIX leans toward high-rate segments":
    *
    *   ȳ_b − ȳ_a = Σ_s (w_b,s − w_a,s)·r_a,s   (mix/composition)
    *             + Σ_s w_b,s·(r_b,s − r_a,s)   (rate)
    *             + residual                     (non-common support)
    *
    * with w the cohort's segment shares and r the segment means. The
    * identity is exact when every segment appears in both cohorts;
    * segments missing from a cohort fall into `residual` (reported,
    * not hidden — a large residual says the mix/rate split is not
    * meaningful). ONE (cohort, segment) aggregation; everything after
    * is arithmetic on the segment-cells frame.
    *
    * @return one row: (n_a, n_b, mean_a, mean_b, gap, mix_effect,
    *         rate_effect, residual, n_segments, n_common), floats
    *         rounded to 6 */
  def kitagawa(df: DataFrame, cohortCol: String, labelA: String,
               labelB: String, segmentCol: String,
               valueCol: String): DataFrame = {
    require(labelA != labelB, "cohort labels must differ")
    val g = F.col(cohortCol).cast("string")
    val v = F.col(valueCol).cast("double")
    val cells = df
      .where(g.isin(labelA, labelB) && F.col(segmentCol).isNotNull &&
        v.isNotNull && !F.isnan(v))
      .groupBy(F.col(segmentCol).cast("string").as("__s"))
      .agg(
        F.sum(F.when(g === labelA, 1L).otherwise(0L)).as("na"),
        F.sum(F.when(g === labelA, v).otherwise(0.0)).as("sa"),
        F.sum(F.when(g === labelB, 1L).otherwise(0L)).as("nb"),
        F.sum(F.when(g === labelB, v).otherwise(0.0)).as("sb"))
    val tot = cells.agg(
      F.sum("na").as("n_a"), F.sum("sa").as("s_a"),
      F.sum("nb").as("n_b"), F.sum("sb").as("s_b"))
    val j = cells.crossJoin(F.broadcast(tot))
    val wa = F.col("na").cast("double") / F.col("n_a").cast("double")
    val wb = F.col("nb").cast("double") / F.col("n_b").cast("double")
    val ra = F.col("sa") / F.col("na").cast("double")
    val rb = F.col("sb") / F.col("nb").cast("double")
    val agged = j.agg(
      F.max("n_a").as("n_a"), F.max("n_b").as("n_b"),
      F.max(F.col("s_a") / F.col("n_a").cast("double")).as("ma"),
      F.max(F.col("s_b") / F.col("n_b").cast("double")).as("mb"),
      F.sum(F.when(F.col("na") > 0L, (wb - wa) * ra)
        .otherwise(0.0)).as("mix"),
      F.sum(F.when(F.col("na") > 0L && F.col("nb") > 0L,
        wb * (rb - ra)).otherwise(0.0)).as("rate"),
      F.count(F.lit(1)).as("n_segments"),
      F.sum(F.when(F.col("na") > 0L && F.col("nb") > 0L, 1L)
        .otherwise(0L)).as("n_common"))
    agged
      .where(F.col("n_a") > 0L && F.col("n_b") > 0L)
      .select(F.col("n_a"), F.col("n_b"),
        F.round(F.col("ma"), 6).as("mean_a"),
        F.round(F.col("mb"), 6).as("mean_b"),
        F.round(F.col("mb") - F.col("ma"), 6).as("gap"),
        F.round(F.col("mix"), 6).as("mix_effect"),
        F.round(F.col("rate"), 6).as("rate_effect"),
        F.round(F.col("mb") - F.col("ma") - F.col("mix") -
          F.col("rate"), 6).as("residual"),
        F.col("n_segments"), F.col("n_common"))
  }

  /** Wald / just-identified 2SLS instrumental-variable estimate with a
    * BINARY instrument — causal effect of a treatment the analyst did
    * not randomize, leaning on an encouragement z that moves treatment
    * but not outcome directly:
    *
    *   β_IV = (ȳ_{z=1} − ȳ_{z=0}) / (d̄_{z=1} − d̄_{z=0})
    *
    * (intent-to-treat effect over first-stage take-up). Reported with
    * the first-stage strength F = t² of d~z — the "weak instrument"
    * gate (F < 10 means the ratio is statistical noise amplification).
    * ONE aggregation of conditional DECIMAL-exact sums; all outputs
    * are rounded ratios of those.
    *
    * @return one row: (n0, n1, itt, first_stage, beta_iv,
    *         first_stage_f) */
  def ivWald(df: DataFrame, instrumentCol: String, treatCol: String,
             outcomeCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val z = F.col(instrumentCol).cast("boolean")
    val d = F.col(treatCol).cast("double")
    val y = F.col(outcomeCol).cast("double")
    val m = df
      .where(z.isNotNull && d.isNotNull && !F.isnan(d) && y.isNotNull &&
        !F.isnan(y))
      .agg(
        F.sum(F.when(z, 1L).otherwise(0L)).as("n1"),
        F.sum(F.when(!z, 1L).otherwise(0L)).as("n0"),
        dsum(F.when(z, y).otherwise(F.lit(0.0))).as("sy1"),
        dsum(F.when(!z, y).otherwise(F.lit(0.0))).as("sy0"),
        dsum(F.when(z, d).otherwise(F.lit(0.0))).as("sd1"),
        dsum(F.when(!z, d).otherwise(F.lit(0.0))).as("sd0"),
        dsum(F.when(z, d * d).otherwise(F.lit(0.0))).as("sdd1"),
        dsum(F.when(!z, d * d).otherwise(F.lit(0.0))).as("sdd0"))
      .head()
    val n1 = m.getAs[Long]("n1"); val n0 = m.getAs[Long]("n0")
    require(n1 >= 2L && n0 >= 2L, "both instrument arms need rows")
    val n1d = n1.toDouble; val n0d = n0.toDouble
    val my1 = m.getAs[Double]("sy1") / n1d
    val my0 = m.getAs[Double]("sy0") / n0d
    val md1 = m.getAs[Double]("sd1") / n1d
    val md0 = m.getAs[Double]("sd0") / n0d
    val itt = my1 - my0
    val fs = md1 - md0
    require(math.abs(fs) > 1e-12, "zero first stage (weak instrument)")
    // first-stage F = t² with the pooled two-sample variance of d
    val v1 = (m.getAs[Double]("sdd1") - n1d * md1 * md1) / (n1d - 1.0)
    val v0 = (m.getAs[Double]("sdd0") - n0d * md0 * md0) / (n0d - 1.0)
    val sp2 = ((n1d - 1.0) * v1 + (n0d - 1.0) * v0) / (n1d + n0d - 2.0)
    val f = fs * fs / (sp2 * (1.0 / n1d + 1.0 / n0d))
    def r6(v: Double) = math.rint(v * 1e6) / 1e6
    Seq((n0, n1, r6(itt), r6(fs), r6(itt / fs), r6(f)))
      .toDF("n0", "n1", "itt", "first_stage", "beta_iv",
        "first_stage_f")
  }

  /** Sharp regression-discontinuity estimate: local LINEAR fits on
    * each side of the cutoff within bandwidth h, effect = the jump
    * between the two fits EVALUATED AT the cutoff (local-linear, not
    * difference-of-means — means are biased by the within-bandwidth
    * slope). Centered closed-form OLS on (x − c) per side from ONE
    * conditional DECIMAL-exact moment pass.
    *
    * @return one row: (n_left, n_right, intercept_left,
    *         intercept_right, slope_left, slope_right, effect) */
  def rddEstimate(df: DataFrame, runningCol: String, outcomeCol: String,
                  cutoff: Double, bandwidth: Double): DataFrame = {
    require(bandwidth > 0.0, "bandwidth must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    val x = F.col(runningCol).cast("double")
    val y = F.col(outcomeCol).cast("double")
    val xc = x - F.lit(cutoff)
    val right = x >= F.lit(cutoff)
    def side(cond: org.apache.spark.sql.Column, tag: String) = Seq(
      F.sum(F.when(cond, 1L).otherwise(0L)).as(s"n$tag"),
      dsum(F.when(cond, xc).otherwise(F.lit(0.0))).as(s"sx$tag"),
      dsum(F.when(cond, y).otherwise(F.lit(0.0))).as(s"sy$tag"),
      dsum(F.when(cond, xc * xc).otherwise(F.lit(0.0))).as(s"sxx$tag"),
      dsum(F.when(cond, xc * y).otherwise(F.lit(0.0))).as(s"sxy$tag"))
    val within = df.where(x.isNotNull && !F.isnan(x) && y.isNotNull &&
      !F.isnan(y) && F.abs(xc) <= F.lit(bandwidth))
    val aggs = side(!right, "l") ++ side(right, "r")
    val m = within.agg(aggs.head, aggs.tail: _*).head()
    def fit(tag: String): (Long, Double, Double) = {
      val n = m.getAs[Long](s"n$tag")
      require(n >= 3L, s"side $tag needs at least three rows in bandwidth")
      val nd = n.toDouble
      val sx = m.getAs[Double](s"sx$tag")
      val sy = m.getAs[Double](s"sy$tag")
      val cxx = m.getAs[Double](s"sxx$tag") - sx * sx / nd
      val cxy = m.getAs[Double](s"sxy$tag") - sx * sy / nd
      require(cxx > 0.0, s"side $tag has zero running-variable variance")
      val slope = cxy / cxx
      (n, slope, sy / nd - slope * (sx / nd))
    }
    val (nl, sl, il) = fit("l")
    val (nr, sr, ir) = fit("r")
    def r6(v: Double) = math.rint(v * 1e6) / 1e6
    Seq((nl, nr, r6(il), r6(ir), r6(sl), r6(sr), r6(ir - il)))
      .toDF("n_left", "n_right", "intercept_left", "intercept_right",
        "slope_left", "slope_right", "effect")
  }

  /** Deterministic randomization (permutation) test for a difference
    * in means — the p-value that needs NO distributional assumption
    * and no variance formula: re-assign each row's cohort by the fair
    * md5 coin md5(id ⊕ k) for k = 1..K, and ask how often the
    * re-randomized |Δmean| beats the observed one;
    * p = (1 + #{≥}) / (K + 1) (add-one to keep p > 0, Phipson–Smyth).
    * The coin is a free 50/50 re-RANDOMIZATION, not a fixed-margin
    * permutation: each draw's n_a/n_b vary binomially around the
    * half-split (the reported n_a/n_b describe only the OBSERVED
    * assignment). Draws that degenerate to one side count as
    * exceedances, keeping p conservative.
    *
    * Scale shape: ONE pass with a K-way explode that map-side-combines
    * to K×2 partial sums per partition — no row-scale shuffle, no RNG
    * state (md5 keys the reassignment, so the test replays
    * bit-for-bit). Both |Δ|'s compare 6-ROUNDED, so boundary ties are
    * consistent cross-engine.
    *
    * @return one row: (n_a, n_b, diff_obs, k, n_ge, p_value) */
  def permutationTest(df: DataFrame, idCol: String, cohortCol: String,
                      valueCol: String, labelA: String = "a",
                      labelB: String = "b", k: Int = 200): DataFrame = {
    require(k >= 1, "need at least one permutation")
    val spark = df.sparkSession
    import spark.implicits._
    val g = F.col(cohortCol).cast("string")
    val v = F.col(valueCol).cast("double")
    val clean = df
      .where(v.isNotNull && !F.isnan(v) && g.isin(labelA, labelB))
      .select(F.col(idCol).cast("string").as("__id"), g.as("__g"),
        v.as("__v"))
    val obs = clean.agg(
      F.sum(F.when(F.col("__g") === labelA, 1L).otherwise(0L)).as("na"),
      F.sum(F.when(F.col("__g") === labelB, 1L).otherwise(0L)).as("nb"),
      F.sum(F.when(F.col("__g") === labelA, F.col("__v"))
        .otherwise(F.lit(0.0))).as("sa"),
      F.sum(F.when(F.col("__g") === labelB, F.col("__v"))
        .otherwise(F.lit(0.0))).as("sb")).head()
    val na = obs.getAs[Long]("na"); val nb = obs.getAs[Long]("nb")
    require(na > 0L && nb > 0L, "both cohorts need rows")
    val dObs = math.rint((obs.getAs[Double]("sa") / na -
      obs.getAs[Double]("sb") / nb) * 1e6) / 1e6
    // md5 fair coin per (row, permutation): first 8 hex chars mod 2
    val perm = clean
      .select(F.col("__id"), F.col("__v"),
        F.explode(F.sequence(F.lit(1), F.lit(k))).as("__k"))
      .withColumn("__coin",
        F.conv(F.substring(F.md5(F.concat_ws("#", F.col("__id"),
          F.col("__k")).cast("binary")), 1, 8), 16, 10)
          .cast("long") % 2L)
    val diffs = perm.groupBy("__k").agg(
      F.sum(F.when(F.col("__coin") === 0L, 1L).otherwise(0L)).as("ka"),
      F.sum(F.when(F.col("__coin") === 1L, 1L).otherwise(0L)).as("kb"),
      F.sum(F.when(F.col("__coin") === 0L, F.col("__v"))
        .otherwise(F.lit(0.0))).as("sa"),
      F.sum(F.when(F.col("__coin") === 1L, F.col("__v"))
        .otherwise(F.lit(0.0))).as("sb"))
    // degenerate all-one-side draws count as EXCEEDANCES (the
    // conservative Phipson-Smyth direction) rather than shrinking the
    // numerator while K+1 stays the denominator, which would deflate p
    val nGe = diffs
      .select(F.when(F.col("ka") === 0L || F.col("kb") === 0L, 1L)
        .when(
          F.abs(F.round(F.col("sa") / F.col("ka") -
            F.col("sb") / F.col("kb"), 6)) >= F.lit(math.abs(dObs)), 1L)
        .otherwise(0L).as("ge"))
      .agg(F.sum("ge")).head().getLong(0)
    val p = math.rint((1.0 + nGe) / (k + 1.0) * 1e6) / 1e6
    Seq((na, nb, dObs, k.toLong, nGe, p))
      .toDF("n_a", "n_b", "diff_obs", "k", "n_ge", "p_value")
  }

  /** Propensity-score matching ATT with a score GRID: controls
    * aggregate to mean outcome per rounded-score cell (4 decimals —
    * ≤10⁴ cells on a [0,1] score), each treated row matches the
    * nearest non-empty control cell (ties toward the LOWER cell), and
    * ATT = mean(y_treated − matched control-cell mean). The estimator
    * is the classic caliper-free nearest-neighbor-with-replacement
    * collapsed onto a deterministic grid, so it is reproducible and
    * replayable — and the grid keeps the match a broadcast lookup at
    * any scale (no row×row join).
    *
    * Scale shape: one control aggregation (≤10⁴ cells, collected +
    * broadcast sorted), one treated pass with a binary-search lookup,
    * one DECIMAL-exact mean fold.
    *
    * @return one row: (n_treated, n_control, n_cells, att, mean_gap) */
  def psmAtt(df: DataFrame, treatCol: String, scoreCol: String,
             outcomeCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val t = F.col(treatCol).cast("boolean")
    val s = F.col(scoreCol).cast("double")
    val y = F.col(outcomeCol).cast("double")
    val clean = df
      .where(t.isNotNull && s.isNotNull && !F.isnan(s) && y.isNotNull &&
        !F.isnan(y))
      .select(t.as("__t"), F.round(s, 4).as("__s"), y.as("__y"))
    val cells = clean.where(!F.col("__t"))
      .groupBy("__s")
      .agg(F.count(F.lit(1)).as("c"),
        F.round(F.avg("__y"), 6).as("my"))
      .collect()
      .sortBy(_.getAs[Double]("__s"))
    require(cells.nonEmpty, "no control rows")
    // the 4-decimal grid bounds this at ~10⁴ cells on a [0,1]-style
    // score; a wild-range score column would collect unboundedly
    require(cells.length <= 200000,
      s"${cells.length} control score cells — psmAtt expects a " +
        "bounded (probability-like) score; rescale or clip it first")
    val nControl = cells.map(_.getAs[Long]("c")).sum
    val grid = cells.map(_.getAs[Double]("__s"))
    val means = cells.map(_.getAs[Double]("my"))
    val bcG = spark.sparkContext.broadcast(grid)
    val bcM = spark.sparkContext.broadcast(means)
    val matchUdf = F.udf((sc: Double) => {
      val g = bcG.value
      var lo = 0; var hi = g.length - 1
      while (lo < hi) { // first cell >= sc
        val mid = (lo + hi) / 2
        if (g(mid) < sc) lo = mid + 1 else hi = mid
      }
      val cand =
        if (g(lo) <= sc || lo == 0) lo
        else if (math.abs(g(lo - 1) - sc) <= math.abs(g(lo) - sc)) lo - 1
        else lo
      bcM.value(cand)
    })
    val m = clean.where(F.col("__t"))
      .withColumn("__m", matchUdf(F.col("__s")))
      .agg(F.count(F.lit(1)).as("nt"),
        dsum(F.col("__y") - F.col("__m")).as("sg"),
        dsum(F.abs(F.col("__y") - F.col("__m"))).as("sa"))
      .head()
    val nt = m.getAs[Long]("nt")
    require(nt > 0L, "no treated rows")
    def r6(v: Double) = math.rint(v * 1e6) / 1e6
    Seq((nt, nControl, grid.length.toLong, r6(m.getAs[Double]("sg") / nt),
      r6(m.getAs[Double]("sa") / nt)))
      .toDF("n_treated", "n_control", "n_cells", "att", "mean_gap")
  }

  /** Wald's Sequential Probability Ratio Test over a Bernoulli stream —
    * the always-valid single-rate monitor next to [[sequentialMonitor]]
    * (which gates a two-cohort comparison at scheduled looks; SPRT
    * watches ONE conversion rate continuously against H₀: p = p₀ vs
    * H₁: p = p₁):
    *
    *   LLR_t = x_t·ln(p₁/p₀) + (n_t − x_t)·ln((1−p₁)/(1−p₀))
    *
    * on the CUMULATIVE (trials, successes), decided against Wald's
    * bounds ln((1−β)/α) (accept H₁) and ln(β/(1−α)) (accept H₀). One
    * period aggregation + cumulative windows over the ≤ span period
    * cells; LLR and bounds 6-rounded so the decision ladder replays.
    *
    * @return one row per period: (period, n_cum, x_cum, llr, decision ∈
    *         accept_h1/accept_h0/continue) */
  def sprtMonitor(df: DataFrame, periodCol: String, successCol: String,
                  p0: Double, p1: Double, alpha: Double = 0.05,
                  beta: Double = 0.2): DataFrame = {
    require(p0 > 0.0 && p0 < 1.0 && p1 > 0.0 && p1 < 1.0 && p1 != p0,
      "p0, p1 must be in (0,1) and differ")
    require(alpha > 0.0 && alpha < 1.0 && beta > 0.0 && beta < 1.0,
      "alpha, beta must be in (0,1)")
    val y = F.col(successCol).cast("boolean")
    val cells = df
      .where(F.col(periodCol).isNotNull && y.isNotNull)
      .groupBy(F.col(periodCol).cast("long").as("period"))
      .agg(F.count(F.lit(1)).as("__n"),
        F.sum(y.cast("long")).as("__x"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("period")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val lWin = math.log(p1 / p0)
    val lLose = math.log((1.0 - p1) / (1.0 - p0))
    val ub = math.rint(math.log((1.0 - beta) / alpha) * 1e6) / 1e6
    val lb = math.rint(math.log(beta / (1.0 - alpha)) * 1e6) / 1e6
    cells
      .withColumn("n_cum", F.sum("__n").over(w))
      .withColumn("x_cum", F.sum("__x").over(w))
      .withColumn("llr", F.round(
        F.col("x_cum").cast("double") * lWin +
          (F.col("n_cum") - F.col("x_cum")).cast("double") * lLose, 6))
      .withColumn("decision",
        F.when(F.col("llr") >= ub, "accept_h1")
          .when(F.col("llr") <= lb, "accept_h0")
          .otherwise("continue"))
      .select("period", "n_cum", "x_cum", "llr", "decision")
  }

  /** CUPED-adjusted COHORT COMPARISON (Deng, Xu, Kohavi & Walker 2013)
    * — [[cuped]] reports how much variance a covariate soaks up; this
    * runs the actual A/B readout on the adjusted metric: with a
    * pre-experiment covariate x,
    *
    *   θ = cov(y, x) / var(x)   (pooled),
    *   ŷ_i = y_i − θ(x_i − x̄),
    *
    * the adjusted cohort difference is unbiased for the treatment
    * effect and its variance drops by ρ² = θ²·var(x)/var(y) — often
    * 40–60% on revenue-like metrics, i.e. the same power from half the
    * sample. ONE aggregation (pooled + per-cohort sufficient
    * statistics), the rest scalar column algebra; z uses the per-cohort
    * adjusted variances var_g(y) − 2θ·cov_g + θ²·var_g(x). Cohorts with
    * fewer than 2 rows or zero covariate variance are refused by the
    * guards (the WHERE, not an exception — an empty frame is the
    * drop-through).
    *
    * @return one row: (n_a, n_b, theta, effect_raw, effect_adj,
    *         var_reduction, z, p_value), doubles 6-rounded */
  def cupedCompare(df: DataFrame, cohortCol: String, yCol: String,
                   preCol: String, labelA: String = "a",
                   labelB: String = "b"): DataFrame = {
    val y = F.col(yCol).cast("double")
    val x = F.col(preCol).cast("double")
    val g = F.col(cohortCol).cast("string")
    val ok = y.isNotNull && !F.isnan(y) && x.isNotNull && !F.isnan(x) &&
      (g === labelA || g === labelB)
    val isA = (g === labelA).cast("double")
    val isB = (g === labelB).cast("double")
    val r = df.where(ok).agg(
      F.sum(isA).as("na"), F.sum(isB).as("nb"),
      F.sum(x).as("sx"), F.sum(y).as("sy"),
      F.sum(x * x).as("sxx"), F.sum(y * y).as("syy"),
      F.sum(x * y).as("sxy"),
      F.sum(isA * y).as("sya"), F.sum(isB * y).as("syb"),
      F.sum(isA * x).as("sxa"), F.sum(isB * x).as("sxb"),
      F.sum(isA * y * y).as("syya"), F.sum(isB * y * y).as("syyb"),
      F.sum(isA * x * x).as("sxxa"), F.sum(isB * x * x).as("sxxb"),
      F.sum(isA * x * y).as("sxya"), F.sum(isB * x * y).as("sxyb"))
    val n = F.col("na") + F.col("nb")
    val mx = F.col("sx") / n; val my = F.col("sy") / n
    val vx = F.col("sxx") / n - mx * mx
    val vy = F.col("syy") / n - my * my
    val cxy = F.col("sxy") / n - mx * my
    val theta = cxy / vx
    val mya = F.col("sya") / F.col("na")
    val myb = F.col("syb") / F.col("nb")
    val mxa = F.col("sxa") / F.col("na")
    val mxb = F.col("sxb") / F.col("nb")
    val effRaw = myb - mya
    val effAdj = (myb - theta * (mxb - mx)) - (mya - theta * (mxa - mx))
    def vadj(sy2: String, sx2: String, sxy2: String,
             myg: org.apache.spark.sql.Column,
             mxg: org.apache.spark.sql.Column,
             ng: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      (F.col(sy2) / ng - myg * myg) -
        F.lit(2.0) * theta * (F.col(sxy2) / ng - mxg * myg) +
        theta * theta * (F.col(sx2) / ng - mxg * mxg)
    val va = vadj("syya", "sxxa", "sxya", mya, mxa, F.col("na"))
    val vb = vadj("syyb", "sxxb", "sxyb", myb, mxb, F.col("nb"))
    val se = F.sqrt(va / F.col("na") + vb / F.col("nb"))
    val erfcUdf = F.udf((z: Double) => math.rint(graft.functions
      .SpecialMath.erfc(math.abs(z) / math.sqrt(2.0)) * 1e6) / 1e6)
    r.where(F.col("na") > 1.0 && F.col("nb") > 1.0 && vx > 0.0 &&
        vy > 0.0 && se > 0.0)
      .withColumn("z", F.round(effAdj / se, 6))
      .select(F.col("na").cast("long").as("n_a"),
        F.col("nb").cast("long").as("n_b"),
        F.round(theta, 6).as("theta"),
        F.round(effRaw, 6).as("effect_raw"),
        F.round(effAdj, 6).as("effect_adj"),
        F.round(theta * theta * vx / vy, 6).as("var_reduction"),
        F.col("z"), erfcUdf(F.col("z")).as("p_value"))
  }
}
