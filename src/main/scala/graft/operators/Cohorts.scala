package graft.operators

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.expressions.Window

/** Behavioral product analytics over an event stream — the cohort /
  * funnel layer every analytics engine ends up needing on top of raw
  * events: "of the users who showed up in week W, how many came back k
  * weeks later?" and "how far down the signup→purchase path do users
  * get?".
  *
  * Scale rules as everywhere in the repo: the event-sized work is one
  * distinct-reduction or one chain of windows PARTITIONED BY USER (a
  * single shuffle on the user key); everything after operates on
  * user- or cell-sized frames. Period arithmetic uses integer DIV on
  * the epoch-nanos BIGINT timestamps — exact at any magnitude, where a
  * double division would wobble on ~2^53-ns boundaries.
  */
object Cohorts {

  /** Cohort retention matrix: users are cohorted by the period of
    * their FIRST event (period = `tsCol` DIV `periodNanos`, integer
    * floor division); for each (cohort, offset) cell, how many of the
    * cohort's users were active `offset` periods after joining, and
    * what share of the cohort that is.
    *
    * Construction: distinct (user, period) → per-user min period via a
    * window PARTITIONED BY USER (no join back) → one (cohort, offset)
    * cell aggregation; `cohort_size` rides a window over the tiny cell
    * frame. Every user contributes an offset-0 row by definition, so
    * `retention` is never null and the offset-0 diagonal is exactly 1.
    *
    * @param tsCol numeric epoch timestamp (the repo's event tables
    *              carry epoch-nanos BIGINT)
    * @return one row per non-empty cell: (cohort_period, period_offset,
    *         n_users, cohort_size, retention), retention rounded to 6 */
  def retention(df: DataFrame, userCol: String, tsCol: String,
                periodNanos: Long): DataFrame = {
    require(periodNanos > 0, "periodNanos must be positive")
    val act = df
      .where(F.col(userCol).isNotNull && F.col(tsCol).isNotNull)
      .select(F.col(userCol).as("__u"),
        F.expr(s"`$tsCol` DIV $periodNanos").as("__p"))
      .distinct()
    val perUser = Window.partitionBy("__u")
    val cells = act
      .withColumn("__c", F.min("__p").over(perUser))
      .withColumn("__o", F.col("__p") - F.col("__c"))
      .groupBy(F.col("__c").as("cohort_period"),
        F.col("__o").as("period_offset"))
      // rows are distinct (user, period), so count(*) = distinct users
      .agg(F.count(F.lit(1)).as("n_users"))
    val perCohort = Window.partitionBy("cohort_period")
    cells
      .withColumn("cohort_size",
        F.max(F.when(F.col("period_offset") === 0L, F.col("n_users")))
          .over(perCohort))
      .withColumn("retention", F.round(
        F.col("n_users").cast("double") / F.col("cohort_size"), 6))
  }

  /** Time-to-convert distribution per funnel transition: for users who
    * complete step k under [[funnel]]'s sequential semantics, the exact
    * p50/p90 of tᵏ − tᵏ⁻¹ — "how long does click→purchase take" — the
    * quantiles that size retargeting windows and session timeouts.
    *
    * Deltas are integer timestamp differences, and each percentile is
    * the exact ⌈q·n⌉-th smallest picked by cumulative cell counts
    * (type-1 / lower quantile), so every output value is a value that
    * actually occurred and the whole frame replays bit-exactly. Same
    * single user-shuffle window chain as [[funnel]]; the percentile
    * walk rides windows over (step, delta) cells.
    *
    * @return one row per transition k ≥ 1: (step_idx, step, n_conv,
    *         p50, p90) */
  def funnelLatency(df: DataFrame, userCol: String, tsCol: String,
                    stepCol: String, steps: Seq[String]): DataFrame = {
    require(steps.size >= 2, "need at least two funnel steps")
    require(steps.distinct.size == steps.size, "steps must be distinct")
    require(steps.forall(!_.contains("'")), "step names must not quote")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(F.col(userCol))
    var cur = df
      .where(F.col(userCol).isNotNull && F.col(tsCol).isNotNull &&
        F.col(stepCol).isNotNull)
      .select(F.col(userCol), F.col(tsCol), F.col(stepCol))
      .withColumn("__t0",
        F.min(F.when(F.col(stepCol) === steps.head, F.col(tsCol))).over(w))
    (1 until steps.size).foreach { k =>
      cur = cur.withColumn(s"__t$k",
        F.min(F.when(F.col(stepCol) === steps(k) &&
          F.col(tsCol) >= F.col(s"__t${k - 1}"), F.col(tsCol))).over(w))
    }
    val tAggs = steps.indices.map(k => F.max(s"__t$k").as(s"__t$k"))
    val perUser = cur.groupBy(F.col(userCol)).agg(tAggs.head, tAggs.tail: _*)
    val deltas = perUser.selectExpr(
      s"stack(${steps.size - 1}, " + (1 until steps.size).map(k =>
        s"CAST($k AS BIGINT), '${steps(k)}', __t$k - __t${k - 1}")
        .mkString(", ") + ") AS (step_idx, step, delta)")
      .where(F.col("delta").isNotNull)
    val cells = deltas.groupBy("step_idx", "step", "delta")
      .agg(F.count(F.lit(1)).as("__c"))
    val wAll = Window.partitionBy("step_idx")
    val wOrd = Window.partitionBy("step_idx").orderBy("delta")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells
      .withColumn("__n", F.sum("__c").over(wAll))
      .withColumn("__cum", F.sum("__c").over(wOrd))
      .groupBy("step_idx", "step")
      .agg(F.max("__n").as("n_conv"),
        F.min(F.when(F.col("__cum") >=
          F.ceil(F.col("__n") * F.lit(0.5)), F.col("delta"))).as("p50"),
        F.min(F.when(F.col("__cum") >=
          F.ceil(F.col("__n") * F.lit(0.9)), F.col("delta"))).as("p90"))
  }

  /** Ordered funnel conversion: for each user, step k counts only if
    * it happens AT OR AFTER the user's earliest qualifying step k−1
    * (tᵏ = min ts of `steps(k)` events with ts ≥ tᵏ⁻¹) — the strict
    * sequential-funnel semantics, not mere set membership.
    *
    * The per-user chain is `steps.length` window columns over ONE
    * user-partitioned exchange (each window references the previous
    * materialized column — same partitioning, so Catalyst plans a
    * single shuffle with chained window stages), then a user-level
    * reduction and a steps-sized long-form frame with the conversion
    * rates.
    *
    * @return `steps.length` rows: (step_idx, step, users,
    *         rate_vs_first, rate_vs_prev) — rates rounded to 6;
    *         rate_vs_prev is null on the first step, rates null when
    *         the base count is 0 */
  def funnel(df: DataFrame, userCol: String, tsCol: String,
             stepCol: String, steps: Seq[String]): DataFrame = {
    require(steps.size >= 2, "need at least two funnel steps")
    require(steps.distinct.size == steps.size, "steps must be distinct")
    require(steps.forall(!_.contains("'")), "step names must not quote")
    val w = Window.partitionBy(F.col(userCol))
    var cur = df
      .where(F.col(userCol).isNotNull && F.col(tsCol).isNotNull &&
        F.col(stepCol).isNotNull)
      .select(F.col(userCol), F.col(tsCol), F.col(stepCol))
      .withColumn("__t0",
        F.min(F.when(F.col(stepCol) === steps.head, F.col(tsCol))).over(w))
    (1 until steps.size).foreach { k =>
      cur = cur.withColumn(s"__t$k",
        F.min(F.when(F.col(stepCol) === steps(k) &&
          F.col(tsCol) >= F.col(s"__t${k - 1}"), F.col(tsCol))).over(w))
    }
    val tAggs = steps.indices.map(k => F.max(s"__t$k").as(s"__t$k"))
    val perUser = cur.groupBy(F.col(userCol)).agg(tAggs.head, tAggs.tail: _*)
    val cAggs = steps.indices.map(k => F.count(F.col(s"__t$k")).as(s"__u$k"))
    val counts = perUser.agg(cAggs.head, cAggs.tail: _*)
    val stacked = counts.selectExpr(
      s"stack(${steps.size}, " + steps.indices.map(k =>
        s"CAST($k AS BIGINT), '${steps(k)}', __u$k").mkString(", ") +
        ") AS (step_idx, step, users)")
    // a steps-sized frame: the single-partition windows are fine here
    val wAll = Window.partitionBy()
    val wOrd = Window.orderBy("step_idx")
    stacked
      .withColumn("__first",
        F.max(F.when(F.col("step_idx") === 0L, F.col("users"))).over(wAll))
      .withColumn("__prev", F.lag("users", 1).over(wOrd))
      .withColumn("rate_vs_first", F.when(F.col("__first") > 0L,
        F.round(F.col("users").cast("double") / F.col("__first"), 6)))
      .withColumn("rate_vs_prev", F.when(F.col("__prev") > 0L,
        F.round(F.col("users").cast("double") / F.col("__prev"), 6)))
      .select("step_idx", "step", "users", "rate_vs_first", "rate_vs_prev")
  }

  /** First/last-touch conversion attribution: for every conversion
    * event, the user's FIRST touch ever and the LAST touch strictly
    * before the conversion (touch = any event whose type isn't the
    * conversion type) — the two bookend models every marketing readout
    * starts from. ONE user-keyed shuffle serves both windows; ties at
    * the same timestamp break on the tie-breaker columns, and a
    * conversion with no preceding touch reports nulls (organic).
    *
    * @return one row per conversion event: (userCol, tsCol,
    *         first_touch_type, first_touch_ts, last_touch_type,
    *         last_touch_ts) */
  def touchAttribution(df: DataFrame, userCol: String, tsCol: String,
                       typeCol: String, conversionType: String,
                       tieBreakCols: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df
      .where(F.col(userCol).isNotNull && F.col(tsCol).isNotNull &&
        F.col(typeCol).isNotNull)
      .select(Seq(F.col(userCol), F.col(tsCol)) ++
        tieBreakCols.map(F.col) :+
        F.col(typeCol).cast("string").as("__et"): _*)
    val ord = F.col(tsCol) +: tieBreakCols.map(F.col)
    val wAll = Window.partitionBy(F.col(userCol)).orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wPrev = Window.partitionBy(F.col(userCol)).orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val touch = F.when(F.col("__et") =!= conversionType,
      F.struct(F.col("__et").as("t"), F.col(tsCol).as("ts")))
    base
      .withColumn("__first", F.first(touch, ignoreNulls = true).over(wAll))
      .withColumn("__last", F.last(touch, ignoreNulls = true).over(wPrev))
      .where(F.col("__et") === conversionType)
      .select(F.col(userCol), F.col(tsCol),
        F.col("__first.t").as("first_touch_type"),
        F.col("__first.ts").as("first_touch_ts"),
        F.col("__last.t").as("last_touch_type"),
        F.col("__last.ts").as("last_touch_ts"))
  }

  /** RFM segmentation: per user the classic Recency (latest activity
    * time), Frequency (event count), Monetary (value sum) triple, each
    * scored 1..k by the tie-stable [[Ranks.quantileBuckets]] (same
    * value → same bucket, no NTILE arbitrariness; higher score =
    * more recent / more frequent / higher value), composed into the
    * conventional 3-digit segment code. Monetary is rounded to 6
    * BEFORE bucketing so distributed-sum last-ULP noise cannot flip a
    * near-tie across a bucket edge. One user aggregation + three
    * prefix-sum rank constructions — no global windows.
    *
    * @param tsCol numeric event time (epoch nanos per this repo's ts
    *              contract)
    * @return one row per user: (userCol, recency_ts, frequency,
    *         monetary, r, f, m, rfm_code) */
  def rfm(df: DataFrame, userCol: String, tsCol: String,
          valueCol: String, k: Int = 5): DataFrame = {
    require(k >= 2 && k <= 9, "k must be in [2, 9]")
    val v = F.col(valueCol).cast("double")
    val per = df
      .where(F.col(userCol).isNotNull && F.col(tsCol).isNotNull &&
        v.isNotNull && !F.isnan(v))
      .groupBy(F.col(userCol))
      .agg(F.max(F.col(tsCol).cast("long")).as("recency_ts"),
        F.count(F.lit(1)).as("frequency"),
        F.round(F.sum(v), 6).as("monetary"))
    val scored = Seq(("recency_ts", "r"), ("frequency", "f"),
      ("monetary", "m")).foldLeft(per) { case (acc, (col, out)) =>
      Ranks.quantileBuckets(acc, col, k, out)
    }
    scored.withColumn("rfm_code",
      F.col("r") * 100L + F.col("f") * 10L + F.col("m"))
  }

  /** First-order Markov transition matrix of per-key event sequences:
    * for consecutive events of the same key (ordered by tsCol +
    * tie-breakers), the count and row-normalized probability of each
    * (from_state → to_state) transition — "what do users do AFTER a
    * click", the behavioral model behind next-event prediction and
    * funnel design. ONE key shuffle serves the lag pairing; the
    * (from, to) aggregation state is |states|², not data-sized, and
    * the row totals ride a window over those cells.
    *
    * @return one row per observed transition: (from_state, to_state,
    *         n, prob rounded 6) */
  def transitionMatrix(df: DataFrame, keyCol: String, tsCol: String,
                       stateCol: String,
                       tieBreakCols: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df
      .where(F.col(keyCol).isNotNull && F.col(tsCol).isNotNull &&
        F.col(stateCol).isNotNull)
      .select(Seq(F.col(keyCol), F.col(tsCol)) ++
        tieBreakCols.map(F.col) :+
        F.col(stateCol).cast("string").as("__st"): _*)
    val wOrd = Window.partitionBy(F.col(keyCol))
      .orderBy(F.col(tsCol) +: tieBreakCols.map(F.col): _*)
    val pairs = base
      .withColumn("__from", F.lag("__st", 1).over(wOrd))
      .where(F.col("__from").isNotNull)
      .groupBy(F.col("__from").as("from_state"),
        F.col("__st").as("to_state"))
      .agg(F.count(F.lit(1)).as("n"))
    val wFrom = Window.partitionBy("from_state")
    pairs
      .withColumn("prob", F.round(F.col("n").cast("double") /
        F.sum("n").over(wFrom), 6))
      .select("from_state", "to_state", "n", "prob")
  }

  /** Frequent contiguous event sequences — the k-gram generalization
    * of [[transitionMatrix]]'s single step: "which length-m journeys
    * (view→click→purchase) actually recur, and across how many
    * users". Each key's t-ordered token stream yields its contiguous
    * m-grams by `lead` under the per-key window (sequences per key are
    * session-sized, never corpus-sized); support counts DISTINCT keys
    * (the sequence-mining convention — one loopy user can't fake a
    * popular journey) alongside raw occurrences.
    *
    * One window pass + one (pattern, key)-distinct aggregation; the
    * report is rank-limited top-k by (support desc, pattern asc) — a
    * TakeOrdered, never a global sort.
    *
    * @param size contiguous gram length (2..5)
    * @param minSupport keep patterns seen by at least this many keys
    * @return topK rows: (pattern, support, occurrences) */
  def sequencePatterns(df: DataFrame, keyCol: String, tsCol: String,
                       tokenCol: String, size: Int, minSupport: Long,
                       topK: Int,
                       tieBreakCols: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(size >= 2 && size <= 5, "size must be in 2..5")
    require(minSupport >= 1L, "minSupport must be >= 1")
    require(topK >= 1, "need topK >= 1")
    val base = df
      .where(F.col(keyCol).isNotNull && F.col(tsCol).isNotNull &&
        F.col(tokenCol).isNotNull)
      .select(Seq(F.col(keyCol).as("__k"), F.col(tsCol)) ++
        tieBreakCols.map(F.col) :+
        F.col(tokenCol).cast("string").as("__t0"): _*)
    val wOrd = Window.partitionBy(F.col("__k"))
      .orderBy(F.col(tsCol) +: tieBreakCols.map(F.col): _*)
    val withLeads = (1 until size).foldLeft(base) { (acc, l) =>
      acc.withColumn(s"__t$l", F.lead("__t0", l).over(wOrd))
    }
    val parts = (0 until size).map(l => F.col(s"__t$l"))
    withLeads
      .where(parts.map(_.isNotNull).reduce(_ && _))
      .select(F.concat_ws(">", parts: _*).as("pattern"), F.col("__k"))
      .groupBy("pattern")
      .agg(F.count_distinct(F.col("__k")).as("support"),
        F.count(F.lit(1)).as("occurrences"))
      .where(F.col("support") >= minSupport)
      .orderBy(F.col("support").desc, F.col("pattern").asc)
      .limit(topK)
  }

  /** Shifted-beta-geometric (sBG) retention model — Fader–Hardie's
    * "How to Project Customer Retention" (JIM 2007): each user churns
    * in period t with probability θ ~ Beta(α, β), so the retention
    * curve is S(t) = B(α, β+t)/B(α, β) — the projectable form that
    * extrapolates a cohort's measured head into the long tail that
    * [[retention]]'s empirical matrix cannot see. α/(α+β) is the mean
    * one-period churn hazard; β < 1 ⇒ fat-tailed loyalty.
    *
    * Lifetimes are MONOTONE by construction: a user is alive at offset
    * t iff their LAST activity period is ≥ t, churn period c = L+1
    * (L = last-seen offset from the user's own first period), and
    * users with L ≥ the horizon are right-censored. One per-user
    * aggregation reduces the data to ≤ horizon+1 (lifetime, count)
    * cells; the MLE is a DETERMINISTIC grid argmax over
    * (α, β) ∈ {step, 2·step, …, gridMax}² of
    *
    *   ℓ = Σₜ dₜ·[ln B(α+1, β+t−1) − ln B(α, β)] + n_c·[ln B(α, β+T) − ln B(α, β)]
    *
    * evaluated driver-side via lgamma over the tiny cell table — no
    * data-sized work after the first aggregation, no RNG, no iterative
    * trajectory, so an external engine replays fit AND argmax exactly
    * (ties broken by ll desc, α asc, β asc).
    *
    * @return one row: (alpha, beta, ll, n_users, n_churned,
    *         n_censored, horizon, mean_churn) — ll and mean_churn
    *         rounded to 6 decimals.
    */
  def sbgRetention(df: DataFrame, userCol: String, tsCol: String,
                   periodNanos: Long, horizon: Option[Int] = None,
                   gridMax: Double = 8.0,
                   gridStep: Double = 0.1): DataFrame = {
    require(periodNanos > 0, "periodNanos must be positive")
    require(gridMax > gridStep && gridStep > 0.0, "bad grid")
    val spark = df.sparkSession
    import spark.implicits._
    val act = df
      .where(F.col(userCol).isNotNull && F.col(tsCol).isNotNull)
      .select(F.col(userCol).as("__u"),
        F.expr(s"`$tsCol` DIV $periodNanos").as("__p"))
    val life = act.groupBy("__u")
      .agg((F.max("__p") - F.min("__p")).as("__l"))
      .groupBy("__l").agg(F.count(F.lit(1)).as("__n"))
      .collect().map(r => (r.getAs[Long]("__l"), r.getAs[Long]("__n")))
      .sortBy(_._1)
    require(life.nonEmpty, "no usable (user, ts) rows")
    val tMax = horizon.map(_.toLong).getOrElse(life.map(_._1).max)
    require(tMax >= 1L, "horizon must be at least 1 period")
    // deaths at churn period t = 1..T (users last seen at t−1), plus
    // right-censored mass: everyone last seen at ≥ T
    val deaths = (1L to tMax).map(t =>
      t -> life.filter(_._1 == t - 1L).map(_._2).sum).filter(_._2 > 0L)
    val nCens = life.filter(_._1 >= tMax).map(_._2).sum
    val nUsers = life.map(_._2).sum
    val nChurned = nUsers - nCens
    import graft.functions.SpecialMath.lgamma
    def lnB(a: Double, b: Double): Double =
      lgamma(a) + lgamma(b) - lgamma(a + b)
    val steps = math.round(gridMax / gridStep).toInt
    var best = (Double.NegativeInfinity, 0.0, 0.0)
    var i = 1
    while (i <= steps) {
      val a = i * gridStep
      var j = 1
      while (j <= steps) {
        val b = j * gridStep
        val lnB0 = lnB(a, b)
        var ll = 0.0
        deaths.foreach { case (t, dt) =>
          ll += dt * (lnB(a + 1.0, b + t - 1.0) - lnB0)
        }
        if (nCens > 0L) ll += nCens * (lnB(a, b + tMax) - lnB0)
        // strict > keeps the FIRST (α asc, β asc) grid cell on ties
        if (ll > best._1) best = (ll, a, b)
        j += 1
      }
      i += 1
    }
    val (ll, alpha, beta) = best
    Seq((math.rint(alpha * 1e6) / 1e6, math.rint(beta * 1e6) / 1e6,
        math.rint(ll * 1e6) / 1e6, nUsers, nChurned, nCens, tMax,
        math.rint(alpha / (alpha + beta) * 1e6) / 1e6))
      .toDF("alpha", "beta", "ll", "n_users", "n_churned",
        "n_censored", "horizon", "mean_churn")
  }

  /** Growth accounting — the canonical DAU decomposition: every active
    * user-day is exactly one of NEW (first day ever), RETAINED (also
    * active the previous period) or RESURRECTED (returning after a
    * gap); users active in period d but not d+1 CHURN at d+1 (they may
    * resurrect later). The quick ratio (new+resurrected)/churned is
    * the one-number growth health check. Identity per period:
    * active = new + retained + resurrected, and
    * active_d − active_{d+1} = churned_{d+1} − new_{d+1} −
    * resurrected_{d+1}.
    *
    * Scale shape: one (user, period) distinct, per-USER lag/lead/min
    * windows (one shuffle on the user key), one period aggregation,
    * and a full-outer join with the churn-day counts (the churn day of
    * the last active period has no activity rows). All exact integers.
    *
    * @return one row per period: (period, active, new_users, retained,
    *         resurrected, churned, quick_ratio) — quick_ratio null
    *         when nothing churned */
  def growthAccounting(df: DataFrame, userCol: String, tsCol: String,
                       periodUnit: Long): DataFrame = {
    require(periodUnit > 0L, "periodUnit must be positive")
    import org.apache.spark.sql.expressions.Window
    val t = F.col(tsCol).cast("long")
    val ud = df
      .where(F.col(userCol).isNotNull && t.isNotNull)
      .select(F.col(userCol).as("u"),
        F.expr(s"CAST(`$tsCol` AS BIGINT) DIV $periodUnit").as("d"))
      .distinct()
    val w = Window.partitionBy("u").orderBy("d")
    val flagged = ud
      .withColumn("prevd", F.lag("d", 1).over(w))
      .withColumn("nextd", F.lead("d", 1).over(w))
      .withColumn("is_new", F.col("prevd").isNull)
      .withColumn("is_retained", F.col("prevd") === F.col("d") - 1L)
      .withColumn("is_resurrected",
        F.col("prevd").isNotNull && F.col("prevd") < F.col("d") - 1L)
      .withColumn("churns_next",
        F.col("nextd").isNull || F.col("nextd") > F.col("d") + 1L)
    val perDay = flagged.groupBy(F.col("d").as("period"))
      .agg(F.count(F.lit(1)).as("active"),
        F.sum(F.when(F.col("is_new"), 1L).otherwise(0L))
          .as("new_users"),
        F.sum(F.when(F.col("is_retained"), 1L).otherwise(0L))
          .as("retained"),
        F.sum(F.when(F.col("is_resurrected"), 1L).otherwise(0L))
          .as("resurrected"))
    val churn = flagged.where(F.col("churns_next"))
      .groupBy((F.col("d") + 1L).as("period"))
      .agg(F.count(F.lit(1)).as("churned"))
    perDay.join(churn, Seq("period"), "full_outer")
      .select(F.col("period"),
        F.coalesce(F.col("active"), F.lit(0L)).as("active"),
        F.coalesce(F.col("new_users"), F.lit(0L)).as("new_users"),
        F.coalesce(F.col("retained"), F.lit(0L)).as("retained"),
        F.coalesce(F.col("resurrected"), F.lit(0L)).as("resurrected"),
        F.coalesce(F.col("churned"), F.lit(0L)).as("churned"))
      .withColumn("quick_ratio",
        F.when(F.col("churned") > 0L,
          F.round((F.col("new_users") + F.col("resurrected"))
            .cast("double") / F.col("churned"), 6)))
  }

  /** Exact Shapley-value conversion attribution over channel SETS —
    * the cooperative-game answer to "which touchpoints actually drive
    * conversion" that first/last-touch ([[touchAttribution]]) cannot
    * give (it bookends; Shapley shares the credit axiomatically):
    * with v(S) = conversion rate of users whose touched-channel set
    * is exactly S (0 for unobserved sets — the standard simplified
    * game),
    *
    *   φ_c = Σ_{S ∌ c} |S|!·(C−|S|−1)!/C! · (v(S∪{c}) − v(S))
    *
    * summed over ALL 2^C coalitions in ascending bitmask order (the
    * oracle mirrors with an ordered list fold over the same subsets).
    * Conversion rates are 6-ROUNDED before the fold, factorials exact
    * Longs, so the whole attribution is a pure function of the
    * coalition table.
    *
    * Scale shape: ONE user aggregation builds (mask, converted) —
    * bit_or of per-channel bits, channels alphabetical → bit index —
    * then a coalition count bounded by 2^C; C is guarded LOUDLY at 12
    * (collapse rare channels first). Everything after is driver
    * arithmetic on ≤4096 exact cells.
    *
    * @return one row per channel: (channel, shapley, n_touched,
    *         conv_rate_touched) */
  def shapleyAttribution(df: DataFrame, userCol: String,
                         channelCol: String,
                         convValue: String): DataFrame = Persisted { scope =>
    val spark = df.sparkSession
    import spark.implicits._
    val u = F.col(userCol)
    val ch = F.col(channelCol).cast("string")
    val base = scope.checkpoint(df.where(u.isNotNull && ch.isNotNull)
      .select(u.cast("string").as("__u"), ch.as("__c")))
    val channels = base.where(F.col("__c") =!= convValue)
      .select("__c").distinct().collect().map(_.getString(0)).sorted
    val cc = channels.length
    require(cc >= 1, "no non-conversion channels")
    // loud guard: the game enumerates 2^C coalitions
    require(cc <= 12,
      s"$cc channels — shapleyAttribution enumerates 2^C coalitions; " +
        "collapse rare channels first")
    val bitOf = channels.zipWithIndex.toMap
    val bitExpr = F.coalesce(channels.zipWithIndex
      .map { case (c, i) => F.when(F.col("__c") === c, 1L << i) }: _*)
    val touched = base.where(F.col("__c") =!= convValue)
      .select(F.col("__u"), bitExpr.as("__b"))
      .groupBy("__u").agg(F.expr("bit_or(__b)").as("__m"))
    val convU = base.groupBy("__u").agg(
      F.max(F.when(F.col("__c") === convValue, 1L).otherwise(0L))
        .as("__conv"))
    val coal = convU.join(touched, Seq("__u"), "left")
      .select(F.coalesce(F.col("__m"), F.lit(0L)).as("__m"),
        F.col("__conv"))
      .groupBy("__m")
      .agg(F.count(F.lit(1)).as("n"), F.sum("__conv").as("nc"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    val vMap = coal.map { case (m, n, nc) =>
      m -> r6(nc.toDouble / n) }.toMap.withDefaultValue(0.0)
    val nMap = coal.map { case (m, n, _) => m -> n }.toMap
    val ncMap = coal.map { case (m, _, nc) => m -> nc }.toMap
    def fact(k: Int): Long = (1 to k).foldLeft(1L)(_ * _)
    val rows = channels.map { c =>
      val i = bitOf(c)
      val phi = (0 until (1 << cc)).foldLeft(0.0) { (acc, s) =>
        if (((s >> i) & 1) == 1) acc
        else {
          val k = java.lang.Integer.bitCount(s)
          val w = fact(k).toDouble * fact(cc - 1 - k) / fact(cc)
          acc + w * (vMap((s | (1 << i)).toLong) - vMap(s.toLong))
        }
      }
      val touchedMasks = (0 until (1 << cc))
        .filter(s => ((s >> i) & 1) == 1)
      val nT = touchedMasks.foldLeft(0L)((a, s) =>
        a + nMap.getOrElse(s.toLong, 0L))
      val ncT = touchedMasks.foldLeft(0L)((a, s) =>
        a + ncMap.getOrElse(s.toLong, 0L))
      (c, r6(phi), nT,
        if (nT > 0L) Some(r6(ncT.toDouble / nT)) else None)
    }
    rows.toSeq
      .toDF("channel", "shapley", "n_touched", "conv_rate_touched")
      .orderBy("channel")
  }

  /** Markov removal-effect attribution — [[shapleyAttribution]]'s
    * sequence-aware sibling (Shapley sees touch SETS; the Markov model
    * sees ORDER): user journeys ordered by (ts, channel) and truncated
    * at the first conversion become first-order transitions
    * __start → channels → {__conv, __null}; each channel's value is the
    * drop in the chain's conversion probability when journeys may no
    * longer pass through it,
    *
    *   removal_effect(c) = 1 − P(conv | channel c removed) / P(conv)
    *
    * P(conv) is the absorption probability from __start, computed by
    * `iters` synchronous value-iteration rounds (the truncated
    * path-length-≤ iters reading — deterministic, no matrix inverse),
    * each state's p 9-rounded per round with ordered sequential folds —
    * the replay contract (chained aggregation CTEs in SQL, one per
    * round).
    *
    * Scale shape: ONE user-keyed window chain builds transitions, one
    * aggregation shrinks them to a ≤ (channels+1)² cell frame, a LOUD
    * require bounds the channel count before anything is collected, and
    * the iteration is driver math on that bounded frame.
    *
    * @return one row per channel: (channel, p_full, p_removed,
    *         removal_effect), effect 6-rounded */
  def markovRemovalEffect(df: DataFrame, userCol: String, tsCol: String,
                          channelCol: String, convEvent: String,
                          iters: Int = 8,
                          maxChannels: Int = 12): DataFrame = Persisted { scope =>
    require(iters >= 1 && iters <= 64, "iters must be in 1..64")
    require(maxChannels >= 1, "maxChannels must be >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    val t = F.col(tsCol).cast("long")
    val ev = df
      .where(F.col(userCol).isNotNull && t.isNotNull &&
        F.col(channelCol).isNotNull)
      .select(F.col(userCol).as("__u"), t.as("__t"),
        F.col(channelCol).cast("string").as("__ch"))
    val wU = Window.partitionBy("__u").orderBy(F.col("__t"), F.col("__ch"))
    val rn = ev.withColumn("__rn", F.row_number().over(wU).cast("long"))
    val fc = rn.where(F.col("__ch") === convEvent)
      .groupBy("__u").agg(F.min("__rn").as("__crn"))
    val nodes = rn.join(fc, Seq("__u"), "left")
      .where(F.col("__crn").isNull || F.col("__rn") <= F.col("__crn"))
      .withColumn("__node",
        F.when(F.col("__ch") === convEvent, F.lit("__conv"))
          .otherwise(F.col("__ch")))
    val wN = Window.partitionBy("__u").orderBy("__rn")
    val mx = nodes.groupBy("__u").agg(F.max("__rn").as("__mrn"),
      F.max((F.col("__node") === "__conv").cast("int")).as("__cv"))
    val seqPairs = nodes.select(
      F.coalesce(F.lag("__node", 1).over(wN), F.lit("__start"))
        .as("src"),
      F.col("__node").as("dst"))
    val endPairs = nodes.join(mx, "__u")
      .where(F.col("__rn") === F.col("__mrn") && F.col("__cv") === 0)
      .select(F.col("__node").as("src"), F.lit("__null").as("dst"))
    val cnt = scope.checkpoint(seqPairs.unionByName(endPairs)
      .groupBy("src", "dst").agg(F.count(F.lit(1)).as("c")))
    val nCh = cnt.where(F.col("src") =!= "__start")
      .select("src").distinct().count()
    require(nCh >= 1L, "no channel transitions found")
    require(nCh <= maxChannels,
      s"$nCh channels: markovRemovalEffect is a bounded-state " +
        s"attribution (<= $maxChannels); bucket channels upstream")
    val outc = cnt.groupBy("src").agg(F.sum("c").as("o"))
    val tr = cnt.join(outc, "src")
      .select(F.col("src"), F.col("dst"),
        (F.col("c").cast("double") / F.col("o")).as("tp"))
      .collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getDouble(2)))
      .toMap
    val channels = tr.keys.map(_._1).filter(_ != "__start")
      .toSeq.distinct.sorted
    val states = "__start" +: channels
    def r9(x: Double) = math.rint(x * 1e9) / 1e9
    def absorb(removed: String): Double = {
      var p = states.map(_ -> 0.0).toMap
      var k = 0
      while (k < iters) {
        p = states.map { i =>
          val tconv = tr.getOrElse((i, "__conv"), 0.0)
          // ordered fold over the channel targets, removed one skipped
          // (zero-contribution) — list_sum(list(... ORDER BY dst)) in
          // the replay
          val sum = channels.foldLeft(0.0) { (acc, j) =>
            if (j == removed) acc
            else acc + tr.getOrElse((i, j), 0.0) * p(j)
          }
          i -> r9(tconv + sum)
        }.toMap
        k += 1
      }
      p("__start")
    }
    val pFull = absorb("__none")
    require(pFull > 0.0,
      s"no conversion '$convEvent' reachable from __start")
    channels.map { c =>
      val pr = absorb(c)
      (c, pFull, pr, math.rint((1.0 - pr / pFull) * 1e6) / 1e6)
    }.toDF("channel", "p_full", "p_removed", "removal_effect")
  }
}
