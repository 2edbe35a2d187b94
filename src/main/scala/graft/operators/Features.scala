package graft.operators

import org.apache.spark.sql.{Column, DataFrame, functions => F}
import org.apache.spark.sql.expressions.Window

/** Time-window feature engineering over an event stream — the
  * "behavioral features per key" layer between raw events and a model
  * table: how many events, how much value, in the trailing N time
  * units, as of each event. Everything rides windows PARTITIONED BY
  * KEY with RANGE frames on the (numeric) time column — one shuffle on
  * the key serves every requested horizon; no self-joins, no global
  * window, no state beyond a key's in-frame rows.
  */
object Features {

  /** Trailing-window aggregates per key: for each row and each horizon
    * `w` in `windows` (same unit as `tsCol`, which must be numeric —
    * the repo's event tables carry epoch-nanos BIGINT), appends
    *
    *   rolling_cnt_<i>  = events in [ts − w, ts],
    *   rolling_sum_<i>  = Σ value over the same frame (null values
    *                      count toward cnt but not sum — Spark/SQL agg
    *                      semantics, identical in external engines).
    *
    * The current row is INCLUDED (as-of semantics: a feature computed
    * at serving time knows about the triggering event). Horizons are
    * indexed, not value-named, so callers can pass unit-converted
    * horizons without generating unwieldy column names.
    */
  def rollingAggregates(df: DataFrame, keyCol: String, tsCol: String,
                        valueCol: String,
                        windows: Seq[Long]): DataFrame = {
    require(windows.nonEmpty, "need at least one window length")
    require(windows.forall(_ > 0), "window lengths must be positive")
    val base = Window.partitionBy(F.col(keyCol)).orderBy(F.col(tsCol))
    windows.zipWithIndex.foldLeft(df) { case (acc, (w, i)) =>
      val frame = base.rangeBetween(-w, 0)
      acc
        .withColumn(s"rolling_cnt_$i",
          F.count(F.lit(1)).over(frame))
        .withColumn(s"rolling_sum_$i",
          F.sum(F.col(valueCol)).over(frame))
    }
  }

  /** Target (mean) encoding of a categorical column with the two
    * standard leakage defenses:
    *
    *   te_smooth = (Σy_cat + m·ȳ) / (n_cat + m)   (m-estimate toward
    *               the global prior — rare categories shrink to ȳ),
    *   te_loo    = (Σy_cat − yᵢ) / (n_cat − 1)    (leave-one-out: the
    *               row's own label never leaks into its feature; null
    *               for singleton categories).
    *
    * ONE aggregation builds the category table (cardinality-sized);
    * it broadcasts back onto the rows — no row shuffle. The global
    * prior is one scalar aggregate.
    *
    * @return input + (te_smooth, te_loo), rounded to 6 */
  def targetEncode(df: DataFrame, catCol: String, labelCol: String,
                   smoothing: Double = 20.0): DataFrame = {
    require(smoothing >= 0.0, "smoothing must be >= 0")
    val y = F.col(labelCol).cast("double")
    val prior = df.where(y.isNotNull && !F.isnan(y))
      .agg(F.avg(y)).head().getDouble(0)
    val cats = df.where(y.isNotNull && !F.isnan(y))
      .groupBy(F.col(catCol).as("__cat"))
      .agg(F.count(F.lit(1)).as("__cn"), F.sum(y).as("__cs"))
    df.join(F.broadcast(cats), F.col(catCol) === F.col("__cat"), "left")
      .withColumn("te_smooth", F.round(
        (F.coalesce(F.col("__cs"), F.lit(0.0)) + smoothing * prior) /
          (F.coalesce(F.col("__cn"), F.lit(0L)) + smoothing), 6))
      .withColumn("te_loo",
        F.when(F.col("__cn") > 1L && y.isNotNull && !F.isnan(y), F.round(
          (F.col("__cs") - y) / (F.col("__cn") - 1L), 6)))
      .drop("__cat", "__cn", "__cs")
  }

  /** Exponentially weighted moving average per key — the standard
    * smoothing/decay feature (activity level, drift-tolerant baseline):
    *
    *   ewma₁ = x₁,   ewmaᵢ = α·xᵢ + (1−α)·ewmaᵢ₋₁
    *
    * ordered by (tsCol, tieBreakCols) within each key. A recurrence
    * can't ride a window frame (and the Σα(1−α)^(i−j) cumsum trick
    * overflows past ~10⁴ rows per key), so this uses the classic
    * secondary-sort shape: repartition ON THE KEY, sort within
    * partitions by (key, ts, ties), then ONE streaming pass per
    * partition carrying a single (key, ewma) register — no per-key
    * buffering, any events-per-key cardinality. Null/NaN values emit a
    * null ewma and leave the state untouched.
    *
    * @return input + `ewma` column */
  def ewmaByKey(df: DataFrame, keyCol: String, tsCol: String,
                valueCol: String, alpha: Double,
                tieBreakCols: Seq[String] = Nil): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, "alpha must be in (0, 1]")
    val sorted = df
      .repartition(F.col(keyCol))
      .sortWithinPartitions(
        (keyCol +: tsCol +: tieBreakCols).map(F.col): _*)
    val schema = sorted.schema
      .add("ewma", org.apache.spark.sql.types.DoubleType)
    val keyIdx = sorted.schema.fieldIndex(keyCol)
    val valIdx = sorted.schema.fieldIndex(valueCol)
    // Row-level scan (mapPartitions on the Row RDD keeps the sort)
    val rowRdd = sorted.rdd.mapPartitions { it =>
      var curKey: Any = null
      var haveKey = false
      var state = 0.0
      var haveState = false
      it.map { row =>
        val k = row.get(keyIdx)
        if (!haveKey || k != curKey) {
          curKey = k; haveKey = true; haveState = false
        }
        val raw = row.get(valIdx)
        val v: java.lang.Double = raw match {
          case null => null
          case n: Number =>
            val d = n.doubleValue()
            if (java.lang.Double.isNaN(d)) null else Double.box(d)
          case _ => null
        }
        val e: Any =
          if (v == null) null
          else {
            state = if (haveState) alpha * v + (1.0 - alpha) * state else v.toDouble
            haveState = true
            state
          }
        org.apache.spark.sql.Row.fromSeq(row.toSeq :+ e)
      }
    }
    df.sparkSession.createDataFrame(rowRdd, schema)
  }

  /** Autocorrelation function per key at lags 1..`maxLag` — the
    * seasonality/momentum diagnostic over each key's event series
    * ("is this metric mean-reverting or trending per tenant?"):
    *
    *   acf_ℓ = Σᵢ (xᵢ−x̄)(xᵢ₋ℓ−x̄) / Σᵢ (xᵢ−x̄)²
    *
    * (the standard full-series-denominator estimator) over the key's
    * rows ordered by (tsCol, tieBreakCols). One shuffle on the key
    * serves every lag: the mean rides an unordered per-key window, the
    * lagged deviations are `maxLag` lag windows over the same sort,
    * and ONE aggregation folds all numerators. Keys with zero variance
    * (or fewer than ℓ+1 rows) yield null at that lag.
    *
    * @return one row per key: (keyCol, n, acf_1..acf_maxLag),
    *         rounded to 6 */
  def acfByKey(df: DataFrame, keyCol: String, tsCol: String,
               valueCol: String, maxLag: Int,
               tieBreakCols: Seq[String] = Nil): DataFrame = {
    require(maxLag >= 1 && maxLag <= 100, "maxLag must be in 1..100")
    val v = F.col(valueCol).cast("double")
    val base = df
      .where(v.isNotNull && !F.isnan(v) && F.col(tsCol).isNotNull)
      .select(Seq(F.col(keyCol), F.col(tsCol)) ++
        tieBreakCols.map(F.col) :+ v.as("__x"): _*)
    val wAll = Window.partitionBy(F.col(keyCol))
    val wOrd = Window.partitionBy(F.col(keyCol))
      .orderBy(F.col(tsCol) +: tieBreakCols.map(F.col): _*)
    var cur = base
      .withColumn("__mu", F.avg("__x").over(wAll))
      .withColumn("__d", F.col("__x") - F.col("__mu"))
    (1 to maxLag).foreach { l =>
      cur = cur.withColumn(s"__dl$l", F.lag("__d", l).over(wOrd))
    }
    val aggs = Seq(
      F.count(F.lit(1)).as("n"),
      F.sum(F.col("__d") * F.col("__d")).as("__ss")) ++
      (1 to maxLag).map(l =>
        F.sum(F.col("__d") * F.col(s"__dl$l")).as(s"__sl$l"))
    cur.groupBy(F.col(keyCol)).agg(aggs.head, aggs.tail: _*)
      .select(Seq(F.col(keyCol), F.col("n")) ++
        (1 to maxLag).map(l => F.when(F.col("__ss") > 0.0,
          F.round(F.col(s"__sl$l") / F.col("__ss"), 6)).as(s"acf_$l")): _*)
  }

  /** Partial autocorrelation (lags 1–3) per key — "is the lag-2
    * dependence REAL or just lag-1 twice": the Durbin–Levinson
    * recursion unrolled in closed form over the same centered-lag
    * sums as [[acfByKey]] (ρ_l = Σ d·d_{-l} / Σ d²):
    *
    *   φ₁₁ = ρ₁,
    *   φ₂₂ = (ρ₂ − ρ₁²)/(1 − ρ₁²),
    *   φ₂₁ = ρ₁(1 − φ₂₂),
    *   φ₃₃ = (ρ₃ − φ₂₁ρ₂ − φ₂₂ρ₁)/(1 − φ₂₁ρ₁ − φ₂₂ρ₂)
    *
    * — the AR-order chooser (PACF cuts off at p for an AR(p)). ONE
    * window pass + one aggregation per key; lags where a recursion
    * denominator degenerates to ≤ 0 come back null.
    *
    * @return one row per key: (keyCol, n, pacf_1, pacf_2, pacf_3) */
  def pacfByKey(df: DataFrame, keyCol: String, tsCol: String,
                valueCol: String,
                tieBreakCols: Seq[String] = Nil): DataFrame = {
    val v = F.col(valueCol).cast("double")
    val base = df
      .where(v.isNotNull && !F.isnan(v) && F.col(tsCol).isNotNull)
      .select(Seq(F.col(keyCol), F.col(tsCol)) ++
        tieBreakCols.map(F.col) :+ v.as("__x"): _*)
    val wAll = Window.partitionBy(F.col(keyCol))
    val wOrd = Window.partitionBy(F.col(keyCol))
      .orderBy(F.col(tsCol) +: tieBreakCols.map(F.col): _*)
    var cur = base
      .withColumn("__mu", F.avg("__x").over(wAll))
      .withColumn("__d", F.col("__x") - F.col("__mu"))
    (1 to 3).foreach { l =>
      cur = cur.withColumn(s"__dl$l", F.lag("__d", l).over(wOrd))
    }
    val agged = cur.groupBy(F.col(keyCol)).agg(
      F.count(F.lit(1)).as("n"),
      F.sum(F.col("__d") * F.col("__d")).as("__ss"),
      F.sum(F.col("__d") * F.col("__dl1")).as("__s1"),
      F.sum(F.col("__d") * F.col("__dl2")).as("__s2"),
      F.sum(F.col("__d") * F.col("__dl3")).as("__s3"))
    val r1 = F.col("__s1") / F.col("__ss")
    val r2 = F.col("__s2") / F.col("__ss")
    val r3 = F.col("__s3") / F.col("__ss")
    val den2 = F.lit(1.0) - r1 * r1
    val p2 = (r2 - r1 * r1) / den2
    val p21 = r1 * (F.lit(1.0) - p2)
    val den3 = F.lit(1.0) - p21 * r1 - p2 * r2
    val p3 = (r3 - p21 * r2 - p2 * r1) / den3
    agged
      .where(F.col("__ss") > 0.0)
      .select(F.col(keyCol), F.col("n"),
        F.round(r1, 6).as("pacf_1"),
        F.when(den2 > 0.0, F.round(p2, 6)).as("pacf_2"),
        F.when(den2 > 0.0 && F.abs(den3) > 0.0, F.round(p3, 6))
          .as("pacf_3"))
  }

  /** Shared scaffold for the AR(p) estimators: DECIMAL-exact period
    * means per (key, period) (the [[holtByKey]] determinism trick),
    * per-key mean/deviation, p lag columns over the period order, and
    * ONE aggregation of the centered-lag sums c_ℓ = Σ d·d₋ℓ plus the
    * LAST p deviations (max_by over the period) for the one-step
    * forecast. Returns (key, n, mu, ss, s1..sp, e0..e{p−1}). */
  private def arSums(df: DataFrame, keyCol: String, tsCol: String,
                     valueCol: String, periodUnit: Long,
                     p: Int): DataFrame = {
    require(p >= 1 && p <= 3, "AR order p must be in 1..3")
    require(periodUnit > 0L, "periodUnit must be positive")
    val v = F.col(valueCol).cast("double")
    val t = F.col(tsCol).cast("long")
    val cells = df
      .where(F.col(keyCol).isNotNull && t.isNotNull && v.isNotNull &&
        !F.isnan(v))
      .groupBy(F.col(keyCol).as("__k"),
        F.expr(s"CAST(`$tsCol` AS BIGINT) DIV $periodUnit").as("__p"))
      .agg((F.sum(v.cast("decimal(38,6)")).cast("double") /
        F.count(F.lit(1))).as("__v"))
    val wAll = Window.partitionBy("__k")
    val wOrd = Window.partitionBy("__k").orderBy("__p")
    var cur = cells
      .withColumn("__mu", F.avg("__v").over(wAll))
      .withColumn("__d", F.col("__v") - F.col("__mu"))
    (1 to p).foreach { l =>
      cur = cur.withColumn(s"__dl$l", F.lag("__d", l).over(wOrd))
    }
    val aggs = Seq(
      F.count(F.lit(1)).as("n"),
      F.max(F.col("__mu")).as("mu"),
      F.sum(F.col("__d") * F.col("__d")).as("ss")) ++
      (1 to p).map(l =>
        F.sum(F.col("__d") * F.col(s"__dl$l")).as(s"s$l")) ++
      (0 until p).map(j =>
        F.max_by(if (j == 0) F.col("__d") else F.col(s"__dl$j"),
          F.col("__p")).as(s"e$j"))
    cur.groupBy("__k").agg(aggs.head, aggs.tail: _*)
  }

  /** Yule–Walker closed forms over the [[arSums]] columns: the φ
    * columns for order p and the keep-predicate that excludes keys
    * whose Toeplitz system is numerically singular. */
  private def ywPhis(p: Int): (Seq[Column], Column) = {
    def rho(l: Int): Column = F.col(s"s$l") / F.col("ss")
    p match {
      case 1 => (Seq(rho(1)), F.lit(true))
      case 2 =>
        val r1 = rho(1); val r2 = rho(2)
        val den = F.lit(1.0) - r1 * r1
        (Seq(r1 * (F.lit(1.0) - r2) / den, (r2 - r1 * r1) / den),
          F.abs(den) > 1e-12)
      case _ =>
        val r1 = rho(1); val r2 = rho(2); val r3 = rho(3)
        // det of [[1,r1,r2],[r1,1,r1],[r2,r1,1]] and Cramer numerators
        val det = (F.lit(1.0) - r1 * r1) - r1 * (r1 - r1 * r2) +
          r2 * (r1 * r1 - r2)
        val n1 = r1 * (F.lit(1.0) - r1 * r1) - r1 * (r2 - r1 * r3) +
          r2 * (r2 * r1 - r3)
        val n2 = (r2 - r1 * r3) - r1 * (r1 - r1 * r2) +
          r2 * (r1 * r3 - r2 * r2)
        val n3 = (r3 - r2 * r1) - r1 * (r1 * r3 - r2 * r2) +
          r1 * (r1 * r1 - r2)
        (Seq(n1 / det, n2 / det, n3 / det), F.abs(det) > 1e-12)
    }
  }

  /** AR(p) fit per key via Yule–Walker closed forms, p ≤ 3 — the
    * parametric rung above [[holtByKey]] that [[pacfByKey]]'s order
    * chooser points at. Over DECIMAL-exact period means (one bounded
    * point per (key, period)), solve the p×p Toeplitz system
    * R·φ = ρ with ρ_ℓ = c_ℓ/c₀ the same full-denominator estimator as
    * [[acfByKey]]: φ₁ = ρ₁ for p = 1, the standard 2×2 forms for
    * p = 2, Cramer's rule for p = 3 — all plain column arithmetic, so
    * the whole fit replays in SQL from the lag sums. Innovation
    * variance σ² = c₀(1 − Σ φ_ℓ ρ_ℓ); one-step-ahead forecast
    * x̂_{n+1} = x̄ + Σ φ_ℓ (x_{n+1−ℓ} − x̄) from the last p deviations
    * (max_by over the period — no second window pass).
    *
    * ONE key shuffle serves the mean window, the lag windows and the
    * final fold; per-key state is the PERIOD frame, bounded by the
    * time span, never row count. Keys with fewer than p+2 periods,
    * zero variance, or a (numerically) singular Toeplitz system are
    * omitted.
    *
    * @return one row per key: (keyCol, n_periods, mean, phi_1..phi_p,
    *         sigma2, forecast), doubles rounded to 6 */
  def arFitByKey(df: DataFrame, keyCol: String, tsCol: String,
                 valueCol: String, periodUnit: Long,
                 p: Int): DataFrame = {
    val sums = arSums(df, keyCol, tsCol, valueCol, periodUnit, p)
      .where(F.col("n") >= (p + 2).toLong && F.col("ss") > 0.0)
    val c0 = F.col("ss") / F.col("n")
    def rho(l: Int): Column = F.col(s"s$l") / F.col("ss")
    val (phis, keep) = ywPhis(p)
    val sigma2 = c0 * (F.lit(1.0) -
      phis.zipWithIndex.map { case (ph, i) => ph * rho(i + 1) }
        .reduce(_ + _))
    val forecast = F.col("mu") +
      phis.zipWithIndex.map { case (ph, j) => ph * F.col(s"e$j") }
        .reduce(_ + _)
    sums.where(keep)
      .select(Seq(F.col("__k").as(keyCol), F.col("n").as("n_periods"),
        F.round(F.col("mu"), 6).as("mean")) ++
        phis.zipWithIndex.map { case (ph, i) =>
          F.round(ph, 6).as(s"phi_${i + 1}") } ++
        Seq(F.round(sigma2, 6).as("sigma2"),
          F.round(forecast, 6).as("forecast")): _*)
  }

  /** In-sample one-step AR(p) predictions per (key, period) — the
    * long-form companion to [[arFitByKey]] that
    * [[forecastAccuracyByKey]] scores against Holt and seasonal-naive:
    * fitted_t = x̄ + Σ φ_ℓ (x_{t−ℓ} − x̄) with the UNROUNDED Yule–Walker
    * φ from the same sums (fitted null for the first p periods of a
    * key). The per-key coefficient row joins back to the period frame
    * on the key — both sides already partitioned by it.
    *
    * @return one row per (key, period): (keyCol, period, v, fitted),
    *         doubles rounded to 6 (v is the exact period mean) */
  def arFittedByKey(df: DataFrame, keyCol: String, tsCol: String,
                    valueCol: String, periodUnit: Long,
                    p: Int): DataFrame = {
    require(p >= 1 && p <= 3, "AR order p must be in 1..3")
    val v = F.col(valueCol).cast("double")
    val t = F.col(tsCol).cast("long")
    val cells = df
      .where(F.col(keyCol).isNotNull && t.isNotNull && v.isNotNull &&
        !F.isnan(v))
      .groupBy(F.col(keyCol).as("__k"),
        F.expr(s"CAST(`$tsCol` AS BIGINT) DIV $periodUnit").as("__p"))
      .agg((F.sum(v.cast("decimal(38,6)")).cast("double") /
        F.count(F.lit(1))).as("__v"))
    val sums = arSums(df, keyCol, tsCol, valueCol, periodUnit, p)
      .where(F.col("n") >= (p + 2).toLong && F.col("ss") > 0.0)
    val (phis, keep) = ywPhis(p)
    val coef = sums.where(keep)
      .select(Seq(F.col("__k"), F.col("mu")) ++
        phis.zipWithIndex.map { case (ph, i) => ph.as(s"__phi${i + 1}") }: _*)
    val wOrd = Window.partitionBy("__k").orderBy("__p")
    var cur = cells.join(coef, "__k")
      .withColumn("__d", F.col("__v") - F.col("mu"))
    (1 to p).foreach { l =>
      cur = cur.withColumn(s"__dl$l", F.lag("__d", l).over(wOrd))
    }
    val lagsPresent = (1 to p).map(l => F.col(s"__dl$l").isNotNull)
      .reduce(_ && _)
    val fitted = F.col("mu") +
      (1 to p).map(l => F.col(s"__phi$l") * F.col(s"__dl$l"))
        .reduce(_ + _)
    cur.select(F.col("__k").as(keyCol), F.col("__p").as("period"),
      F.round(F.col("__v"), 6).as("v"),
      F.when(lagsPresent, F.round(fitted, 6)).as("fitted"))
  }

  /** Holt parameter auto-tuning per key — the reference's fit-and-
    * rank spirit applied to forecasting: run the level+trend
    * recurrence over a FIXED (α, β) grid per key and keep the combo
    * minimizing the in-sample one-step MAE (fitted_t uses only
    * information before t, so this IS a rolling-origin backtest for
    * exponential smoothing; ties break toward the smaller α, then β —
    * the smoother model). The per-key state is |grid| × the period
    * frame, still span-bounded; the trajectory of every combo replays
    * as ONE recursive CTE keyed by (key, α, β).
    *
    * @return one row per key: (keyCol, n_periods, alpha, beta, mae) */
  def holtTuneByKey(df: DataFrame, keyCol: String, tsCol: String,
                    valueCol: String, periodUnit: Long,
                    alphas: Seq[Double] = Seq(0.1, 0.3, 0.5, 0.7, 0.9),
                    betas: Seq[Double] = Seq(0.0, 0.1, 0.3)): DataFrame = {
    require(periodUnit > 0L, "periodUnit must be positive")
    require(alphas.nonEmpty && betas.nonEmpty, "empty grid")
    require(alphas.forall(a => a > 0.0 && a <= 1.0) &&
      betas.forall(b => b >= 0.0 && b <= 1.0), "grid out of range")
    val v = F.col(valueCol).cast("double")
    val t = F.col(tsCol).cast("long")
    val cells = df
      .where(F.col(keyCol).isNotNull && t.isNotNull && v.isNotNull &&
        !F.isnan(v))
      .groupBy(F.col(keyCol).as("__k"),
        F.expr(s"CAST(`$tsCol` AS BIGINT) DIV $periodUnit").as("__p"))
      .agg((F.sum(v.cast("decimal(38,6)")).cast("double") /
        F.count(F.lit(1))).as("__v"))
    val grid = for { a <- alphas; b <- betas } yield (a, b)
    val tuneUdf = F.udf((s: Seq[org.apache.spark.sql.Row]) => {
      val xs = s.map(_.getDouble(1))
      var bestA = 0.0; var bestB = 0.0
      var bestMae = Double.MaxValue
      grid.foreach { case (a, bb) =>
        var l = 0.0; var b = 0.0; var sae = 0.0; var cnt = 0L
        xs.zipWithIndex.foreach { case (x, i) =>
          if (i == 0) { l = x; b = 0.0 }
          else {
            sae += math.abs(x - (l + b))
            cnt += 1L
            val lPrev = l
            l = a * x + (1.0 - a) * (lPrev + b)
            b = bb * (l - lPrev) + (1.0 - bb) * b
          }
        }
        if (cnt > 0L) {
          val mae = math.rint(sae / cnt * 1e6) / 1e6
          // strict < keeps the FIRST grid entry on ties; the grid
          // iterates alphas ascending then betas ascending
          if (mae < bestMae) { bestMae = mae; bestA = a; bestB = bb }
        }
      }
      (bestA, bestB, bestMae)
    })
    cells
      .groupBy("__k")
      .agg(F.count(F.lit(1)).as("n_periods"),
        F.sort_array(F.collect_list(F.struct(F.col("__p"),
          F.col("__v")))).as("__s"))
      .where(F.col("n_periods") >= 3L)
      .withColumn("__t", tuneUdf(F.col("__s")))
      .select(F.col("__k").as(keyCol), F.col("n_periods"),
        F.col("__t._1").as("alpha"), F.col("__t._2").as("beta"),
        F.col("__t._3").as("mae"))
  }

  /** ARMA(1,1) per key by the Hannan–Rissanen two-stage closed form —
    * the moving-average rung [[arFitByKey]] stops short of (an AR fit
    * leaves MA structure in its residuals; HR recovers it without
    * iterative likelihood): stage 1 fits AR(1) by Yule–Walker and
    * takes its residuals ê_t = d_t − φ₀d_{t−1} at the 6-ROUNDED φ₀;
    * stage 2 regresses d_t on (d_{t−1}, ê_{t−1}) — a 2×2
    * no-intercept normal-equation solve on centered data:
    *
    *   φ = (S₁ᵧS₂₂ − S₂ᵧS₁₂)/det,  θ = (S₂ᵧS₁₁ − S₁ᵧS₁₂)/det,
    *   σ² from the same moments at the ROUNDED (φ, θ)
    *
    * so the whole fit is lag windows + per-key sums over the
    * decimal-exact PERIOD cells (bounded by the span, never rows) and
    * replays step-for-step. Keys with n₂ < 4, zero variance, or a
    * singular stage-2 Gram are omitted.
    *
    * @return one row per key: (keyCol, n_periods, mean, phi_init,
    *         phi, theta, sigma2), doubles rounded to 6 */
  def armaByKey(df: DataFrame, keyCol: String, tsCol: String,
                valueCol: String, periodUnit: Long): DataFrame = {
    require(periodUnit > 0L, "periodUnit must be positive")
    val v = F.col(valueCol).cast("double")
    val t = F.col(tsCol).cast("long")
    val cells = df
      .where(F.col(keyCol).isNotNull && t.isNotNull && v.isNotNull &&
        !F.isnan(v))
      .groupBy(F.col(keyCol).as("__k"),
        F.expr(s"CAST(`$tsCol` AS BIGINT) DIV $periodUnit").as("__p"))
      .agg((F.sum(v.cast("decimal(38,6)")).cast("double") /
        F.count(F.lit(1))).as("__v"))
    val wAll = Window.partitionBy("__k")
    val wOrd = Window.partitionBy("__k").orderBy("__p")
    val base = cells
      .withColumn("__mu", F.avg("__v").over(wAll))
      .withColumn("__d", F.col("__v") - F.col("__mu"))
      .withColumn("__dl1", F.lag("__d", 1).over(wOrd))
    val st1 = base.groupBy("__k").agg(
      F.count(F.lit(1)).as("n"), F.max("__mu").as("mu"),
      F.sum(F.col("__d") * F.col("__d")).as("ss"),
      F.sum(F.col("__d") * F.col("__dl1")).as("s1"))
      .where(F.col("n") >= 5L && F.col("ss") > 0.0)
      .withColumn("phi0", F.round(F.col("s1") / F.col("ss"), 6))
      .select("__k", "n", "mu", "phi0")
    val withE = base.join(st1, "__k")
      .withColumn("__e", F.when(F.col("__dl1").isNotNull,
        F.col("__d") - F.col("phi0") * F.col("__dl1")))
      .withColumn("__el1", F.lag("__e", 1).over(wOrd))
    val st2 = withE
      .where(F.col("__dl1").isNotNull && F.col("__el1").isNotNull)
      .groupBy("__k").agg(
        F.count(F.lit(1)).as("n2"),
        F.sum(F.col("__dl1") * F.col("__dl1")).as("s11"),
        F.sum(F.col("__dl1") * F.col("__el1")).as("s12"),
        F.sum(F.col("__el1") * F.col("__el1")).as("s22"),
        F.sum(F.col("__dl1") * F.col("__d")).as("s1y"),
        F.sum(F.col("__el1") * F.col("__d")).as("s2y"),
        F.sum(F.col("__d") * F.col("__d")).as("syy"))
      .withColumn("det",
        F.col("s11") * F.col("s22") - F.col("s12") * F.col("s12"))
      .where(F.col("n2") >= 4L && F.col("det") > 0.0)
      .withColumn("phi", F.round(
        (F.col("s1y") * F.col("s22") - F.col("s2y") * F.col("s12")) /
          F.col("det"), 6))
      .withColumn("theta", F.round(
        (F.col("s2y") * F.col("s11") - F.col("s1y") * F.col("s12")) /
          F.col("det"), 6))
    val phi = F.col("phi"); val theta = F.col("theta")
    val sigma2 = (F.col("syy") -
      F.lit(2.0) * phi * F.col("s1y") -
      F.lit(2.0) * theta * F.col("s2y") +
      phi * phi * F.col("s11") +
      F.lit(2.0) * phi * theta * F.col("s12") +
      theta * theta * F.col("s22")) / F.col("n2")
    st2.join(st1, "__k")
      .select(F.col("__k").as(keyCol), F.col("n").as("n_periods"),
        F.round(F.col("mu"), 6).as("mean"),
        F.col("phi0").as("phi_init"), F.col("phi"), F.col("theta"),
        F.round(sigma2, 6).as("sigma2"))
  }

  /** GARCH(1,1) conditional-variance per key by a DETERMINISTIC
    * fixed-grid profile fit — the volatility rung [[armaByKey]] stops
    * short of (ARMA models the MEAN; incident/latency telemetry
    * clusters its VARIANCE, and "is the process volatility-persistent"
    * is a different question from "is the level trending").
    *
    * Per key the demeaned period cells d_t (6-rounded mean, decimal-
    * exact cells) drive the textbook recursion with variance targeting
    * — ω is implied by the sample variance, ω = σ̄²(1−α−β), so the grid
    * is 2-D and every combo is automatically stationary:
    *
    *   σ²_1 = σ̄²,   σ²_t = ω + α·d²_{t−1} + β·σ²_{t−1}
    *
    * scored by the Gaussian quasi-log-likelihood Σ_{t≥2} −½(ln σ²_t +
    * d²_t/σ²_t), 6-rounded; ties keep the FIRST grid entry (α asc, β
    * asc). Like [[holtTuneByKey]], the per-key state is the span-
    * bounded period frame × |grid|, the whole trajectory replays as ONE
    * recursive CTE keyed by (key, α, β), and no row-scale data ever
    * reaches the driver.
    *
    * @return one row per key: (keyCol, n_periods, mean, var0, alpha,
    *         beta, omega, loglik) — var0 the targeted unconditional
    *         variance, loglik the winning rounded score */
  def garchByKey(df: DataFrame, keyCol: String, tsCol: String,
                 valueCol: String, periodUnit: Long,
                 alphas: Seq[Double] = Seq(0.05, 0.1, 0.2),
                 betas: Seq[Double] = Seq(0.5, 0.65, 0.75)): DataFrame = {
    require(periodUnit > 0L, "periodUnit must be positive")
    require(alphas.nonEmpty && betas.nonEmpty, "empty grid")
    require(alphas.forall(_ > 0.0) && betas.forall(_ >= 0.0),
      "alpha must be > 0 and beta >= 0")
    require(alphas.max + betas.max < 1.0,
      "grid must keep alpha + beta < 1 (stationarity / variance targeting)")
    val v = F.col(valueCol).cast("double")
    val t = F.col(tsCol).cast("long")
    val cells = df
      .where(F.col(keyCol).isNotNull && t.isNotNull && v.isNotNull &&
        !F.isnan(v))
      .groupBy(F.col(keyCol).as("__k"),
        F.expr(s"CAST(`$tsCol` AS BIGINT) DIV $periodUnit").as("__p"))
      .agg((F.sum(v.cast("decimal(38,6)")).cast("double") /
        F.count(F.lit(1))).as("__v"))
    val st = cells.groupBy("__k")
      .agg(F.count(F.lit(1)).as("n_periods"),
        F.round(F.sum(F.col("__v").cast("decimal(38,6)")).cast("double") /
          F.count(F.lit(1)), 6).as("__mu"))
      .where(F.col("n_periods") >= 5L)
    val dx = cells.join(st, "__k")
      .withColumn("__d", F.col("__v") - F.col("__mu"))
    // σ̄² folded as decimals so ω is a pure function of rounded scalars
    val vb = dx.groupBy("__k")
      .agg(F.round(
        F.sum((F.col("__d") * F.col("__d")).cast("decimal(38,12)"))
          .cast("double") / F.count(F.lit(1)), 6).as("var0"))
      .where(F.col("var0") > 0.0)
    val grid = for { a <- alphas; b <- betas } yield (a, b)
    val fitUdf = F.udf((s: Seq[org.apache.spark.sql.Row], vbar: Double) => {
      val ds = s.map(_.getDouble(1)).toArray
      var bestA = 0.0; var bestB = 0.0
      var bestLl = Double.NegativeInfinity
      grid.foreach { case (a, b) =>
        val om = vbar * (1.0 - a - b)
        var s2 = vbar; var ll = 0.0; var i = 1
        while (i < ds.length) {
          s2 = om + a * ds(i - 1) * ds(i - 1) + b * s2
          ll = ll - 0.5 * (math.log(s2) + ds(i) * ds(i) / s2)
          i += 1
        }
        val llr = math.rint(ll * 1e6) / 1e6
        // strict > keeps the FIRST grid entry on ties (α asc, β asc)
        if (llr > bestLl) { bestLl = llr; bestA = a; bestB = b }
      }
      (bestA, bestB,
        math.rint(vbar * (1.0 - bestA - bestB) * 1e6) / 1e6, bestLl)
    })
    dx.groupBy("__k")
      .agg(F.sort_array(F.collect_list(F.struct(F.col("__p"),
        F.col("__d")))).as("__s"))
      .join(st, "__k").join(vb, "__k")
      .withColumn("__g", fitUdf(F.col("__s"), F.col("var0")))
      .select(F.col("__k").as(keyCol), F.col("n_periods"),
        F.col("__mu").as("mean"), F.col("var0"),
        F.col("__g._1").as("alpha"), F.col("__g._2").as("beta"),
        F.col("__g._3").as("omega"), F.col("__g._4").as("loglik"))
  }

  /** h-step conditional-variance forecast from [[garchByKey]]'s winning
    * grid combo — the projection rung (what hwForecastByKey is to
    * holtWintersByKey): re-run the winning (α, β) recursion to the last
    * state, take the one-step variance σ²_{n+1} = ω + α·d_n² + β·σ²_n,
    * and decay toward the targeted unconditional variance,
    *
    *   σ̂²_{n+h} = σ̄² + (α+β)^{h−1} · (σ²_{n+1} − σ̄²)
    *
    * (the textbook GARCH(1,1) forecast recursion in closed form). The
    * winner is chosen exactly as in garchByKey (rounded quasi-ll,
    * first-entry ties), so the two queries agree on (α, β) by
    * construction; forecasts 6-rounded.
    *
    * @return one row per (key, h): (keyCol, h, alpha, beta,
    *         var_forecast) */
  def garchForecastByKey(df: DataFrame, keyCol: String, tsCol: String,
                         valueCol: String, periodUnit: Long,
                         alphas: Seq[Double] = Seq(0.05, 0.1, 0.2),
                         betas: Seq[Double] = Seq(0.5, 0.65, 0.75),
                         horizon: Int = 14): DataFrame = {
    require(periodUnit > 0L, "periodUnit must be positive")
    require(horizon >= 1 && horizon <= 365, "horizon must be in 1..365")
    require(alphas.nonEmpty && betas.nonEmpty, "empty grid")
    require(alphas.forall(_ > 0.0) && betas.forall(_ >= 0.0),
      "alpha must be > 0 and beta >= 0")
    require(alphas.max + betas.max < 1.0,
      "grid must keep alpha + beta < 1 (stationarity / variance targeting)")
    val v = F.col(valueCol).cast("double")
    val t = F.col(tsCol).cast("long")
    val cells = df
      .where(F.col(keyCol).isNotNull && t.isNotNull && v.isNotNull &&
        !F.isnan(v))
      .groupBy(F.col(keyCol).as("__k"),
        F.expr(s"CAST(`$tsCol` AS BIGINT) DIV $periodUnit").as("__p"))
      .agg((F.sum(v.cast("decimal(38,6)")).cast("double") /
        F.count(F.lit(1))).as("__v"))
    val st = cells.groupBy("__k")
      .agg(F.count(F.lit(1)).as("n_periods"),
        F.round(F.sum(F.col("__v").cast("decimal(38,6)")).cast("double") /
          F.count(F.lit(1)), 6).as("__mu"))
      .where(F.col("n_periods") >= 5L)
    val dx = cells.join(st, "__k")
      .withColumn("__d", F.col("__v") - F.col("__mu"))
    val vb = dx.groupBy("__k")
      .agg(F.round(
        F.sum((F.col("__d") * F.col("__d")).cast("decimal(38,12)"))
          .cast("double") / F.count(F.lit(1)), 6).as("var0"))
      .where(F.col("var0") > 0.0)
    val grid = for { a <- alphas; b <- betas } yield (a, b)
    val stateUdf = F.udf((s: Seq[org.apache.spark.sql.Row], vbar: Double) => {
      val ds = s.map(_.getDouble(1)).toArray
      var bestA = 0.0; var bestB = 0.0
      var bestLl = Double.NegativeInfinity; var bestNext = vbar
      grid.foreach { case (a, b) =>
        val om = vbar * (1.0 - a - b)
        var s2 = vbar; var ll = 0.0; var i = 1
        while (i < ds.length) {
          s2 = om + a * ds(i - 1) * ds(i - 1) + b * s2
          ll = ll - 0.5 * (math.log(s2) + ds(i) * ds(i) / s2)
          i += 1
        }
        val llr = math.rint(ll * 1e6) / 1e6
        if (llr > bestLl) {
          bestLl = llr; bestA = a; bestB = b
          // one-step-ahead variance from the final state
          bestNext = om + a * ds(ds.length - 1) * ds(ds.length - 1) + b * s2
        }
      }
      (bestA, bestB, bestNext)
    })
    dx.groupBy("__k")
      .agg(F.sort_array(F.collect_list(F.struct(F.col("__p"),
        F.col("__d")))).as("__s"))
      .join(vb, "__k")
      .withColumn("__g", stateUdf(F.col("__s"), F.col("var0")))
      .select(F.col("__k"), F.col("var0"),
        F.col("__g._1").as("alpha"), F.col("__g._2").as("beta"),
        F.col("__g._3").as("__s2next"))
      .withColumn("h", F.explode(F.sequence(F.lit(1), F.lit(horizon))))
      .select(F.col("__k").as(keyCol), F.col("h"), F.col("alpha"),
        F.col("beta"),
        F.round(F.col("var0") +
          F.pow(F.col("alpha") + F.col("beta"),
            (F.col("h") - 1).cast("double")) *
            (F.col("__s2next") - F.col("var0")), 6).as("var_forecast"))
  }

  /** ARIMA(1,d,1) per key — the differencing COMPOSITION that closes
    * the loop [[adfByKey]] opens: the ADF verdict picks d, this
    * operator differences the period cells d times with lag windows,
    * fits the existing Hannan–Rissanen ARMA(1,1) closed form on the
    * differenced series (identical expression shapes to [[armaByKey]],
    * which IS the d = 0 rung), and recomposes the one-step-ahead
    * forecast back to the ORIGINAL level through the last d observed
    * values (d=1: x̂ = x_n + Δ̂; d=2: x̂ = 2x_n − x_{n−1} + Δ̂²̂).
    *
    * The forecast is a pure function of rounded scalars: centered
    * prediction μ̂ + φ(Δ_n−μ̂) + θ·ê_n at the 6-rounded (φ₀, φ, θ, μ̂),
    * with ê_n the stage-1 residual (Δ_n−μ̂) − φ₀(Δ_{n−1}−μ̂) — exactly
    * the regressor stage 2 was trained on. Lag windows + per-key sums
    * over span-bounded period cells; keys that lose too many periods
    * to differencing (n−d < 5) or have a singular stage-2 Gram are
    * omitted.
    *
    * @return one row per key: (keyCol, n_periods, d, mean, phi_init,
    *         phi, theta, sigma2, forecast) — mean/sigma2 of the
    *         DIFFERENCED series, forecast at the original level */
  def arimaByKey(df: DataFrame, keyCol: String, tsCol: String,
                 valueCol: String, periodUnit: Long,
                 d: Int = 1): DataFrame = {
    require(periodUnit > 0L, "periodUnit must be positive")
    require(d >= 0 && d <= 2, "difference order d must be 0, 1, or 2")
    val v = F.col(valueCol).cast("double")
    val t = F.col(tsCol).cast("long")
    val cells = df
      .where(F.col(keyCol).isNotNull && t.isNotNull && v.isNotNull &&
        !F.isnan(v))
      .groupBy(F.col(keyCol).as("__k"),
        F.expr(s"CAST(`$tsCol` AS BIGINT) DIV $periodUnit").as("__p"))
      .agg((F.sum(v.cast("decimal(38,6)")).cast("double") /
        F.count(F.lit(1))).as("__v"))
    val wOrd = Window.partitionBy("__k").orderBy("__p")
    val wDesc = Window.partitionBy("__k").orderBy(F.col("__p").desc)
    val nOrig = cells.groupBy("__k").agg(F.count(F.lit(1)).as("n_periods"))
    var diff = cells
    (1 to d).foreach { _ =>
      diff = diff.withColumn("__vl", F.lag("__v", 1).over(wOrd))
        .where(F.col("__vl").isNotNull)
        .withColumn("__v", F.col("__v") - F.col("__vl"))
        .drop("__vl")
    }
    val wAll = Window.partitionBy("__k")
    val base = diff
      .withColumn("__mu", F.avg("__v").over(wAll))
      .withColumn("__d", F.col("__v") - F.col("__mu"))
      .withColumn("__dl1", F.lag("__d", 1).over(wOrd))
    val st1 = base.groupBy("__k").agg(
      F.count(F.lit(1)).as("n"), F.max("__mu").as("mu"),
      F.sum(F.col("__d") * F.col("__d")).as("ss"),
      F.sum(F.col("__d") * F.col("__dl1")).as("s1"))
      .where(F.col("n") >= 5L && F.col("ss") > 0.0)
      .withColumn("phi0", F.round(F.col("s1") / F.col("ss"), 6))
      .select("__k", "n", "mu", "phi0")
    val withE = base.join(st1, "__k")
      .withColumn("__e", F.when(F.col("__dl1").isNotNull,
        F.col("__d") - F.col("phi0") * F.col("__dl1")))
      .withColumn("__el1", F.lag("__e", 1).over(wOrd))
    val st2 = withE
      .where(F.col("__dl1").isNotNull && F.col("__el1").isNotNull)
      .groupBy("__k").agg(
        F.count(F.lit(1)).as("n2"),
        F.sum(F.col("__dl1") * F.col("__dl1")).as("s11"),
        F.sum(F.col("__dl1") * F.col("__el1")).as("s12"),
        F.sum(F.col("__el1") * F.col("__el1")).as("s22"),
        F.sum(F.col("__dl1") * F.col("__d")).as("s1y"),
        F.sum(F.col("__el1") * F.col("__d")).as("s2y"),
        F.sum(F.col("__d") * F.col("__d")).as("syy"))
      .withColumn("det",
        F.col("s11") * F.col("s22") - F.col("s12") * F.col("s12"))
      .where(F.col("n2") >= 4L && F.col("det") > 0.0)
      .withColumn("phi", F.round(
        (F.col("s1y") * F.col("s22") - F.col("s2y") * F.col("s12")) /
          F.col("det"), 6))
      .withColumn("theta", F.round(
        (F.col("s2y") * F.col("s11") - F.col("s1y") * F.col("s12")) /
          F.col("det"), 6))
    val phi = F.col("phi"); val theta = F.col("theta")
    val sigma2 = (F.col("syy") -
      F.lit(2.0) * phi * F.col("s1y") -
      F.lit(2.0) * theta * F.col("s2y") +
      phi * phi * F.col("s11") +
      F.lit(2.0) * phi * theta * F.col("s12") +
      theta * theta * F.col("s22")) / F.col("n2")
    // last two DIFFERENCED values (ê_n needs Δ_{n−1}) and the last
    // d original levels for the binomial recomposition
    val lastD = diff.withColumn("__rn", F.row_number().over(wDesc))
      .where(F.col("__rn") <= 2)
      .groupBy("__k").agg(
        F.max(F.when(F.col("__rn") === 1, F.col("__v"))).as("dn"),
        F.max(F.when(F.col("__rn") === 2, F.col("__v"))).as("dn1"))
    val lastO = cells.withColumn("__rn", F.row_number().over(wDesc))
      .where(F.col("__rn") <= 2)
      .groupBy("__k").agg(
        F.max(F.when(F.col("__rn") === 1, F.col("__v"))).as("o1"),
        F.max(F.when(F.col("__rn") === 2, F.col("__v"))).as("o2"))
    val mur = F.round(F.col("mu"), 6)
    val fDiff = mur + phi * (F.col("dn") - mur) +
      theta * ((F.col("dn") - mur) - F.col("phi0") * (F.col("dn1") - mur))
    val fOrig = d match {
      case 0 => fDiff
      case 1 => F.col("o1") + fDiff
      case _ => F.lit(2.0) * F.col("o1") - F.col("o2") + fDiff
    }
    st2.join(st1, "__k").join(lastD, "__k").join(lastO, "__k")
      .join(nOrig, "__k")
      .select(F.col("__k").as(keyCol), F.col("n_periods"),
        F.lit(d).cast("int").as("d"),
        F.round(F.col("mu"), 6).as("mean"),
        F.col("phi0").as("phi_init"), phi, theta,
        F.round(sigma2, 6).as("sigma2"),
        F.round(fOrig, 6).as("forecast"))
  }

  /** SARIMA(1,d,1)(0,1,0)ₘ per key — the SEASONAL differencing rung on
    * top of [[arimaByKey]]: one seasonal difference at lag `season`
    * (the m that [[periodDetectByKey]] votes for on periodic series),
    * then `d` regular differences, then the identical Hannan–Rissanen
    * ARMA(1,1) closed form on the doubly-differenced cells. The
    * one-step forecast recomposes through BOTH differences from the
    * last observed levels: with y = (1−B)^d (1−Bᵐ) x,
    *
    *   d=0:  x̂ₙ₊₁ = ŷ + x₍ₙ₊₁₋ₘ₎
    *   d=1:  x̂ₙ₊₁ = ŷ + xₙ + x₍ₙ₊₁₋ₘ₎ − x₍ₙ₋ₘ₎
    *
    * — the binomial recomposition over the composed difference
    * operator. Same replay contract as arimaByKey: every fitted scalar
    * 6-rounded, the forecast a pure function of rounded scalars; keys
    * whose differenced series is too short (n − m − d < 5) or whose
    * stage-2 Gram is singular are omitted. Lag windows + per-key sums,
    * one key shuffle — scale-safe to arbitrary key counts.
    *
    * CONTIGUOUS-PERIOD CONTRACT (same as [[periodDetectByKey]] /
    * [[holtWintersByKey]]): the seasonal lag is taken by ROW POSITION
    * over the ordered period cells, so each key's cells must cover a
    * gap-free run of periods — a missing period silently shifts every
    * subsequent seasonal pairing by one. Keys with gaps should be
    * densified (zero/interpolation fill) upstream; the period-cell
    * aggregation itself never invents empty cells.
    *
    * @return one row per key: (keyCol, n_periods, season, d, mean,
    *         phi_init, phi, theta, sigma2, forecast) — mean/sigma2 of
    *         the doubly-differenced series, forecast at the original
    *         level */
  def sarimaByKey(df: DataFrame, keyCol: String, tsCol: String,
                  valueCol: String, periodUnit: Long, season: Int,
                  d: Int = 0): DataFrame = {
    require(periodUnit > 0L, "periodUnit must be positive")
    require(season >= 2, "season must be >= 2 periods")
    require(d >= 0 && d <= 1, "regular difference order d must be 0 or 1")
    val v = F.col(valueCol).cast("double")
    val t = F.col(tsCol).cast("long")
    val cells = df
      .where(F.col(keyCol).isNotNull && t.isNotNull && v.isNotNull &&
        !F.isnan(v))
      .groupBy(F.col(keyCol).as("__k"),
        F.expr(s"CAST(`$tsCol` AS BIGINT) DIV $periodUnit").as("__p"))
      .agg((F.sum(v.cast("decimal(38,6)")).cast("double") /
        F.count(F.lit(1))).as("__v"))
    val wOrd = Window.partitionBy("__k").orderBy("__p")
    val wDesc = Window.partitionBy("__k").orderBy(F.col("__p").desc)
    val nOrig = cells.groupBy("__k").agg(F.count(F.lit(1)).as("n_periods"))
    // one seasonal difference, then d regular differences
    var diff = cells
      .withColumn("__vl", F.lag("__v", season).over(wOrd))
      .where(F.col("__vl").isNotNull)
      .withColumn("__v", F.col("__v") - F.col("__vl"))
      .drop("__vl")
    (1 to d).foreach { _ =>
      diff = diff.withColumn("__vl", F.lag("__v", 1).over(wOrd))
        .where(F.col("__vl").isNotNull)
        .withColumn("__v", F.col("__v") - F.col("__vl"))
        .drop("__vl")
    }
    val wAll = Window.partitionBy("__k")
    val base = diff
      .withColumn("__mu", F.avg("__v").over(wAll))
      .withColumn("__d", F.col("__v") - F.col("__mu"))
      .withColumn("__dl1", F.lag("__d", 1).over(wOrd))
    val st1 = base.groupBy("__k").agg(
      F.count(F.lit(1)).as("n"), F.max("__mu").as("mu"),
      F.sum(F.col("__d") * F.col("__d")).as("ss"),
      F.sum(F.col("__d") * F.col("__dl1")).as("s1"))
      .where(F.col("n") >= 5L && F.col("ss") > 0.0)
      .withColumn("phi0", F.round(F.col("s1") / F.col("ss"), 6))
      .select("__k", "n", "mu", "phi0")
    val withE = base.join(st1, "__k")
      .withColumn("__e", F.when(F.col("__dl1").isNotNull,
        F.col("__d") - F.col("phi0") * F.col("__dl1")))
      .withColumn("__el1", F.lag("__e", 1).over(wOrd))
    val st2 = withE
      .where(F.col("__dl1").isNotNull && F.col("__el1").isNotNull)
      .groupBy("__k").agg(
        F.count(F.lit(1)).as("n2"),
        F.sum(F.col("__dl1") * F.col("__dl1")).as("s11"),
        F.sum(F.col("__dl1") * F.col("__el1")).as("s12"),
        F.sum(F.col("__el1") * F.col("__el1")).as("s22"),
        F.sum(F.col("__dl1") * F.col("__d")).as("s1y"),
        F.sum(F.col("__el1") * F.col("__d")).as("s2y"),
        F.sum(F.col("__d") * F.col("__d")).as("syy"))
      .withColumn("det",
        F.col("s11") * F.col("s22") - F.col("s12") * F.col("s12"))
      .where(F.col("n2") >= 4L && F.col("det") > 0.0)
      .withColumn("phi", F.round(
        (F.col("s1y") * F.col("s22") - F.col("s2y") * F.col("s12")) /
          F.col("det"), 6))
      .withColumn("theta", F.round(
        (F.col("s2y") * F.col("s11") - F.col("s1y") * F.col("s12")) /
          F.col("det"), 6))
    val phi = F.col("phi"); val theta = F.col("theta")
    val sigma2 = (F.col("syy") -
      F.lit(2.0) * phi * F.col("s1y") -
      F.lit(2.0) * theta * F.col("s2y") +
      phi * phi * F.col("s11") +
      F.lit(2.0) * phi * theta * F.col("s12") +
      theta * theta * F.col("s22")) / F.col("n2")
    val lastD = diff.withColumn("__rn", F.row_number().over(wDesc))
      .where(F.col("__rn") <= 2)
      .groupBy("__k").agg(
        F.max(F.when(F.col("__rn") === 1, F.col("__v"))).as("dn"),
        F.max(F.when(F.col("__rn") === 2, F.col("__v"))).as("dn1"))
    // last levels at the lags the recomposition needs: x_n (rn=1),
    // x_{n+1−m} (rn=m), x_{n−m} (rn=m+1)
    val lastO = cells.withColumn("__rn", F.row_number().over(wDesc))
      .where(F.col("__rn") <= season + 1)
      .groupBy("__k").agg(
        F.max(F.when(F.col("__rn") === 1, F.col("__v"))).as("o1"),
        F.max(F.when(F.col("__rn") === season, F.col("__v"))).as("om"),
        F.max(F.when(F.col("__rn") === season + 1, F.col("__v")))
          .as("om1"))
    val mur = F.round(F.col("mu"), 6)
    val fDiff = mur + phi * (F.col("dn") - mur) +
      theta * ((F.col("dn") - mur) - F.col("phi0") * (F.col("dn1") - mur))
    val fOrig = d match {
      case 0 => fDiff + F.col("om")
      case _ => fDiff + F.col("o1") + F.col("om") - F.col("om1")
    }
    val need =
      if (d == 0) F.col("om").isNotNull
      else F.col("om").isNotNull && F.col("om1").isNotNull
    st2.join(st1, "__k").join(lastD, "__k").join(lastO, "__k")
      .join(nOrig, "__k")
      .where(need)
      .select(F.col("__k").as(keyCol), F.col("n_periods"),
        F.lit(season).cast("int").as("season"),
        F.lit(d).cast("int").as("d"),
        F.round(F.col("mu"), 6).as("mean"),
        F.col("phi0").as("phi_init"), phi, theta,
        F.round(sigma2, 6).as("sigma2"),
        F.round(fOrig, 6).as("forecast"))
  }

  /** Local-peak detector per key — the "which days actually SPIKED"
    * primitive behind incident review and campaign attribution: a
    * period is a peak when its decimal-exact mean strictly exceeds
    * both neighbors AND clears the taller neighbor by `minMargin`
    * (the margin is the cheap prominence stand-in that kills ripple
    * noise; margins report rounded). Interior periods only — edges
    * have one neighbor and are not decidable. One key shuffle, two
    * lag/lead windows.
    *
    * @return peak rows: (keyCol, period, v, margin) */
  def peaksByKey(df: DataFrame, keyCol: String, tsCol: String,
                 valueCol: String, periodUnit: Long,
                 minMargin: Double): DataFrame = {
    require(periodUnit > 0L, "periodUnit must be positive")
    require(minMargin >= 0.0, "minMargin must be >= 0")
    val v = F.col(valueCol).cast("double")
    val t = F.col(tsCol).cast("long")
    val cells = df
      .where(F.col(keyCol).isNotNull && t.isNotNull && v.isNotNull &&
        !F.isnan(v))
      .groupBy(F.col(keyCol).as("__k"),
        F.expr(s"CAST(`$tsCol` AS BIGINT) DIV $periodUnit").as("__p"))
      .agg((F.sum(v.cast("decimal(38,6)")).cast("double") /
        F.count(F.lit(1))).as("__v"))
    val wOrd = Window.partitionBy("__k").orderBy("__p")
    val margin = F.col("__v") -
      F.greatest(F.col("__prev"), F.col("__next"))
    cells
      .withColumn("__prev", F.lag("__v", 1).over(wOrd))
      .withColumn("__next", F.lead("__v", 1).over(wOrd))
      .where(F.col("__prev").isNotNull && F.col("__next").isNotNull &&
        F.col("__v") > F.col("__prev") &&
        F.col("__v") > F.col("__next") &&
        margin >= minMargin)
      .select(F.col("__k").as(keyCol), F.col("__p").as("period"),
        F.round(F.col("__v"), 6).as("v"),
        F.round(margin, 6).as("margin"))
  }

  /** Augmented-Dickey–Fuller (lag-0, with drift) unit-root test per
    * key — [[kpssByKey]]'s complement (KPSS's null is stationary,
    * ADF's null is a unit root; agreeing verdicts are the only safe
    * reading): over the decimal-exact period means,
    *
    *   Δx_t = a + γ·x_{t−1} + u_t,   t = γ̂/se(γ̂),
    *   stationary ⇔ t < −2.86
    *
    * (−2.86 = the asymptotic 5% DF critical value with drift,
    * pinned; small-n readings indicative). Closed-form OLS from one
    * lag window + one moment fold per key — replays step-for-step.
    *
    * @return one row per key: (keyCol, n_periods, gamma, t_stat,
    *         stationary) — keys with < 8 periods or degenerate
    *         variance omitted */
  def adfByKey(df: DataFrame, keyCol: String, tsCol: String,
               valueCol: String, periodUnit: Long): DataFrame = {
    require(periodUnit > 0L, "periodUnit must be positive")
    val v = F.col(valueCol).cast("double")
    val t = F.col(tsCol).cast("long")
    val cells = df
      .where(F.col(keyCol).isNotNull && t.isNotNull && v.isNotNull &&
        !F.isnan(v))
      .groupBy(F.col(keyCol).as("__k"),
        F.expr(s"CAST(`$tsCol` AS BIGINT) DIV $periodUnit").as("__p"))
      .agg((dsum(v) / F.count(F.lit(1))).as("__v"))
    val wOrd = Window.partitionBy("__k").orderBy("__p")
    val lagged = cells
      .withColumn("__el", F.lag("__v", 1).over(wOrd))
      .where(F.col("__el").isNotNull)
      .withColumn("__de", F.col("__v") - F.col("__el"))
    val mom = lagged.groupBy("__k").agg(
      F.count(F.lit(1)).as("m"),
      F.sum("__el").as("sel"), F.sum("__de").as("sde"),
      F.sum(F.col("__el") * F.col("__el")).as("see"),
      F.sum(F.col("__el") * F.col("__de")).as("sed"),
      F.sum(F.col("__de") * F.col("__de")).as("sdd"))
    val mD = F.col("m").cast("double")
    val sxx = F.col("see") - F.col("sel") * F.col("sel") / mD
    val sxy = F.col("sed") - F.col("sel") * F.col("sde") / mD
    val gam = sxy / sxx
    val aCon = F.col("sde") / mD - gam * (F.col("sel") / mD)
    val sse = F.col("sdd") - aCon * F.col("sde") - gam * F.col("sed")
    val tStat = gam / F.sqrt((sse / (mD - 2.0)) / sxx)
    mom
      .where(F.col("m") >= 8L && sxx > 0.0 && sse > 0.0)
      .withColumn("gamma", F.round(gam, 6))
      .withColumn("t_stat", F.round(tStat, 6))
      .withColumn("stationary", F.col("t_stat") < -2.86)
      .select(F.col("__k").as(keyCol),
        (F.col("m") + 1L).as("n_periods"), F.col("gamma"),
        F.col("t_stat"), F.col("stationary"))
  }

  /** Engle–Granger two-step cointegration test per key — "do these
    * two metrics share a long-run equilibrium, or do they just both
    * trend" (the spurious-regression guard [[grangerByKey]] and
    * [[rollingCorrByKey]] both need): over the decimal-exact period
    * means of the two columns,
    *
    *   step 1: OLS y ~ x (6-ROUNDED α, β) → residuals e_t,
    *   step 2: Dickey–Fuller on e: Δe_t = γ·e_{t−1} + u_t,
    *           t = γ̂ / se(γ̂),   cointegrated ⇔ t < −3.34
    *
    * (−3.34 = the asymptotic 5% Engle–Granger critical value for two
    * variables, pinned; small-n readings are indicative, not exact —
    * the standard caveat). Lag windows + per-key sums over the period
    * frame; everything replays step-for-step.
    *
    * @return one row per key: (keyCol, n_periods, beta, alpha, gamma,
    *         t_stat, cointegrated) — keys with < 8 shared periods or
    *         degenerate variance omitted */
  def cointegrationByKey(df: DataFrame, keyCol: String, tsCol: String,
                         xCol: String, yCol: String,
                         periodUnit: Long): DataFrame = Persisted { scope =>
    require(periodUnit > 0L, "periodUnit must be positive")
    val x = F.col(xCol).cast("double")
    val y = F.col(yCol).cast("double")
    val t = F.col(tsCol).cast("long")
    val cells = scope.checkpoint(df
      .where(F.col(keyCol).isNotNull && t.isNotNull && x.isNotNull &&
        !F.isnan(x) && y.isNotNull && !F.isnan(y))
      .groupBy(F.col(keyCol).as("__k"),
        F.expr(s"CAST(`$tsCol` AS BIGINT) DIV $periodUnit").as("__p"))
      .agg((dsum(x) / F.count(F.lit(1))).as("__x"),
        (dsum(y) / F.count(F.lit(1))).as("__y")))
    val mom = cells.groupBy("__k").agg(
      F.count(F.lit(1)).as("n_periods"),
      F.sum("__x").as("sx"), F.sum("__y").as("sy"),
      F.sum(F.col("__x") * F.col("__x")).as("sxx"),
      F.sum(F.col("__x") * F.col("__y")).as("sxy"))
    val nD = F.col("n_periods").cast("double")
    val cxx = F.col("sxx") - F.col("sx") * F.col("sx") / nD
    val cxy = F.col("sxy") - F.col("sx") * F.col("sy") / nD
    val coef = mom
      .where(F.col("n_periods") >= 8L && cxx > 0.0)
      .withColumn("beta", F.round(cxy / cxx, 6))
      .withColumn("alpha", F.round(
        F.col("sy") / nD - (cxy / cxx) * (F.col("sx") / nD), 6))
      .select("__k", "n_periods", "beta", "alpha")
    val wOrd = Window.partitionBy("__k").orderBy("__p")
    val resid = cells.join(coef, "__k")
      .withColumn("__e", F.col("__y") -
        (F.col("alpha") + F.col("beta") * F.col("__x")))
      .withColumn("__el", F.lag("__e", 1).over(wOrd))
      .where(F.col("__el").isNotNull)
      .withColumn("__de", F.col("__e") - F.col("__el"))
    val df2 = resid.groupBy("__k").agg(
      F.count(F.lit(1)).as("m"),
      F.sum(F.col("__el") * F.col("__de")).as("sed"),
      F.sum(F.col("__el") * F.col("__el")).as("see"),
      F.sum(F.col("__de") * F.col("__de")).as("sdd"))
    val gam = F.col("sed") / F.col("see")
    // SSE of the no-intercept DF regression from the same moments
    val sse = F.col("sdd") - gam * gam * F.col("see")
    val mD = F.col("m").cast("double")
    val tStat = gam / F.sqrt((sse / (mD - 1.0)) / F.col("see"))
    df2
      .where(F.col("m") >= 4L && F.col("see") > 0.0 && sse > 0.0)
      .withColumn("gamma", F.round(gam, 6))
      .withColumn("t_stat", F.round(tStat, 6))
      .withColumn("cointegrated", F.col("t_stat") < -3.34)
      .join(coef, "__k")
      .select(F.col("__k").as(keyCol), F.col("n_periods"),
        F.col("beta"), F.col("alpha"), F.col("gamma"),
        F.col("t_stat"), F.col("cointegrated"))
  }

  /** Dominant-period detector per key — the router that picks
    * [[holtWintersByKey]]'s seasonLength instead of guessing it: the
    * lag ≥ 2 with the largest autocorrelation over [[acfByKey]]'s
    * 6-ROUNDED coefficients (lag 1 is excluded — trend makes it
    * trivially high; ties break toward the SMALLER lag via a struct
    * argmax), plus the classic 2/√n white-noise significance bar.
    * Keys missing any lag (series shorter than maxLag, zero variance)
    * are omitted. Cost = exactly [[acfByKey]].
    *
    * @return one row per key: (keyCol, n, best_lag, best_acf,
    *         threshold, significant) */
  def periodDetectByKey(df: DataFrame, keyCol: String, tsCol: String,
                        valueCol: String, periodUnit: Long,
                        maxLag: Int): DataFrame = {
    require(maxLag >= 2, "maxLag must be >= 2 (lag 1 is excluded)")
    val v = F.col(valueCol).cast("double")
    val t = F.col(tsCol).cast("long")
    val cells = df
      .where(F.col(keyCol).isNotNull && t.isNotNull && v.isNotNull &&
        !F.isnan(v))
      .groupBy(F.col(keyCol).as("__k"),
        F.expr(s"CAST(`$tsCol` AS BIGINT) DIV $periodUnit").as("__p"))
      .agg((F.sum(v.cast("decimal(38,6)")).cast("double") /
        F.count(F.lit(1))).as("__v"))
    val acf = acfByKey(cells, "__k", "__p", "__v", maxLag)
    val lags = 2 to maxLag
    val ok = lags.map(l => F.col(s"acf_$l").isNotNull).reduce(_ && _)
    val best = F.array_max(F.array(lags.map(l =>
      F.struct(F.col(s"acf_$l").as("a"),
        F.lit(-l).as("nl"))): _*))
    val nD = F.col("n").cast("double")
    val thr = F.round(F.lit(2.0) / F.sqrt(nD), 6)
    acf.where(ok)
      .withColumn("__b", best)
      .select(F.col("__k").as(keyCol), F.col("n"),
        (-F.col("__b.nl")).cast("long").as("best_lag"),
        F.col("__b.a").as("best_acf"),
        thr.as("threshold"),
        (F.col("__b.a") > thr).as("significant"))
  }

  /** Syntetos–Boylan demand-pattern classifier per key — the ROUTER
    * in front of the forecasting shelf ("which model does this series
    * even deserve"): over the decimal-exact period DEMAND sums with
    * the period grid spanning each key's min..max (silent periods ARE
    * zero demand — that is the whole point of intermittency),
    *
    *   ADI = n_periods / n_nonzero,   CV² = Var(nonzero sizes)/mean²,
    *   smooth (<1.32, <0.49) / intermittent (≥1.32, <0.49) /
    *   erratic (<1.32, ≥0.49) / lumpy (≥, ≥)
    *
    * — smooth → [[holtByKey]]/[[holtWintersByKey]], intermittent/
    * lumpy → [[crostonByKey]] (the classic quadrant; cutoffs applied
    * to the 6-ROUNDED statistics so the class replays). One key
    * shuffle over period cells.
    *
    * @return one row per key: (keyCol, n_periods, n_nonzero, adi,
    *         cv2, demand_class) — keys with < 2 nonzero periods or
    *         zero total demand omitted */
  def demandClassifyByKey(df: DataFrame, keyCol: String, tsCol: String,
                          valueCol: String,
                          periodUnit: Long): DataFrame = {
    require(periodUnit > 0L, "periodUnit must be positive")
    val v = F.col(valueCol).cast("double")
    val t = F.col(tsCol).cast("long")
    val cells = df
      .where(F.col(keyCol).isNotNull && t.isNotNull && v.isNotNull &&
        !F.isnan(v))
      .groupBy(F.col(keyCol).as("__k"),
        F.expr(s"CAST(`$tsCol` AS BIGINT) DIV $periodUnit").as("__p"))
      .agg(F.sum(v.cast("decimal(38,6)")).cast("double").as("__s"))
    val nz = F.col("__s") =!= 0.0
    val stats = cells.groupBy("__k").agg(
      F.min("__p").as("__pmin"), F.max("__p").as("__pmax"),
      F.sum(F.when(nz, 1L).otherwise(0L)).as("n_nonzero"),
      F.sum(F.when(nz, F.col("__s"))).as("__ss"),
      F.sum(F.when(nz, F.col("__s") * F.col("__s"))).as("__ssq"))
    val nPer = F.col("__pmax") - F.col("__pmin") + 1L
    val nzD = F.col("n_nonzero").cast("double")
    val mean = F.col("__ss") / nzD
    val variance = F.col("__ssq") / nzD - mean * mean
    val adi = F.round(nPer.cast("double") / nzD, 6)
    val cv2 = F.round(variance / (mean * mean), 6)
    stats
      .where(F.col("n_nonzero") >= 2L && F.col("__ss") =!= 0.0)
      .withColumn("n_periods", nPer)
      .withColumn("adi", adi)
      .withColumn("cv2", cv2)
      .withColumn("demand_class",
        F.when(F.col("adi") < 1.32 && F.col("cv2") < 0.49, "smooth")
          .when(F.col("adi") >= 1.32 && F.col("cv2") < 0.49,
            "intermittent")
          .when(F.col("adi") < 1.32, "erratic")
          .otherwise("lumpy"))
      .select(F.col("__k").as(keyCol), F.col("n_periods"),
        F.col("n_nonzero"), F.col("adi"), F.col("cv2"),
        F.col("demand_class"))
  }

  /** XmR (individuals + moving-range) control chart per key — the
    * Shewhart SPC screen ops teams run on every KPI stream ("is this
    * series just noisy, or did the PROCESS change"): over the
    * decimal-exact period means,
    *
    *   mR̄ = mean |x_t − x_{t−1}|,   UCL/LCL = x̄ ± 2.66·mR̄
    *
    * (2.66 = 3/d₂ at n = 2, the standard individuals-chart constant),
    * with the out-of-limit count evaluated against the 6-ROUNDED
    * limits so the verdict replays. One key shuffle; the per-key
    * frame is periods, never rows.
    *
    * @return one row per key: (keyCol, n_periods, xbar, mr_bar, ucl,
    *         lcl, n_beyond) — keys with < 3 periods omitted */
  def controlChartByKey(df: DataFrame, keyCol: String, tsCol: String,
                        valueCol: String,
                        periodUnit: Long): DataFrame = {
    require(periodUnit > 0L, "periodUnit must be positive")
    val v = F.col(valueCol).cast("double")
    val t = F.col(tsCol).cast("long")
    val cells = df
      .where(F.col(keyCol).isNotNull && t.isNotNull && v.isNotNull &&
        !F.isnan(v))
      .groupBy(F.col(keyCol).as("__k"),
        F.expr(s"CAST(`$tsCol` AS BIGINT) DIV $periodUnit").as("__p"))
      .agg((F.sum(v.cast("decimal(38,6)")).cast("double") /
        F.count(F.lit(1))).as("__v"))
    val wOrd = Window.partitionBy("__k").orderBy("__p")
    val base = cells
      .withColumn("__mr", F.abs(F.col("__v") -
        F.lag("__v", 1).over(wOrd)))
    val stats = base.groupBy("__k").agg(
      F.count(F.lit(1)).as("n_periods"),
      F.avg("__v").as("__xbar"),
      F.avg("__mr").as("__mrbar"))
      .where(F.col("n_periods") >= 3L)
      .withColumn("xbar", F.round(F.col("__xbar"), 6))
      .withColumn("mr_bar", F.round(F.col("__mrbar"), 6))
      .withColumn("ucl",
        F.round(F.col("__xbar") + F.lit(2.66) * F.col("__mrbar"), 6))
      .withColumn("lcl",
        F.round(F.col("__xbar") - F.lit(2.66) * F.col("__mrbar"), 6))
    val flagged = cells.join(
      stats.select(F.col("__k"), F.col("ucl").as("__u"),
        F.col("lcl").as("__l")), "__k")
      .groupBy("__k")
      .agg(F.sum(F.when(F.col("__v") > F.col("__u") ||
        F.col("__v") < F.col("__l"), 1L).otherwise(0L)).as("n_beyond"))
    stats.join(flagged, "__k")
      .select(F.col("__k").as(keyCol), F.col("n_periods"),
        F.col("xbar"), F.col("mr_bar"), F.col("ucl"), F.col("lcl"),
        F.col("n_beyond"))
  }

  /** Rolling Pearson correlation between two metrics per key over a
    * trailing time window — "are latency and error rate moving
    * together RIGHT NOW, per service": the co-movement monitor that a
    * global correlation hides (it averages regimes away).
    *
    * All five sufficient sums ride ONE trailing RANGE frame (ties in
    * ts share a frame, so equal rows get equal answers), and the
    * correlation is the explicit moment ratio — engine-replayable.
    * Rows where the window variance of either side is 0 (or fewer
    * than `minRows` rows) get null.
    *
    * @param window trailing width in tsCol units (inclusive of now)
    * @return input keys + (ts, x, y, n_window, rolling_corr) */
  def rollingCorrByKey(df: DataFrame, keyCol: String, tsCol: String,
                       xCol: String, yCol: String, window: Long,
                       minRows: Long = 2L): DataFrame = {
    require(window > 0L, "window must be positive")
    val x = F.col(xCol).cast("double")
    val y = F.col(yCol).cast("double")
    val t = F.col(tsCol).cast("long")
    val base = df
      .where(F.col(keyCol).isNotNull && t.isNotNull &&
        x.isNotNull && !F.isnan(x) && y.isNotNull && !F.isnan(y))
      .select(F.col(keyCol).as("__k"), t.as("ts"),
        x.as("__x"), y.as("__y"))
    val w = Window.partitionBy("__k").orderBy(F.col("ts"))
      .rangeBetween(-window, 0)
    val n = F.count(F.lit(1)).over(w).cast("double")
    val mx = F.sum("__x").over(w) / n
    val my = F.sum("__y").over(w) / n
    val vx = F.sum(F.col("__x") * F.col("__x")).over(w) / n - mx * mx
    val vy = F.sum(F.col("__y") * F.col("__y")).over(w) / n - my * my
    val cxy = F.sum(F.col("__x") * F.col("__y")).over(w) / n - mx * my
    base
      .withColumn("n_window", F.count(F.lit(1)).over(w))
      .withColumn("__vx", vx).withColumn("__vy", vy)
      .withColumn("__cxy", cxy)
      .withColumn("rolling_corr",
        F.when(F.col("n_window") >= minRows &&
            F.col("__vx") > 0.0 && F.col("__vy") > 0.0,
          F.round(F.col("__cxy") /
            F.sqrt(F.col("__vx") * F.col("__vy")), 6)))
      .select(F.col("__k").as(keyCol), F.col("ts"),
        F.col("__x").as(xCol), F.col("__y").as(yCol),
        F.col("n_window"), F.col("rolling_corr"))
  }

  /** Cross-correlation function per key: corr(x_t, y_{t+ℓ}) for lags
    * ℓ = −maxLag..maxLag over the decimal-exact period means — the
    * PROFILE behind [[graft.operators.Regression.grangerByKey]]'s
    * single verdict ("x leads y by TWO days, not one"). Positive lag
    * = x leads y. One key shuffle: 2·maxLag lead windows over the
    * same sort, every lag's moments folded in ONE aggregation with
    * per-lag row counts (each lag loses ℓ edge rows), long-form
    * output via an in-plan explode.
    *
    * @return one row per (key, lag) with n ≥ 3 and both variances
    *         positive: (keyCol, lag, n, ccf), ccf rounded to 6 */
  def ccfByKey(df: DataFrame, keyCol: String, tsCol: String,
               xCol: String, yCol: String, maxLag: Int,
               periodUnit: Long): DataFrame = {
    require(maxLag >= 1 && maxLag <= 30, "maxLag must be in 1..30")
    require(periodUnit > 0L, "periodUnit must be positive")
    val x = F.col(xCol).cast("double")
    val y = F.col(yCol).cast("double")
    val t = F.col(tsCol).cast("long")
    val cells = df
      .where(F.col(keyCol).isNotNull && t.isNotNull &&
        x.isNotNull && !F.isnan(x) && y.isNotNull && !F.isnan(y))
      .groupBy(F.col(keyCol).as("__k"),
        F.expr(s"CAST(`$tsCol` AS BIGINT) DIV $periodUnit").as("__p"))
      .agg((F.sum(x.cast("decimal(38,6)")).cast("double") /
        F.count(F.lit(1))).as("__x"),
        (F.sum(y.cast("decimal(38,6)")).cast("double") /
          F.count(F.lit(1))).as("__y"))
    val w = Window.partitionBy("__k").orderBy(F.col("__p"))
    val lags = (-maxLag to maxLag)
    var cur = cells
    lags.foreach { l =>
      // pair (x_t, y_{t+l}): shift y forward for l > 0, x for l < 0
      val (a, b) =
        if (l >= 0) (F.col("__x"), F.lead("__y", l).over(w))
        else (F.lead("__x", -l).over(w), F.col("__y"))
      cur = cur.withColumn(s"__a$l", a).withColumn(s"__b$l", b)
    }
    val aggs = lags.flatMap { l =>
      val ok = F.col(s"__a$l").isNotNull && F.col(s"__b$l").isNotNull
      Seq(
        F.sum(F.when(ok, 1L).otherwise(0L)).as(s"n$l"),
        F.sum(F.when(ok, F.col(s"__a$l"))).as(s"sa$l"),
        F.sum(F.when(ok, F.col(s"__b$l"))).as(s"sb$l"),
        F.sum(F.when(ok, F.col(s"__a$l") * F.col(s"__a$l")))
          .as(s"saa$l"),
        F.sum(F.when(ok, F.col(s"__b$l") * F.col(s"__b$l")))
          .as(s"sbb$l"),
        F.sum(F.when(ok, F.col(s"__a$l") * F.col(s"__b$l")))
          .as(s"sab$l"))
    }
    val agged = cur.groupBy("__k").agg(aggs.head, aggs.tail: _*)
    val structs = lags.map { l =>
      val n = F.col(s"n$l").cast("double")
      val ma = F.col(s"sa$l") / n
      val mb = F.col(s"sb$l") / n
      val va = F.col(s"saa$l") / n - ma * ma
      val vb = F.col(s"sbb$l") / n - mb * mb
      val cab = F.col(s"sab$l") / n - ma * mb
      val ccf = F.when(F.col(s"n$l") >= 3L && va > 0.0 && vb > 0.0,
        F.round(cab / F.sqrt(va * vb), 6))
      F.struct(F.lit(l.toLong).as("lag"), F.col(s"n$l").as("n"),
        ccf.as("ccf"))
    }
    agged
      .select(F.col("__k").as(keyCol),
        F.explode(F.array(structs: _*)).as("__s"))
      .where(F.col("__s.ccf").isNotNull)
      .select(F.col(keyCol), F.col("__s.lag").as("lag"),
        F.col("__s.n").as("n"), F.col("__s.ccf").as("ccf"))
  }

  /** Forecast-accuracy scorecard per key: MAE, RMSE, MAPE and MASE of
    * a prediction column against actuals — the evaluation half of the
    * [[holtByKey]] / [[seasonalDecompose]] loop ("is the model beating
    * the seasonal-naive baseline, per tenant" — MASE < 1 is the only
    * scale-free yes).
    *
    *   MASE = MAE(model) / MAE(naive),  naive_t = a_{t−seasonLag}
    *
    * ONE key shuffle: a lag window builds the naive baseline, a
    * single aggregation folds all four metrics. Scored rows = those
    * with a non-null prediction; MAPE averages over scored rows with
    * a ≠ 0; the MASE denominator averages |a_t − a_{t−lag}| over all
    * rows where the lag exists. Keys with no scored rows or a zero
    * naive error are omitted/null as appropriate.
    *
    * @return one row per key: (keyCol, n_scored, mae, rmse, mape,
    *         mase), doubles rounded to 6 */
  def forecastAccuracyByKey(df: DataFrame, keyCol: String,
                            orderCol: String, actualCol: String,
                            predictedCol: String,
                            seasonLag: Int = 1): DataFrame = {
    require(seasonLag >= 1, "seasonLag must be >= 1")
    val a = F.col(actualCol).cast("double")
    val p = F.col(predictedCol).cast("double")
    val base = df
      .where(F.col(keyCol).isNotNull && F.col(orderCol).isNotNull &&
        a.isNotNull && !F.isnan(a))
      .select(F.col(keyCol).as("__k"), F.col(orderCol).as("__o"),
        a.as("__a"), p.as("__p"))
    val w = Window.partitionBy("__k").orderBy(F.col("__o"))
    val withNaive = base
      .withColumn("__nv", F.lag("__a", seasonLag).over(w))
    val scored = F.col("__p").isNotNull && !F.isnan(F.col("__p"))
    val err = F.abs(F.col("__a") - F.col("__p"))
    val agg = withNaive.groupBy("__k").agg(
      F.sum(F.when(scored, 1L).otherwise(0L)).as("n_scored"),
      F.sum(F.when(scored, err)).as("__sae"),
      F.sum(F.when(scored, err * err)).as("__sse"),
      F.sum(F.when(scored && F.col("__a") =!= 0.0,
        err / F.abs(F.col("__a")))).as("__sape"),
      F.sum(F.when(scored && F.col("__a") =!= 0.0, 1L).otherwise(0L))
        .as("__nape"),
      F.sum(F.when(F.col("__nv").isNotNull,
        F.abs(F.col("__a") - F.col("__nv")))).as("__snv"),
      F.sum(F.when(F.col("__nv").isNotNull, 1L).otherwise(0L))
        .as("__nnv"))
    val mae = F.col("__sae") / F.col("n_scored")
    val naiveMae = F.col("__snv") / F.col("__nnv")
    agg.where(F.col("n_scored") > 0L)
      .select(F.col("__k").as(keyCol), F.col("n_scored"),
        F.round(mae, 6).as("mae"),
        F.round(F.sqrt(F.col("__sse") / F.col("n_scored")), 6)
          .as("rmse"),
        F.when(F.col("__nape") > 0L,
          F.round(F.col("__sape") / F.col("__nape"), 6)).as("mape"),
        F.when(F.col("__nnv") > 0L && naiveMae > 0.0,
          F.round(mae / naiveMae, 6)).as("mase"))
  }

  /** Forecast-champion selection per key — the reference's fit-and-rank
    * discipline applied across MODEL FAMILIES: run Holt–Winters, Holt
    * and AR(1) over the same decimal-exact period cells, score each
    * with the shared [[forecastAccuracyByKey]] fold (MASE vs the
    * seasonal naive — the only scale-free cross-model yardstick), and
    * keep each key's minimum-MASE model (nulls last; ties break on the
    * model name ascending, so the verdict is deterministic).
    *
    * Three recurrences + three accuracy folds + one rank window — every
    * leg is span-bounded per key and each already replays in SQL, so
    * the champion verdict does too.
    *
    * @return one row per key: (keyCol, champion, n_scored, mae, rmse,
    *         mape, mase) — the metrics of the WINNING model */
  def forecastChampionByKey(df: DataFrame, keyCol: String, tsCol: String,
                            valueCol: String, periodUnit: Long,
                            seasonLength: Int = 7, alpha: Double = 0.3,
                            beta: Double = 0.1,
                            gamma: Double = 0.2): DataFrame = {
    val hw = forecastAccuracyByKey(
      holtWintersByKey(df, keyCol, tsCol, valueCol, periodUnit,
        seasonLength, alpha, beta, gamma),
      keyCol, "period", "v", "fitted", seasonLag = seasonLength)
      .withColumn("model", F.lit("holt_winters"))
    val ho = forecastAccuracyByKey(
      holtByKey(df, keyCol, tsCol, valueCol, periodUnit, alpha, beta),
      keyCol, "period", "v", "fitted", seasonLag = seasonLength)
      .withColumn("model", F.lit("holt"))
    val ar = forecastAccuracyByKey(
      arFittedByKey(df, keyCol, tsCol, valueCol, periodUnit, p = 1),
      keyCol, "period", "v", "fitted", seasonLag = seasonLength)
      .withColumn("model", F.lit("ar1"))
    val w = Window.partitionBy(keyCol)
      .orderBy(F.col("mase").asc_nulls_last, F.col("model").asc)
    hw.unionByName(ho).unionByName(ar)
      .withColumn("__rn", F.row_number().over(w))
      .where(F.col("__rn") === 1)
      .select(F.col(keyCol), F.col("model").as("champion"),
        F.col("n_scored"), F.col("mae"), F.col("rmse"), F.col("mape"),
        F.col("mase"))
  }

  /** Generalized-ESD-style iterative outlier screen per key — `rounds`
    * passes of "remove the most extreme period and re-test": each round
    * recomputes mean/sd over the REMAINING period cells with ORDERED
    * sequential folds (the replay contract — DuckDB reproduces them as
    * `list_sum(list(x ORDER BY p))`), takes the max |v−μ|/σ with ties
    * to the earliest period, records the 6-rounded R statistic, and
    * removes the point. Masking-proof where a single-pass z-screen is
    * not (one huge spike inflates σ and hides the second spike; ESD
    * re-tests after removal — Rosner 1983). The critical-value table is
    * deliberately NOT baked in: `threshold` is a caller-set R cutoff
    * (3.0 ≈ the classic z discipline), keeping the output a pure
    * function of the data.
    *
    * Rounds stop early when fewer than 3 periods remain or the
    * remaining variance is zero. Per-key state is the span-bounded
    * period frame; one key shuffle.
    *
    * @return one row per (key, round): (keyCol, round, period, r_stat,
    *         flagged) */
  def gesdByKey(df: DataFrame, keyCol: String, tsCol: String,
                valueCol: String, periodUnit: Long, rounds: Int = 3,
                threshold: Double = 3.0): DataFrame = {
    require(periodUnit > 0L, "periodUnit must be positive")
    require(rounds >= 1 && rounds <= 8,
      "rounds must be in 1..8 (each round is a chained replay step)")
    require(threshold > 0.0, "threshold must be positive")
    val v = F.col(valueCol).cast("double")
    val t = F.col(tsCol).cast("long")
    val cells = df
      .where(F.col(keyCol).isNotNull && t.isNotNull && v.isNotNull &&
        !F.isnan(v))
      .groupBy(F.col(keyCol).as("__k"),
        F.expr(s"CAST(`$tsCol` AS BIGINT) DIV $periodUnit").as("__p"))
      .agg((F.sum(v.cast("decimal(38,6)")).cast("double") /
        F.count(F.lit(1))).as("__v"))
    val nRounds = rounds
    val thr = threshold
    val screenUdf = F.udf((s: Seq[org.apache.spark.sql.Row]) => {
      var rem = s.map(r => (r.getLong(0), r.getDouble(1))).toVector
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Int, Long, Double, Boolean)]
      var i = 1
      var done = false
      while (i <= nRounds && !done) {
        val n = rem.length
        if (n < 3) done = true
        else {
          val m = rem.foldLeft(0.0)((acc, t) => acc + t._2) / n
          val ss = rem.foldLeft(0.0)((acc, t) =>
            acc + (t._2 - m) * (t._2 - m))
          if (!(ss > 0.0)) done = true
          else {
            val sd = math.sqrt(ss / n)
            var bp = rem(0)._1; var bd = -1.0
            // strict > keeps the EARLIEST period on exact ties
            rem.foreach { case (p, x) =>
              val dev = math.abs(x - m)
              if (dev > bd) { bd = dev; bp = p }
            }
            val r = math.rint(bd / sd * 1e6) / 1e6
            out += ((i, bp, r, r > thr))
            rem = rem.filterNot(_._1 == bp)
            i += 1
          }
        }
      }
      out.toSeq
    })
    cells.groupBy("__k")
      .agg(F.sort_array(F.collect_list(F.struct(F.col("__p"),
        F.col("__v")))).as("__s"))
      .withColumn("__o", F.explode(screenUdf(F.col("__s"))))
      .select(F.col("__k").as(keyCol),
        F.col("__o._1").as("round"), F.col("__o._2").as("period"),
        F.col("__o._3").as("r_stat"), F.col("__o._4").as("flagged"))
  }

  /** Page–Hinkley drift detector per key — the sequential "has the
    * level shifted upward" monitor (Page 1954; the mean-shift sibling
    * of [[cusumByKey]], which scans retrospectively — PH runs FORWARD
    * and replays as one recursive CTE):
    *
    *   m_t = mean(v_1..v_t),
    *   PH_t = max(0, PH_{t−1} + (v_t − m_t − δ)),  alarm when PH_t > λ
    *
    * over the decimal-exact period cells, PH 6-rounded per step (the
    * replay contract). δ absorbs tolerated drift, λ is the alarm bar —
    * both in value units, caller-set.
    *
    * @return one row per key: (keyCol, n_periods, n_alarms,
    *         first_alarm_period — null when no alarm, max_ph) */
  def pageHinkleyByKey(df: DataFrame, keyCol: String, tsCol: String,
                       valueCol: String, periodUnit: Long,
                       delta: Double = 0.005,
                       lambda: Double = 1.0): DataFrame = {
    require(periodUnit > 0L, "periodUnit must be positive")
    require(delta >= 0.0, "delta must be >= 0")
    require(lambda > 0.0, "lambda must be positive")
    val v = F.col(valueCol).cast("double")
    val t = F.col(tsCol).cast("long")
    val cells = df
      .where(F.col(keyCol).isNotNull && t.isNotNull && v.isNotNull &&
        !F.isnan(v))
      .groupBy(F.col(keyCol).as("__k"),
        F.expr(s"CAST(`$tsCol` AS BIGINT) DIV $periodUnit").as("__p"))
      .agg((F.sum(v.cast("decimal(38,6)")).cast("double") /
        F.count(F.lit(1))).as("__v"))
    val del = delta
    val lam = lambda
    val phUdf = F.udf((s: Seq[org.apache.spark.sql.Row]) => {
      var sum = 0.0; var ph = 0.0; var i = 0
      var nAlarms = 0L; var firstAlarm: java.lang.Long = null
      var maxPh = 0.0
      s.foreach { r =>
        val p = r.getLong(0); val x = r.getDouble(1)
        i += 1
        sum = sum + x
        val m = sum / i
        ph = math.rint(math.max(0.0, ph + ((x - m) - del)) * 1e6) / 1e6
        if (ph > lam) {
          nAlarms += 1L
          if (firstAlarm == null) firstAlarm = p
        }
        if (ph > maxPh) maxPh = ph
      }
      (i.toLong, nAlarms, firstAlarm, maxPh)
    })
    cells.groupBy("__k")
      .agg(F.sort_array(F.collect_list(F.struct(F.col("__p"),
        F.col("__v")))).as("__s"))
      .withColumn("__r", phUdf(F.col("__s")))
      .select(F.col("__k").as(keyCol),
        F.col("__r._1").as("n_periods"), F.col("__r._2").as("n_alarms"),
        F.col("__r._3").as("first_alarm_period"),
        F.col("__r._4").as("max_ph"))
  }

  /** Binary-segmentation changepoints per key — the MULTI-changepoint
    * extension of the single [[cusumByKey]] scan: level 1 finds each
    * key's best CUSUM split over the decimal-exact period cells, level
    * 2 re-scans the left and right segments independently (the classic
    * binary-segmentation recursion, two levels → up to 3 changepoints).
    *
    * Determinism is the integer trick: cell means scale to µ-units
    * (round(v·1e6) as BIGINT), so the scan statistic |n·CS_i − i·S| is
    * EXACT integer arithmetic — the argmax (ties → earliest period)
    * replays bit-for-bit with no float-order wobble; only the reported
    * z (scale-invariant, 6-rounded) touches doubles. Splits at i = n
    * are excluded (empty right segment); segments need ≥ 4 periods and
    * positive variance or they report nothing.
    *
    * @return rows (keyCol, level, segment ∈ all/left/right, n_seg,
    *         cp_period, z) — cp_period = the LAST period of the left
    *         half of its segment's split */
  def binarySegmentByKey(df: DataFrame, keyCol: String, tsCol: String,
                         valueCol: String,
                         periodUnit: Long): DataFrame = Persisted { scope =>
    require(periodUnit > 0L, "periodUnit must be positive")
    val v = F.col(valueCol).cast("double")
    val t = F.col(tsCol).cast("long")
    val cells = df
      .where(F.col(keyCol).isNotNull && t.isNotNull && v.isNotNull &&
        !F.isnan(v))
      .groupBy(F.col(keyCol).as("__k"),
        F.expr(s"CAST(`$tsCol` AS BIGINT) DIV $periodUnit").as("__p"))
      .agg((F.sum(v.cast("decimal(38,6)")).cast("double") /
        F.count(F.lit(1))).as("__v"))
      .withColumn("__m", F.round(F.col("__v") * 1e6, 0).cast("long"))
    def scan(src: DataFrame, segCols: Seq[String],
             label: Column): DataFrame = {
      val wAll = Window.partitionBy(segCols.map(F.col): _*)
      val wOrd = Window.partitionBy(segCols.map(F.col): _*)
        .orderBy("__p")
      val st = src
        .withColumn("__n", F.count(F.lit(1)).over(wAll))
        .withColumn("__s", F.sum("__m").over(wAll))
        .withColumn("__ssq", F.sum(F.col("__m").cast("double") *
          F.col("__m").cast("double")).over(wAll))
        .withColumn("__cs", F.sum("__m").over(
          wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("__i", F.row_number().over(wOrd).cast("long"))
        // loud overflow guard: n*cs − i*s runs in Long (the oracle uses
        // HUGEINT); |n*cs − i*s| ≤ 2·n²·max|m|, so past that bound
        // non-ANSI Spark would wrap silently and pick a wrong argmax.
        // The bound check itself runs in doubles (cannot overflow).
        .withColumn("__mx", F.max(F.abs(F.col("__m"))).over(wAll))
        .withColumn("__num",
          F.when(F.col("__mx").cast("double") * F.col("__n").cast("double")
              * F.col("__n").cast("double") * 2.0 > 9.0e18,
            F.raise_error(F.concat(
              F.lit("binarySegment scan statistic would overflow Long: " +
                "max|value|*1e6 * n_periods^2 * 2 > 9e18 (max|m|="),
              F.col("__mx").cast("string"), F.lit(", n="),
              F.col("__n").cast("string"),
              F.lit("); rescale the value column or shorten the series")))
              .cast("long"))
          .otherwise(F.abs(F.col("__n") * F.col("__cs") -
            F.col("__i") * F.col("__s"))))
      val ranked = st.where(F.col("__i") < F.col("__n"))
        .withColumn("__rn", F.row_number().over(
          Window.partitionBy(segCols.map(F.col): _*)
            .orderBy(F.col("__num").desc, F.col("__p").asc)))
        .where(F.col("__rn") === 1)
        .withColumn("__var", F.col("__ssq") / F.col("__n") -
          (F.col("__s").cast("double") / F.col("__n")) *
            (F.col("__s").cast("double") / F.col("__n")))
        .where(F.col("__n") >= 4L && F.col("__var") > 0.0)
      ranked.select(F.col("__k"), label.as("segment"),
        F.col("__n").as("n_seg"), F.col("__p").as("cp_period"),
        F.round(F.col("__num").cast("double") /
          (F.col("__n").cast("double") * F.sqrt(F.col("__var")) *
            F.sqrt(F.col("__n").cast("double"))), 6).as("z"))
    }
    val l1 = scope.checkpoint(scan(cells, Seq("__k"), F.lit("all")))
    val seg = cells.join(
      l1.select(F.col("__k"), F.col("cp_period").as("__cp1")), "__k")
      .withColumn("__side",
        F.when(F.col("__p") <= F.col("__cp1"), "left").otherwise("right"))
    val l2 = scan(seg, Seq("__k", "__side"), F.col("__side"))
    l1.withColumn("level", F.lit(1))
      .unionByName(l2.withColumn("level", F.lit(2)))
      .select(F.col("__k").as(keyCol), F.col("level"), F.col("segment"),
        F.col("n_seg"), F.col("cp_period"), F.col("z"))
  }

  /** Two-state burst detector per key, Kleinberg-style on batched
    * counts: the observed periods' count series is scored against a
    * base Poisson rate λ₀ (the key's mean count over observed periods,
    * 6-rounded) and a burst rate λ₁ = s·λ₀; per period the two-state
    * costs fold forward with a γ entry toll,
    *
    *   v0_t = min(v0, v1) + (λ₀ − c_t·ln λ₀)
    *   v1_t = min(v0 + γ, v1) + (λ₁ − c_t·ln λ₁)
    *
    * (Poisson NLL without the state-independent ln c! term), each
    * 6-rounded per step — the replay contract that clips cross-engine
    * ln ULP drift. `burst_t` = v1_t < v0_t is the forward-dominance
    * flag: the burst hypothesis is strictly cheaper having explained
    * everything so far. Forward-only (no Viterbi backtrack), which
    * keeps the whole trajectory ONE recursive CTE and is the standard
    * streaming reading of the automaton (Kleinberg 2002, the batched
    * variant). Missing periods are NOT zero-filled — rates are per
    * OBSERVED period.
    *
    * @return one row per (key, period): (keyCol, period, c, v0, v1,
    *         burst) */
  def burstDetectByKey(df: DataFrame, keyCol: String, tsCol: String,
                       periodUnit: Long, s: Double = 3.0,
                       gamma: Double = 1.0): DataFrame = {
    require(periodUnit > 0L, "periodUnit must be positive")
    require(s > 1.0, "burst rate multiplier s must be > 1")
    require(gamma >= 0.0, "gamma must be >= 0")
    val t = F.col(tsCol).cast("long")
    val cells = df
      .where(F.col(keyCol).isNotNull && t.isNotNull)
      .groupBy(F.col(keyCol).as("__k"),
        F.expr(s"CAST(`$tsCol` AS BIGINT) DIV $periodUnit").as("__p"))
      .agg(F.count(F.lit(1)).as("__c"))
    val lam = cells.groupBy("__k")
      .agg(F.round(F.sum("__c").cast("double") / F.count(F.lit(1)), 6)
        .as("__lam0"))
      .where(F.col("__lam0") > 0.0)
    val sf = s; val gam = gamma
    val dpUdf = F.udf((rows: Seq[org.apache.spark.sql.Row],
                       lam0: Double) => {
      val l1 = sf * lam0
      val ln0 = math.log(lam0); val ln1 = math.log(l1)
      def r6(x: Double) = math.rint(x * 1e6) / 1e6
      var v0 = 0.0; var v1 = 0.0
      rows.zipWithIndex.map { case (r, i) =>
        val p = r.getLong(0); val c = r.getLong(1).toDouble
        if (i == 0) {
          v0 = r6(lam0 - c * ln0)
          v1 = r6(gam + (l1 - c * ln1))
        } else {
          val nv0 = r6(math.min(v0, v1) + (lam0 - c * ln0))
          val nv1 = r6(math.min(v0 + gam, v1) + (l1 - c * ln1))
          v0 = nv0; v1 = nv1
        }
        (p, r.getLong(1), v0, v1, v1 < v0)
      }
    })
    cells.groupBy("__k")
      .agg(F.sort_array(F.collect_list(F.struct(F.col("__p"),
        F.col("__c")))).as("__s"))
      .join(lam, "__k")
      .withColumn("__o", F.explode(dpUdf(F.col("__s"), F.col("__lam0"))))
      .select(F.col("__k").as(keyCol), F.col("__o._1").as("period"),
        F.col("__o._2").as("c"), F.col("__o._3").as("v0"),
        F.col("__o._4").as("v1"), F.col("__o._5").as("burst"))
  }

  /** Holt double-exponential smoothing per key — level + linear trend
    * over each key's period series ([[ewmaByKey]] tracks level only;
    * this is the standard next rung for KPI forecasting: "where is
    * this metric HEADING, per tenant"):
    *
    *   ℓ_t = α·v_t + (1−α)(ℓ_{t−1} + b_{t−1}),
    *   b_t = β(ℓ_t − ℓ_{t−1}) + (1−β)·b_{t−1},
    *   fitted_t = ℓ_{t−1} + b_{t−1}   (one-step-ahead; null at t=1)
    *
    * with the pinned "known" initialization ℓ₁ = v₁, b₁ = 0. The raw
    * series first aggregates to one DECIMAL-exact mean per (key,
    * period) ([[mannKendallByKey]]'s determinism trick), so the whole
    * recurrence is bit-reproducible and replays step-for-step in any
    * engine (a recursive CTE). The per-key state is the PERIOD frame —
    * bounded by the time span, never by row count — carried through
    * one collect_list per key; output explodes back to long form.
    *
    * @return one row per (key, period): (keyCol, period, v, level,
    *         trend, fitted), doubles rounded to 6 (fitted null at the
    *         first period)
    */
  def holtByKey(df: DataFrame, keyCol: String, tsCol: String,
                valueCol: String, periodUnit: Long,
                alpha: Double, beta: Double): DataFrame = {
    require(periodUnit > 0L, "periodUnit must be positive")
    require(alpha > 0.0 && alpha <= 1.0, "alpha must be in (0,1]")
    require(beta >= 0.0 && beta <= 1.0, "beta must be in [0,1]")
    val v = F.col(valueCol).cast("double")
    val t = F.col(tsCol).cast("long")
    val cells = df
      .where(F.col(keyCol).isNotNull && t.isNotNull && v.isNotNull &&
        !F.isnan(v))
      .groupBy(F.col(keyCol).as("__k"),
        F.expr(s"CAST(`$tsCol` AS BIGINT) DIV $periodUnit").as("__p"))
      .agg((F.sum(v.cast("decimal(38,6)")).cast("double") /
        F.count(F.lit(1))).as("__v"))
    val holtUdf = F.udf((s: Seq[org.apache.spark.sql.Row]) => {
      val pts = s.map(r => (r.getLong(0), r.getDouble(1)))
      var l = 0.0; var b = 0.0
      pts.zipWithIndex.map { case ((p, x), i) =>
        if (i == 0) { l = x; b = 0.0; (p, x, l, b, Option.empty[Double]) }
        else {
          val fit = l + b
          val lPrev = l
          l = alpha * x + (1.0 - alpha) * (lPrev + b)
          b = beta * (l - lPrev) + (1.0 - beta) * b
          (p, x, l, b, Some(fit))
        }
      }
    })
    cells
      .groupBy("__k")
      .agg(F.sort_array(F.collect_list(F.struct(F.col("__p"),
        F.col("__v")))).as("__s"))
      .select(F.col("__k"), F.explode(holtUdf(F.col("__s"))).as("__e"))
      .select(F.col("__k").as(keyCol),
        F.col("__e._1").as("period"),
        F.round(F.col("__e._2"), 6).as("v"),
        F.round(F.col("__e._3"), 6).as("level"),
        F.round(F.col("__e._4"), 6).as("trend"),
        F.round(F.col("__e._5"), 6).as("fitted"))
  }

  /** Holt–Winters ADDITIVE triple smoothing per key — [[holtByKey]]'s
    * level+trend recurrence extended with a length-m seasonal state,
    * closing the classical-forecasting ladder (ewma → Holt → HW):
    *
    *   fit_t = l + b + s_{t mod m}                (one-step-ahead)
    *   l_t = α(v_t − s_{t mod m}) + (1−α)(l + b)
    *   b_t = β(l_t − l) + (1−β)·b
    *   s_{t mod m} ← γ(v_t − l_t) + (1−γ)·s_{t mod m}
    *
    * with the pinned zero-knowledge initialization l₀ = v₀, b₀ = 0,
    * s ≡ 0 — the seasonals LEARN from the data (the first cycle fits
    * like Holt), so the whole trajectory is a pure deterministic
    * function of the decimal-exact period means and replays
    * step-for-step in a recursive CTE carrying the m seasonal slots.
    * The phase is the 0-based ROW INDEX mod m within each key's
    * period-ordered series (index, not period value, so gaps don't
    * desynchronize engine and oracle).
    *
    * Scale shape identical to [[holtByKey]]: the per-key state is the
    * PERIOD frame (bounded by the time span, never rows), one
    * collect_list per key, sequential UDF fold (no window expresses
    * the coupled recurrence), explode back to long form. Score it
    * with [[forecastAccuracyByKey]] against Holt and seasonal-naive.
    *
    * @return one row per (key, period): (keyCol, period, v, level,
    *         trend, seasonal, fitted) — fitted null at the first
    *         period, doubles rounded to 6 */
  def holtWintersByKey(df: DataFrame, keyCol: String, tsCol: String,
                       valueCol: String, periodUnit: Long,
                       seasonLength: Int, alpha: Double,
                       beta: Double, gamma: Double): DataFrame = {
    require(periodUnit > 0L, "periodUnit must be positive")
    require(seasonLength >= 2, "seasonLength must be >= 2")
    require(alpha > 0.0 && alpha <= 1.0, "alpha must be in (0,1]")
    require(beta >= 0.0 && beta <= 1.0, "beta must be in [0,1]")
    require(gamma >= 0.0 && gamma <= 1.0, "gamma must be in [0,1]")
    val m = seasonLength
    val v = F.col(valueCol).cast("double")
    val t = F.col(tsCol).cast("long")
    val cells = df
      .where(F.col(keyCol).isNotNull && t.isNotNull && v.isNotNull &&
        !F.isnan(v))
      .groupBy(F.col(keyCol).as("__k"),
        F.expr(s"CAST(`$tsCol` AS BIGINT) DIV $periodUnit").as("__p"))
      .agg((F.sum(v.cast("decimal(38,6)")).cast("double") /
        F.count(F.lit(1))).as("__v"))
    val hwUdf = F.udf((s: Seq[org.apache.spark.sql.Row]) => {
      val pts = s.map(r => (r.getLong(0), r.getDouble(1)))
      var l = 0.0; var b = 0.0
      val sea = Array.fill(m)(0.0)
      pts.zipWithIndex.map { case ((p, x), i) =>
        val ph = i % m
        if (i == 0) {
          l = x; b = 0.0
          (p, x, l, b, sea(ph), Option.empty[Double])
        } else {
          val sOld = sea(ph)
          val fit = l + b + sOld
          val lPrev = l
          l = alpha * (x - sOld) + (1.0 - alpha) * (lPrev + b)
          b = beta * (l - lPrev) + (1.0 - beta) * b
          sea(ph) = gamma * (x - l) + (1.0 - gamma) * sOld
          (p, x, l, b, sea(ph), Some(fit))
        }
      }
    })
    cells
      .groupBy("__k")
      .agg(F.sort_array(F.collect_list(F.struct(F.col("__p"),
        F.col("__v")))).as("__s"))
      .select(F.col("__k"), F.explode(hwUdf(F.col("__s"))).as("__e"))
      .select(F.col("__k").as(keyCol),
        F.col("__e._1").as("period"),
        F.round(F.col("__e._2"), 6).as("v"),
        F.round(F.col("__e._3"), 6).as("level"),
        F.round(F.col("__e._4"), 6).as("trend"),
        F.round(F.col("__e._5"), 6).as("seasonal"),
        F.round(F.col("__e._6"), 6).as("fitted"))
  }

  /** Holt–Winters MULTIPLICATIVE triple smoothing per key — the
    * ratio-seasonal twin of [[holtWintersByKey]] for series whose
    * seasonal swing GROWS with the level (revenue, traffic):
    *
    *   fit_t = (l + b)·s_{t mod m}
    *   l_t = α·(v_t / s_{t mod m}) + (1−α)(l + b)
    *   b_t = β(l_t − l) + (1−β)·b
    *   s_{t mod m} ← γ·(v_t / l_t) + (1−γ)·s_{t mod m}
    *
    * with the unit-seed initialization l₀ = v₀, b₀ = 0, s ≡ 1 (the
    * first cycle fits like Holt; ratios learn the profile). Strictly
    * positive period means only — keys with ANY non-positive period
    * mean are omitted (ratio seasonality is undefined there; use the
    * additive form). Same per-key period-frame scale shape, same
    * recursive-CTE replay.
    *
    * @return one row per (key, period): (keyCol, period, v, level,
    *         trend, seasonal, fitted), fitted null at the first
    *         period */
  def holtWintersMulByKey(df: DataFrame, keyCol: String, tsCol: String,
                          valueCol: String, periodUnit: Long,
                          seasonLength: Int, alpha: Double,
                          beta: Double, gamma: Double): DataFrame = {
    require(periodUnit > 0L, "periodUnit must be positive")
    require(seasonLength >= 2, "seasonLength must be >= 2")
    require(alpha > 0.0 && alpha <= 1.0, "alpha must be in (0,1]")
    require(beta >= 0.0 && beta <= 1.0, "beta must be in [0,1]")
    require(gamma >= 0.0 && gamma <= 1.0, "gamma must be in [0,1]")
    val m = seasonLength
    val v = F.col(valueCol).cast("double")
    val t = F.col(tsCol).cast("long")
    val cells = df
      .where(F.col(keyCol).isNotNull && t.isNotNull && v.isNotNull &&
        !F.isnan(v))
      .groupBy(F.col(keyCol).as("__k"),
        F.expr(s"CAST(`$tsCol` AS BIGINT) DIV $periodUnit").as("__p"))
      .agg((F.sum(v.cast("decimal(38,6)")).cast("double") /
        F.count(F.lit(1))).as("__v"))
    val wAll = Window.partitionBy("__k")
    val positive = cells
      .withColumn("__minv", F.min("__v").over(wAll))
      .where(F.col("__minv") > 0.0)
      .drop("__minv")
    val hwUdf = F.udf((s: Seq[org.apache.spark.sql.Row]) => {
      val pts = s.map(r => (r.getLong(0), r.getDouble(1)))
      var l = 0.0; var b = 0.0
      val sea = Array.fill(m)(1.0)
      pts.zipWithIndex.map { case ((p, x), i) =>
        val ph = i % m
        if (i == 0) {
          l = x; b = 0.0
          (p, x, l, b, sea(ph), Option.empty[Double])
        } else {
          val sOld = sea(ph)
          val fit = (l + b) * sOld
          val lPrev = l
          l = alpha * (x / sOld) + (1.0 - alpha) * (lPrev + b)
          b = beta * (l - lPrev) + (1.0 - beta) * b
          sea(ph) = gamma * (x / l) + (1.0 - gamma) * sOld
          (p, x, l, b, sea(ph), Some(fit))
        }
      }
    })
    positive
      .groupBy("__k")
      .agg(F.sort_array(F.collect_list(F.struct(F.col("__p"),
        F.col("__v")))).as("__s"))
      .select(F.col("__k"), F.explode(hwUdf(F.col("__s"))).as("__e"))
      .select(F.col("__k").as(keyCol),
        F.col("__e._1").as("period"),
        F.round(F.col("__e._2"), 6).as("v"),
        F.round(F.col("__e._3"), 6).as("level"),
        F.round(F.col("__e._4"), 6).as("trend"),
        F.round(F.col("__e._5"), 6).as("seasonal"),
        F.round(F.col("__e._6"), 6).as("fitted"))
  }

  /** h-step-ahead Holt–Winters ADDITIVE forecast per key — the
    * projection [[holtWintersByKey]] stops short of: run the same
    * triple recurrence to each key's final (level, trend, seasonals)
    * state, then extrapolate
    *
    *   ŷ_{T+h} = l_T + h·b_T + s_{(T−1+h) mod m},   h = 1..horizon
    *
    * with the phase continuing the 0-based row-index convention (the
    * forecast period is reported as lastPeriod + h — the contiguous-
    * period reading; gaps in the history shift the calendar, not the
    * recurrence). Identical scale shape to [[holtWintersByKey]]; the
    * oracle replays the recursion to the final row and projects over
    * a generate_series.
    *
    * @return horizon rows per key: (keyCol, h, period, forecast) */
  def hwForecastByKey(df: DataFrame, keyCol: String, tsCol: String,
                      valueCol: String, periodUnit: Long,
                      seasonLength: Int, alpha: Double, beta: Double,
                      gamma: Double, horizon: Int): DataFrame = {
    require(periodUnit > 0L, "periodUnit must be positive")
    require(seasonLength >= 2, "seasonLength must be >= 2")
    require(alpha > 0.0 && alpha <= 1.0, "alpha must be in (0,1]")
    require(beta >= 0.0 && beta <= 1.0, "beta must be in [0,1]")
    require(gamma >= 0.0 && gamma <= 1.0, "gamma must be in [0,1]")
    require(horizon >= 1, "horizon must be >= 1")
    val m = seasonLength
    val v = F.col(valueCol).cast("double")
    val t = F.col(tsCol).cast("long")
    val cells = df
      .where(F.col(keyCol).isNotNull && t.isNotNull && v.isNotNull &&
        !F.isnan(v))
      .groupBy(F.col(keyCol).as("__k"),
        F.expr(s"CAST(`$tsCol` AS BIGINT) DIV $periodUnit").as("__p"))
      .agg((F.sum(v.cast("decimal(38,6)")).cast("double") /
        F.count(F.lit(1))).as("__v"))
    val fcUdf = F.udf((s: Seq[org.apache.spark.sql.Row]) => {
      val pts = s.map(r => (r.getLong(0), r.getDouble(1)))
      var l = 0.0; var b = 0.0
      val sea = Array.fill(m)(0.0)
      pts.zipWithIndex.foreach { case ((_, x), i) =>
        val ph = i % m
        if (i == 0) { l = x; b = 0.0 }
        else {
          val sOld = sea(ph)
          val lPrev = l
          l = alpha * (x - sOld) + (1.0 - alpha) * (lPrev + b)
          b = beta * (l - lPrev) + (1.0 - beta) * b
          sea(ph) = gamma * (x - l) + (1.0 - gamma) * sOld
        }
      }
      val lastP = pts.last._1
      val nPts = pts.length
      (1 to horizon).map { h =>
        val ph = (nPts - 1 + h) % m
        (h.toLong, lastP + h, l + h.toDouble * b + sea(ph))
      }
    })
    cells
      .groupBy("__k")
      .agg(F.sort_array(F.collect_list(F.struct(F.col("__p"),
        F.col("__v")))).as("__s"))
      .select(F.col("__k"), F.explode(fcUdf(F.col("__s"))).as("__e"))
      .select(F.col("__k").as(keyCol),
        F.col("__e._1").as("h"),
        F.col("__e._2").as("period"),
        F.round(F.col("__e._3"), 6).as("forecast"))
  }

  /** Ljung–Box portmanteau test per key — "is there ANY serial
    * correlation left in this series" ([[acfByKey]] reports the
    * per-lag coefficients; this aggregates them into the standard
    * whiteness test run on residuals and KPI streams):
    *
    *   Q = n(n+2) Σ_{k=1..h} r_k² / (n−k)  ~  χ²(h) under whiteness,
    *   p = Q(h/2, Q/2)   (regularized upper incomplete gamma)
    *
    * computed FROM the 6-rounded acf values, so Q is a pure function
    * of an already-deterministic frame and replays bit-for-bit; p is
    * evaluated at the 6-rounded Q on both engines. Cost = exactly
    * [[acfByKey]] (one key shuffle, h lag windows, one fold) plus a
    * per-key scalar expression. Keys with n ≤ h or zero variance are
    * omitted.
    *
    * @return one row per key: (keyCol, n, acf_1..acf_h, lb_stat, dof,
    *         p_value)
    */
  def ljungBoxByKey(df: DataFrame, keyCol: String, tsCol: String,
                    valueCol: String, maxLag: Int,
                    tieBreakCols: Seq[String] = Nil): DataFrame = {
    val acf = acfByKey(df, keyCol, tsCol, valueCol, maxLag, tieBreakCols)
    val n = F.col("n").cast("double")
    val terms = (1 to maxLag).map(k =>
      F.col(s"acf_$k") * F.col(s"acf_$k") / (n - F.lit(k.toDouble)))
    val pUdf = F.udf((q: Double) => math.rint(graft.functions.SpecialMath
      .gammaIncC(maxLag / 2.0, q / 2.0) * 1e6) / 1e6)
    acf
      .where(F.col("n") > maxLag &&
        (1 to maxLag).map(k => F.col(s"acf_$k").isNotNull).reduce(_ && _))
      .withColumn("lb_stat",
        F.round(n * (n + 2.0) * terms.reduce(_ + _), 6))
      .withColumn("dof", F.lit(maxLag.toLong))
      .withColumn("p_value", pUdf(F.col("lb_stat")))
  }

  /** Monotone-trend score per key: Spearman's ρ between each key's
    * values and their time order — "which tenants' metric is trending,
    * robustly" (rank-based, so spikes don't fake a trend the way a
    * per-key OLS slope would). Time ranks come from row_number over
    * (tsCol, tieBreakCols) — a total order; value ranks are midranks
    * via the RANGE-framed peer window, the standard tie treatment.
    * ρ is Pearson over the two rank columns, folded from ONE per-key
    * aggregation of rank sufficient statistics. Keys with zero rank
    * variance (constant values) are omitted.
    *
    * @return one row per key: (keyCol, rho, n), rho rounded to 6 */
  def trendByKey(df: DataFrame, keyCol: String, tsCol: String,
                 valueCol: String,
                 tieBreakCols: Seq[String] = Nil): DataFrame = {
    val v = F.col(valueCol).cast("double")
    val base = df
      .where(v.isNotNull && !F.isnan(v) && F.col(tsCol).isNotNull)
      .select(Seq(F.col(keyCol), F.col(tsCol)) ++
        tieBreakCols.map(F.col) :+ v.as("__x"): _*)
    val wOrd = Window.partitionBy(F.col(keyCol))
      .orderBy(F.col(tsCol) +: tieBreakCols.map(F.col): _*)
    val wVal = Window.partitionBy(F.col(keyCol), F.col("__x"))
    val wCum = Window.partitionBy(F.col(keyCol)).orderBy("__x")
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = base
      .withColumn("__r", F.row_number().over(wOrd).cast("long"))
      .withColumn("__ct", F.count(F.lit(1)).over(wVal))
      .withColumn("__cum", F.count(F.lit(1)).over(wCum))
      .withColumn("__s",
        (F.col("__cum") - F.col("__ct")) + (F.col("__ct") + 1L) / 2.0)
    val agged = ranked.groupBy(F.col(keyCol)).agg(
      F.count(F.lit(1)).as("n"),
      F.sum("__r").as("__sr"), F.sum(F.col("__r") * F.col("__r")).as("__srr"),
      F.sum("__s").as("__ss"), F.sum(F.col("__s") * F.col("__s")).as("__sss"),
      F.sum(F.col("__r") * F.col("__s")).as("__srs"))
    val nD = F.col("n").cast("double")
    val varR = nD * F.col("__srr") - F.col("__sr") * F.col("__sr")
    val varS = nD * F.col("__sss") - F.col("__ss") * F.col("__ss")
    agged
      .where(varR > 0.0 && varS > 0.0)
      .withColumn("rho", F.round(
        (nD * F.col("__srs") - F.col("__sr") * F.col("__ss")) /
          F.sqrt(varR * varS), 6))
      .select(F.col(keyCol), F.col("rho"), F.col("n"))
  }

  /** Seasonal index per key: the mean value at each cycle phase
    * relative to the key's overall mean — "Mondays run 1.3× this
    * tenant's average" — the multiplicative-seasonality summary that
    * [[seasonalAnomaly]]'s differencing assumes and a forecast
    * baseline multiplies by. Phase = ⌊ts/phaseUnit⌋ mod period (pure
    * integer arithmetic — replays exactly); ONE (key, phase)
    * aggregation, the key mean rides a window over those ≤ period
    * cells per key.
    *
    * @param phaseUnit  bucket width in ts units (e.g. one day in ns)
    * @param period     cycle length in buckets (e.g. 7 for weekly)
    * @return one row per (key, phase): (keyCol, phase, n, phase_mean,
    *         seasonal_index), floats rounded to 6; index null when the
    *         key mean is 0 */
  def seasonalIndexByKey(df: DataFrame, keyCol: String, tsCol: String,
                         valueCol: String, phaseUnit: Long,
                         period: Int): DataFrame = {
    require(phaseUnit > 0L, "phaseUnit must be > 0")
    require(period >= 2, "period must be >= 2")
    import org.apache.spark.sql.expressions.Window
    val v = F.col(valueCol).cast("double")
    val t = F.col(tsCol).cast("long")
    // integer-exact floor division: the numerator is exactly divisible,
    // so the double division is exact for any quotient < 2^53 — no
    // boundary flip between engines (a direct t/unit double division
    // would round t first)
    val phase = F.pmod(
      F.floor((t - F.pmod(t, F.lit(phaseUnit))) / phaseUnit.toDouble),
      F.lit(period.toLong))
    val cells = df
      .where(F.col(keyCol).isNotNull && t.isNotNull && v.isNotNull &&
        !F.isnan(v))
      .groupBy(F.col(keyCol), phase.as("phase"))
      .agg(F.count(F.lit(1)).as("n"), F.sum(v).as("__s"))
    val wk = Window.partitionBy(F.col(keyCol))
    val keyMean = F.sum("__s").over(wk) /
      F.sum("n").over(wk).cast("double")
    val phaseMean = F.col("__s") / F.col("n").cast("double")
    cells
      .withColumn("__km", keyMean)
      .withColumn("phase_mean", F.round(phaseMean, 6))
      .withColumn("seasonal_index", F.when(F.col("__km") =!= 0.0,
        F.round(phaseMean / F.col("__km"), 6)))
      .select(F.col(keyCol), F.col("phase"), F.col("n"),
        F.col("phase_mean"), F.col("seasonal_index"))
  }

  /** Exponentially time-decayed aggregates per key, evaluated at an
    * EXPLICIT reference time: decayed count and sum with weight
    * 2^(−(T−t)/halfLife) — "activity that counts recency" (the feature
    * stores' staple), in ONE aggregation instead of a state store. The
    * reference time is a parameter, not a clock read, so the result is
    * a pure function of the data — reproducible, backfillable, and
    * engine-replayable.
    *
    * @param refTs      evaluation time in tsCol's units
    * @param halfLife   half-life in the same units (> 0)
    * @return one row per key: (keyCol, n, decayed_count, decayed_sum),
    *         decayed values rounded to 6 */
  def decayedByKey(df: DataFrame, keyCol: String, tsCol: String,
                   valueCol: String, refTs: Long,
                   halfLife: Double): DataFrame = {
    require(halfLife > 0.0, "halfLife must be > 0")
    val v = F.col(valueCol).cast("double")
    val t = F.col(tsCol).cast("long")
    val w = F.pow(F.lit(2.0),
      -(F.lit(refTs.toDouble) - t.cast("double")) / halfLife)
    df.where(F.col(keyCol).isNotNull && t.isNotNull && v.isNotNull &&
        !F.isnan(v) && t <= refTs)
      .groupBy(F.col(keyCol))
      .agg(F.count(F.lit(1)).as("n"),
        F.round(F.sum(w), 6).as("decayed_count"),
        F.round(F.sum(v * w), 6).as("decayed_sum"))
  }

  /** Feature hashing ("the hashing trick"): tokens map to a fixed
    * `dims`-dimensional sparse vector through md5 — dim from the first
    * 32 hash bits, a ±1 sign from the next hex digit's parity (the
    * Weinberger signed construction, which makes collision noise
    * zero-mean) — so ANY vocabulary becomes a bounded feature space
    * with NO vocabulary table, no fit step, and bit-exact
    * reproducibility across runs and engines. The natural featurizer in
    * front of [[Regression.logisticIrls]]. One token explode + one
    * (id, dim) aggregation; output is sparse triples.
    *
    * @return (id, dim, value) rows — dim in [0, dims), value = signed
    *         token count; zero-sum cells are kept (they carry collision
    *         information) */
  def hashingVectorize(df: DataFrame, idCol: String, textCol: String,
                       dims: Int = 1024): DataFrame = {
    require(dims >= 2, "dims must be >= 2")
    val tokens = df.select(F.col(idCol).as("id"),
      F.explode(F.filter(
        F.split(F.lower(F.coalesce(F.col(textCol), F.lit(""))), "\\s+"),
        t => t =!= "")).as("__tok"))
    val h = F.conv(F.substring(
      F.md5(F.col("__tok").cast("binary")), 1, 8), 16, 10).cast("long")
    val sign = F.when(F.conv(F.substring(
      F.md5(F.col("__tok").cast("binary")), 9, 1), 16, 10)
      .cast("long") % 2L === 0L, 1L).otherwise(-1L)
    tokens
      .withColumn("dim", h % dims.toLong)
      .withColumn("__sgn", sign)
      .groupBy("id", "dim")
      .agg(F.sum("__sgn").as("value"))
  }

  /** Collapse rare categorical levels into a single `otherLabel` — the
    * cardinality-control step before one-hot/target encoding ("keep the
    * levels that carry mass, stop the long tail from minting a million
    * columns"). A level survives iff its share ≥ `minShare`, so the
    * SURVIVOR set is at most ⌈1/minShare⌉ levels — provably bounded —
    * and broadcasts back for a map-side rewrite: the row table never
    * shuffles, and the level-count aggregation is the only pass over
    * the data. Null categories stay null (they are their own signal;
    * impute upstream if not).
    *
    * @return `df` + `outCol` (original level, `otherLabel`, or null) */
  def collapseRareLevels(df: DataFrame, catCol: String,
                         minShare: Double = 0.01,
                         outCol: String = "collapsed",
                         otherLabel: String = "_other"): DataFrame = Persisted { scope =>
    require(minShare > 0.0 && minShare <= 1.0,
      "minShare must be in (0, 1]")
    val c = F.col(catCol).cast("string")
    val counts = scope.checkpoint(df.where(c.isNotNull)
      .groupBy(c.as("__lvl")).agg(F.count(F.lit(1)).as("__c")))
    val n = counts.agg(F.coalesce(F.sum("__c"), F.lit(0L)))
      .head().getLong(0)
    val keep = counts
      .where(F.col("__c").cast("double") >= F.lit(n.toDouble * minShare))
      .select(F.col("__lvl"), F.lit(true).as("__keep"))
    df.join(F.broadcast(keep), c === F.col("__lvl"), "left")
      .withColumn(outCol, F.when(c.isNull, F.lit(null).cast("string"))
        .when(F.col("__keep"), c).otherwise(F.lit(otherLabel)))
      .drop("__lvl", "__keep")
  }

  /** Seasonal-naive anomaly scan per key: residual r_t = x_t − x_{t−m}
    * against the value m observations back (m = the season length in
    * OBSERVATIONS, e.g. 24 for hourly data with a daily cycle), then a
    * z-score of each residual against the key's own residual
    * distribution — the monitoring workhorse that a plain per-key
    * z-score can't replace (it flags every seasonal peak; the
    * differenced form flags only breaks FROM the cycle).
    *
    * ONE shuffle on the key serves everything: the lag window, and the
    * residual moments via the same key-partitioned unbounded frame
    * (explicit Σr²/n − r̄² algebra so an external engine replays it).
    * Rows are ordered by (tsCol, tieBreakCols) — pass tie-breakers when
    * timestamps can collide, or the lag pairing is nondeterministic.
    * The first m rows of each key have no lag value and emit no row;
    * keys with zero residual variance emit null z.
    *
    * @return flagged rows only: (keyCol, tsCol, value, expected,
    *         residual, z), z rounded to 6 */
  def seasonalAnomaly(df: DataFrame, keyCol: String, tsCol: String,
                      valueCol: String, season: Int,
                      zThreshold: Double = 3.0,
                      tieBreakCols: Seq[String] = Nil): DataFrame = {
    require(season >= 1, "season must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val v = F.col(valueCol).cast("double")
    val base = df
      .where(v.isNotNull && !F.isnan(v) && F.col(tsCol).isNotNull)
      .select(Seq(F.col(keyCol), F.col(tsCol)) ++
        tieBreakCols.map(F.col) :+ v.as("value"): _*)
    val wOrd = Window.partitionBy(F.col(keyCol))
      .orderBy(F.col(tsCol) +: tieBreakCols.map(F.col): _*)
    val wKey = Window.partitionBy(F.col(keyCol))
    val lagged = base
      .withColumn("expected", F.lag("value", season).over(wOrd))
      .withColumn("residual", F.col("value") - F.col("expected"))
    val r = F.col("residual")
    val withMoments = lagged
      .where(r.isNotNull)
      .withColumn("__n", F.count(F.lit(1)).over(wKey))
      .withColumn("__s", F.sum(r).over(wKey))
      .withColumn("__ss", F.sum(r * r).over(wKey))
    val n = F.col("__n").cast("double")
    val mean = F.col("__s") / n
    val variance = F.col("__ss") / n - mean * mean
    withMoments
      .withColumn("z", F.when(variance > 0.0,
        F.round((r - mean) / F.sqrt(variance), 6)))
      .where(F.abs(F.col("z")) > zThreshold)
      .select(F.col(keyCol), F.col(tsCol), F.col("value"),
        F.col("expected"), F.col("residual"), F.col("z"))
  }

  /** CUSUM changepoint scan per key: the maximum standardized
    * cumulative deviation from the key's mean,
    *
    *   stat = maxᵢ |Σ_{j≤i}(xⱼ−x̄)| / (σ̂·√n),   cp_ts = earliest ts
    *   achieving the max
    *
    * — large stat ⇒ the series' level shifted somewhere; cp_ts is the
    * classic CUSUM location estimate. The argmax is taken on the
    * INTEGER-SHAPED numerator |n·CSᵢ − i·S| (CS = ordered cumulative
    * sum, S = total): for integer-valued inputs every comparison is
    * exact under any summation order, so the location replays
    * bit-identically in an external engine; the reported stat divides
    * by the moment-form σ̂ once per key. Scale shape: per-key windows
    * (one shuffle on the key), one aggregation; zero-variance keys are
    * omitted.
    *
    * @return one row per key: (keyCol, n, cusum, cp_ts), cusum rounded
    *         to 6 */
  def cusumByKey(df: DataFrame, keyCol: String, tsCol: String,
                 valueCol: String,
                 tieBreakCols: Seq[String] = Nil): DataFrame = {
    val v = F.col(valueCol).cast("double")
    val base = df
      .where(v.isNotNull && !F.isnan(v) && F.col(tsCol).isNotNull)
      .select(Seq(F.col(keyCol), F.col(tsCol)) ++
        tieBreakCols.map(F.col) :+ v.as("__x"): _*)
    val wAll = Window.partitionBy(F.col(keyCol))
    val wOrd = Window.partitionBy(F.col(keyCol))
      .orderBy(F.col(tsCol) +: tieBreakCols.map(F.col): _*)
    val scanned = base
      .withColumn("__n", F.count(F.lit(1)).over(wAll))
      .withColumn("__s", F.sum("__x").over(wAll))
      .withColumn("__ssq", F.sum(F.col("__x") * F.col("__x")).over(wAll))
      .withColumn("__cs", F.sum("__x").over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__i", F.row_number().over(wOrd).cast("long"))
      .withColumn("__num", F.abs(F.col("__n") * F.col("__cs") -
        F.col("__i") * F.col("__s")))
    val withMax = scanned
      .withColumn("__mx", F.max("__num").over(wAll))
      // population variance from the exact sufficient statistics —
      // identical arithmetic shape on the replay side
      .withColumn("__var", F.col("__ssq") / F.col("__n") -
        (F.col("__s") / F.col("__n")) * (F.col("__s") / F.col("__n")))
      .where(F.col("__var") > 0.0 && F.col("__num") === F.col("__mx"))
    withMax.groupBy(F.col(keyCol)).agg(
      F.max("__n").as("n"),
      F.round(F.max("__mx") /
        (F.max("__n").cast("double") * F.sqrt(F.max("__var")) *
          F.sqrt(F.max("__n").cast("double"))), 6).as("cusum"),
      F.min(F.col(tsCol)).as("cp_ts"))
  }

  /** Inter-arrival delta per key: time since the key's previous event
    * (null on each key's first event) — the raw material for activity
    * scoring, bot detection (impossibly regular gaps), and session-gap
    * tuning. One lag window per key. Pass `tieBreakCols` (e.g. the
    * event id) when timestamps can collide — lag over an ambiguous
    * order is nondeterministic. */
  def interArrival(df: DataFrame, keyCol: String, tsCol: String,
                   deltaCol: String = "delta_ts",
                   tieBreakCols: Seq[String] = Nil): DataFrame = {
    val wOrd = Window.partitionBy(F.col(keyCol))
      .orderBy(F.col(tsCol) +: tieBreakCols.map(F.col): _*)
    df.withColumn(deltaCol,
      F.col(tsCol) - F.lag(F.col(tsCol), 1).over(wOrd))
  }

  /** Mann–Kendall trend test + Sen's slope per key — the standard
    * monotone-trend detector for metric time series ([[trendByKey]]'s
    * Spearman coefficient DESCRIBES the trend; this one TESTS it, with
    * the tie-corrected variance and continuity correction, and Sen's
    * slope gives the robust per-period rate).
    *
    * The series is first aggregated to one value per (key, period)
    * (mean), so the pair stage is bounded by PERIOD COUNT squared —
    * never by row count: S = Σᵢ<ⱼ sign(vⱼ−vᵢ) and the slope pairs come
    * from a per-key self-join over the tiny period frame. The period
    * mean is an EXACT decimal(38,6) sum divided by the count — a
    * plain `avg` reduces doubles in task-completion order, and a
    * last-ULP wobble in a mean can flip a sign() pair, i.e. flip the
    * INTEGER S itself; the decimal sum is order-independent, so every
    * downstream double is bit-reproducible run-to-run and replayable.
    *
    *   Var(S) = [m(m−1)(2m+5) − Σₜ t(t−1)(2t+5)] / 18  (t = tie sizes)
    *   z = (S∓1)/√Var (continuity-corrected), p = erfc(|z|/√2)
    *
    * Sen's slope is the exact LOWER median of the pairwise
    * (vⱼ−vᵢ)/(tⱼ−tᵢ) ([[Regression.theilSenByGroup]] convention). z is
    * rounded to 6 before the p evaluation (Cody erfc both engines).
    *
    * @return one row per key with ≥ 3 periods: (keyCol, m, s_stat,
    *         var_s, z, p_value, sen_slope)
    */
  def mannKendallByKey(df: DataFrame, keyCol: String, tsCol: String,
                       valueCol: String, periodUnit: Long): DataFrame = {
    require(periodUnit > 0L, "periodUnit must be positive")
    import org.apache.spark.sql.expressions.Window
    val v = F.col(valueCol).cast("double")
    val t = F.col(tsCol).cast("long")
    val cells = df
      .where(F.col(keyCol).isNotNull && t.isNotNull && v.isNotNull &&
        !F.isnan(v))
      .groupBy(F.col(keyCol).as("__k"),
        F.expr(s"CAST(`$tsCol` AS BIGINT) DIV $periodUnit").as("__p"))
      .agg((F.sum(v.cast("decimal(38,6)")).cast("double") /
        F.count(F.lit(1))).as("__v"))
    val a = cells.select(F.col("__k"), F.col("__p").as("pi"),
      F.col("__v").as("vi"))
    val b = cells.select(F.col("__k"), F.col("__p").as("pj"),
      F.col("__v").as("vj"))
    val pairs = a.join(b, "__k").where(F.col("pi") < F.col("pj"))
      .withColumn("__sgn",
        F.when(F.col("vj") > F.col("vi"), 1L)
          .when(F.col("vj") < F.col("vi"), -1L).otherwise(0L))
      .withColumn("__slope",
        (F.col("vj") - F.col("vi")) /
          (F.col("pj") - F.col("pi")).cast("double"))
    val sS = pairs.groupBy("__k").agg(
      F.sum("__sgn").as("s_stat"),
      F.count(F.lit(1)).as("n_pairs"))
    // tie groups over the period VALUES per key
    val ties = cells.groupBy("__k", "__v").agg(F.count(F.lit(1)).as("tt"))
      .groupBy("__k").agg(
        F.count(F.lit(1)).as("__dv"),
        F.sum("tt").as("m"),
        F.sum(F.col("tt") * (F.col("tt") - 1L) *
          (F.lit(2L) * F.col("tt") + 5L)).as("__tcorr"))
      .where(F.col("m") >= 3L)
    val wS = Window.partitionBy("__k").orderBy(F.col("__slope"))
    val sen = pairs.where(F.col("pj") > F.col("pi"))
      .withColumn("__sr", F.row_number().over(wS))
      .withColumn("__sm", F.count(F.lit(1)).over(
        Window.partitionBy("__k")))
      .where(F.col("__sr") === ((F.col("__sm") + F.lit(1)) / F.lit(2))
        .cast("int"))
      .select(F.col("__k"), F.col("__slope").as("sen_slope"))
    val m = F.col("m").cast("double")
    val varS = (m * (m - 1.0) * (F.lit(2.0) * m + 5.0) -
      F.col("__tcorr").cast("double")) / 18.0
    val s = F.col("s_stat").cast("double")
    val zRaw = F.when(F.col("s_stat") > 0L, (s - 1.0) / F.sqrt(varS))
      .when(F.col("s_stat") < 0L, (s + 1.0) / F.sqrt(varS))
      .otherwise(0.0)
    val erfcUdf = F.udf((z: Double) =>
      graft.functions.SpecialMath.erfc(math.abs(z) / math.sqrt(2.0)))
    ties.join(sS, "__k").join(sen, Seq("__k"), "left")
      .where(varS > 0.0)
      .withColumn("z", F.round(zRaw, 6))
      .select(F.col("__k").as(keyCol), F.col("m"), F.col("s_stat"),
        F.round(varS, 6).as("var_s"), F.col("z"),
        F.round(erfcUdf(F.col("z")), 6).as("p_value"),
        F.round(F.col("sen_slope"), 6).as("sen_slope"))
  }

  /** Classical additive seasonal decomposition per key:
    * x = trend + seasonal + remainder, with the trend a centered
    * moving average of one full period (the even-period form uses the
    * textbook 2×m MA — half weight on both end cells), the seasonal
    * component the per-phase mean of the detrended series RE-CENTERED
    * to sum to zero over a period, and the remainder what's left. The
    * decomposition behind "is this drop a trend break or just
    * Tuesday" — [[seasonalIndexByKey]] gives the ratio profile; this
    * splits the actual series.
    *
    * One per-key ROWS window chain (never global) + one (key, phase)
    * aggregation joined back broadcast-sized. Rows whose centered
    * window is incomplete (the first/last m/2 points) get null trend,
    * null remainder — honest edges, no padding. Period positions come
    * from row ORDER within the key (gaps allowed — "the k-th
    * observation", the classical-decomposition convention).
    *
    * @return input key/ts/value plus (phase, trend, seasonal,
    *         remainder), doubles rounded to 6.
    */
  def seasonalDecompose(df: DataFrame, keyCol: String, tsCol: String,
                        valueCol: String, period: Int): DataFrame = {
    require(period >= 2, "period must be >= 2")
    import org.apache.spark.sql.expressions.Window
    val v = F.col(valueCol).cast("double")
    val t = F.col(tsCol).cast("long")
    val clean = df
      .where(F.col(keyCol).isNotNull && t.isNotNull && v.isNotNull &&
        !F.isnan(v))
      .select(F.col(keyCol).as("__k"), t.as("__t"), v.as("__v"))
    val wOrd = Window.partitionBy("__k").orderBy("__t")
    val half = period / 2
    val (trend, span) =
      if (period % 2 == 0) {
        // 2×m MA: (½·x_{t−m/2} + x_{…} + ½·x_{t+m/2}) / m
        val wSpan = wOrd.rowsBetween(-half, half)
        val s = F.sum("__v").over(wSpan)
        val cnt = F.count("__v").over(wSpan)
        val ends = (F.lag("__v", half).over(wOrd) +
          F.lead("__v", half).over(wOrd)) * 0.5
        (F.when(cnt === (period + 1).toLong,
          (s - ends) / period.toDouble), period + 1)
      } else {
        val wSpan = wOrd.rowsBetween(-half, half)
        val s = F.sum("__v").over(wSpan)
        val cnt = F.count("__v").over(wSpan)
        (F.when(cnt === period.toLong, s / period.toDouble), period)
      }
    val base = clean
      .withColumn("phase",
        F.pmod(F.row_number().over(wOrd) - F.lit(1), F.lit(period))
          .cast("long"))
      .withColumn("__tr", trend)
      .withColumn("__de", F.col("__v") - F.col("__tr"))
    val phaseMeans = base.where(F.col("__de").isNotNull)
      .groupBy("__k", "phase")
      .agg(F.avg("__de").as("__pm"))
    val wk = Window.partitionBy("__k")
    val centered = phaseMeans
      .withColumn("__sea", F.col("__pm") - F.avg("__pm").over(wk))
      .select("__k", "phase", "__sea")
    base.join(F.broadcast(centered), Seq("__k", "phase"), "left")
      .select(F.col("__k").as(keyCol), F.col("__t").as(tsCol),
        F.col("__v").as(valueCol), F.col("phase"),
        F.round(F.col("__tr"), 6).as("trend"),
        F.round(F.col("__sea"), 6).as("seasonal"),
        F.round(F.col("__de") - F.col("__sea"), 6).as("remainder"))
  }

  /** STL-style robust seasonal-trend decomposition per key — the
    * loess rung above the classical [[seasonalDecompose]] (whose
    * seasonal is ONE averaged profile and whose 2×m MA trend chases
    * outliers): seasonal varies smoothly ACROSS cycles
    * (cycle-subseries loess), the trend is a loess smoother, and one
    * bisquare-robustness pass down-weights outliers so level shifts
    * and spikes don't leak into either component (Cleveland et al.
    * 1990, the batch fixed-round readout).
    *
    * Per inner pass, on the period cells (same cell construction as
    * [[sarimaByKey]], same CONTIGUOUS-PERIOD contract — the
    * phase/cycle indexing is by row position):
    *   1. detrend d = v − T;
    *   2. C = per-(key, phase) local-LINEAR loess of d over cycle
    *      number (tricube × robustness weights, half-window
    *      (seasonalSpan−1)/2 cycles, truncated at the series ends);
    *   3. low-pass L = MA₃(MA_m(MA_m(C))) (centered truncated
    *      windows; even m uses the ½-end-weight 2×m form, which a
    *      full-weight width-(m+1) window would not annihilate),
    *      seasonal S = C − L — removes trend leakage;
    *   4. T = loess of (v − S) over row position (half-window
    *      (trendSpan−1)/2).
    * After each robustness round, ρ = bisquare(|R|/(6·median|R|))
    * with the EXACT per-key median (row-position extraction), and the
    * inner pass repeats with weighted loess. Fixed rounds, every
    * smoothed column 6-rounded, loess moment sums DECIMAL(38,12) —
    * the whole trajectory replays bit-for-bit in an external engine.
    *
    * Scale shape: everything is per-key windows and half-window-
    * bounded self-joins on the PERIOD-CELL frame (data volume =
    * #keys × #periods, not raw rows); each pass localCheckpoints so
    * the plan stays O(1) deep. Keys with fewer than 2·period cells
    * are dropped (nothing to decompose).
    *
    * @return one row per period cell: (keyCol, period, value,
    *         seasonal, trend, remainder), components 6-rounded */
  def stlByKey(df: DataFrame, keyCol: String, tsCol: String,
               valueCol: String, periodUnit: Long, period: Int,
               seasonalSpan: Int = 7, trendSpan: Int = 13,
               innerRounds: Int = 2, robustRounds: Int = 1): DataFrame = Persisted { scope =>
    require(periodUnit > 0L, "periodUnit must be positive")
    require(period >= 2 && period <= 1000, "period must be in 2..1000")
    require(seasonalSpan >= 3 && seasonalSpan % 2 == 1,
      "seasonalSpan must be odd and >= 3 (cycles)")
    require(trendSpan >= 3 && trendSpan % 2 == 1,
      "trendSpan must be odd and >= 3 (periods)")
    require(innerRounds >= 1 && innerRounds <= 4,
      "innerRounds must be in 1..4")
    require(robustRounds >= 0 && robustRounds <= 3,
      "robustRounds must be in 0..3")
    val hs = (seasonalSpan - 1) / 2
    val ht = (trendSpan - 1) / 2
    val mh = period / 2
    val v = F.col(valueCol).cast("double")
    val t = F.col(tsCol).cast("long")
    val wOrd = Window.partitionBy("__k").orderBy("__p")
    val wKey = Window.partitionBy("__k")
    def rint6(src: DataFrame, tmp: String, out: String): DataFrame =
      src.withColumn(out, F.expr(s"rint($tmp * 1e6) / 1e6 + 0.0"))
        .drop(tmp)
    val cells = scope.checkpoint(df
      .where(F.col(keyCol).isNotNull && t.isNotNull && v.isNotNull &&
        !F.isnan(v))
      .groupBy(F.col(keyCol).as("__k"),
        F.expr(s"CAST(`$tsCol` AS BIGINT) DIV $periodUnit").as("__p"))
      .agg((F.sum(v.cast("decimal(38,6)")).cast("double") /
        F.count(F.lit(1))).as("__v"))
      .withColumn("__n", F.count(F.lit(1)).over(wKey))
      .where(F.col("__n") >= 2L * period)
      .drop("__n")
      .withColumn("__i", F.row_number().over(wOrd).cast("long"))
      .withColumn("__ph", F.expr(s"(__i - 1) % $period"))
      .withColumn("__cy", F.expr(s"CAST((__i - 1) DIV $period AS BIGINT)"))
      .withColumn("__rho", F.lit(1.0))
      .withColumn("__t", F.lit(0.0))
      .withColumn("__s", F.lit(0.0)))

    // weighted local-linear loess of `valCol` at every point of `src`,
    // over cycle number within (key, phase) [seasonal] or row position
    // within key [trend]; returns (__k, __i, out) 6-rounded
    def loess(src: DataFrame, valCol: String, byPhase: Boolean,
              half: Int, out: String): DataFrame = {
      val a = src.select("__k", "__i", "__ph", "__cy").alias("a")
      val b = src.select(F.col("__k"), F.col("__i"), F.col("__ph"),
        F.col("__cy"), F.col(valCol), F.col("__rho")).alias("b")
      val posA = if (byPhase) F.col("a.__cy") else F.col("a.__i")
      val posB = if (byPhase) F.col("b.__cy") else F.col("b.__i")
      val cond0 = F.col("a.__k") === F.col("b.__k") &&
        F.abs(posB - posA) <= half.toLong
      val cond = if (byPhase) cond0 && F.col("a.__ph") === F.col("b.__ph")
      else cond0
      val u = (posB - posA).cast("double")
      val d = F.abs(u) / F.lit(half + 1.0)
      val om = F.lit(1.0) - d * d * d
      val pairs = a.join(b, cond)
        .select(F.col("a.__k").as("__k"), F.col("a.__i").as("__i"),
          u.as("__u"), F.col("b." + valCol).as("__y"),
          (om * om * om * F.col("b.__rho")).as("__w0"))
        .withColumn("__w", F.expr("rint(__w0 * 1e12) / 1e12"))
      def dsum(c: org.apache.spark.sql.Column, nm: String) =
        F.sum(c.cast("decimal(38,12)")).cast("double").as(nm)
      val s = pairs.groupBy("__k", "__i").agg(
        dsum(F.col("__w"), "sw"),
        dsum(F.col("__w") * F.col("__u"), "swu"),
        dsum(F.col("__w") * F.col("__u") * F.col("__u"), "swuu"),
        dsum(F.col("__w") * F.col("__y"), "swy"),
        dsum(F.col("__w") * F.col("__u") * F.col("__y"), "swuy"))
      val det = F.col("sw") * F.col("swuu") - F.col("swu") * F.col("swu")
      val fit = s.withColumn("__f0",
        F.when(det > 0.0,
          (F.col("swuu") * F.col("swy") - F.col("swu") * F.col("swuy")) /
            det)
          .otherwise(F.col("swy") / F.col("sw")))
      rint6(fit, "__f0", out).select("__k", "__i", out)
    }

    def ma(src: DataFrame, valCol: String, half: Int,
           out: String): DataFrame = {
      val w = Window.partitionBy("__k").orderBy("__i")
        .rowsBetween(-half, half)
      val avg = F.sum(F.col(valCol).cast("decimal(38,6)")).over(w)
        .cast("double") / F.count(F.lit(1)).over(w).cast("double")
      rint6(src.withColumn("__ma0", avg), "__ma0", out)
    }

    // the period-length smoother: odd m = plain centered width-m MA;
    // even m = the 2×m half-end-weight form (a width-(m+1) window
    // with full weights does NOT annihilate an even-period seasonal),
    // truncated-average fallback at the series ends
    def maPeriod(src: DataFrame, valCol: String,
                 out: String): DataFrame =
      if (period % 2 == 1) ma(src, valCol, mh, out)
      else {
        val w = Window.partitionBy("__k").orderBy("__i")
          .rowsBetween(-mh, mh)
        val wo = Window.partitionBy("__k").orderBy("__i")
        val sd = F.sum(F.col(valCol).cast("decimal(38,6)")).over(w)
          .cast("double")
        val cnt = F.count(F.lit(1)).over(w)
        val ends = (F.lag(valCol, mh).over(wo) +
          F.lead(valCol, mh).over(wo)) * F.lit(0.5)
        val expr = F.when(cnt === (period + 1).toLong,
          (sd - ends) / F.lit(period.toDouble))
          .otherwise(sd / cnt.cast("double"))
        rint6(src.withColumn("__ma0", expr), "__ma0", out)
      }

    val baseCols = Seq("__k", "__p", "__i", "__ph", "__cy", "__v",
      "__rho", "__t", "__s")

    def innerPass(cur: DataFrame): DataFrame = {
      val det = cur.withColumn("__dt", F.col("__v") - F.col("__t"))
      val cFr = loess(det, "__dt", byPhase = true, hs, "__c")
      val withC = det.join(cFr, Seq("__k", "__i"))
      val l1 = maPeriod(withC, "__c", "__l1")
      val l2 = maPeriod(l1, "__l1", "__l2")
      val l3 = ma(l2, "__l2", 1, "__l3")
      val withS = rint6(
        l3.withColumn("__s0", F.col("__c") - F.col("__l3")), "__s0",
        "__sn")
        .withColumn("__ds", F.col("__v") - F.col("__sn"))
      val tFr = loess(withS, "__ds", byPhase = false, ht, "__tn")
      withS.join(tFr, Seq("__k", "__i"))
        .withColumn("__t", F.col("__tn"))
        .withColumn("__s", F.col("__sn"))
        .select(baseCols.map(F.col): _*)
    }

    def reweight(cur: DataFrame): DataFrame = {
      val r = cur
        .withColumn("__ra",
          F.abs(F.col("__v") - F.col("__t") - F.col("__s")))
      val wRank = Window.partitionBy("__k").orderBy("__ra")
      val med = r
        .withColumn("__rn", F.row_number().over(wRank).cast("long"))
        .withColumn("__cnt", F.count(F.lit(1)).over(wKey))
        .where(F.col("__rn") * 2 === F.col("__cnt") + 1 ||
          (F.col("__cnt") % 2 === 0 &&
            (F.col("__rn") * 2 === F.col("__cnt") ||
              F.col("__rn") * 2 === F.col("__cnt") + 2)))
        .groupBy("__k").agg(F.avg("__ra").as("__h"))
      val uCol = F.col("__ra") / (F.lit(6.0) * F.col("__h"))
      val omU = F.lit(1.0) - uCol * uCol
      val rho0 = F.when(F.col("__h") <= 0.0, F.lit(1.0))
        .when(uCol < 1.0, omU * omU)
        .otherwise(F.lit(0.0))
      // 1e-6 floor: a window whose points ALL hit the bisquare zero
      // (tiny median remainder + a cluster of outliers) would give a
      // zero loess weight sum — the floor keeps every fit defined
      // while still down-weighting outliers by 10^6
      rint6(
        r.join(med, "__k").withColumn("__rho0", rho0).drop("__rho"),
        "__rho0", "__rho1")
        .withColumn("__rho", F.greatest(F.col("__rho1"), F.lit(1e-6)))
        .select(baseCols.map(F.col): _*)
    }

    var cur = cells
    var o = 0
    while (o <= robustRounds) {
      var i = 0
      while (i < innerRounds) { cur = scope.round(cur, innerPass(cur)); i += 1 }
      if (o < robustRounds) cur = scope.round(cur, reweight(cur))
      o += 1
    }
    rint6(
      cur.withColumn("__r0",
        F.col("__v") - F.col("__t") - F.col("__s")),
      "__r0", "remainder")
      .select(F.col("__k").as(keyCol), F.col("__p").as("period"),
        F.col("__v").as("value"), F.col("__s").as("seasonal"),
        F.col("__t").as("trend"), F.col("remainder"))
  }

  /** Hyndman–Wang seasonal/trend STRENGTH per key — the one-number
    * "is this series actually seasonal (trending)" router on top of
    * [[seasonalDecompose]], the acceptance metric the decomposition
    * itself lacks (the modularity-for-labelPropagation analogue):
    *
    *   F_s = max(0, 1 − Var(R) / Var(S + R)),
    *   F_t = max(0, 1 − Var(R) / Var(T + R))
    *
    * over the interior rows where the centered-MA trend (hence the
    * remainder) is defined. Near 1 = the component dominates; near 0
    * = noise — route to [[holtWintersByKey]] when F_s is high, plain
    * [[holtByKey]] when it is not.
    *
    * Replay shape: the variances fold DECIMAL-exact sums of the
    * decomposition's 6-ROUNDED component columns (already
    * hash-checked values), so both engines aggregate bit-identical
    * inputs; population variance, strengths rounded to 6. Cost =
    * [[seasonalDecompose]] + one per-key aggregation.
    *
    * @return one row per key: (keyCol, n_used, seasonal_strength,
    *         trend_strength) — null strength when the component
    *         variance is zero */
  def seasonalStrengthByKey(df: DataFrame, keyCol: String,
                            tsCol: String, valueCol: String,
                            period: Int): DataFrame = {
    val dec = seasonalDecompose(df, keyCol, tsCol, valueCol, period)
    val r = F.col("remainder")
    val sr = F.col("seasonal") + F.col("remainder")
    val tr = F.col("trend") + F.col("remainder")
    val agg = dec.where(r.isNotNull)
      .groupBy(F.col(keyCol))
      .agg(F.count(F.lit(1)).as("n_used"),
        dsum(r).as("__sr"), dsum(r * r).as("__srr"),
        dsum(sr).as("__ss"), dsum(sr * sr).as("__sss"),
        dsum(tr).as("__st"), dsum(tr * tr).as("__stt"))
    val n = F.col("n_used").cast("double")
    def varOf(s: String, ss: String) =
      F.col(ss) / n - (F.col(s) / n) * (F.col(s) / n)
    val vR = varOf("__sr", "__srr")
    val vS = varOf("__ss", "__sss")
    val vT = varOf("__st", "__stt")
    agg.where(F.col("n_used") >= 2L)
      .select(F.col(keyCol), F.col("n_used"),
        F.when(vS > 0.0, F.round(
          F.greatest(F.lit(0.0), F.lit(1.0) - vR / vS), 6))
          .as("seasonal_strength"),
        F.when(vT > 0.0, F.round(
          F.greatest(F.lit(0.0), F.lit(1.0) - vR / vT), 6))
          .as("trend_strength"))
  }

  /** Box–Cox normalizing-power selection per group by profile
    * likelihood over a FIXED λ grid — "which power transform makes
    * each segment's metric most normal", the feature-engineering
    * prerequisite for everything downstream that assumes
    * symmetric-ish residuals (z-scores, control charts, OLS). Strictly
    * positive values only; groups with any x ≤ 0 or fewer than 3 rows
    * are omitted.
    *
    *   ℓ(λ) = −n/2·ln σ̂²_pop(y_λ) + (λ−1)·Σ ln x,
    *   y_λ = (x^λ−1)/λ  (ln x at λ = 0)
    *
    * Scale shape: the grid is exploded MAP-SIDE (each row emits its
    * |grid| transformed values), one (group, λ) aggregation of
    * {n, Σy, Σy², Σln x} — exchange is groups×|grid| rows regardless
    * of data size — then a per-group window argmax (ties → smaller λ).
    * Deterministic, no iteration, SQL-replayable via the same
    * generate_series explode.
    *
    * @param lambdas the candidate grid, default −2.0 to 2.0 by 0.25
    * @return one row per group: (groupCols..., lambda, ll, n)
    */
  def boxCoxByGroup(df: DataFrame, valueCol: String,
                    groupCols: Seq[String],
                    lambdas: Seq[Double] =
                      (-8 to 8).map(_ * 0.25)): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    require(lambdas.nonEmpty, "need a non-empty lambda grid")
    import org.apache.spark.sql.expressions.Window
    val x = F.col(valueCol).cast("double")
    val g = groupCols.map(F.col)
    // ln x is computed ONCE per row BEFORE the grid explode (x^λ then
    // evaluates as exp(λ·ln x) — one exp per (row, λ) instead of a full
    // pow; the oracle mirrors the same shape)
    val pos = df.where(x.isNotNull && !F.isnan(x))
      .select(g :+ x.as("__x"): _*)
      .withColumn("__lx", F.log("__x"))
    // a single non-positive value invalidates the whole group's
    // transform — count them per group and keep all-positive groups
    val grid = F.array(lambdas.map(F.lit): _*)
    val lam = F.col("__lam").cast("double")
    val y = F.when(lam === 0.0, F.col("__lx"))
      .otherwise((F.exp(lam * F.col("__lx")) - 1.0) / lam)
    val cells = pos
      .select(g :+ F.col("__x") :+ F.col("__lx") :+
        F.explode(grid).as("__lam"): _*)
      .groupBy(g :+ F.col("__lam"): _*)
      .agg(
        F.count(F.lit(1)).as("n"),
        F.sum(F.when(F.col("__x") <= 0.0, 1L).otherwise(0L)).as("bad"),
        F.sum(F.when(F.col("__x") > 0.0, y)).as("sy"),
        F.sum(F.when(F.col("__x") > 0.0, y * y)).as("syy"),
        F.sum(F.when(F.col("__x") > 0.0, F.col("__lx"))).as("slx"))
      .where(F.col("bad") === 0L && F.col("n") >= 3L)
    val n = F.col("n").cast("double")
    val varPop = F.col("syy") / n -
      (F.col("sy") / n) * (F.col("sy") / n)
    val ll = F.lit(-0.5) * n * F.log(varPop) +
      (lam - 1.0) * F.col("slx")
    val wg = Window.partitionBy(g: _*)
      .orderBy(F.desc("__ll"), F.asc("__lam"))
    cells
      .where(varPop > 0.0)
      .withColumn("__ll", ll)
      .withColumn("__rk", F.row_number().over(wg))
      .where(F.col("__rk") === 1)
      .select(g :+ F.col("__lam").as("lambda") :+
        F.round(F.col("__ll"), 6).as("ll") :+ F.col("n"): _*)
  }

  /** Decimal-exact period means per key — the shared series builder
    * for the rank/changepoint tests below (the [[mannKendallByKey]]
    * convention: sums ride decimal(38,6) so the period value replays
    * bit-for-bit in any engine). Output: (__k, __p, __v). */
  private def periodCells(df: DataFrame, keyCol: String, tsCol: String,
                          valueCol: String,
                          periodUnit: Long): DataFrame = {
    require(periodUnit > 0L, "periodUnit must be positive")
    val v = F.col(valueCol).cast("double")
    val t = F.col(tsCol).cast("long")
    df.where(F.col(keyCol).isNotNull && t.isNotNull && v.isNotNull &&
        !F.isnan(v))
      .groupBy(F.col(keyCol).as("__k"),
        F.expr(s"CAST(`$tsCol` AS BIGINT) DIV $periodUnit").as("__p"))
      .agg((F.sum(v.cast("decimal(38,6)")).cast("double") /
        F.count(F.lit(1))).as("__v"))
  }

  /** Cochrane–Orcutt AR(1) correction for the per-key trend regression
    * — what the [[neweyWestByKey]] diagnostic ACTS on: when residual
    * autocorrelation inflates the OLS trend's certainty, re-estimate
    * on the quasi-differenced series,
    *
    *   ρ̂ = Σeₜeₜ₋₁/Σeₜ₋₁²,   y*ₜ = yₜ − ρ̂yₜ₋₁,  x*ₜ = xₜ − ρ̂xₜ₋₁
    *
    * (one CO step — the textbook two-stage, not iterated; β and ρ̂
    * 6-rounded so the whole chain replays). x is the period index.
    * Keyed windows + two Cramer passes; keys with n < 8 or degenerate
    * variance omitted.
    *
    * @return one row per key: (keyCol, n_periods, rho, slope_ols,
    *         slope_co, icept_co) rounded to 6 */
  def cochraneOrcuttByKey(df: DataFrame, keyCol: String, tsCol: String,
                          valueCol: String,
                          periodUnit: Long): DataFrame = {
    val cells = periodCells(df, keyCol, tsCol, valueCol, periodUnit)
    val wKey = Window.partitionBy("__k")
    val wOrd = Window.partitionBy("__k").orderBy("__p")
    val base = cells
      .withColumn("__i", F.row_number().over(wOrd).cast("double"))
    // stage 1: OLS v ~ i per key (Cramer over keyed moments)
    val m1 = base.groupBy("__k").agg(
      F.count(F.lit(1)).as("n"),
      F.sum("__i").as("sx"), F.sum(F.col("__i") * F.col("__i")).as("sxx"),
      F.sum("__v").as("sy"),
      F.sum(F.col("__i") * F.col("__v")).as("sxy"))
      .withColumn("__det",
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
      .where(F.col("n") >= 8L && F.col("__det") > 0.0)
      .withColumn("b1", F.round(
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) /
          F.col("__det"), 6))
      .withColumn("b0", F.round(
        (F.col("sy") * F.col("sxx") - F.col("sx") * F.col("sxy")) /
          F.col("__det"), 6))
      .select("__k", "n", "b0", "b1")
    // stage 2: rho from lag-1 residuals, then the starred OLS
    val withE = base.join(m1, "__k")
      .withColumn("__e", F.col("__v") -
        (F.col("b0") + F.col("b1") * F.col("__i")))
      .withColumn("__el", F.lag("__e", 1).over(wOrd))
    val rho = withE.where(F.col("__el").isNotNull)
      .groupBy("__k").agg(
        F.sum(F.col("__e") * F.col("__el")).as("__num"),
        F.sum(F.col("__el") * F.col("__el")).as("__den"))
      .where(F.col("__den") > 0.0)
      .withColumn("rho", F.round(F.col("__num") / F.col("__den"), 6))
      // |rho| >= 1 means the AR(1) transform is non-stationary (and
      // rho == 1 exactly would Inf the icept_co division) — such keys
      // are dropped, mirroring the __det > 0 guard
      .where(F.abs(F.col("rho")) < 1.0)
      .select("__k", "rho")
    val starred = withE.join(rho, "__k")
      .withColumn("__vl", F.lag("__v", 1).over(wOrd))
      .withColumn("__il", F.lag("__i", 1).over(wOrd))
      .where(F.col("__vl").isNotNull)
      .withColumn("__ys", F.col("__v") - F.col("rho") * F.col("__vl"))
      .withColumn("__xs", F.col("__i") - F.col("rho") * F.col("__il"))
    val m2 = starred.groupBy("__k").agg(
      F.max("rho").as("rho"), F.max("b1").as("slope_ols"),
      F.max("n").as("n_periods"),
      F.count(F.lit(1)).as("ns"),
      F.sum("__xs").as("sx"),
      F.sum(F.col("__xs") * F.col("__xs")).as("sxx"),
      F.sum("__ys").as("sy"),
      F.sum(F.col("__xs") * F.col("__ys")).as("sxy"))
      .withColumn("__det",
        F.col("ns") * F.col("sxx") - F.col("sx") * F.col("sx"))
      .where(F.col("__det") > 0.0)
    m2.select(F.col("__k").as(keyCol), F.col("n_periods"),
      F.col("rho"), F.col("slope_ols"),
      F.round((F.col("ns") * F.col("sxy") -
        F.col("sx") * F.col("sy")) / F.col("__det"), 6).as("slope_co"),
      F.round(((F.col("sy") * F.col("sxx") -
        F.col("sx") * F.col("sxy")) / F.col("__det")) /
        (F.lit(1.0) - F.col("rho")), 6).as("icept_co"))
  }

  /** Lo–MacKinlay variance-ratio test per key — "is this series a
    * random walk, or does it mean-revert / trend" on the period
    * cells: under a random walk the variance of q-period changes is
    * exactly q × the 1-period variance, so
    *
    *   VR(q) = σ̂_q² / σ̂₁²,   z = (VR − 1)/√(2(2q−1)(q−1)/(3q·n'))
    *
    * with the overlapping bias-corrected estimators (μ̂ the drift,
    * m = q(n'−q+1)(1−q/n') the overlap correction). VR < 1 ⇒ mean
    * reversion (negative autocorrelation), VR > 1 ⇒ momentum — the
    * one-number router between [[holtByKey]]-style level models and
    * trend followers. Keyed lag windows + one aggregation; keys with
    * n' < 2q + 2 returns are omitted. μ̂/VR/z 6-rounded, p two-sided
    * normal at the rounded z (Cody erfc both engines).
    *
    * @return one row per key: (keyCol, n_periods, vr, z, p_value) */
  def varianceRatioByKey(df: DataFrame, keyCol: String, tsCol: String,
                         valueCol: String, periodUnit: Long,
                         q: Int = 5): DataFrame = {
    require(periodUnit > 0L, "periodUnit must be positive")
    require(q >= 2 && q <= 64, "q must be in 2..64")
    val v = F.col(valueCol).cast("double")
    val t = F.col(tsCol).cast("long")
    val cells = df
      .where(F.col(keyCol).isNotNull && t.isNotNull && v.isNotNull &&
        !F.isnan(v))
      .groupBy(F.col(keyCol).as("__k"),
        F.expr(s"CAST(`$tsCol` AS BIGINT) DIV $periodUnit").as("__p"))
      .agg((F.sum(v.cast("decimal(38,6)")).cast("double") /
        F.count(F.lit(1))).as("__v"))
    val wOrd = Window.partitionBy("__k").orderBy("__p")
    val wKey = Window.partitionBy("__k")
    val base = cells
      .withColumn("__l1", F.lag("__v", 1).over(wOrd))
      .withColumn("__lq", F.lag("__v", q).over(wOrd))
      .withColumn("__first", F.first("__v").over(
        wOrd.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
      .withColumn("__last", F.last("__v").over(
        wOrd.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
      .withColumn("__cnt", F.count(F.lit(1)).over(wKey))
    val qD = q.toDouble
    val mu = F.round((F.col("__last") - F.col("__first")) /
      (F.col("__cnt") - 1.0).cast("double"), 6)
    val withMu = base.withColumn("__mu", mu)
      .where(F.col("__cnt") >= (2 * q + 3).toLong)
    val d1 = F.col("__v") - F.col("__l1") - F.col("__mu")
    val dq = F.col("__v") - F.col("__lq") - F.lit(qD) * F.col("__mu")
    val agged = withMu.groupBy("__k").agg(
      F.max("__cnt").as("__n"),
      F.sum(F.when(F.col("__l1").isNotNull, d1 * d1)).as("__s1"),
      F.sum(F.when(F.col("__lq").isNotNull, dq * dq)).as("__sq"))
    val np = (F.col("__n") - 1L).cast("double") // number of returns
    val sA = F.col("__s1") / (np - 1.0)
    val mCorr = F.lit(qD) * (np - qD + 1.0) * (F.lit(1.0) - F.lit(qD) / np)
    val vr = F.round((F.col("__sq") / mCorr) / sA, 6)
    val phi = F.lit(2.0) * (2.0 * qD - 1.0) * (qD - 1.0) /
      (F.lit(3.0) * qD * np)
    val z = F.round((vr - F.lit(1.0)) / F.sqrt(phi), 6)
    val erfcUdf = F.udf((zz: Double) =>
      graft.functions.SpecialMath.erfc(math.abs(zz) / math.sqrt(2.0)))
    agged
      .where(F.col("__s1") > 0.0)
      .select(F.col("__k").as(keyCol),
        F.col("__n").as("n_periods"), vr.as("vr"), z.as("z"))
      .withColumn("p_value", F.round(erfcUdf(F.col("z")), 6))
  }

  /** Breusch–Godfrey LM test for AR(1) serial correlation per key —
    * the REGRESSION-residual autocorrelation test the Durbin–Watson
    * rule-of-thumb approximates: after the per-key trend OLS
    * v ~ (1, i) (the [[cochraneOrcuttByKey]] stage 1), regress the
    * residual on (1, i, e_{t−1}) and
    *
    *   LM = n_aux · R²_aux  ~  χ²(1),   p = erfc(√(LM/2))
    *
    * — significant LM says the trend model's errors remember
    * themselves, so its OLS standard errors are lies and the
    * Cochrane–Orcutt / Newey–West corrections on this shelf are the
    * next step. The 3×3 normal equations solve by Cramer in pure
    * column arithmetic; keys with a singular aux Gram, zero residual
    * variance, or fewer than 10 periods are omitted. b0/b1 6-rounded
    * (the cochraneOrcutt chain), LM 6-rounded, p at the rounded LM —
    * fully replayable.
    *
    * @return one row per key: (keyCol, n_periods, rho_lag1, lm_stat,
    *         p_value) — rho_lag1 the aux lagged-residual coefficient */
  def breuschGodfreyByKey(df: DataFrame, keyCol: String, tsCol: String,
                          valueCol: String,
                          periodUnit: Long): DataFrame = {
    require(periodUnit > 0L, "periodUnit must be positive")
    val v = F.col(valueCol).cast("double")
    val t = F.col(tsCol).cast("long")
    val cells = df
      .where(F.col(keyCol).isNotNull && t.isNotNull && v.isNotNull &&
        !F.isnan(v))
      .groupBy(F.col(keyCol).as("__k"),
        F.expr(s"CAST(`$tsCol` AS BIGINT) DIV $periodUnit").as("__p"))
      .agg((F.sum(v.cast("decimal(38,6)")).cast("double") /
        F.count(F.lit(1))).as("__v"))
    val wOrd = Window.partitionBy("__k").orderBy("__p")
    val base = cells
      .withColumn("__i", F.row_number().over(wOrd).cast("double"))
    val m1 = base.groupBy("__k").agg(
      F.count(F.lit(1)).as("n"),
      F.sum("__i").as("sx"), F.sum(F.col("__i") * F.col("__i")).as("sxx"),
      F.sum("__v").as("sy"),
      F.sum(F.col("__i") * F.col("__v")).as("sxy"))
      .withColumn("__det",
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
      .where(F.col("n") >= 10L && F.col("__det") > 0.0)
      .withColumn("b1", F.round(
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) /
          F.col("__det"), 6))
      .withColumn("b0", F.round(
        (F.col("sy") * F.col("sxx") - F.col("sx") * F.col("sxy")) /
          F.col("__det"), 6))
      .select("__k", "b0", "b1")
    val withE = base.join(m1, "__k")
      .withColumn("__e", F.col("__v") -
        (F.col("b0") + F.col("b1") * F.col("__i")))
      .withColumn("__el", F.lag("__e", 1).over(wOrd))
      .where(F.col("__el").isNotNull)
    val aux = withE.groupBy("__k").agg(
      F.count(F.lit(1)).as("n2"),
      F.sum("__i").as("si"), F.sum(F.col("__i") * F.col("__i")).as("sii"),
      F.sum("__el").as("se"),
      F.sum(F.col("__el") * F.col("__el")).as("see"),
      F.sum(F.col("__i") * F.col("__el")).as("sie"),
      F.sum("__e").as("sy"),
      F.sum(F.col("__i") * F.col("__e")).as("siy"),
      F.sum(F.col("__el") * F.col("__e")).as("sey"),
      F.sum(F.col("__e") * F.col("__e")).as("syy"))
    val n2 = F.col("n2").cast("double")
    // Cramer on [[n2,si,se],[si,sii,sie],[se,sie,see]] b = [sy,siy,sey]
    val det = n2 * (F.col("sii") * F.col("see") - F.col("sie") * F.col("sie")) -
      F.col("si") * (F.col("si") * F.col("see") - F.col("sie") * F.col("se")) +
      F.col("se") * (F.col("si") * F.col("sie") - F.col("sii") * F.col("se"))
    val d0 = F.col("sy") * (F.col("sii") * F.col("see") - F.col("sie") * F.col("sie")) -
      F.col("si") * (F.col("siy") * F.col("see") - F.col("sie") * F.col("sey")) +
      F.col("se") * (F.col("siy") * F.col("sie") - F.col("sii") * F.col("sey"))
    val d1 = n2 * (F.col("siy") * F.col("see") - F.col("sie") * F.col("sey")) -
      F.col("sy") * (F.col("si") * F.col("see") - F.col("sie") * F.col("se")) +
      F.col("se") * (F.col("si") * F.col("sey") - F.col("siy") * F.col("se"))
    val d2 = n2 * (F.col("sii") * F.col("sey") - F.col("siy") * F.col("sie")) -
      F.col("si") * (F.col("si") * F.col("sey") - F.col("siy") * F.col("se")) +
      F.col("sy") * (F.col("si") * F.col("sie") - F.col("sii") * F.col("se"))
    val sse = F.col("syy") -
      (d0 / det * F.col("sy") + d1 / det * F.col("siy") +
        d2 / det * F.col("sey"))
    val sst = F.col("syy") - F.col("sy") * F.col("sy") / n2
    val lm = F.round(n2 * (F.lit(1.0) - sse / sst), 6)
    val erfcUdf2 = F.udf((x: Double) =>
      graft.functions.SpecialMath.erfc(math.sqrt(x / 2.0)))
    aux
      .where(det > 0.0 && sst > 0.0)
      .select(F.col("__k").as(keyCol),
        (F.col("n2") + 1L).as("n_periods"),
        F.round(d2 / det, 6).as("rho_lag1"),
        lm.as("lm_stat"))
      .withColumn("p_value",
        F.round(erfcUdf2(F.greatest(F.col("lm_stat"), F.lit(0.0))), 6))
  }

  /** Chow structural-break test per key at a KNOWN split — the
    * inference rung next to [[binarySegmentByKey]] (which SEARCHES
    * for a break): when the break candidate is known (deploy date,
    * policy change), fit the trend OLS v ~ (1, i) pooled and on each
    * side of the split, and
    *
    *   F = ((RSS_p − RSS₁ − RSS₂)/2) / ((RSS₁ + RSS₂)/(n − 4))
    *
    * ~ F(2, n−4) under no break. d₁ = 2 makes the p-value the CLOSED
    * FORM (1 + 2F/d₂)^(−d₂/2) — replayable without betainc. Each RSS
    * is a pure function of half-wise moment sums; keys with a
    * singular half (n_half < 3 or zero x-variance) are omitted.
    * F 6-rounded, p at the rounded F.
    *
    * @param breakFraction the split point as a fraction of the key's
    *        ordered cells (row n·frac ends segment 1)
    * @return one row per key: (keyCol, n_periods, n_left, f_stat,
    *         p_value) */
  def chowTestByKey(df: DataFrame, keyCol: String, tsCol: String,
                    valueCol: String, periodUnit: Long,
                    breakFraction: Double = 0.5): DataFrame = {
    require(periodUnit > 0L, "periodUnit must be positive")
    require(breakFraction > 0.0 && breakFraction < 1.0,
      "breakFraction must be in (0, 1)")
    val v = F.col(valueCol).cast("double")
    val t = F.col(tsCol).cast("long")
    val cells = df
      .where(F.col(keyCol).isNotNull && t.isNotNull && v.isNotNull &&
        !F.isnan(v))
      .groupBy(F.col(keyCol).as("__k"),
        F.expr(s"CAST(`$tsCol` AS BIGINT) DIV $periodUnit").as("__p"))
      .agg((F.sum(v.cast("decimal(38,6)")).cast("double") /
        F.count(F.lit(1))).as("__v"))
    val wOrd = Window.partitionBy("__k").orderBy("__p")
    val wKey = Window.partitionBy("__k")
    val base = cells
      .withColumn("__i", F.row_number().over(wOrd).cast("double"))
      .withColumn("__n", F.count(F.lit(1)).over(wKey))
      .withColumn("__left", F.col("__i") <=
        F.floor(F.col("__n") * breakFraction).cast("double"))
    def seg(flag: org.apache.spark.sql.Column, tag: String) = Seq(
      F.sum(F.when(flag, 1.0).otherwise(0.0)).as(s"n$tag"),
      F.sum(F.when(flag, F.col("__i")).otherwise(0.0)).as(s"sx$tag"),
      F.sum(F.when(flag, F.col("__i") * F.col("__i")).otherwise(0.0))
        .as(s"sxx$tag"),
      F.sum(F.when(flag, F.col("__v")).otherwise(0.0)).as(s"sy$tag"),
      F.sum(F.when(flag, F.col("__i") * F.col("__v")).otherwise(0.0))
        .as(s"sxy$tag"),
      F.sum(F.when(flag, F.col("__v") * F.col("__v")).otherwise(0.0))
        .as(s"syy$tag"))
    val aggCols = seg(F.lit(true), "p") ++ seg(F.col("__left"), "1") ++
      seg(!F.col("__left"), "2")
    val agged = base.groupBy("__k").agg(aggCols.head, aggCols.tail: _*)
    // RSS of y ~ (1, x) from raw moments:
    // rss = syy - (b0*sy + b1*sxy), with Cramer b0/b1
    def rss(tag: String) = {
      val n = F.col(s"n$tag"); val sx = F.col(s"sx$tag")
      val sxx = F.col(s"sxx$tag"); val sy = F.col(s"sy$tag")
      val sxy = F.col(s"sxy$tag"); val syy = F.col(s"syy$tag")
      val det = n * sxx - sx * sx
      val b1 = (n * sxy - sx * sy) / det
      val b0 = (sy * sxx - sx * sxy) / det
      (syy - (b0 * sy + b1 * sxy), det)
    }
    val (rssP, detP) = rss("p")
    val (rss1, det1) = rss("1")
    val (rss2, det2) = rss("2")
    val nTot = F.col("np")
    val d2 = nTot - 4.0
    val fRaw = ((rssP - rss1 - rss2) / 2.0) / ((rss1 + rss2) / d2)
    val fR = F.round(fRaw, 6)
    val p = F.round(
      F.pow(F.lit(1.0) + F.lit(2.0) * fR / d2, (-d2) / 2.0), 6)
    agged
      .where(F.col("n1") >= 3.0 && F.col("n2") >= 3.0 &&
        det1 > 0.0 && det2 > 0.0 && detP > 0.0 &&
        rss1 + rss2 > 0.0 && fRaw >= 0.0)
      .select(F.col("__k").as(keyCol),
        F.col("np").cast("long").as("n_periods"),
        F.col("n1").cast("long").as("n_left"),
        fR.as("f_stat"), p.as("p_value"))
  }

  /** Pesaran–Timmermann directional-accuracy test per key — "does
    * yesterday's direction predict today's": the sign-agreement rate
    * between the day's change and the PREVIOUS day's change, tested
    * against the independence baseline
    *
    *   P* = P_y P_x + (1−P_y)(1−P_x),
    *   z = (P̂ − P*) / √(V(P̂) − V(P*))
    *
    * (Pesaran & Timmermann 1992, with the delta-method V(P*)) — the
    * nonparametric momentum gate next to [[varianceRatioByKey]]'s
    * variance view. Everything is a ratio of exact integer counts
    * until the final z, which is 6-rounded before the two-sided
    * normal p (Cody erfc). Keys with degenerate sign mixes (V̂ ≤ 0)
    * are omitted; zero changes count as "down" (deterministic tie
    * rule, documented here).
    *
    * @return one row per key: (keyCol, n_pairs, p_hat, p_star, z,
    *         p_value) */
  def pesaranTimmermannByKey(df: DataFrame, keyCol: String,
                             tsCol: String, valueCol: String,
                             periodUnit: Long): DataFrame = {
    require(periodUnit > 0L, "periodUnit must be positive")
    val v = F.col(valueCol).cast("double")
    val t = F.col(tsCol).cast("long")
    val cells = df
      .where(F.col(keyCol).isNotNull && t.isNotNull && v.isNotNull &&
        !F.isnan(v))
      .groupBy(F.col(keyCol).as("__k"),
        F.expr(s"CAST(`$tsCol` AS BIGINT) DIV $periodUnit").as("__p"))
      .agg((F.sum(v.cast("decimal(38,6)")).cast("double") /
        F.count(F.lit(1))).as("__v"))
    val wOrd = Window.partitionBy("__k").orderBy("__p")
    val base = cells
      .withColumn("__d", F.col("__v") - F.lag("__v", 1).over(wOrd))
      .withColumn("__dl", F.lag("__d", 1).over(wOrd))
      .where(F.col("__d").isNotNull && F.col("__dl").isNotNull)
      .withColumn("__uy", (F.col("__d") > 0.0).cast("long"))
      .withColumn("__ux", (F.col("__dl") > 0.0).cast("long"))
    val agged = base.groupBy("__k").agg(
      F.count(F.lit(1)).as("n"),
      F.sum("__uy").as("cy"), F.sum("__ux").as("cx"),
      F.sum(F.when(F.col("__uy") === F.col("__ux"), 1L).otherwise(0L))
        .as("agree"))
    val n = F.col("n").cast("double")
    val py = F.col("cy") / n
    val px = F.col("cx") / n
    val ph = F.col("agree") / n
    val ps = py * px + (F.lit(1.0) - py) * (F.lit(1.0) - px)
    val vh = ps * (F.lit(1.0) - ps) / n
    val vs = ((F.lit(2.0) * py - 1.0) * (F.lit(2.0) * py - 1.0) *
      px * (F.lit(1.0) - px) +
      (F.lit(2.0) * px - 1.0) * (F.lit(2.0) * px - 1.0) *
        py * (F.lit(1.0) - py) +
      F.lit(4.0) * py * px * (F.lit(1.0) - py) * (F.lit(1.0) - px) / n) / n
    val z = F.round((ph - ps) / F.sqrt(vh - vs), 6)
    val erfcUdf = F.udf((zz: Double) =>
      graft.functions.SpecialMath.erfc(math.abs(zz) / math.sqrt(2.0)))
    agged
      .where(F.col("n") >= 10L && vh - vs > 0.0)
      .select(F.col("__k").as(keyCol), F.col("n").as("n_pairs"),
        F.round(ph, 6).as("p_hat"), F.round(ps, 6).as("p_star"),
        z.as("z"))
      .withColumn("p_value", F.round(erfcUdf(F.col("z")), 6))
  }

  /** ADWIN-style adaptive-window change detection per key (Bifet &
    * Gavaldà 2007, the deterministic batch readout): on the period
    * cells normalized to [0,1] by the key's 6-rounded min/max, find
    * the EARLIEST split where the two sub-window means differ by more
    * than the Hoeffding cut,
    *
    *   ε_cut = √( (1/2m)·ln(4n/δ) ),   m = 1/(1/n₀ + 1/n₁)
    *
    * — the distribution-free bound that needs no variance estimate,
    * which is what lets ADWIN run without tuning. Keyed prefix-sum
    * windows over the cells; keys with no triggering split emit no
    * row (no change detected at confidence δ); constant keys
    * (min = max) are omitted (nothing to normalize).
    *
    * @return one row per key with a detected change: (keyCol,
    *         n_periods, cut_period, n_left, gap, eps_cut) — gap/eps
    *         rounded to 6 */
  def adwinByKey(df: DataFrame, keyCol: String, tsCol: String,
                 valueCol: String, periodUnit: Long,
                 delta: Double = 0.05): DataFrame = {
    require(delta > 0.0 && delta < 1.0, "delta must be in (0,1)")
    val cells = periodCells(df, keyCol, tsCol, valueCol, periodUnit)
    val wKey = Window.partitionBy("__k")
    val wOrd = Window.partitionBy("__k").orderBy("__p")
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding,
      Window.currentRow)
    val norm = cells
      .withColumn("__mn", F.round(F.min("__v").over(wKey), 6))
      .withColumn("__mx", F.round(F.max("__v").over(wKey), 6))
      .where(F.col("__mx") > F.col("__mn"))
      .withColumn("__u", (F.col("__v") - F.col("__mn")) /
        (F.col("__mx") - F.col("__mn")))
    val n = F.count(F.lit(1)).over(wKey).cast("double")
    val i = F.row_number().over(wOrd).cast("double")
    val scored = norm
      .withColumn("__n", n)
      .withColumn("__i", i)
      .withColumn("__cs", F.sum("__u").over(wCum))
      .withColumn("__ts", F.sum("__u").over(wKey))
      .where(F.col("__i") < F.col("__n"))
      .withColumn("__gap", F.abs(
        F.col("__cs") / F.col("__i") -
          (F.col("__ts") - F.col("__cs")) /
            (F.col("__n") - F.col("__i"))))
      .withColumn("__m", F.lit(1.0) /
        (F.lit(1.0) / F.col("__i") +
          F.lit(1.0) / (F.col("__n") - F.col("__i"))))
      .withColumn("__eps", F.sqrt(
        F.lit(1.0) / (F.lit(2.0) * F.col("__m")) *
          F.log(F.lit(4.0) * F.col("__n") / delta)))
      .where(F.col("__gap") >= F.col("__eps"))
    scored
      .withColumn("__rn", F.row_number().over(
        Window.partitionBy("__k").orderBy("__p")))
      .where(F.col("__rn") === 1)
      .select(F.col("__k").as(keyCol),
        F.col("__n").cast("long").as("n_periods"),
        F.col("__p").as("cut_period"),
        F.col("__i").cast("long").as("n_left"),
        F.round(F.col("__gap"), 6).as("gap"),
        F.round(F.col("__eps"), 6).as("eps_cut"))
  }

  /** Turning-points randomness test per key — the cheapest "is this
    * series actually random noise" screen: count interior periods that
    * are strict local extrema (vₜ₋₁ < vₜ > vₜ₊₁ or the reverse);
    * under i.i.d. continuity T ~ Normal(2(n−2)/3, (16n−29)/90), so too
    * FEW turning points = trend/momentum, too MANY = alternation /
    * over-differencing. Exact integer count + closed-form moments; flat
    * triples (a tie with a neighbor) are not extrema — documented
    * (ties deflate T, as in the classic test). One keyed lag/lead
    * window; keys with n < 5 are omitted.
    *
    * @return one row per key: (keyCol, n_periods, turning_points, z,
    *         p_value) */
  def turningPointsByKey(df: DataFrame, keyCol: String, tsCol: String,
                         valueCol: String,
                         periodUnit: Long): DataFrame = {
    val cells = periodCells(df, keyCol, tsCol, valueCol, periodUnit)
    val wOrd = Window.partitionBy("__k").orderBy("__p")
    val tp = cells
      .withColumn("__prev", F.lag("__v", 1).over(wOrd))
      .withColumn("__next", F.lead("__v", 1).over(wOrd))
      .groupBy("__k")
      .agg(F.count(F.lit(1)).as("n_periods"),
        F.sum(F.when(F.col("__prev").isNotNull &&
            F.col("__next").isNotNull &&
            ((F.col("__v") > F.col("__prev") &&
              F.col("__v") > F.col("__next")) ||
             (F.col("__v") < F.col("__prev") &&
              F.col("__v") < F.col("__next"))), 1L).otherwise(0L))
          .as("turning_points"))
      .where(F.col("n_periods") >= 5L)
    val n = F.col("n_periods").cast("double")
    val mean = F.lit(2.0) * (n - 2.0) / 3.0
    val sd = F.sqrt((F.lit(16.0) * n - 29.0) / 90.0)
    val z = F.round((F.col("turning_points") - mean) / sd, 6)
    val erfcUdf = F.udf((x: Double) =>
      math.rint(graft.functions.SpecialMath.erfc(
        math.abs(x) / math.sqrt(2.0)) * 1e6) / 1e6)
    tp.select(F.col("__k").as(keyCol), F.col("n_periods"),
      F.col("turning_points"), z.as("z"), erfcUdf(z).as("p_value"))
  }

  /** Bartels rank test of randomness per key (the rank version of von
    * Neumann's ratio — robust where [[turningPointsByKey]] only counts
    * extrema): on midranks Rₜ of the period means,
    *
    *   RVN = Σ(Rₜ − Rₜ₊₁)² / Σ(Rₜ − R̄)²
    *
    * with E[RVN] = 2 and Var ≈ 4(n−2)(5n²−2n−9)/(5n(n+1)(n−1)²);
    * RVN ≪ 2 = positive serial dependence (trend), ≫ 2 = alternation.
    * Midranks via a keyed rank window over the cells, one lag window,
    * one aggregation; keys with n < 10 or zero rank variance omitted.
    *
    * @return one row per key: (keyCol, n_periods, rvn, z, p_value) */
  def bartelsRankByKey(df: DataFrame, keyCol: String, tsCol: String,
                       valueCol: String, periodUnit: Long): DataFrame = {
    val cells = periodCells(df, keyCol, tsCol, valueCol, periodUnit)
    val wOrd = Window.partitionBy("__k").orderBy("__p")
    val wVal = Window.partitionBy("__k").orderBy("__v")
    // midrank = (2·cume-like) — rank + (count_eq − 1)/2 via min-rank
    // and per-(key, value) tie counts
    val ranked = cells
      .withColumn("__r0", F.rank().over(wVal).cast("double"))
      .withColumn("__teq", F.count(F.lit(1)).over(
        Window.partitionBy("__k", "__v")).cast("double"))
      .withColumn("__r", F.col("__r0") + (F.col("__teq") - 1.0) / 2.0)
    val st = ranked
      .withColumn("__rl", F.lead("__r", 1).over(wOrd))
      .withColumn("__rbar",
        F.avg("__r").over(Window.partitionBy("__k")))
      .groupBy("__k")
      .agg(F.count(F.lit(1)).as("n_periods"),
        F.sum(F.when(F.col("__rl").isNotNull,
          (F.col("__r") - F.col("__rl")) *
            (F.col("__r") - F.col("__rl"))).otherwise(0.0)).as("num"),
        F.sum((F.col("__r") - F.col("__rbar")) *
          (F.col("__r") - F.col("__rbar"))).as("den"))
      .where(F.col("n_periods") >= 10L && F.col("den") > 0.0)
    val n = F.col("n_periods").cast("double")
    val rvn = F.col("num") / F.col("den")
    val sd = F.sqrt(F.lit(4.0) * (n - 2.0) *
      (F.lit(5.0) * n * n - F.lit(2.0) * n - 9.0) /
      (F.lit(5.0) * n * (n + 1.0) * ((n - 1.0) * (n - 1.0))))
    val z = F.round((rvn - 2.0) / sd, 6)
    val erfcUdf = F.udf((x: Double) =>
      math.rint(graft.functions.SpecialMath.erfc(
        math.abs(x) / math.sqrt(2.0)) * 1e6) / 1e6)
    st.select(F.col("__k").as(keyCol), F.col("n_periods"),
      F.round(rvn, 6).as("rvn"), z.as("z"), erfcUdf(z).as("p_value"))
  }

  /** Cox–Stuart trend test per key — the sign test folded onto itself
    * ("is the second half systematically above the first"): pair
    * period i with period i + ⌈n/2⌉, count S = #{later > earlier}
    * among the m non-tied pairs, z with continuity correction against
    * Binomial(m, ½). Rank/magnitude-free, so wild outliers can't fake
    * a trend ([[mannKendallByKey]]'s heavier cousin stays the power
    * tool). One keyed equi-join on the shifted row index; keys with
    * m < 5 omitted.
    *
    * @return one row per key: (keyCol, n_periods, n_pairs, s_up, z,
    *         p_value) */
  def coxStuartByKey(df: DataFrame, keyCol: String, tsCol: String,
                     valueCol: String, periodUnit: Long): DataFrame = {
    val cells = periodCells(df, keyCol, tsCol, valueCol, periodUnit)
    val wOrd = Window.partitionBy("__k").orderBy("__p")
    val idx = cells
      .withColumn("__i", F.row_number().over(wOrd).cast("long"))
      .withColumn("__n", F.count(F.lit(1)).over(
        Window.partitionBy("__k")))
      // integer division: Spark's `/` on longs yields DOUBLE, which
      // would poison the join key
      .withColumn("__h", F.expr("CAST((__n + 1) DIV 2 AS BIGINT)"))
    val a = idx.select(F.col("__k"), F.col("__i"), F.col("__n"),
      F.col("__h"), F.col("__v").as("__va"))
    val b = idx.select(F.col("__k"),
      (F.col("__i") - F.col("__h")).as("__i"), F.col("__v").as("__vb"))
    val st = a.join(b, Seq("__k", "__i"))
      .groupBy("__k")
      .agg(F.max("__n").as("n_periods"),
        F.sum(F.when(F.col("__vb") =!= F.col("__va"), 1L)
          .otherwise(0L)).as("n_pairs"),
        F.sum(F.when(F.col("__vb") > F.col("__va"), 1L).otherwise(0L))
          .as("s_up"))
      .where(F.col("n_pairs") >= 5L)
    val m = F.col("n_pairs").cast("double")
    val s = F.col("s_up").cast("double")
    val z = F.round(
      F.when(s === m / 2.0, 0.0).otherwise(
        (s - m / 2.0 - F.lit(0.5) * F.signum(s - m / 2.0)) /
          F.sqrt(m / 4.0)), 6)
    val erfcUdf = F.udf((x: Double) =>
      math.rint(graft.functions.SpecialMath.erfc(
        math.abs(x) / math.sqrt(2.0)) * 1e6) / 1e6)
    st.select(F.col("__k").as(keyCol), F.col("n_periods"),
      F.col("n_pairs"), F.col("s_up"), z.as("z"),
      erfcUdf(z).as("p_value"))
  }

  /** Pettitt changepoint test per key — "WHEN did this metric shift",
    * the single-break complement to [[mannKendallByKey]]'s monotone
    * trend and [[cusumByKey]]'s online alarm. On the period-mean
    * series x₁..xₙ (t-ordered), the statistic is the rank form of
    *
    *   U_t = Σ_{i≤t} Σ_{j>t} sgn(xᵢ − xⱼ) = 2·Σ_{i≤t} rᵢ − t(n+1)
    *
    * with average ranks for ties (so U_t is exactly integer — cumsum
    * of avg ranks is always a multiple of ½), K = max_t |U_t| over
    * t < n, the changepoint the FIRST period attaining K (tie-stable),
    * and the approximate significance p = min(1, 2·exp(−6K²/(n³+n²))).
    *
    * Entirely integer until the final exp: ranks are a per-key window,
    * the U_t fold a t-ordered prefix sum — one shuffle to build the
    * period cells (the series per key is periods-sized, never
    * rows-sized, so a 100 TB input collapses to #keys × #periods cells
    * before any window runs).
    *
    * @return one row per key: (keyCol, n, k_stat, cp_period, p_value)
    *         where cp_period is the last period of the pre-break
    *         segment (epoch DIV periodUnit). */
  def pettittByKey(df: DataFrame, keyCol: String, tsCol: String,
                   valueCol: String, periodUnit: Long): DataFrame = {
    val cells = periodCells(df, keyCol, tsCol, valueCol, periodUnit)
    val wVal = Window.partitionBy("__k").orderBy("__v")
    val wKey = Window.partitionBy("__k")
    val wOrd = Window.partitionBy("__k").orderBy("__p")
    val ranked = cells
      .withColumn("__rmin", F.rank().over(wVal))
      .withColumn("__tc", F.count(F.lit(1))
        .over(Window.partitionBy("__k", "__v")))
      .withColumn("__r",
        F.col("__rmin").cast("double") +
          (F.col("__tc") - 1L).cast("double") / 2.0)
      .withColumn("__n", F.count(F.lit(1)).over(wKey))
      .withColumn("__t", F.row_number().over(wOrd).cast("long"))
      .withColumn("__cum", F.sum("__r").over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val u = (F.lit(2.0) * F.col("__cum") -
      F.col("__t").cast("double") *
        (F.col("__n") + 1L).cast("double")).cast("long")
    val wPick = Window.partitionBy("__k")
      .orderBy(F.desc("__absu"), F.asc("__p"))
    ranked
      .where(F.col("__t") < F.col("__n"))
      .withColumn("__absu", F.abs(u))
      .withColumn("__rk", F.row_number().over(wPick))
      .where(F.col("__rk") === 1)
      .select(F.col("__k").as(keyCol), F.col("__n").as("n"),
        F.col("__absu").as("k_stat"), F.col("__p").as("cp_period"),
        F.round(F.least(F.lit(1.0), F.lit(2.0) * F.exp(
          F.lit(-6.0) * F.col("__absu").cast("double") *
            F.col("__absu").cast("double") /
            (F.col("__n").cast("double") * F.col("__n").cast("double") *
              F.col("__n").cast("double") +
              F.col("__n").cast("double") *
                F.col("__n").cast("double")))), 6).as("p_value"))
  }

  /** KPSS level-stationarity statistic per key — the opposite null to
    * the trend tests: "is this metric mean-reverting around a level,
    * or does it wander" (large η̂ ⇒ reject stationarity). On the
    * t-ordered period means with residuals e_t = x_t − x̄ and partial
    * sums S_t = Σ_{i≤t} eᵢ:
    *
    *   η̂ = n⁻² Σ_t S_t² / s²(L),
    *   s²(L) = γ₀ + 2 Σ_{l=1..L} (1 − l/(L+1)) γ_l   (Bartlett),
    *   γ_l = n⁻¹ Σ_t e_t e_{t−l}
    *
    * Every Σ folds in t-order (ordered prefix sums, last row taken) so
    * FP association is identical in any replaying engine — the
    * unordered-double-sum wobble that bit q_embedding_cov can't occur.
    * The mean is decimal-exact via [[periodCells]]. Keys whose
    * Bartlett variance is ≤ 0 (constant series) are omitted.
    *
    * @param lags Bartlett truncation L (a fixed small int — determinism
    *             beats the n^(1/4) auto rule for replay)
    * @return one row per key: (keyCol, n, lags, kpss_stat, s2_lrv) */
  def kpssByKey(df: DataFrame, keyCol: String, tsCol: String,
                valueCol: String, periodUnit: Long,
                lags: Int): DataFrame = {
    require(lags >= 0 && lags <= 50, "lags must be in 0..50")
    val cells = periodCells(df, keyCol, tsCol, valueCol, periodUnit)
    val wKey = Window.partitionBy("__k")
    val wOrd = Window.partitionBy("__k").orderBy("__p")
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding,
      Window.currentRow)
    // decimal-exact mean: sum of __v (already exact doubles) over the
    // key — __v carries ≤6 decimals, so the decimal sum is exact
    var cur = cells
      .withColumn("__n", F.count(F.lit(1)).over(wKey))
      .withColumn("__mu",
        F.sum(F.col("__v").cast("decimal(38,6)")).over(wKey)
          .cast("double") / F.col("__n").cast("double"))
      .withColumn("__e", F.col("__v") - F.col("__mu"))
      .withColumn("__s", F.sum("__e").over(wCum))
    (1 to lags).foreach { l =>
      cur = cur.withColumn(s"__el$l", F.lag("__e", l).over(wOrd))
    }
    // t-ordered prefix sums of every quadratic form; keep the last row
    cur = cur
      .withColumn("__css", F.sum(F.col("__s") * F.col("__s")).over(wCum))
      .withColumn("__cg0", F.sum(F.col("__e") * F.col("__e")).over(wCum))
    (1 to lags).foreach { l =>
      cur = cur.withColumn(s"__cg$l",
        F.sum(F.col("__e") * F.col(s"__el$l")).over(wCum))
    }
    val last = cur
      .withColumn("__t", F.row_number().over(wOrd))
      .where(F.col("__t") === F.col("__n"))
    val nD = F.col("__n").cast("double")
    val lrv = (1 to lags).foldLeft(F.col("__cg0") / nD) { (acc, l) =>
      acc + F.lit(2.0 * (1.0 - l.toDouble / (lags + 1.0))) *
        (F.coalesce(F.col(s"__cg$l"), F.lit(0.0)) / nD)
    }
    last
      .withColumn("__lrv", lrv)
      .where(F.col("__lrv") > 0.0)
      .select(F.col("__k").as(keyCol), F.col("__n").as("n"),
        F.lit(lags.toLong).as("lags"),
        F.round(F.col("__css") / (nD * nD * F.col("__lrv")), 6)
          .as("kpss_stat"),
        F.round(F.col("__lrv"), 6).as("s2_lrv"))
  }

  /** Raw periodogram per key — "WHICH cycle length carries this
    * metric's variance": spectral power at the first `maxFreq` Fourier
    * frequencies of the t-ordered, mean-centered period series,
    *
    *   I(j) = (a_j² + b_j²)/n,   a_j = Σ_t e_t cos(2πjt/n),
    *                             b_j = Σ_t e_t sin(2πjt/n)
    *
    * — the frequency-domain companion to [[seasonalIndexByKey]] (which
    * needs the period GIVEN; this finds it). Trig sums fold as
    * t-ordered cumulative windows read at the last row (the
    * [[kpssByKey]] discipline), so FP association replays identically;
    * the mean is decimal-exact via [[periodCells]].
    *
    * @param maxFreq number of Fourier frequencies (1..50, j < n/2
    *        meaningful)
    * @return one row per (key, freq): (keyCol, n, freq, power) */
  def periodogramByKey(df: DataFrame, keyCol: String, tsCol: String,
                       valueCol: String, periodUnit: Long,
                       maxFreq: Int): DataFrame = {
    require(maxFreq >= 1 && maxFreq <= 50, "maxFreq must be in 1..50")
    val cells = periodCells(df, keyCol, tsCol, valueCol, periodUnit)
    val wKey = Window.partitionBy("__k")
    val wOrd = Window.partitionBy("__k").orderBy("__p")
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding,
      Window.currentRow)
    var cur = cells
      .withColumn("__n", F.count(F.lit(1)).over(wKey))
      .withColumn("__mu",
        F.sum(F.col("__v").cast("decimal(38,6)")).over(wKey)
          .cast("double") / F.col("__n").cast("double"))
      .withColumn("__e", F.col("__v") - F.col("__mu"))
      .withColumn("__rn", F.row_number().over(wOrd))
      .withColumn("__t", (F.col("__rn") - 1).cast("double"))
    val nD = F.col("__n").cast("double")
    (1 to maxFreq).foreach { j =>
      val arg = F.lit(2.0 * math.Pi * j) * F.col("__t") / nD
      cur = cur
        .withColumn(s"__a$j", F.sum(F.col("__e") * F.cos(arg)).over(wCum))
        .withColumn(s"__b$j", F.sum(F.col("__e") * F.sin(arg)).over(wCum))
    }
    val last = (1 to maxFreq).foldLeft(
      cur.where(F.col("__rn") === F.col("__n"))) { (acc, j) =>
      acc.withColumn(s"__pw$j", F.round(
        (F.col(s"__a$j") * F.col(s"__a$j") +
          F.col(s"__b$j") * F.col(s"__b$j")) / nD, 6))
    }
    val stackExpr = s"stack($maxFreq, " +
      (1 to maxFreq).map(j => s"CAST($j AS BIGINT), __pw$j")
        .mkString(", ") + ") as (freq, power)"
    last.selectExpr(s"__k as `$keyCol`", "__n as n", stackExpr)
  }

  /** Rescaled-range (R/S) Hurst exponent per key — "does this metric
    * trend-persist (H > ½), mean-revert (H < ½), or walk randomly
    * (H ≈ ½)": Hurst's classical estimator on the period-mean series.
    * For each block size m, the t-ordered series splits into ⌊n/m⌋
    * full blocks; per block R = range of the centered cumulative sum,
    * S = population std, and H is the OLS slope of ln(mean R/S) on
    * ln(m).
    *
    * All block statistics ride per-(key, block) windows whose
    * cumulative sums fold in t-order (read at the block's last row),
    * block means are decimal-exact — the [[kpssByKey]] determinism
    * discipline. Zero-variance blocks are dropped; keys with fewer
    * than two sizes carrying blocks are omitted.
    *
    * @param sizes distinct block lengths (each 4..1024), ≥ 2 of them
    * @return one row per (key, size): (keyCol, size, n_blocks,
    *         rs_mean, hurst) — hurst repeated across the key's rows */
  def hurstByKey(df: DataFrame, keyCol: String, tsCol: String,
                 valueCol: String, periodUnit: Long,
                 sizes: Seq[Int]): DataFrame = {
    require(sizes.length >= 2 && sizes.distinct.length == sizes.length,
      "need >= 2 distinct block sizes")
    require(sizes.forall(m => m >= 4 && m <= 1024),
      "block sizes must be in 4..1024")
    val cells = periodCells(df, keyCol, tsCol, valueCol, periodUnit)
    val wOrd = Window.partitionBy("__k").orderBy("__p")
    val indexed = cells.withColumn("__rn", F.row_number().over(wOrd))
    val perSize = sizes.map { m =>
      val wB = Window.partitionBy("__k", "__bid")
      val wBOrd = Window.partitionBy("__k", "__bid").orderBy("__p")
      val wBCum = wBOrd.rowsBetween(Window.unboundedPreceding,
        Window.currentRow)
      indexed
        .withColumn("__bid", F.floor((F.col("__rn") - 1) / F.lit(m)))
        .withColumn("__bc", F.count(F.lit(1)).over(wB))
        .where(F.col("__bc") === m.toLong)
        .withColumn("__bm",
          F.sum(F.col("__v").cast("decimal(38,6)")).over(wB)
            .cast("double") / m)
        .withColumn("__e", F.col("__v") - F.col("__bm"))
        .withColumn("__s", F.sum("__e").over(wBCum))
        .withColumn("__ss", F.sum(F.col("__e") * F.col("__e")).over(wBCum))
        .withColumn("__rmax", F.max("__s").over(wB))
        .withColumn("__rmin", F.min("__s").over(wB))
        .withColumn("__brn", F.row_number().over(wBOrd))
        .where(F.col("__brn") === m && F.col("__ss") > 0.0)
        .withColumn("__rs", (F.col("__rmax") - F.col("__rmin")) /
          F.sqrt(F.col("__ss") / m))
        .groupBy("__k")
        .agg((F.sum("__rs") / F.count(F.lit(1))).as("__rsm"),
          F.count(F.lit(1)).as("n_blocks"))
        .withColumn("size", F.lit(m.toLong))
    }.reduce(_ unionAll _)
    val pts = perSize
      .withColumn("__x", F.log(F.col("size").cast("double")))
      .withColumn("__y", F.log(F.col("__rsm")))
    val det = F.col("__np").cast("double") * F.col("sxx") -
      F.col("sx") * F.col("sx")
    val fit = pts.groupBy("__k").agg(
        F.count(F.lit(1)).as("__np"), F.sum("__x").as("sx"),
        F.sum("__y").as("sy"),
        F.sum(F.col("__x") * F.col("__x")).as("sxx"),
        F.sum(F.col("__x") * F.col("__y")).as("sxy"))
      .where(F.col("__np") >= 2L && det > 0.0)
      .select(F.col("__k"),
        F.round((F.col("__np").cast("double") * F.col("sxy") -
          F.col("sx") * F.col("sy")) / det, 6).as("hurst"))
    perSize.join(fit, "__k")
      .select(F.col("__k").as(keyCol), F.col("size"),
        F.col("n_blocks"), F.round(F.col("__rsm"), 6).as("rs_mean"),
        F.col("hurst"))
  }

  /** Wald–Wolfowitz runs test per key — "is this series RANDOM around
    * its median, or does it cluster" (too few runs = sticky regimes /
    * positive autocorrelation; too many = oscillation). The median is
    * the explicit type-7 order statistic (n odd → middle value, even →
    * mean of the two middles — spelled out so any engine reproduces
    * it), values EQUAL to the median are dropped (the classical
    * convention), and on the surviving t-ordered signs
    *
    *   R  = 1 + Σ_{t≥2} 1[s_t ≠ s_{t−1}],
    *   μ  = 2n₁n₂/(n₁+n₂) + 1,
    *   σ² = 2n₁n₂(2n₁n₂−n₁−n₂) / ((n₁+n₂)²(n₁+n₂−1)),
    *   z  = (R − μ)/σ  (6-rounded), p = erfc(|z|/√2).
    *
    * R, n₁, n₂ are exact integers; keys with n₁=0 or n₂=0 (one-sided
    * series) or σ²≤0 are omitted.
    *
    * @return one row per key: (keyCol, n_runs, n1, n2, z, p_value) */
  def runsTestByKey(df: DataFrame, keyCol: String, tsCol: String,
                    valueCol: String, periodUnit: Long): DataFrame = {
    val cells = periodCells(df, keyCol, tsCol, valueCol, periodUnit)
    val wKey = Window.partitionBy("__k")
    val wVal = Window.partitionBy("__k").orderBy("__v")
    // explicit type-7 median from the two middle order statistics
    val med = cells
      .withColumn("__n", F.count(F.lit(1)).over(wKey))
      .withColumn("__r", F.row_number().over(wVal).cast("long"))
      // integer-div the middle positions: Spark's `/` on longs yields
      // DOUBLE (15.5), which would silently match nothing for even n
      .where(F.col("__r") === ((F.col("__n") + 1L) / 2L).cast("long") ||
        F.col("__r") === ((F.col("__n") + 2L) / 2L).cast("long"))
      .groupBy("__k")
      .agg((F.sum("__v") / F.count(F.lit(1))).as("__med"))
    val wOrd = Window.partitionBy("__k").orderBy("__p")
    val signed = cells.join(med, "__k")
      .where(F.col("__v") =!= F.col("__med"))
      .withColumn("__s",
        F.when(F.col("__v") > F.col("__med"), 1L).otherwise(0L))
      .withColumn("__prev", F.lag("__s", 1).over(wOrd))
    val agged = signed.groupBy("__k").agg(
      (F.lit(1L) + F.sum(F.when(F.col("__prev").isNotNull &&
        F.col("__prev") =!= F.col("__s"), 1L).otherwise(0L)))
        .as("n_runs"),
      F.sum("__s").as("n1"),
      F.sum(F.lit(1L) - F.col("__s")).as("n2"))
    val n1 = F.col("n1").cast("double")
    val n2 = F.col("n2").cast("double")
    val nn = n1 + n2
    val mu = F.lit(2.0) * n1 * n2 / nn + 1.0
    val sig2 = F.lit(2.0) * n1 * n2 * (F.lit(2.0) * n1 * n2 - nn) /
      (nn * nn * (nn - 1.0))
    val erfcUdf = F.udf((z: Double) =>
      graft.functions.SpecialMath.erfc(math.abs(z) / math.sqrt(2.0)))
    agged
      .where(F.col("n1") > 0L && F.col("n2") > 0L && sig2 > 0.0)
      .withColumn("z",
        F.round((F.col("n_runs").cast("double") - mu) / F.sqrt(sig2), 6))
      .select(F.col("__k").as(keyCol), F.col("n_runs"), F.col("n1"),
        F.col("n2"), F.col("z"),
        F.round(erfcUdf(F.col("z")), 6).as("p_value"))
  }

  /** Newey–West (HAC) standard error for the per-key daily-mean trend —
    * the honest slope uncertainty when residuals are serially
    * correlated (an OLS se on an autocorrelated KPI is too small by
    * the autocorrelation factor; [[ljungBoxByKey]] detects the
    * problem, this prices it):
    *
    *   se²_HAC = [Σgₜ² + Σ_{l=1..L} 2(1 − l/(L+1))·Σ gₜg₍ₜ₋ₗ₎] / Sxx²,
    *   gₜ = x̃ₜ·uₜ  (centered period × OLS residual, Bartlett kernel)
    *
    * Everything rides per-key windows over the decimal-exact period
    * cells ([[kpssByKey]] discipline): one unbounded-frame moment
    * window for the closed-form OLS, L lag columns, one fold — scales
    * to a million keys in one shuffle.
    *
    * @return one row per key: (keyCol, n_periods, slope, se_ols,
    *         se_hac, hac_ratio) */
  def neweyWestByKey(df: DataFrame, keyCol: String, tsCol: String,
                     valueCol: String, periodUnit: Long,
                     maxLag: Int): DataFrame = {
    require(maxLag >= 1 && maxLag <= 50, "maxLag must be in 1..50")
    val cells = periodCells(df, keyCol, tsCol, valueCol, periodUnit)
    val wKey = Window.partitionBy("__k")
    val wOrd = Window.partitionBy("__k").orderBy("__p")
    val nD = F.count(F.lit(1)).over(wKey).cast("double")
    val p = F.col("__p").cast("double")
    val withM = cells
      .withColumn("__n", F.count(F.lit(1)).over(wKey))
      .withColumn("__sp",
        F.sum(p.cast("decimal(38,6)")).over(wKey).cast("double"))
      .withColumn("__sv",
        F.sum(F.col("__v").cast("decimal(38,6)")).over(wKey)
          .cast("double"))
      .withColumn("__spp",
        F.sum((p * p).cast("decimal(38,6)")).over(wKey).cast("double"))
      .withColumn("__spv",
        F.sum((p * F.col("__v")).cast("decimal(38,6)")).over(wKey)
          .cast("double"))
    val n = F.col("__n").cast("double")
    val sxx = F.col("__spp") - F.col("__sp") * F.col("__sp") / n
    val sxy = F.col("__spv") - F.col("__sp") * F.col("__sv") / n
    val slope = sxy / sxx
    val icept = F.col("__sv") / n - slope * (F.col("__sp") / n)
    val u = F.col("__v") - (icept + slope * p)
    var cur = withM
      .withColumn("__u", u)
      .withColumn("__g", (p - F.col("__sp") / n) * u)
      .withColumn("__sxx", sxx)
      .withColumn("__slope", slope)
    (1 to maxLag).foreach { l =>
      cur = cur.withColumn(s"__gl$l", F.lag("__g", l).over(wOrd))
    }
    val meatLags = (1 to maxLag).map { l =>
      F.lit(2.0 * (1.0 - l.toDouble / (maxLag + 1.0))) *
        F.sum(F.col("__g") * F.col(s"__gl$l"))
    }
    val agged = cur
      .groupBy(F.col("__k"))
      .agg(F.max("__n").as("n_periods"),
        F.max("__sxx").as("sxx"),
        F.max("__slope").as("slope_raw"),
        F.sum(F.col("__u") * F.col("__u")).as("su2"),
        F.sum(F.col("__g") * F.col("__g")).as("s0"),
        meatLags.reduce(_ + _).as("meat_l"))
    val nP = F.col("n_periods").cast("double")
    val sxxC = F.col("sxx")
    val seOls = F.sqrt((F.col("su2") / (nP - 2.0)) / sxxC)
    val seHac = F.sqrt(F.col("s0") + F.col("meat_l")) / sxxC
    agged
      .where(F.col("n_periods") > (maxLag + 2).toLong && sxxC > 0.0)
      .select(F.col("__k").as(keyCol), F.col("n_periods"),
        F.round(F.col("slope_raw"), 6).as("slope"),
        F.round(seOls, 6).as("se_ols"),
        F.round(seHac, 6).as("se_hac"),
        F.round(seHac / seOls, 6).as("hac_ratio"))
  }

  /** Diebold–Mariano forecast-comparison test per key — "is forecaster
    * 1 ACTUALLY better than forecaster 2, or is the loss gap noise":
    * on the squared-error loss differential dₜ = e₁ₜ² − e₂ₜ²,
    *
    *   DM = d̄ / √(σ̂²/T),
    *   σ̂² = γ̂₀ + 2·Σ_{k≤h} (1 − k/(h+1))·γ̂ₖ    (Bartlett/HAC)
    *
    * with γ̂ₖ the lag-k autocovariances of dₜ — the same Newey–West
    * kernel as [[neweyWestByKey]], because multi-step forecast errors
    * are serially correlated and the naive t-test over-rejects.
    * Large-sample normal p at the 6-rounded DM (the Harvey
    * small-sample correction is omitted — documented). Key-partitioned
    * lag windows + one per-key aggregation; keys shorter than
    * maxLag + 3 rows are omitted.
    *
    * @param orderCol the time/period order within each key (caller
    *                 guarantees uniqueness per key)
    * @return one row per key: (keyCol, n, mean_loss1, mean_loss2,
    *         mean_d, dm, p_value) */
  def dieboldMarianoByKey(df: DataFrame, keyCol: String,
                          orderCol: String, actualCol: String,
                          f1Col: String, f2Col: String,
                          maxLag: Int = 4): DataFrame = {
    require(maxLag >= 1 && maxLag <= 50, "maxLag must be in 1..50")
    val a = F.col(actualCol).cast("double")
    val f1 = F.col(f1Col).cast("double")
    val f2 = F.col(f2Col).cast("double")
    val ok = Seq(a, f1, f2).map(c => c.isNotNull && !F.isnan(c))
      .reduce(_ && _) && F.col(keyCol).isNotNull
    val wKey = Window.partitionBy("__k")
    val wOrd = Window.partitionBy("__k").orderBy("__o")
    val l1 = a - f1
    val l2 = a - f2
    var cur = df.where(ok)
      .select(F.col(keyCol).as("__k"),
        F.col(orderCol).cast("double").as("__o"),
        (l1 * l1).as("__e1"), (l2 * l2).as("__e2"))
      .withColumn("__d", F.col("__e1") - F.col("__e2"))
      .withColumn("__dbar", F.avg("__d").over(wKey))
      .withColumn("__c", F.col("__d") - F.col("__dbar"))
    (1 to maxLag).foreach { l =>
      cur = cur.withColumn(s"__cl$l", F.lag("__c", l).over(wOrd))
    }
    val meatLags = (1 to maxLag).map { l =>
      F.lit(2.0 * (1.0 - l.toDouble / (maxLag + 1.0))) *
        F.sum(F.col("__c") * F.col(s"__cl$l"))
    }
    val agged = cur.groupBy("__k").agg(
      F.count(F.lit(1)).as("n"),
      F.max("__dbar").as("dbar"),
      F.avg("__e1").as("ml1"), F.avg("__e2").as("ml2"),
      F.sum(F.col("__c") * F.col("__c")).as("g0"),
      meatLags.reduce(_ + _).as("meat"))
    val nD = F.col("n").cast("double")
    val sig2 = (F.col("g0") + F.col("meat")) / nD
    val dm = F.round(F.col("dbar") / F.sqrt(sig2 / nD), 6)
    val erfcUdf = F.udf((x: Double) =>
      math.rint(graft.functions.SpecialMath.erfc(
        math.abs(x) / math.sqrt(2.0)) * 1e6) / 1e6)
    agged
      .where(F.col("n") > (maxLag + 2).toLong && sig2 > 0.0)
      .select(F.col("__k").as(keyCol), F.col("n"),
        F.round(F.col("ml1"), 6).as("mean_loss1"),
        F.round(F.col("ml2"), 6).as("mean_loss2"),
        F.round(F.col("dbar"), 6).as("mean_d"),
        dm.as("dm"), erfcUdf(dm).as("p_value"))
  }

  /** Croston's method per key for INTERMITTENT demand — the forecast
    * for series that are mostly zero (restock requests, rare-event
    * counts), where SES on the raw series chases zeros: smooth demand
    * SIZES zₜ and inter-demand INTERVALS pₜ separately over demand
    * events only,
    *
    *   z ← z + α(size − z),  p ← p + α(interval − p),
    *   forecast rate = z/p,  SBA-corrected = (1 − α/2)·z/p
    *
    * (Syntetos–Boylan correction removes the classic ~α/2 bias).
    * Demand events are the key's non-empty PERIOD SUMS > 0; the first
    * interval is 1 by convention. Per-key series fold through the
    * [[holtByKey]] sorted-collect pattern (bounded per-key periods);
    * the deterministic recursion replays as a RECURSIVE CTE.
    *
    * @return one row per (key, demand event): (keyCol, period, size,
    *         interval, z, p_smooth, forecast, sba) */
  def crostonByKey(df: DataFrame, keyCol: String, tsCol: String,
                   valueCol: String, periodUnit: Long,
                   alpha: Double): DataFrame = {
    require(periodUnit > 0L, "periodUnit must be positive")
    require(alpha > 0.0 && alpha <= 1.0, "alpha must be in (0,1]")
    val v = F.col(valueCol).cast("double")
    val t = F.col(tsCol).cast("long")
    val cells = df
      .where(F.col(keyCol).isNotNull && t.isNotNull && v.isNotNull &&
        !F.isnan(v))
      .groupBy(F.col(keyCol).as("__k"),
        F.expr(s"CAST(`$tsCol` AS BIGINT) DIV $periodUnit").as("__p"))
      .agg(F.sum(v.cast("decimal(38,6)")).cast("double").as("__v"))
      .where(F.col("__v") > 0.0)
    val crostonUdf = F.udf((s: Seq[org.apache.spark.sql.Row]) => {
      val pts = s.map(r => (r.getLong(0), r.getDouble(1)))
      var z = 0.0; var pSm = 0.0; var prev = 0L
      pts.zipWithIndex.map { case ((p, size), i) =>
        val interval = if (i == 0) 1L else p - prev
        if (i == 0) { z = size; pSm = 1.0 }
        else {
          z = z + alpha * (size - z)
          pSm = pSm + alpha * (interval - pSm)
        }
        prev = p
        (p, size, interval, z, pSm)
      }
    })
    cells
      .groupBy("__k")
      .agg(F.sort_array(F.collect_list(F.struct(F.col("__p"),
        F.col("__v")))).as("__s"))
      .select(F.col("__k"), F.explode(crostonUdf(F.col("__s"))).as("__e"))
      .select(F.col("__k").as(keyCol),
        F.col("__e._1").as("period"),
        F.round(F.col("__e._2"), 6).as("size"),
        F.col("__e._3").as("interval"),
        F.round(F.col("__e._4"), 6).as("z"),
        F.round(F.col("__e._5"), 6).as("p_smooth"),
        F.round(F.col("__e._4") / F.col("__e._5"), 6).as("forecast"),
        F.round(F.lit(1.0 - alpha / 2.0) *
          (F.col("__e._4") / F.col("__e._5")), 6).as("sba"))
  }

  /** Theta-method one-step forecast per key (Assimakopoulos &
    * Nikolopoulos 2000, the M3 winner): decompose the period-mean
    * series into the θ=0 line (the OLS trend, long-run signal) and the
    * θ=2 line (2vₜ − trendₜ, double-curvature residual carrier), SES
    * the θ=2 line with fixed α, and average the two lines' one-step
    * extrapolations:
    *
    *   ŷ_{n+1} = ½·[a + b·(p_last+1)] + ½·SES_n(θ2)
    *
    * Trend coefficients come from the decimal-exact closed form; the
    * SES recursion folds per key through the [[holtByKey]]
    * sorted-collect pattern and replays as a RECURSIVE CTE.
    *
    * @return one row per key: (keyCol, n_periods, trend_a, trend_b,
    *         ses_theta2, forecast) */
  def thetaForecastByKey(df: DataFrame, keyCol: String, tsCol: String,
                         valueCol: String, periodUnit: Long,
                         alpha: Double): DataFrame = {
    require(periodUnit > 0L, "periodUnit must be positive")
    require(alpha > 0.0 && alpha <= 1.0, "alpha must be in (0,1]")
    val cells = periodCells(df, keyCol, tsCol, valueCol, periodUnit)
    val sesUdf = F.udf((s: Seq[org.apache.spark.sql.Row]) => {
      val pts = s.map(r => (r.getLong(0), r.getDouble(1)))
      val n = pts.length.toDouble
      val sp = pts.map(_._1.toDouble).sum
      val sv = pts.map(_._2).sum
      val spp = pts.map(q => q._1.toDouble * q._1).sum
      val spv = pts.map(q => q._1.toDouble * q._2).sum
      val sxx = spp - sp * sp / n
      if (n < 3.0 || sxx <= 0.0) None
      else {
        val b = (spv - sp * sv / n) / sxx
        val a = sv / n - b * (sp / n)
        var ses = 0.0
        pts.zipWithIndex.foreach { case ((p, x), i) =>
          val theta2 = 2.0 * x - (a + b * p)
          ses = if (i == 0) theta2 else ses + alpha * (theta2 - ses)
        }
        val pNext = (pts.last._1 + 1L).toDouble
        Some((pts.length.toLong, a, b, ses,
          0.5 * (a + b * pNext) + 0.5 * ses))
      }
    })
    cells
      .groupBy("__k")
      .agg(F.sort_array(F.collect_list(F.struct(F.col("__p"),
        F.col("__v")))).as("__s"))
      .select(F.col("__k"), sesUdf(F.col("__s")).as("__e"))
      .where(F.col("__e").isNotNull)
      .select(F.col("__k").as(keyCol),
        F.col("__e._1").as("n_periods"),
        F.round(F.col("__e._2"), 6).as("trend_a"),
        F.round(F.col("__e._3"), 6).as("trend_b"),
        F.round(F.col("__e._4"), 6).as("ses_theta2"),
        F.round(F.col("__e._5"), 6).as("forecast"))
  }

  /** Longest above-mean streak per key — the gaps-and-islands run
    * statistic over the daily series ("how long did the surge LAST",
    * the duration companion to [[cusumByKey]]'s level shift): a period
    * is HOT when its decimal-exact daily mean strictly exceeds the
    * key's overall period-mean average; islands come from the classic
    * rn − rn_by_flag difference, so everything is exact integers over
    * key-partitioned windows.
    *
    * @return one row per key: (keyCol, n_periods, n_above,
    *         longest_streak, streak_start) — streak_start is the
    *         first period of the (earliest) longest island */
  def longestStreakByKey(df: DataFrame, keyCol: String, tsCol: String,
                         valueCol: String, periodUnit: Long): DataFrame = {
    val cells = periodCells(df, keyCol, tsCol, valueCol, periodUnit)
    val wKey = Window.partitionBy("__k")
    val wOrd = wKey.orderBy("__p")
    val flagged = cells
      .withColumn("__n", F.count(F.lit(1)).over(wKey))
      .withColumn("__mu",
        F.sum(F.col("__v").cast("decimal(38,6)")).over(wKey)
          .cast("double") / F.col("__n").cast("double"))
      .withColumn("__hot", F.col("__v") > F.col("__mu"))
      .withColumn("__rn", F.row_number().over(wOrd))
    val wFlag = Window.partitionBy("__k", "__hot").orderBy("__p")
    val islands = flagged
      .withColumn("__grp", F.col("__rn") - F.row_number().over(wFlag))
      .where(F.col("__hot"))
      .groupBy("__k", "__grp")
      .agg(F.count(F.lit(1)).as("len"), F.min("__p").as("start"),
        F.max("__n").as("n"))
    islands
      .groupBy("__k")
      .agg(F.max("n").as("n_periods"),
        F.sum("len").as("n_above"),
        F.max("len").as("longest_streak"),
        F.min_by(F.col("start"),
          F.struct(-F.col("len"), F.col("start"))).as("streak_start"))
      .withColumnRenamed("__k", keyCol)
  }

  /** VAR(1) fit per key over the coupled (daily mean value, daily
    * event count) system — [[grangerByKey]] asks "does volume predict
    * value"; this fits the whole 2×2 feedback matrix and prices its
    * STABILITY:
    *
    *   [vₜ cₜ]ᵀ = A·[vₜ₋₁ cₜ₋₁]ᵀ + const + ε,
    *   spectral radius ρ(A) < 1 ⇔ shocks die out (stationary system);
    *   ρ ≥ 1 ⇔ a value/volume spiral.
    *
    * Each equation is a centered 2-regressor OLS in closed form (the
    * olsByGroup2 Cramer), both from ONE decimal-exact lag-moment
    * aggregation per key; ρ(A) from the 2×2 eigenvalue closed form
    * (complex pair ⇒ modulus √det). Keys with < 6 periods or a
    * singular regressor covariance are omitted.
    *
    * @return one row per key: (keyCol, n_periods, a11, a12, a21, a22,
    *         const_v, const_c, spec_radius, stable) */
  def var1ByKey(df: DataFrame, keyCol: String, tsCol: String,
                valueCol: String, periodUnit: Long): DataFrame = {
    require(periodUnit > 0L, "periodUnit must be positive")
    val v = F.col(valueCol).cast("double")
    val t = F.col(tsCol).cast("long")
    val cells = df
      .where(F.col(keyCol).isNotNull && t.isNotNull && v.isNotNull &&
        !F.isnan(v))
      .groupBy(F.col(keyCol).as("__k"),
        F.expr(s"CAST(`$tsCol` AS BIGINT) DIV $periodUnit").as("__p"))
      .agg((F.sum(v.cast("decimal(38,6)")).cast("double") /
        F.count(F.lit(1))).as("__v"),
        F.count(F.lit(1)).cast("double").as("__c"))
    val wOrd = Window.partitionBy("__k").orderBy("__p")
    val lagged = cells
      .withColumn("__v1", F.lag("__v", 1).over(wOrd))
      .withColumn("__c1", F.lag("__c", 1).over(wOrd))
      .where(F.col("__v1").isNotNull)
    val m = lagged.groupBy("__k").agg(
      F.count(F.lit(1)).as("n"),
      dsum(F.col("__v1")).as("sx1"), dsum(F.col("__c1")).as("sx2"),
      dsum(F.col("__v")).as("sy1"), dsum(F.col("__c")).as("sy2"),
      dsum(F.col("__v1") * F.col("__v1")).as("s11"),
      dsum(F.col("__v1") * F.col("__c1")).as("s12"),
      dsum(F.col("__c1") * F.col("__c1")).as("s22"),
      dsum(F.col("__v1") * F.col("__v")).as("s1y1"),
      dsum(F.col("__c1") * F.col("__v")).as("s2y1"),
      dsum(F.col("__v1") * F.col("__c")).as("s1y2"),
      dsum(F.col("__c1") * F.col("__c")).as("s2y2"))
    val n = F.col("n").cast("double")
    val c11 = F.col("s11") - F.col("sx1") * F.col("sx1") / n
    val c12 = F.col("s12") - F.col("sx1") * F.col("sx2") / n
    val c22 = F.col("s22") - F.col("sx2") * F.col("sx2") / n
    val det = c11 * c22 - c12 * c12
    def eq(sy: String, s1y: String, s2y: String):
        (Column, Column, Column) = {
      val c1y = F.col(s1y) - F.col("sx1") * F.col(sy) / n
      val c2y = F.col(s2y) - F.col("sx2") * F.col(sy) / n
      val b1 = (c1y * c22 - c12 * c2y) / det
      val b2 = (c11 * c2y - c12 * c1y) / det
      val b0 = F.col(sy) / n - b1 * (F.col("sx1") / n) -
        b2 * (F.col("sx2") / n)
      (b1, b2, b0)
    }
    val (a11, a12, cv) = eq("sy1", "s1y1", "s2y1")
    val (a21, a22, cc) = eq("sy2", "s1y2", "s2y2")
    val tr = a11 + a22
    val detA = a11 * a22 - a12 * a21
    val disc = tr * tr - F.lit(4.0) * detA
    val rho = F.when(disc >= 0.0,
      F.greatest(F.abs((tr + F.sqrt(disc)) / 2.0),
        F.abs((tr - F.sqrt(disc)) / 2.0)))
      .otherwise(F.sqrt(detA))
    m.where(F.col("n") >= 6L && det > 1e-12)
      .select(F.col("__k").as(keyCol), F.col("n").as("n_periods"),
        F.round(a11, 6).as("a11"), F.round(a12, 6).as("a12"),
        F.round(a21, 6).as("a21"), F.round(a22, 6).as("a22"),
        F.round(cv, 6).as("const_v"), F.round(cc, 6).as("const_c"),
        F.round(rho, 6).as("spec_radius"),
        (rho < 1.0).as("stable"))
  }

  /** Local-level Kalman filter per key with FIXED noise variances —
    * the model-based smoother above [[ewmaByKey]] (an EWMA whose gain
    * ADAPTS: high while uncertainty is high after gaps/starts, settling
    * to the steady state; the innovations y − m⁻ come out whitened and
    * feed anomaly rules directly):
    *
    *   predict:  m⁻ = m,  P⁻ = P + q
    *   update:   K = P⁻/(P⁻ + r),  m ← m⁻ + K(y − m⁻),  P ← (1−K)P⁻
    *
    * initialized at m = y₁, P = r (a mildly diffuse start — documented
    * part of the result's identity). Fixed (q, r) keeps the recursion
    * deterministic, so it replays as a RECURSIVE CTE; per-key series
    * fold through the [[holtByKey]] sorted-collect pattern.
    *
    * @return one row per (key, period): (keyCol, period, v, level,
    *         gain, p_var, innovation) */
  def kalmanLevelByKey(df: DataFrame, keyCol: String, tsCol: String,
                       valueCol: String, periodUnit: Long,
                       q: Double, r: Double): DataFrame = {
    require(q >= 0.0 && r > 0.0, "need q >= 0 and r > 0")
    val cells = periodCells(df, keyCol, tsCol, valueCol, periodUnit)
    val kUdf = F.udf((s: Seq[org.apache.spark.sql.Row]) => {
      val pts = s.map(rr => (rr.getLong(0), rr.getDouble(1)))
      var m = 0.0; var p = 0.0
      pts.zipWithIndex.map { case ((per, y), i) =>
        if (i == 0) {
          m = y; p = r
          (per, y, m, 0.0, p, 0.0)
        } else {
          val pPred = p + q
          val k = pPred / (pPred + r)
          val innov = y - m
          m = m + k * innov
          p = (1.0 - k) * pPred
          (per, y, m, k, p, innov)
        }
      }
    })
    cells
      .groupBy("__k")
      .agg(F.sort_array(F.collect_list(F.struct(F.col("__p"),
        F.col("__v")))).as("__s"))
      .select(F.col("__k"), F.explode(kUdf(F.col("__s"))).as("__e"))
      .select(F.col("__k").as(keyCol),
        F.col("__e._1").as("period"),
        F.round(F.col("__e._2"), 6).as("v"),
        F.round(F.col("__e._3"), 6).as("level"),
        F.round(F.col("__e._4"), 6).as("gain"),
        F.round(F.col("__e._5"), 6).as("p_var"),
        F.round(F.col("__e._6"), 6).as("innovation"))
  }

  /** Spectral entropy per key — ONE number for "how forecastable is
    * this series": the normalized Shannon entropy of the
    * [[periodogramByKey]] power distribution, 0 = a single clean
    * periodicity, 1 = white noise (flat spectrum). Reported with the
    * peak frequency and its power share (argmax on the ROUNDED powers,
    * lowest frequency on ties — replays exactly).
    *
    * Pure column arithmetic on the periodogram's already-deterministic
    * rounded output — cost = the periodogram itself.
    *
    * @return one row per key: (keyCol, m_freqs, entropy, peak_freq,
    *         peak_share) */
  def spectralEntropyByKey(df: DataFrame, keyCol: String, tsCol: String,
                           valueCol: String, periodUnit: Long,
                           maxFreq: Int): DataFrame = {
    val pg = periodogramByKey(df, keyCol, tsCol, valueCol, periodUnit,
      maxFreq)
    val wKey = Window.partitionBy(keyCol)
    val tot = F.sum(F.col("power")).over(wKey)
    val share = F.col("power") / tot
    val withShare = pg
      .withColumn("__tot", tot)
      .where(F.col("__tot") > 0.0)
      .withColumn("__sh", share)
    withShare
      .groupBy(F.col(keyCol))
      .agg(F.count(F.lit(1)).as("m_freqs"),
        F.round(-F.sum(F.when(F.col("__sh") > 0.0,
          F.col("__sh") * F.log(F.col("__sh"))).otherwise(F.lit(0.0))) /
          F.log(F.count(F.lit(1)).cast("double")), 6).as("entropy"),
        F.min_by(F.col("freq"),
          F.struct(-F.col("power"), F.col("freq"))).as("peak_freq"),
        F.round(F.max_by(F.col("__sh"),
          F.struct(F.col("power"), -F.col("freq"))), 6)
          .as("peak_share"))
  }

  /** Circular statistics per key over the phase of the timestamp within
    * a period (time-of-day, day-of-week): linear means are WRONG on a
    * circle (23:30 and 00:30 average to noon), so fold each event to an
    * angle θ = 2π·(ts mod period)/period and use the resultant vector:
    *
    *   R̄ = |Σe^{iθ}|/n (concentration),  mean dir = atan2(ΣsinΘ, ΣcosΘ),
    *   circular variance = 1 − R̄,
    *   Rayleigh z = n·R̄² with p ≈ e^{−z}·(1 + (2z − z²)/(4n))
    *   (Zar 1999) — the uniformity test: "does this event type HAVE a
    *   time-of-day at all?"
    *
    * ONE aggregation; the two trig sums are rounded to 6 decimals first
    * and every derived statistic is computed FROM the rounded sums, so
    * partial-sum order and cross-engine trig ULPs cannot reach the
    * output (the repo's rounded-statistic convention).
    *
    * @param periodNanos fold period in the `tsCol` unit (epoch-nanos)
    * @return one row per key: (key, n, c_sum, s_sum, r_bar, mean_angle,
    *         circ_var, rayleigh_z, p_value); mean_angle in (−π, π] */
  def circularStatsByKey(df: DataFrame, keyCol: String, tsCol: String,
                         periodNanos: Long): DataFrame = {
    require(periodNanos > 0L, "period must be positive")
    val ts = F.col(tsCol).cast("long")
    val theta = (ts % periodNanos).cast("double") /
      F.lit(periodNanos.toDouble) * F.lit(2.0) * F.lit(math.Pi)
    val agged = df
      .where(F.col(keyCol).isNotNull && ts.isNotNull)
      .groupBy(F.col(keyCol).as("__k"))
      .agg(F.count(F.lit(1)).as("n"),
        F.round(F.sum(F.cos(theta)), 6).as("c_sum"),
        F.round(F.sum(F.sin(theta)), 6).as("s_sum"))
    val nD = F.col("n").cast("double")
    val rbar = F.sqrt(F.col("c_sum") * F.col("c_sum") +
      F.col("s_sum") * F.col("s_sum")) / nD
    val z = F.round(nD * F.round(rbar, 6) * F.round(rbar, 6), 6)
    agged
      .withColumn("r_bar", F.round(rbar, 6))
      .withColumn("mean_angle",
        F.round(F.atan2(F.col("s_sum"), F.col("c_sum")), 6))
      .withColumn("circ_var", F.round(F.lit(1.0) - F.col("r_bar"), 6))
      .withColumn("rayleigh_z", z)
      .withColumn("p_value",
        F.round(F.exp(-F.col("rayleigh_z")) *
          (F.lit(1.0) + (F.lit(2.0) * F.col("rayleigh_z") -
            F.col("rayleigh_z") * F.col("rayleigh_z")) /
            (F.lit(4.0) * nD)), 6))
      .select(F.col("__k").as(keyCol), F.col("n"), F.col("c_sum"),
        F.col("s_sum"), F.col("r_bar"), F.col("mean_angle"),
        F.col("circ_var"), F.col("rayleigh_z"), F.col("p_value"))
  }
}
