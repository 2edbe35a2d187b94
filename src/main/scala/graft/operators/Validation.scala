package graft.operators

import org.apache.spark.sql.{Column, DataFrame, functions => F}

/** Declarative data-quality constraints over a DataFrame — the
  * contract-validation stage a production pipeline runs before
  * publishing a table (the Deequ/Great-Expectations shape, re-expressed
  * as one Spark plan). Every rule compiles to a conditional-count
  * aggregate, so N rules cost ONE shared scan with map-side partials
  * (uniqueness adds distinct counts to the same aggregate); nothing is
  * collected but the k-row report.
  */
object Validation {

  /** One constraint. `violations` counts the rows (or, for uniqueness,
    * the surplus duplicates) breaking the rule. */
  sealed trait Rule {
    def column: String
    def name: String
    private[operators] def violations(df: DataFrame): Column
  }

  /** Column must be non-null (and non-NaN for floating columns — the
    * NaN check is applied only to float/double types, because under
    * ANSI mode a string→double cast would throw on non-numeric text). */
  final case class NotNull(column: String) extends Rule {
    val name = "not_null"
    private[operators] def violations(df: DataFrame): Column = {
      val c = F.col(column)
      val bad = df.schema(column).dataType match {
        case org.apache.spark.sql.types.DoubleType |
             org.apache.spark.sql.types.FloatType => c.isNull || F.isnan(c)
        case _ => c.isNull
      }
      F.sum(F.when(bad, 1L).otherwise(0L))
    }
  }

  /** Non-null, non-NaN values must lie in [lo, hi]. NaN is excluded
    * explicitly — Spark comparisons order NaN above every value, which
    * would double-report it here when [[NotNull]] already flags it. */
  final case class InRange(column: String, lo: Double, hi: Double) extends Rule {
    val name = "in_range"
    private[operators] def violations(df: DataFrame): Column = {
      val c = F.col(column).cast("double")
      F.sum(F.when(c.isNotNull && !F.isnan(c) && (c < lo || c > hi), 1L)
        .otherwise(0L))
    }
  }

  /** Values must be unique: violations = n_non_null − n_distinct. */
  final case class Unique(column: String) extends Rule {
    val name = "unique"
    private[operators] def violations(df: DataFrame): Column =
      F.count(F.col(column)) - F.count_distinct(F.col(column))
  }

  /** Non-null values must be one of `allowed`. */
  final case class AcceptedValues(column: String, allowed: Seq[String]) extends Rule {
    val name = "accepted_values"
    private[operators] def violations(df: DataFrame): Column = {
      val c = F.col(column).cast("string")
      F.sum(F.when(c.isNotNull &&
        !c.isin(allowed.map(x => x: Any): _*), 1L).otherwise(0L))
    }
  }

  /** Non-null values must fully match the regex (Java syntax; keep to
    * the Java∩RE2 subset if an external engine must replay it). */
  final case class MatchesRegex(column: String, pattern: String) extends Rule {
    val name = "matches_regex"
    private[operators] def violations(df: DataFrame): Column = {
      val c = F.col(column).cast("string")
      F.sum(F.when(c.isNotNull && !c.rlike("^(?:" + pattern + ")$"), 1L)
        .otherwise(0L))
    }
  }

  /** Run every rule in ONE aggregate pass. Returns the report:
    * (column, rule, violations, n_rows, passed) — `passed` iff
    * violations == 0. */
  def check(df: DataFrame, rules: Seq[Rule]): DataFrame = {
    require(rules.nonEmpty, "at least one rule required")
    val aggs = F.count(F.lit(1)).as("__n") +:
      rules.zipWithIndex.map { case (r, i) =>
        F.coalesce(r.violations(df), F.lit(0L)).as(s"__v$i")
      }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val n = row.getLong(0)
    val spark = df.sparkSession
    import spark.implicits._
    rules.zipWithIndex.map { case (r, i) =>
      val v = row.getLong(i + 1)
      (r.column, r.name, v, n, v == 0L)
    }.toDF("column", "rule", "violations", "n_rows", "passed")
  }

  /** Referential-integrity coverage — "do the fact table's foreign
    * keys resolve": row and distinct-key coverage of factKey against
    * dimKey, plus the orphan count — the join-health check to run
    * BEFORE a pipeline quietly inner-joins away 4% of its revenue
    * rows. The fact side reduces to (key, count) cells in one
    * aggregation; the dim side to distinct keys; one key join between
    * the two — nothing row-sized shuffles twice.
    *
    * @return one row: (n_rows, n_matched_rows, row_coverage, n_keys,
    *         n_matched_keys, n_orphan_keys), coverage rounded to 6 */
  def fkCoverage(fact: DataFrame, dim: DataFrame, factKey: String,
                 dimKey: String): DataFrame = {
    val fk = fact
      .where(F.col(factKey).isNotNull)
      .groupBy(F.col(factKey).cast("string").as("__k"))
      .agg(F.count(F.lit(1)).as("__c"))
    val dk = dim
      .where(F.col(dimKey).isNotNull)
      .select(F.col(dimKey).cast("string").as("__k"))
      .distinct()
      .withColumn("__hit", F.lit(true))
    fk.join(dk, Seq("__k"), "left")
      .agg(
        F.sum("__c").as("n_rows"),
        F.coalesce(F.sum(F.when(F.col("__hit"), F.col("__c"))),
          F.lit(0L)).as("n_matched_rows"),
        F.count(F.lit(1)).as("n_keys"),
        F.coalesce(F.sum(F.when(F.col("__hit"), 1L)), F.lit(0L))
          .as("n_matched_keys"))
      .withColumn("row_coverage", F.round(
        F.col("n_matched_rows").cast("double") / F.col("n_rows"), 6))
      .withColumn("n_orphan_keys",
        F.col("n_keys") - F.col("n_matched_keys"))
      .select("n_rows", "n_matched_rows", "row_coverage", "n_keys",
        "n_matched_keys", "n_orphan_keys")
  }

  /** Column profile table — the schema-level data card ("what is in
    * this table", the first query against any new dataset): per column
    * the row count, null count/rate, EXACT distinct count, and for
    * values that parse as numbers, their count and min/max/mean.
    *
    * ALL columns profile in ONE (column, value) cells shuffle: columns
    * go long-form through a stack (stringified — double→string is the
    * shortest round-trip form, so distinctness is preserved and the
    * numeric re-parse returns the identical double), then one cells
    * aggregation per column computes every statistic, including exact
    * n_distinct WITHOUT a per-column countDistinct expansion. Scale
    * state is the union of column vocabularies, never the row count.
    *
    * @return one row per column: (column, n, n_null, null_rate,
    *         n_distinct, n_numeric, min, max, mean), floats rounded
    *         to 6 */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "need at least one column")
    require(cols.forall(!_.contains("'")),
      "column names must not contain quotes")
    val long = df.selectExpr(
      s"stack(${cols.size}, " + cols.map(c =>
        s"'$c', CAST(`$c` AS STRING)").mkString(", ") +
        ") AS (column, __v)")
    val cells = long.groupBy("column", "__v")
      .agg(F.count(F.lit(1)).as("__c"))
    // ANSI-safe: malformed strings yield null, matching TRY_CAST on
    // the replay side
    val num = F.col("__v").try_cast("double")
    val isNum = num.isNotNull && !F.isnan(num)
    cells.groupBy("column").agg(
      F.sum("__c").as("n"),
      F.coalesce(F.sum(F.when(F.col("__v").isNull, F.col("__c"))),
        F.lit(0L)).as("n_null"),
      F.count(F.col("__v")).as("n_distinct"),
      F.coalesce(F.sum(F.when(isNum, F.col("__c"))), F.lit(0L))
        .as("n_numeric"),
      F.min(F.when(isNum, num)).as("min"),
      F.max(F.when(isNum, num)).as("max"),
      F.round(F.sum(F.when(isNum, num * F.col("__c"))) /
        F.sum(F.when(isNum, F.col("__c"))).cast("double"), 6).as("mean"))
      .withColumn("null_rate",
        F.round(F.col("n_null").cast("double") / F.col("n"), 6))
      .select("column", "n", "n_null", "null_rate", "n_distinct",
        "n_numeric", "min", "max", "mean")
  }

  /** Snapshot drift report: [[profile]] of two frames joined per
    * column, with the deltas a pipeline guard actually alerts on —
    * "did the null rate jump, did the distinct count collapse, did
    * the mean move" between yesterday's partition and today's. A
    * full-outer join keeps columns that exist in only one snapshot
    * (all-null other side). Deltas subtract the 6-rounded profile
    * values, so they are exact; `n_ratio` guards the denominator.
    *
    * @return one row per column: (column, n_a, n_b, n_ratio,
    *         null_rate_a, null_rate_b, null_rate_delta,
    *         n_distinct_a, n_distinct_b, mean_a, mean_b, mean_delta)
    */
  def profileDiff(dfA: DataFrame, dfB: DataFrame,
                  cols: Seq[String]): DataFrame = {
    def side(df: DataFrame, s: String) =
      profile(df, cols).select(F.col("column"),
        F.col("n").as(s"n_$s"), F.col("null_rate").as(s"null_rate_$s"),
        F.col("n_distinct").as(s"n_distinct_$s"),
        F.col("mean").as(s"mean_$s"))
    side(dfA, "a").join(side(dfB, "b"), Seq("column"), "full_outer")
      .withColumn("n_ratio", F.when(F.col("n_a") > 0L,
        F.round(F.col("n_b").cast("double") / F.col("n_a"), 6)))
      .withColumn("null_rate_delta",
        F.round(F.col("null_rate_b") - F.col("null_rate_a"), 6))
      .withColumn("mean_delta",
        F.round(F.col("mean_b") - F.col("mean_a"), 6))
      .select("column", "n_a", "n_b", "n_ratio", "null_rate_a",
        "null_rate_b", "null_rate_delta", "n_distinct_a",
        "n_distinct_b", "mean_a", "mean_b", "mean_delta")
  }

  /** Candidate-key discovery — "which column (set)s uniquely identify
    * a row": for each candidate set, the row count over non-null
    * tuples, the exact distinct count, the duplicate-tuple count, and
    * the is_key verdict. The first schema question after [[fkCoverage]]
    * ("do the keys resolve") is "is this even a key".
    *
    * One (set, tuple) aggregation per candidate set over PRUNED
    * columns (each pass reads only its set's bytes); the per-set
    * reduction is (distinct-tuples)-sized, never row-sized twice.
    *
    * @param candidates each inner Seq is one candidate key (1+ cols)
    * @return one row per candidate: (key_cols, n_rows, n_distinct,
    *         n_dup_rows, is_key) */
  def candidateKeys(df: DataFrame,
                    candidates: Seq[Seq[String]]): DataFrame = {
    require(candidates.nonEmpty, "need at least one candidate set")
    require(candidates.forall(_.nonEmpty), "empty candidate set")
    val results = candidates.map { cols =>
      val nn = cols.map(F.col(_).isNotNull).reduce(_ && _)
      df.where(nn)
        .groupBy(cols.map(c => F.col(c).cast("string")): _*)
        .agg(F.count(F.lit(1)).as("__c"))
        .agg(F.lit(cols.mkString(",")).as("key_cols"),
          F.coalesce(F.sum("__c"), F.lit(0L)).as("n_rows"),
          F.count(F.lit(1)).as("n_distinct"),
          F.coalesce(F.sum(F.when(F.col("__c") > 1L, F.col("__c"))),
            F.lit(0L)).as("n_dup_rows"))
        .withColumn("is_key",
          F.col("n_rows") === F.col("n_distinct") &&
            F.col("n_rows") > 0L)
    }
    results.reduce(_ unionAll _)
  }

  /** Functional-dependency check — does `det` determine `dep`
    * (det → dep): group by the determinant tuple, count groups whose
    * dependent takes more than one distinct value. The schema-inference
    * primitive behind "is category derivable from part key" /
    * "does user_id fix country" — an FD that ALMOST holds (violations
    * > 0 but tiny) usually marks dirty rows, so the violating-group
    * count and the worst group's cardinality come along.
    *
    * One (det, dep) distinct aggregation + one det-sized reduction.
    * Null determinants are dropped; null dependents count as a value
    * (a group mixing null and 'x' is a real violation).
    *
    * @return one row: (n_det_groups, n_violating_groups, max_dep_card,
    *         holds) */
  def functionalDependency(df: DataFrame, detCols: Seq[String],
                           depCol: String): DataFrame = {
    require(detCols.nonEmpty, "need at least one determinant column")
    val nn = detCols.map(F.col(_).isNotNull).reduce(_ && _)
    df.where(nn)
      .select(detCols.map(c => F.col(c).cast("string")) :+
        F.col(depCol).cast("string").as("__dep"): _*)
      .distinct()
      .groupBy(detCols.map(F.col): _*)
      .agg(F.count(F.lit(1)).as("__card"))
      .agg(F.count(F.lit(1)).as("n_det_groups"),
        F.coalesce(F.sum(F.when(F.col("__card") > 1L, 1L)), F.lit(0L))
          .as("n_violating_groups"),
        F.coalesce(F.max("__card"), F.lit(0L)).as("max_dep_card"))
      .withColumn("holds", F.col("n_violating_groups") === 0L &&
        F.col("n_det_groups") > 0L)
  }

  /** Capture–recapture population estimate from two DETERMINISTIC md5
    * samples: how many distinct keys does this table/stream really
    * have, estimated from two independent "captures" and their overlap
    * (the wildlife-census estimator applied to data: audit a dedup
    * pipeline's true duplicate count, or a crawler's coverage, without
    * scanning everything twice). Lincoln–Petersen N̂ = n₁n₂/m and the
    * bias-corrected Chapman N̂ = (n₁+1)(n₂+1)/(m+1) − 1, with
    * Chapman's variance for a CI half-width.
    *
    * The two captures are md5(key ⊕ salt) % 100 < pct — reproducible,
    * independent by salt, ONE aggregation. Counts are exact integers.
    *
    * @return one row: (n1, n2, overlap, true_n, lincoln, chapman,
    *         chapman_se) */
  def captureRecapture(df: DataFrame, keyCol: String,
                       pct: Int = 30): DataFrame = {
    require(pct >= 1 && pct <= 99, "pct must be in 1..99")
    val spark = df.sparkSession
    import spark.implicits._
    def coin(salt: String): Column =
      F.conv(F.substring(F.md5(F.concat_ws("#",
        F.col("k"), F.lit(salt)).cast("binary")),
        1, 8), 16, 10).cast("long") % 100L < pct.toLong
    val keys = df.where(F.col(keyCol).isNotNull)
      .select(F.col(keyCol).cast("string").as("k")).distinct()
    val m = keys.agg(
      F.count(F.lit(1)).as("n"),
      F.sum(F.when(coin("c1"), 1L).otherwise(0L)).as("n1"),
      F.sum(F.when(coin("c2"), 1L).otherwise(0L)).as("n2"),
      F.sum(F.when(coin("c1") && coin("c2"), 1L).otherwise(0L))
        .as("ov")).head()
    val n1 = m.getAs[Long]("n1"); val n2 = m.getAs[Long]("n2")
    val ov = m.getAs[Long]("ov")
    require(ov > 0L, "no overlap between captures — raise pct")
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    val lincoln = n1.toDouble * n2 / ov
    val chapman = (n1 + 1.0) * (n2 + 1.0) / (ov + 1.0) - 1.0
    val varCh = (n1 + 1.0) * (n2 + 1.0) * (n1 - ov) * (n2 - ov) /
      ((ov + 1.0) * (ov + 1.0) * (ov + 2.0))
    Seq((n1, n2, ov, m.getAs[Long]("n"), r6(lincoln), r6(chapman),
      r6(math.sqrt(varCh))))
      .toDF("n1", "n2", "overlap", "true_n", "lincoln", "chapman",
        "chapman_se")
  }
  /** k-anonymity / l-diversity audit over a quasi-identifier tuple —
    * the pre-release privacy screen ("can rows be re-identified by
    * joining on these columns"): group sizes under the quasi columns,
    * the share of rows in groups smaller than each k (those rows are
    * k-anonymity violations at that k), and the l-diversity floor of
    * a sensitive column (min distinct sensitive values per group;
    * groups with a single value leak the attribute even when k holds).
    *
    * Scale shape: ONE quasi-group aggregation (count + distinct
    * sensitive share the shuffle), one fold over the group frame per
    * k — nothing row-scale collects; the group frame itself may be
    * row-scale when quasi is near-unique, which is exactly the signal.
    * NULL is a quasi value (grouped, not dropped) — engines agree.
    *
    * @return one row per k: (k, n_groups_below, n_rows_below,
    *         row_share_below, n_groups, n_rows, min_l_diversity,
    *         n_groups_single_sensitive) */
  def kAnonymityAudit(df: DataFrame, quasiCols: Seq[String],
                      sensitiveCol: String,
                      ks: Seq[Int] = Seq(2, 5, 10)): DataFrame = {
    require(quasiCols.nonEmpty, "need at least one quasi column")
    require(ks.nonEmpty && ks.forall(_ >= 2), "each k must be >= 2")
    require(ks.distinct.length == ks.length, "duplicate k")
    val spark = df.sparkSession
    import spark.implicits._
    val groups = df
      .groupBy(quasiCols.map(F.col): _*)
      .agg(F.count(F.lit(1)).as("__n"),
        F.countDistinct(F.col(sensitiveCol)).as("__l"))
    val aggs = ks.flatMap(k => Seq(
      F.sum(F.when(F.col("__n") < k.toLong, 1L).otherwise(0L))
        .as(s"g_$k"),
      F.sum(F.when(F.col("__n") < k.toLong, F.col("__n"))
        .otherwise(0L)).as(s"r_$k"))) ++ Seq(
      F.count(F.lit(1)).as("gt"), F.sum("__n").as("rt"),
      F.min("__l").as("ml"),
      F.sum(F.when(F.col("__l") === 1L, 1L).otherwise(0L)).as("l1"))
    val row = groups.agg(aggs.head, aggs.tail: _*).head()
    val rt = row.getAs[Long]("rt")
    require(rt > 0L, "no rows")
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    ks.map { k =>
      val rb = row.getAs[Long](s"r_$k")
      (k.toLong, row.getAs[Long](s"g_$k"), rb,
        r6(rb.toDouble / rt), row.getAs[Long]("gt"), rt,
        row.getAs[Long]("ml"), row.getAs[Long]("l1"))
    }.toDF("k", "n_groups_below", "n_rows_below", "row_share_below",
      "n_groups", "n_rows", "min_l_diversity",
      "n_groups_single_sensitive")
  }

  /** Single-pass regression imputation — fill a numeric column's NULLs
    * from an OLS fit on the OBSERVED rows (the deterministic core of
    * chained-equation imputation; mean imputation is the β₁ = 0
    * special case and visibly shrinks variance, which this doesn't):
    * one Gram aggregation on observed rows, β 6-rounded (the replay
    * contract), then a codegen'd fill — no row collected. Rows where a
    * FEATURE is null keep their null (no model to apply; flagged
    * separately so the gap is visible).
    *
    * @return the input columns plus (filled, was_imputed) */
  def imputeByRegression(df: DataFrame, targetCol: String,
                         xCols: Seq[String]): DataFrame = {
    require(xCols.nonEmpty, "need at least one feature")
    val y = F.col(targetCol).cast("double")
    val observed = df.where(y.isNotNull && !F.isnan(y))
    val m = Regression.olsFit(observed, targetCol, xCols)
    def r6(v: Double) = math.rint(v * 1e6) / 1e6
    val pred = Regression.linearPredictor(xCols, m.beta.map(r6))
    val featsOk = xCols.map(c => F.col(c).cast("double"))
      .map(c => c.isNotNull && !F.isnan(c)).reduce(_ && _)
    val missing = y.isNull || F.isnan(y)
    df.withColumn("was_imputed", missing && featsOk)
      .withColumn("filled",
        F.when(missing && featsOk, pred).otherwise(y))
  }

  /** Bloom-filter capacity planner per group — size the decontam /
    * dedup membership filters BEFORE building them: for each group's
    * distinct-key count n and a target false-positive rate p,
    *
    *   m = ⌈−n·ln p / (ln 2)²⌉ bits,   k = max(1, ⌊m/n·ln 2 + ½⌋),
    *   fpp ≈ (1 − e^{−kn/m})^k
    *
    * (the standard optima; the realized fpp is re-evaluated at the
    * ROUNDED m and k so the report is honest about the integer
    * constraints). ONE distinct-count aggregation, closed-form column
    * arithmetic after.
    *
    * @return one row per group: (groupCols…, n_distinct, m_bits,
    *         mib, k_hashes, est_fpp) */
  def bloomPlanByGroup(df: DataFrame, groupCols: Seq[String],
                       keyCol: String, targetFpp: Double): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    require(targetFpp > 0.0 && targetFpp < 1.0,
      "targetFpp must be in (0,1)")
    val counts = df
      .where(F.col(keyCol).isNotNull &&
        groupCols.map(F.col(_).isNotNull).reduce(_ && _))
      .groupBy(groupCols.map(F.col): _*)
      .agg(F.countDistinct(F.col(keyCol)).as("n_distinct"))
      .where(F.col("n_distinct") > 0L)
    val n = F.col("n_distinct").cast("double")
    val ln2 = F.log(F.lit(2.0))
    val m = F.ceil(-n * F.log(F.lit(targetFpp)) / (ln2 * ln2))
    val k = F.greatest(F.lit(1L),
      F.floor(F.col("m_bits").cast("double") / n * ln2 + F.lit(0.5)))
    counts
      .withColumn("m_bits", m)
      .withColumn("k_hashes", k)
      .withColumn("est_fpp", F.round(F.pow(
        F.lit(1.0) - F.exp(-(F.col("k_hashes").cast("double") * n) /
          F.col("m_bits").cast("double")),
        F.col("k_hashes").cast("double")), 9))
      .select(groupCols.map(F.col) ++ Seq(F.col("n_distinct"),
        F.col("m_bits"),
        F.round(F.col("m_bits").cast("double") /
          F.lit(8.0 * 1024.0 * 1024.0), 6).as("mib"),
        F.col("k_hashes"), F.col("est_fpp")): _*)
  }

  /** t-closeness + entropy l-diversity audit per quasi-identifier
    * group — the distributional rungs above [[kAnonymityAudit]]'s
    * distinct-count floor: a group can hold many distinct sensitive
    * values yet still leak if its MIX differs from the population
    * (t-closeness, total-variation form for categorical attributes)
    * or concentrates on one value (entropy ℓ-diversity):
    *
    *   TVD_g = ½·( Σ_{v∈g} |p_g(v) − p(v)| + Σ_{v∉g} p(v) ),
    *   ℓ_ent = exp(−Σ p_g ln p_g)
    *
    * Scale shape: one (quasi, sensitive) cell aggregation feeds the
    * group totals, the global marginals broadcast (sensitive support
    * is attribute-sized), everything joins on the cells frame — no
    * row-scale collect. NULL sensitive is a value (grouped, audited).
    *
    * @return one row per quasi group: (quasiCols…, n, distinct_l,
    *         entropy_l, tvd, t_ok) rounded to 6 */
  def tClosenessAudit(df: DataFrame, quasiCols: Seq[String],
                      sensitiveCol: String, t: Double): DataFrame = {
    require(quasiCols.nonEmpty, "need at least one quasi column")
    require(t > 0.0 && t <= 1.0, "t must be in (0,1]")
    val cells = df
      .groupBy((quasiCols.map(F.col) :+
        F.coalesce(F.col(sensitiveCol).cast("string"),
          F.lit("__null__")).as("__s")): _*)
      .agg(F.count(F.lit(1)).as("__c"))
    val groupTot = cells.groupBy(quasiCols.map(F.col): _*)
      .agg(F.sum("__c").as("__ng"),
        F.count(F.lit(1)).as("__dl"))
    val globTot = cells.groupBy("__s").agg(F.sum("__c").as("__ns"))
    val nAll = cells.agg(F.sum("__c")).head().getLong(0)
    require(nAll > 0L, "no rows")
    val joined = cells
      .join(groupTot, quasiCols)
      .join(F.broadcast(globTot), "__s")
    val pg = F.col("__c").cast("double") / F.col("__ng")
    val p = F.col("__ns").cast("double") / nAll
    val perGroup = joined.groupBy(quasiCols.map(F.col): _*)
      .agg(F.max("__ng").as("n"), F.max("__dl").as("distinct_l"),
        F.sum(F.abs(pg - p)).as("__sumabs"),
        F.sum(p).as("__cov"),
        F.sum(-pg * F.log(pg)).as("__h"))
    perGroup.select((quasiCols.map(F.col) ++ Seq(
      F.col("n"), F.col("distinct_l"),
      F.round(F.exp(F.col("__h")), 6).as("entropy_l"),
      F.round(F.lit(0.5) * (F.col("__sumabs") +
        (F.lit(1.0) - F.col("__cov"))), 6).as("tvd"),
      (F.round(F.lit(0.5) * (F.col("__sumabs") +
        (F.lit(1.0) - F.col("__cov"))), 6) <= t).as("t_ok"))): _*)
  }

  /** Heavy-hitter churn between two snapshots: the top-k values by
    * count on each side, their overlap (Jaccard over the union of the
    * two top-k sets), the newcomers/dropouts, and the Spearman
    * footrule Σ|rank_a − rank_b| over the common items — "did the
    * head of this distribution MOVE" (vocabulary drift, hot-key
    * migration, trending queries), the ranked complement of the
    * mass-based drift scores.
    *
    * Scale shape: two count aggregations, each taken top-k by
    * (count DESC, value ASC) — a deterministic total order — and
    * collected at k rows; everything after is exact integer driver
    * arithmetic on 2k cells.
    *
    * @return one row: (k, n_common, jaccard, n_new, n_dropped,
    *         footrule) */
  def topkChurn(dfA: DataFrame, dfB: DataFrame, valueCol: String,
                k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val spark = dfA.sparkSession
    import spark.implicits._
    def top(df: DataFrame): Array[(String, Long)] = df
      .where(F.col(valueCol).isNotNull)
      .groupBy(F.col(valueCol).cast("string").as("__v"))
      .agg(F.count(F.lit(1)).as("__c"))
      .orderBy(F.col("__c").desc, F.col("__v").asc)
      .limit(k)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val ta = top(dfA); val tb = top(dfB)
    val rka = ta.zipWithIndex.map { case ((v, _), i) =>
      v -> (i + 1L) }.toMap
    val rkb = tb.zipWithIndex.map { case ((v, _), i) =>
      v -> (i + 1L) }.toMap
    val common = rka.keySet.intersect(rkb.keySet)
    val union = rka.keySet.union(rkb.keySet)
    val foot = common.toSeq.sorted.foldLeft(0L)((acc, v) =>
      acc + math.abs(rka(v) - rkb(v)))
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    Seq((k.toLong, common.size.toLong,
      r6(common.size.toDouble / union.size),
      (rkb.keySet -- rka.keySet).size.toLong,
      (rka.keySet -- rkb.keySet).size.toLong, foot))
      .toDF("k", "n_common", "jaccard", "n_new", "n_dropped",
        "footrule")
  }

  /** Rank-biased overlap (Webber 2010, truncated form) between the
    * two snapshots' top-k count rankings — [[topkChurn]]'s
    * top-WEIGHTED complement: agreement at shallow depths counts
    * geometrically more,
    *
    *   RBO_min = (1 − p) Σ_{d=1..k} p^{d−1} · |A_:d ∩ B_:d| / d
    *
    * (no tail extrapolation — the truncated lower bound, documented
    * as such; p = 0.9 weights the top ~10 ranks with ~65% of the
    * mass). Same deterministic (count DESC, value ASC) ranking and
    * 2k-cell driver arithmetic as topkChurn, depth terms folded in
    * ascending d.
    *
    * @return one row: (k, p, rbo, agreement_k = |A∩B|/k at full
    *         depth) */
  def rankBiasedOverlap(dfA: DataFrame, dfB: DataFrame,
                        valueCol: String, k: Int,
                        p: Double = 0.9): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(p > 0.0 && p < 1.0, "p must be in (0,1)")
    val spark = dfA.sparkSession
    import spark.implicits._
    def top(df: DataFrame): Map[String, Long] = df
      .where(F.col(valueCol).isNotNull)
      .groupBy(F.col(valueCol).cast("string").as("__v"))
      .agg(F.count(F.lit(1)).as("__c"))
      .orderBy(F.col("__c").desc, F.col("__v").asc)
      .limit(k)
      .collect().zipWithIndex
      .map { case (r, i) => r.getString(0) -> (i + 1L) }.toMap
    val rka = top(dfA); val rkb = top(dfB)
    def xAt(d: Int): Long = rka.count { case (v, ra) =>
      ra <= d && rkb.get(v).exists(_ <= d) }.toLong
    val acc = (1 to k).foldLeft(0.0) { (s, d) =>
      s + math.pow(p, d - 1) * xAt(d) / d
    }
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    Seq((k.toLong, p, r6((1.0 - p) * acc),
      r6(xAt(k).toDouble / k)))
      .toDF("k", "p", "rbo", "agreement_k")
  }
}
