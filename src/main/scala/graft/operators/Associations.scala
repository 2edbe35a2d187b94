package graft.operators

import org.apache.spark.sql.{DataFrame, functions => F}

/** Market-basket association mining — "what co-occurs": the
  * support/confidence/lift layer over any (basket, item) relation
  * (orders×parts, sessions×pages, documents×entities). The classic
  * retail framing, but in a training-data pipeline the same operator
  * surfaces tag co-occurrence, entity pairs, and template detection
  * (suspiciously high-lift token pairs are boilerplate).
  */
object Associations {

  /** Top-k item pairs by lift with a min-pair-count floor:
    *
    *   support(a,b)    = c_ab / N,
    *   confidence(a→b) = c_ab / c_a,
    *   lift(a,b)       = N·c_ab / (c_a·c_b)
    *
    * over DISTINCT (basket, item) incidence (duplicates within a basket
    * count once — set semantics, the standard convention). The pair
    * generator is a self-join WITHIN basket (item_a < item_b, each
    * unordered pair once), so the fan-out is Σ size²/2 over baskets —
    * quadratic in BASKET size, linear in basket count. Baskets larger
    * than `maxBasketSize` are excluded from N, the item counts, and
    * the pairs — a degenerate mega-basket (one user touching the whole
    * catalog) would otherwise dominate the join — and the exclusion is
    * observed via [[Observability.observeDropped]] + warn-logged, never
    * silent. Ranked on the 6-dp-ROUNDED lift with an (item_a, item_b)
    * tie-break; orderBy+limit = TakeOrdered, never a global sort.
    *
    * @return k rows: (item_a, item_b, n_ab, n_a, n_b, support,
    *         conf_a_b, lift), floats rounded to 6 */
  def basketPairs(df: DataFrame, basketCol: String, itemCol: String,
                  minPairCount: Long = 2L, k: Int = 50,
                  maxBasketSize: Int = 1000): DataFrame = Persisted { scope =>
    require(minPairCount >= 1L, "minPairCount must be >= 1")
    require(k >= 1, "k must be >= 1")
    require(maxBasketSize >= 2, "maxBasketSize must be >= 2")
    val items = df
      .where(F.col(basketCol).isNotNull && F.col(itemCol).isNotNull)
      .select(F.col(basketCol).cast("string").as("__b"),
        F.col(itemCol).cast("string").as("__i"))
      .distinct()
    val sizes = items.groupBy("__b").agg(F.count(F.lit(1)).as("__sz"))
    val okBaskets = Observability
      .observeDropped(sizes, "basketPairs", F.col("__sz"), maxBasketSize)
      .where(F.col("__sz") <= maxBasketSize)
      .select("__b")
    val kept = scope.checkpoint(items.join(okBaskets, Seq("__b")))
    val n = kept.select("__b").distinct().count()
    require(n > 0L, "no baskets after the size guard")
    val itemCounts = kept.groupBy("__i").agg(F.count(F.lit(1)).as("__ci"))
    val l = kept.select(F.col("__b"), F.col("__i").as("item_a"))
    val r = kept.select(F.col("__b"), F.col("__i").as("item_b"))
    val pairs = l.join(r, Seq("__b"))
      .where(F.col("item_a") < F.col("item_b"))
      .groupBy("item_a", "item_b")
      .agg(F.count(F.lit(1)).as("n_ab"))
      .where(F.col("n_ab") >= minPairCount)
    pairs
      .join(itemCounts.select(F.col("__i").as("item_a"),
        F.col("__ci").as("n_a")), Seq("item_a"))
      .join(itemCounts.select(F.col("__i").as("item_b"),
        F.col("__ci").as("n_b")), Seq("item_b"))
      .withColumn("support",
        F.round(F.col("n_ab").cast("double") / n.toDouble, 6))
      .withColumn("conf_a_b",
        F.round(F.col("n_ab").cast("double") / F.col("n_a"), 6))
      .withColumn("lift", F.round(
        F.lit(n.toDouble) * F.col("n_ab") /
          (F.col("n_a").cast("double") * F.col("n_b")), 6))
      .orderBy(F.col("lift").desc, F.col("item_a").asc,
        F.col("item_b").asc)
      .limit(k)
      .select("item_a", "item_b", "n_ab", "n_a", "n_b", "support",
        "conf_a_b", "lift")
  }
}
