package graft.operators

import org.apache.spark.sql.{DataFrame, functions => F}

/** Ranking from pairwise preferences — the preference-data layer: RLHF
  * comparison datasets, A/B taste tests, and match outcomes all arrive
  * as "a beat b" rows, and the quantity a pipeline needs is a GLOBAL
  * strength per item that respects transitivity.
  */
object Preference {

  /** Bradley–Terry strengths by fixed MM iterations (Hunter 2004):
    * under P(i beats j) = wᵢ/(wᵢ+wⱼ), the minorize-maximize update
    *
    *   wᵢ ← Wᵢ / Σ_j mᵢⱼ/(wᵢ + wⱼ)
    *
    * (Wᵢ = i's total wins, mᵢⱼ = matches between i and j) converges to
    * the MLE; a FIXED iteration count keeps the trajectory
    * deterministic and engine-replayable (the PageRank discipline —
    * an external engine replays every round as a chained CTE). Each
    * round is ONE join of the symmetric match table with the
    * item-sized strength table + ONE aggregation; strengths are
    * mean-normalized per round for identifiability. Items that only
    * ever win (or only lose) diverge under true MLE — the fixed
    * iteration count also bounds them (documented BT behavior; filter
    * upstream if undesired).
    *
    * @param pairs one row per decided comparison: (winnerCol, loserCol)
    * @return one row per item: (item, wins, n_matches,
    *         strength rounded 6) */
  def bradleyTerry(pairs: DataFrame, winnerCol: String, loserCol: String,
                   iters: Int = 3): DataFrame = Persisted { scope =>
    require(iters >= 1, "iters must be >= 1")
    val w = F.col(winnerCol).cast("string")
    val l = F.col(loserCol).cast("string")
    val decided = pairs.where(w.isNotNull && l.isNotNull && w =!= l)
      .select(w.as("__w"), l.as("__l"))
    // ordered win counts, then the symmetric long-form match table:
    // every unordered pair appears once per direction with the TOTAL
    // match count m
    val winCounts = scope.checkpoint(decided.groupBy("__w", "__l")
      .agg(F.count(F.lit(1)).as("__n")))
    val matches = scope.checkpoint(winCounts
      .select(F.col("__w").as("__i"), F.col("__l").as("__j"),
        F.col("__n"))
      .unionByName(winCounts.select(F.col("__l").as("__i"),
        F.col("__w").as("__j"), F.col("__n")))
      .groupBy("__i", "__j").agg(F.sum("__n").as("__m")))
    val items = matches.groupBy("__i")
      .agg(F.count(F.lit(1)).as("__deg"))
      .select("__i")
    val wins = winCounts.groupBy(F.col("__w").as("__i"))
      .agg(F.sum("__n").as("wins"))
    val base = scope.checkpoint(items.join(wins, Seq("__i"), "left")
      .select(F.col("__i"),
        F.coalesce(F.col("wins"), F.lit(0L)).as("wins")))
    var strength = scope.checkpoint(
      base.select(F.col("__i"), F.lit(1.0).as("__s")))
    var it = 0
    while (it < iters) {
      val denom = matches
        .join(strength.select(F.col("__i"), F.col("__s").as("__si")),
          Seq("__i"))
        .join(strength.select(F.col("__i").as("__j"),
          F.col("__s").as("__sj")), Seq("__j"))
        .groupBy("__i")
        .agg(F.sum(F.col("__m") / (F.col("__si") + F.col("__sj")))
          .as("__den"))
      // ONE job per round: the raw strengths checkpoint once, the
      // normalizing mean rides that materialization as an observe()
      // metric (previously a separate avg action over the UNcheckpointed
      // frame recomputed the whole round twice), and the mean division
      // is a lazy projection over the checkpoint.
      val obs = org.apache.spark.sql.Observation()
      val raw = scope.round(strength, base.join(denom, Seq("__i"))
        .select(F.col("__i"),
          (F.col("wins").cast("double") / F.col("__den")).as("__s"))
        .observe(obs, F.avg("__s").as("mean")))
      val mean = obs.get("mean").asInstanceOf[Double]
      strength = raw
        .select(F.col("__i"), (F.col("__s") / mean).as("__s"))
      it += 1
    }
    val nMatches = matches.groupBy("__i").agg(F.sum("__m").as("n_matches"))
    base.join(nMatches, Seq("__i")).join(strength, Seq("__i"))
      .select(F.col("__i").as("item"), F.col("wins"),
        F.col("n_matches"), F.round(F.col("__s"), 6).as("strength"))
  }
}
