package graft.operators

import org.apache.spark.sql.{DataFrame, functions => F}

/** Link-graph operators for corpus curation. Web-scale training-data
  * pipelines use graph signals (inlink authority, hub scores) as
  * document-quality priors; this is that layer in fixed-iteration,
  * deterministic form.
  *
  * Execution shape shared by both operators: the edge table is cached
  * (columnar) once and scanned per round; rank/score tables are
  * node-sized. When the node count fits a broadcast (≤ [[maxBroadcastNodes]])
  * every per-round join is a broadcast-hash join — the edge table never
  * shuffles at all, which is the right plan for the "millions of nodes,
  * billions of edges" regime. Beyond that the joins fall back to
  * shuffle-hash on the key, the classic distributed-PageRank step. A
  * checkpointed rank frame has no usable stats (LogicalRDD defaults to
  * "huge"), so AQE alone would silently pick the shuffle plan even for
  * tiny rank tables — the node count is measured once and the hint made
  * explicit.
  */
object Graph {

  /** Rank tables up to this many nodes get broadcast-join hints. */
  val maxBroadcastNodes: Long = 5000000L

  private def maybeBroadcast(df: DataFrame, small: Boolean): DataFrame =
    if (small) F.broadcast(df) else df

  /** PageRank with a FIXED iteration count (deterministic, replayable):
    * r₀ = 1 for every node, then `iters` rounds of
    *
    *   r(v) ← (1−d) + d · Σ_{(u,v)∈E} r(u) / outdeg(u)
    *
    * — the original Brin–Page formulation (unnormalized base; dangling
    * nodes simply leak mass, which preserves per-node comparability and
    * keeps the recurrence join-shaped). Duplicate edges count as
    * parallel edges; dedupe upstream if that is not the intent.
    *
    * Per round: ONE join of the cached edge table with the node-sized
    * CONTRIB table + ONE aggregation on dst. A node's rank is
    * (1−d) + d·coalesce(contrib, 0), computable inline on the edge side,
    * so only the contrib table iterates — the per-round nodes-completion
    * join the round-1..12 shape paid is gone (the node set is completed
    * ONCE at the end; guide §1.2 "shape of the job"). Round 1's rank is
    * the all-ones vector — no join at all. The out-degree rides the
    * cached edge frame via a window over the same key the old
    * groupBy+join shuffled on (guide §2.4: two operations keyed the same
    * way share one exchange). Identical addend multiset per dst group →
    * identical sums. Each round's contrib frame is eagerly checkpointed
    * so the plan stays O(1) deep instead of O(iters).
    *
    * @return (node, rank) for every node appearing as src or dst */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int = 10, damping: Double = 0.85): DataFrame = Persisted { scope =>
    require(iters >= 1, "need at least one iteration")
    require(damping > 0.0 && damping < 1.0, "damping must be in (0, 1)")
    import org.apache.spark.sql.expressions.Window
    val ed = scope.cache(edges.select(F.col(srcCol).cast("string").as("src"),
        F.col(dstCol).cast("string").as("dst"))
      .withColumn("__deg",
        F.count(F.lit(1)).over(Window.partitionBy("src"))))
    val nodes = scope.cache(ed
      .select(F.explode(F.array(F.col("src"), F.col("dst"))).as("node"))
      .distinct())
    val small = nodes.count() <= maxBroadcastNodes // also materializes
    var contrib: DataFrame = null
    var it = 0
    while (it < iters) {
      val withRank =
        if (contrib == null) ed.withColumn("rank", F.lit(1.0))
        else ed
          .join(maybeBroadcast(contrib.withColumnRenamed("node", "src"),
            small), Seq("src"), "left")
          .withColumn("rank",
            F.lit(1.0 - damping) + F.lit(damping) *
              F.coalesce(F.col("__in"), F.lit(0.0)))
      contrib = scope.round(contrib, withRank
        .groupBy(F.col("dst").as("node"))
        .agg(F.sum(F.col("rank") / F.col("__deg")).as("__in")))
      it += 1
    }
    scope.checkpoint(nodes
      .join(maybeBroadcast(contrib, small), Seq("node"), "left")
      .select(F.col("node"),
        (F.lit(1.0 - damping) + F.lit(damping) *
          F.coalesce(F.col("__in"), F.lit(0.0))).as("rank")))
  }

  /** Eigenvector centrality by fixed-round power iteration — the
    * prestige ranking where a node is important because IMPORTANT
    * nodes point at it (PageRank without damping or the out-degree
    * normalization; the adjacency eigenvector): per round
    *
    *   x ← (A + I)·x,   x ← round₆(x / ‖x‖₂)
    *
    * — the SHIFTED power iteration: the +I keeps the same Perron
    * eigenvector but kills the ±λ oscillation plain A·x suffers on
    * BIPARTITE graphs (user–item, supplier–part — exactly the graphs
    * this runs on), with the iterate L2-normalized and 6-ROUNDED each
    * round — the
    * rounding pins the whole trajectory so an external engine replays
    * every round as a chained CTE (the [[pageRank]] replay contract,
    * hardened by per-round quantization). Works on directed edges;
    * feed both directions for the undirected spectrum. Per round ONE
    * edge⋈score join + dst aggregation + a scalar norm — scale-safe;
    * iterates localCheckpoint so the plan stays O(1) deep.
    *
    * @return (node, score) for every node with an edge, after `iters`
    *         rounds from the all-ones vector */
  def eigenvectorCentrality(edges: DataFrame, srcCol: String,
                            dstCol: String, iters: Int = 5): DataFrame = Persisted { scope =>
    require(iters >= 1 && iters <= 50, "iters must be in 1..50")
    val e = scope.cache(edges.select(F.col(srcCol).cast("string").as("src"),
      F.col(dstCol).cast("string").as("dst")))
    val nodes = scope.cache(e.select(F.col("src").as("node"))
      .union(e.select(F.col("dst").as("node")))
      .distinct())
    val small = nodes.count() <= maxBroadcastNodes
    // per round ONE job: the joined iterate is checkpointed once, its
    // squared 2-norm rides the checkpoint materialization as an
    // `observe()` metric (the [[hits]] discipline — no separate norm
    // job), and the normalized/rounded score is a LAZY projection over
    // that checkpoint (plan depth stays O(1); nothing re-materializes)
    var x = nodes.withColumn("score", F.lit(1.0))
    var it = 0
    while (it < iters) {
      val contrib = e
        .join(maybeBroadcast(x.withColumnRenamed("node", "src"), small),
          "src")
        .groupBy(F.col("dst").as("node"))
        .agg(F.sum(F.col("score")).as("__in"))
      val obs = org.apache.spark.sql.Observation()
      val joined = scope.round(x, x
        .join(maybeBroadcast(contrib, small), Seq("node"), "left")
        .select(F.col("node"),
          (F.coalesce(F.col("__in"), F.lit(0.0)) + F.col("score"))
            .as("__in"))
        .observe(obs, F.coalesce(F.sum(F.col("__in") * F.col("__in")),
          F.lit(0.0)).as("ss")))
      val norm = math.sqrt(obs.get("ss").asInstanceOf[Double])
      require(norm > 0.0,
        s"iterate collapsed to zero at round ${it + 1} — the graph " +
          "has no edges into any node (or x became orthogonal)")
      val normR = math.rint(norm * 1e6) / 1e6
      x = joined
        .select(F.col("node"),
          F.round(F.col("__in") / normR, 6).as("score"))
      it += 1
    }
    x
  }

  /** Personalized PageRank — [[pageRank]] with the teleport mass
    * pinned to a seed set instead of spread uniformly:
    *
    *   r_{t+1}(v) = (1−d)·e(v) + d·Σ_{u→v} r_t(u)/outdeg(u),
    *   e(v) = 1/|S| for v ∈ S, else 0
    *
    * — "influence FROM these accounts" / "recommendations NEAR this
    * user's history", the locality-aware ranking the global prior
    * can't express. Identical per-round shape to [[pageRank]]'s
    * contrib-only iteration (ONE edge⋈contrib join + dst aggregation,
    * eager localCheckpoint — the inline rank here is
    * (1−d)·e + d·coalesce(contrib, 0), so the teleport indicator rides
    * the cached edge frame, joined once at setup), the node set
    * completed once at the end.
    *
    * @return (node, rank) for every node with an edge */
  def personalizedPageRank(edges: DataFrame, srcCol: String,
                           dstCol: String, seeds: DataFrame,
                           nodeCol: String, iters: Int = 10,
                           damping: Double = 0.85): DataFrame = Persisted { scope =>
    require(iters >= 1, "need at least one iteration")
    require(damping > 0.0 && damping < 1.0, "damping must be in (0, 1)")
    import org.apache.spark.sql.expressions.Window
    val seedSet = scope.cache(seeds
      .select(F.col(nodeCol).cast("string").as("node")).distinct()
      .withColumn("__seed", F.lit(true)))
    val nSeeds = seedSet.count()
    require(nSeeds >= 1L, "need at least one seed node")
    val seedSmall = nSeeds <= maxBroadcastNodes
    val eVal = F.when(F.col("__seed"), F.lit(1.0 / nSeeds)).otherwise(0.0)
    val ed = scope.cache(edges.select(F.col(srcCol).cast("string").as("src"),
        F.col(dstCol).cast("string").as("dst"))
      .withColumn("__deg",
        F.count(F.lit(1)).over(Window.partitionBy("src")))
      .join(maybeBroadcast(seedSet.withColumnRenamed("node", "src"),
        seedSmall), Seq("src"), "left")
      .withColumn("__e", eVal)
      .select("src", "dst", "__deg", "__e"))
    val nodes = scope.cache(ed
      .select(F.explode(F.array(F.col("src"), F.col("dst"))).as("node"))
      .distinct()
      .join(maybeBroadcast(seedSet, seedSmall), Seq("node"), "left")
      .withColumn("__e", eVal)
      .select("node", "__e"))
    val small = nodes.count() <= maxBroadcastNodes
    var contrib: DataFrame = null
    var it = 0
    while (it < iters) {
      val withRank =
        if (contrib == null) ed.withColumn("rank", F.col("__e"))
        else ed
          .join(maybeBroadcast(contrib.withColumnRenamed("node", "src"),
            small), Seq("src"), "left")
          .withColumn("rank",
            F.lit(1.0 - damping) * F.col("__e") + F.lit(damping) *
              F.coalesce(F.col("__in"), F.lit(0.0)))
      contrib = scope.round(contrib, withRank
        .groupBy(F.col("dst").as("node"))
        .agg(F.sum(F.col("rank") / F.col("__deg")).as("__in")))
      it += 1
    }
    scope.checkpoint(nodes
      .join(maybeBroadcast(contrib, small), Seq("node"), "left")
      .select(F.col("node"),
        (F.lit(1.0 - damping) * F.col("__e") + F.lit(damping) *
          F.coalesce(F.col("__in"), F.lit(0.0))).as("rank")))
  }

  /** Fixed-round k-core peeling — "the graph's engaged core": each
    * round drops every node whose UNDIRECTED degree over the surviving
    * subgraph is < k, then the edges touching it; after enough rounds
    * the survivors are exactly the k-core (a round that drops nothing
    * stops early — detected on the count that materializes the
    * checkpoint). The spam-fringe remover ahead of [[pageRank]] and
    * the cohesion census behind "how big is the real community".
    *
    * Per round: ONE degree aggregation + two semi-joins, the edge
    * frame eagerly localCheckpointed. Dedupes edges and drops
    * self-loops up front (degree = distinct neighbors).
    *
    * @return surviving (node, degree) under the final subgraph */
  def kCorePeel(edges: DataFrame, srcCol: String, dstCol: String,
                k: Int, rounds: Int): DataFrame = Persisted { scope =>
    require(k >= 1, "k must be >= 1")
    require(rounds >= 1 && rounds <= 64, "rounds must be in 1..64")
    val und0 = edges
      .select(F.col(srcCol).cast("string").as("a"),
        F.col(dstCol).cast("string").as("b"))
      .where(F.col("a").isNotNull && F.col("b").isNotNull &&
        F.col("a") =!= F.col("b"))
    // each round's surviving-edge count rides the checkpoint
    // materialization as an observe() metric (the eigencentrality
    // discipline) — no separate count job per round
    val obs0 = org.apache.spark.sql.Observation()
    var cur = scope.checkpoint(und0.select(F.col("a"), F.col("b"))
      .union(und0.select(F.col("b").as("a"), F.col("a").as("b")))
      .distinct()
      .observe(obs0, F.count(F.lit(1)).as("n")))
    var nEdges = obs0.get("n").asInstanceOf[Long]
    var r = 0
    var stable = false
    while (r < rounds && !stable && nEdges > 0L) {
      val deg = cur.groupBy(F.col("a")).agg(F.count(F.lit(1)).as("__d"))
      val keep = deg.where(F.col("__d") >= k.toLong).select("a")
      val obs = org.apache.spark.sql.Observation()
      cur = scope.round(cur, cur
        .join(keep, Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("a", "b"), Seq("b"), "left_semi")
        .select("a", "b")
        .observe(obs, F.count(F.lit(1)).as("n")))
      val nNext = obs.get("n").asInstanceOf[Long]
      stable = nNext == nEdges
      nEdges = nNext
      r += 1
    }
    cur.groupBy(F.col("a").as("node"))
      .agg(F.count(F.lit(1)).as("degree"))
  }

  /** Multi-source BFS shortest hop counts — "how far is every node
    * from the seed set", the reachability/radius primitive under
    * [[pageRank]]'s influence scores (k-hop neighborhoods, blast-radius
    * analysis, contamination spread through a citation graph).
    *
    * Frontier-based: round r joins ONLY the nodes first reached at
    * distance r against the edge table (never the full visited set),
    * anti-joins out already-visited nodes, and appends the rest at
    * distance r+1. Each round is one key join + one anti-join, the
    * visited frame is eagerly localCheckpointed so the plan stays O(1)
    * deep, and rounds whose frontier is EMPTY stop early (the count
    * that detects it rides the checkpoint materialization — no extra
    * scan). Unreachable nodes are absent from the output (honest
    * semantics — emitting ∞ rows would force a full node scan).
    *
    * @param maxHops fixed round cap — distances are exact up to this
    * @return (node, dist) for every node within maxHops of a source */
  def bfsHops(edges: DataFrame, srcCol: String, dstCol: String,
              sources: DataFrame, nodeCol: String,
              maxHops: Int): DataFrame = Persisted { scope =>
    require(maxHops >= 1 && maxHops <= 64, "maxHops must be in 1..64")
    val e = scope.cache(edges
      .select(F.col(srcCol).cast("string").as("src"),
        F.col(dstCol).cast("string").as("dst"))
      .where(F.col("src").isNotNull && F.col("dst").isNotNull))
    e.count()
    // `visited` stays a LAZY union over the per-hop checkpointed
    // frontier frames: each node's row is checkpoint-written exactly
    // once (O(V) total) instead of the whole visited set re-
    // checkpointing every hop (O(V·hops) writes); the anti-join scans
    // the same rows either way, and the union depth is bounded by
    // maxHops (≤ 64).
    var visited = scope.checkpoint(sources
      .select(F.col(nodeCol).cast("string").as("node")).distinct()
      .withColumn("dist", F.lit(0L)))
    var frontier = visited
    var hop = 0L
    var frontierSize = frontier.count()
    while (hop < maxHops && frontierSize > 0L) {
      val next = scope.checkpoint(frontier.withColumnRenamed("node", "src")
        .join(e, "src")
        .select(F.col("dst").as("node")).distinct()
        .join(visited.select("node"), Seq("node"), "left_anti")
        .withColumn("dist", F.lit(hop + 1L)))
      frontierSize = next.count()
      if (frontierSize > 0L) visited = visited.union(next)
      frontier = next
      hop += 1L
    }
    visited
  }

  /** HITS hubs & authorities (Kleinberg) with a fixed iteration count:
    * h₀ = 1, then per round a(v) = Σ_{u→v} h(u) normalized to unit
    * 2-norm, h(u) = Σ_{u→v} a(v) normalized likewise. On a bipartite
    * doc↔source graph this separates "pages that point at good content"
    * from "content good pages point at" — the complementary quality
    * prior to [[pageRank]]'s single score.
    *
    * Per round: two edge joins + two aggregations — and ONLY those two
    * jobs. The normalizing division folds ALGEBRAICALLY into the next
    * aggregation (Σ(x/‖x‖) = literal-scaled sum, the per-row division
    * unchanged), each 2-norm rides its checkpoint materialization as an
    * `observe()` metric (CollectMetrics accumulates on the rows already
    * streaming into the checkpoint — no separate norm job), and the
    * node-completing left join (nodes missing a role score 0) runs once
    * at the END instead of once per round — intermediate rounds only
    * ever see nodes with in/out edges, whose absent scores contribute
    * nothing to the sums anyway.
    *
    * @return (node, hub, authority) — nodes missing a role score 0 */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           iters: Int = 8): DataFrame = Persisted { scope =>
    require(iters >= 1, "need at least one iteration")
    val e = scope.cache(edges.select(F.col(srcCol).cast("string").as("src"),
      F.col(dstCol).cast("string").as("dst")))
    val nodes = scope.cache(e.select(F.col("src").as("node"))
      .union(e.select(F.col("dst").as("node")))
      .distinct())
    val small = nodes.count() <= maxBroadcastNodes
    // raw (unnormalized) score frames + the norm to divide them by;
    // hubs start at 1.0 for every node (norm 1.0 keeps 1.0/1.0 exact)
    var hubsRaw = nodes.withColumn("__h", F.lit(1.0))
    var hNorm = 1.0
    var authsRaw: DataFrame = null
    var aNorm = 1.0
    var it = 0
    while (it < iters) {
      val obsA = org.apache.spark.sql.Observation()
      authsRaw = scope.round(authsRaw, e
        .join(maybeBroadcast(hubsRaw.withColumnRenamed("node", "src"),
          small), "src")
        .groupBy(F.col("dst").as("node"))
        .agg(F.sum(F.col("__h") / hNorm).as("__a"))
        .observe(obsA, F.coalesce(F.sum(F.col("__a") * F.col("__a")),
          F.lit(0.0)).as("ss")))
      aNorm = math.sqrt(obsA.get("ss").asInstanceOf[Double])
      val obsH = org.apache.spark.sql.Observation()
      hubsRaw = scope.round(hubsRaw, e
        .join(maybeBroadcast(authsRaw.withColumnRenamed("node", "dst"),
          small), "dst")
        .groupBy(F.col("src").as("node"))
        .agg(F.sum(F.col("__a") / aNorm).as("__h"))
        .observe(obsH, F.coalesce(F.sum(F.col("__h") * F.col("__h")),
          F.lit(0.0)).as("ss")))
      hNorm = math.sqrt(obsH.get("ss").asInstanceOf[Double])
      it += 1
    }
    // checkpoint: the result must not read the edge and node caches
    scope.checkpoint(nodes
      .join(maybeBroadcast(hubsRaw, small), Seq("node"), "left")
      .join(maybeBroadcast(authsRaw, small), Seq("node"), "left")
      .select(F.col("node"),
        (F.coalesce(F.col("__h"), F.lit(0.0)) / hNorm).as("hub"),
        (F.coalesce(F.col("__a"), F.lit(0.0)) / aNorm).as("authority")))
  }

  /** Degree distribution of the link graph, long form: for each
    * direction ('out' = per-src edge count, 'in' = per-dst), how many
    * nodes have each degree — the first plot of any graph audit (a
    * power-law tail here is what makes [[pageRank]] scores informative,
    * and the in-degree tail is the link-spam screen). Duplicate edges
    * count as parallel edges, matching [[pageRank]]'s convention. Two
    * node-keyed aggregations + one degree-sized aggregation; nothing
    * node-sized ever reaches the driver.
    *
    * @return (kind, degree, n_nodes), one row per non-empty
    *         (direction, degree) cell */
  def degreeHistogram(edges: DataFrame, srcCol: String,
                      dstCol: String): DataFrame = {
    val base = edges
      .where(F.col(srcCol).isNotNull && F.col(dstCol).isNotNull)
    def side(col: String, kind: String) = base
      .groupBy(F.col(col).as("__node"))
      .agg(F.count(F.lit(1)).as("degree"))
      .select(F.lit(kind).as("kind"), F.col("degree"))
    side(srcCol, "out").union(side(dstCol, "in"))
      .groupBy("kind", "degree")
      .agg(F.count(F.lit(1)).as("n_nodes"))
  }

  /** Synchronous label propagation with a FIXED round count — the
    * near-linear community detector (Raghavan et al. 2007) for "which
    * documents/domains form a cluster" at the scale where modularity
    * solvers are untouchable. Deterministic variant: every node starts
    * with its own id as label; each round every node adopts its
    * neighbors' MOST FREQUENT label, ties broken by the smaller label
    * (no RNG, no async order dependence), isolated-from-update nodes
    * keep their label. Fixed rounds keep the trajectory replayable —
    * an external engine can chain the rounds as CTEs.
    *
    * Per round: ONE edge⋈label join + ONE (node, label) count + one
    * argmax window partitioned by node; the label frame is eagerly
    * localCheckpointed so the plan stays O(1) deep ([[pageRank]]
    * discipline). Edges are treated as undirected.
    *
    * @return (node, label) for every node
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       iters: Int = 2): DataFrame = Persisted { scope =>
    require(iters >= 1, "need at least one round")
    import org.apache.spark.sql.expressions.Window
    val s = F.col(srcCol).cast("string")
    val d = F.col(dstCol).cast("string")
    val dir = edges.where(s.isNotNull && d.isNotNull && s =!= d)
      .select(s.as("a"), d.as("b")).distinct()
    val und = scope.cache(dir.union(dir.select(F.col("b").as("a"), F.col("a").as("b")))
      .distinct())
    val nodes = scope.cache(und.select(F.col("a").as("node")).distinct())
    val nNodes = nodes.count()
    val small = nNodes <= maxBroadcastNodes
    var labels = scope.checkpoint(
      nodes.select(F.col("node"), F.col("node").as("label")))
    var it = 0
    while (it < iters) {
      val nbr = und.join(
          maybeBroadcast(labels, small)
            .select(F.col("node").as("b"), F.col("label")), "b")
        .groupBy(F.col("a").as("node"), F.col("label"))
        .agg(F.count(F.lit(1)).as("__c"))
      val w = Window.partitionBy("node")
        .orderBy(F.desc("__c"), F.asc("label"))
      val winners = nbr
        .withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") === 1)
        .select(F.col("node"), F.col("label").as("__new"))
      labels = scope.round(labels, labels.join(winners, Seq("node"), "left")
        .select(F.col("node"),
          F.coalesce(F.col("__new"), F.col("label")).as("label")))
      it += 1
    }
    labels
  }

  /** Newman modularity of a node labeling over the UNDIRECTED simple
    * graph — the acceptance metric for [[labelPropagation]]'s
    * communities (the recallAtK-for-graphs analogue: without it the
    * operator emits partitions with no quality score):
    *
    *   Q = Σ_c [ e_c/m − (a_c/2m)² ]
    *
    * with m the undirected edge count, e_c the edges internal to
    * community c, a_c the degree sum of c's nodes (2·e_c + cut edges).
    * Q ≈ 0 for random partitions, → 1 for strong community structure;
    * singleton-heavy labelings go NEGATIVE — the signal that the
    * labeling collapsed.
    *
    * ONE edge⋈labels join (labels broadcast when node-sized-small) +
    * two label-keyed aggregations, all counts exact integers; the per-
    * community contribution is plain arithmetic on (e_c, a_c, m).
    * Direction and multiplicity collapse (least/greatest + distinct),
    * self-loops drop — the [[triangleStats]] graph convention. Nodes
    * missing from `labels` drop from the degree/internal counts (the
    * inner joins); [[labelPropagation]] labels every node of this
    * graph, so on its output the partition is complete.
    *
    * @return one row per community plus a `__total__` row:
    *         (label, n_nodes, internal_edges, degree_sum, q_c),
    *         q_c rounded to 6 */
  def modularityByLabel(edges: DataFrame, srcCol: String, dstCol: String,
                        labels: DataFrame, nodeCol: String = "node",
                        labelCol: String = "label"): DataFrame = {
    val s = F.col(srcCol).cast("string")
    val d = F.col(dstCol).cast("string")
    val canon = edges.where(s.isNotNull && d.isNotNull && s =!= d)
      .select(F.least(s, d).as("a"), F.greatest(s, d).as("b"))
      .distinct()
    val m = canon.count()
    require(m > 0L, "modularity needs at least one edge")
    val lab = labels
      .where(F.col(nodeCol).isNotNull && F.col(labelCol).isNotNull)
      .select(F.col(nodeCol).cast("string").as("node"),
        F.col(labelCol).cast("string").as("lab"))
    val nNodes = lab.count()
    val labB = maybeBroadcast(lab, nNodes <= maxBroadcastNodes)
    val eIn = canon
      .join(labB.select(F.col("node").as("a"), F.col("lab").as("la")), "a")
      .join(labB.select(F.col("node").as("b"), F.col("lab").as("lb")), "b")
      .where(F.col("la") === F.col("lb"))
      .groupBy(F.col("la").as("label"))
      .agg(F.count(F.lit(1)).as("internal_edges"))
    val deg = canon.select(F.col("a").as("node"))
      .union(canon.select(F.col("b").as("node")))
      .groupBy("node").agg(F.count(F.lit(1)).as("__deg"))
    val aC = deg.join(labB, "node")
      .groupBy(F.col("lab").as("label"))
      .agg(F.count(F.lit(1)).as("n_nodes"),
        F.sum("__deg").as("degree_sum"))
    val md = m.toDouble
    val eInC = F.coalesce(F.col("internal_edges"), F.lit(0L))
    val qc = eInC.cast("double") / md -
      (F.col("degree_sum").cast("double") / (2.0 * md)) *
        (F.col("degree_sum").cast("double") / (2.0 * md))
    val per = aC.join(eIn, Seq("label"), "left")
      .select(F.col("label"), F.col("n_nodes"),
        eInC.as("internal_edges"),
        F.col("degree_sum"), qc.as("__q"))
    val total = per.agg(
      F.sum("n_nodes").as("n_nodes"),
      F.sum("internal_edges").as("internal_edges"),
      F.sum("degree_sum").as("degree_sum"),
      F.sum("__q").as("__q"))
      .select(F.lit("__total__").as("label"), F.col("n_nodes"),
        F.col("internal_edges"), F.col("degree_sum"), F.col("__q"))
    per
      .select(F.col("label"), F.col("n_nodes"), F.col("internal_edges"),
        F.col("degree_sum"), F.col("__q"))
      .union(total)
      .select(F.col("label"), F.col("n_nodes"), F.col("internal_edges"),
        F.col("degree_sum"), F.round(F.col("__q"), 6).as("q_c"))
  }

  /** Per-node triangle count + local clustering coefficient over the
    * UNDIRECTED simple graph (direction and edge multiplicity are
    * collapsed; self-loops dropped) — the community-density prior that
    * separates organically-linked documents from link-farm stars, whose
    * hub pages have high degree but near-zero clustering.
    *
    * Scale shape (Schank–Wagner degree orientation): every edge is
    * oriented from its (degree, id)-LOWER endpoint, so wedge
    * enumeration — the oriented self-join on the wedge center — fans
    * out by ORIENTED out-degree, which is O(√m) for any graph, not by
    * raw degree (the celebrity node that breaks the naive approach
    * never becomes a wedge center for its fans). One wedge self-join +
    * one semi-join against the canonical edge set + one node-keyed
    * count; degrees ride a broadcast-sized (node, degree) frame when
    * small. Deterministic: no sampling, exact counts.
    *
    * c(v) = 2·T(v) / (deg(v)·(deg(v)−1)), 0 when deg < 2.
    *
    * @return one row per node: (node, degree, triangles,
    *         clustering_coeff) — every node of the simple graph
    *         appears, triangle-free nodes included.
    */
  def triangleStats(edges: DataFrame, srcCol: String,
                    dstCol: String): DataFrame = Persisted { scope =>
    val s = F.col(srcCol).cast("string")
    val d = F.col(dstCol).cast("string")
    val und = scope.cache(edges
      .where(s.isNotNull && d.isNotNull && s =!= d)
      .select(F.least(s, d).as("a"), F.greatest(s, d).as("b"))
      .distinct())
    val deg = scope.cache(und.select(F.col("a").as("node"))
      .union(und.select(F.col("b").as("node")))
      .groupBy("node").agg(F.count(F.lit(1)).as("degree")))
    val nNodes = deg.count()
    val small = nNodes <= maxBroadcastNodes
    val degB = maybeBroadcast(deg, small)
    // orient a→b from the (degree, id)-lower endpoint
    val withDeg = und
      .join(degB.select(F.col("node").as("a"), F.col("degree").as("da")), "a")
      .join(degB.select(F.col("node").as("b"), F.col("degree").as("db")), "b")
    val oriented = scope.cache(withDeg.select(
      F.when(F.col("da") < F.col("db") ||
          (F.col("da") === F.col("db") && F.col("a") < F.col("b")),
          F.col("a")).otherwise(F.col("b")).as("u"),
      F.when(F.col("da") < F.col("db") ||
          (F.col("da") === F.col("db") && F.col("a") < F.col("b")),
          F.col("b")).otherwise(F.col("a")).as("v")))
    // wedges centered at u; canonicalize the open pair and close it
    // against the undirected edge set
    val w1 = oriented.select(F.col("u"), F.col("v").as("x"))
    val w2 = oriented.select(F.col("u"), F.col("v").as("y"))
    val wedges = w1.join(w2, "u").where(F.col("x") < F.col("y"))
    val tris = scope.cache(wedges.join(und,
        wedges("x") === und("a") && wedges("y") === und("b"))
      .select(F.col("u"), F.col("x"), F.col("y")))
    val perNode = tris.select(F.col("u").as("node"))
      .union(tris.select(F.col("x").as("node")))
      .union(tris.select(F.col("y").as("node")))
      .groupBy("node").agg(F.count(F.lit(1)).as("triangles"))
    scope.checkpoint(deg.join(perNode, Seq("node"), "left")
      .select(F.col("node"), F.col("degree"),
        F.coalesce(F.col("triangles"), F.lit(0L)).as("triangles"),
        F.when(F.col("degree") >= 2L,
            F.round(F.lit(2.0) * F.coalesce(F.col("triangles"), F.lit(0L)) /
              (F.col("degree") * (F.col("degree") - F.lit(1L))), 6))
          .otherwise(0.0).as("clustering_coeff")))
  }

  /** Link prediction over the 2-hop neighborhood: for every non-edge
    * pair (a, b) with at least one common neighbor, the three classic
    * scores —
    *
    *   common neighbors |Γa ∩ Γb|,   Jaccard |Γa∩Γb|/|Γa∪Γb|,
    *   Adamic–Adar Σ_{u ∈ Γa∩Γb} 1/ln(deg u)
    *
    * — and the top-k candidates by (AA desc, a, b). Edges are treated
    * as UNDIRECTED (symmetrized, self-loops dropped).
    *
    * Scale shape: one wedge join (edges ⋈ edges on the shared
    * neighbor — the standard 2-hop expansion, bounded by Σ deg(u)²
    * like [[triangleStats]]'s wedge set), one aggregation per pair,
    * one anti-join against the edge set, one TakeOrdered. Degrees are
    * exact integers; AA sums 6-rounded per pair.
    *
    * @return topK rows: (a, b, common, jaccard, adamic_adar) */
  def linkPrediction(edges: DataFrame, srcCol: String, dstCol: String,
                     topK: Int = 20): DataFrame = Persisted { scope =>
    require(topK > 0, "topK must be positive")
    val raw = edges.select(F.col(srcCol).cast("string").as("s"),
      F.col(dstCol).cast("string").as("d"))
    val und = scope.cache(raw
      .union(raw.select(F.col("d").as("s"), F.col("s").as("d")))
      .where(F.col("s") =!= F.col("d")).distinct())
    val deg = und.groupBy("s").agg(F.count(F.lit(1)).as("deg"))
    val withDeg = und.join(deg.withColumnRenamed("s", "__u")
      .withColumnRenamed("deg", "udeg"),
      F.col("s") === F.col("__u")).drop("__u")
    // wedges through u: (a ← u → b), a < b lexicographically
    val l = withDeg.select(F.col("s").as("u"), F.col("d").as("a"),
      F.col("udeg"))
    val r = und.select(F.col("s").as("u"), F.col("d").as("b"))
    val pairs = l.join(r, "u")
      .where(F.col("a") < F.col("b"))
      .groupBy("a", "b")
      .agg(F.count(F.lit(1)).as("common"),
        F.round(F.sum(F.lit(1.0) / F.log(F.col("udeg"))), 6)
          .as("adamic_adar"))
    val nonEdges = pairs.join(und,
      pairs("a") === und("s") && pairs("b") === und("d"),
      "left_anti")
    val degA = deg.select(F.col("s").as("a"), F.col("deg").as("da"))
    val degB = deg.select(F.col("s").as("b"), F.col("deg").as("db"))
    scope.checkpoint(nonEdges.join(degA, "a").join(degB, "b")
      .withColumn("jaccard",
        F.round(F.col("common").cast("double") /
          (F.col("da") + F.col("db") - F.col("common")), 6))
      .orderBy(F.col("adamic_adar").desc, F.col("a").asc,
        F.col("b").asc)
      .limit(topK)
      .select(F.col("a"), F.col("b"), F.col("common"),
        F.col("jaccard"), F.col("adamic_adar")))
  }

  /** Newman degree assortativity of an undirected graph — do hubs
    * attach to hubs (r > 0, social nets) or to leaves (r < 0, hub-and-
    * spoke infrastructure)? The Pearson correlation of end-point
    * degrees over the directed edge multiset (both orientations of
    * each undirected edge, the standard convention):
    *
    *   r = [Σjk/m − (Σ(j+k)/2m)²] / [Σ(j²+k²)/2m − (Σ(j+k)/2m)²]
    *
    * Every sum is an exact integer (degrees × counts), so r replays
    * bit-for-bit up to the one final rounded division. One degree
    * aggregation + one edge⋈degree join + one fold.
    *
    * @return one row: (m_edges, n_nodes, assortativity) */
  def assortativity(edges: DataFrame, srcCol: String,
                    dstCol: String): DataFrame = Persisted { scope =>
    val raw = edges.select(F.col(srcCol).cast("string").as("s"),
      F.col(dstCol).cast("string").as("d"))
    val und = scope.cache(raw
      .union(raw.select(F.col("d").as("s"), F.col("s").as("d")))
      .where(F.col("s") =!= F.col("d")).distinct())
    val deg = und.groupBy("s").agg(F.count(F.lit(1)).as("deg"))
    val degS = deg.select(F.col("s"), F.col("deg").as("dj"))
    val degD = deg.select(F.col("s").as("d"), F.col("deg").as("dk"))
    val m = und.join(degS, "s").join(degD, "d")
      .agg(F.count(F.lit(1)).as("m"),
        F.sum(F.col("dj") * F.col("dk")).as("sjk"),
        F.sum(F.col("dj") + F.col("dk")).as("sj"),
        F.sum(F.col("dj") * F.col("dj") +
          F.col("dk") * F.col("dk")).as("sj2"))
      .head()
    val nNodes = deg.count()
    val mE = m.getAs[Long]("m").toDouble
    val mu = m.getAs[Long]("sj") / (2.0 * mE)
    val num = m.getAs[Long]("sjk") / mE - mu * mu
    val den = m.getAs[Long]("sj2") / (2.0 * mE) - mu * mu
    require(den > 0.0, "degenerate degree distribution (all equal)")
    val spark = edges.sparkSession
    import spark.implicits._
    Seq((m.getAs[Long]("m"), nNodes,
      math.rint(num / den * 1e6) / 1e6))
      .toDF("m_edges", "n_nodes", "assortativity")
  }
}
