package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession of the harness mains (Bench, Verify, PlanDump,
  * PlanProfile): the session the bench times is the session the oracle
  * gate checks and the plan dumps show.
  *
  * `local[$SPARK_GRAFT_CPUS]` (the machine's processor count when unset)
  * with as many shuffle partitions as cores, plus the constant confs
  * below. `SPARK_GRAFT_EXTRA_CONFS` ("k=v;k=v") overrides any of them
  * for a measurement experiment; it is applied at BUILDER time (so static
  * confs take effect when this JVM creates the session) and re-applied
  * after getOrCreate with logged failures (so runtime confs still land
  * when an earlier builder created the session).
  */
object Harness {

  /** Cores of the local session. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors().toString)

  private val confs: Seq[(String, String)] = Seq(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    // collect_list/percentile aggregations (LSH buckets, quantiles) use
    // ObjectHashAggregate; the default 128-key fallback degrades them to
    // sort-based aggregation almost immediately
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "16384",
    // AQE partition coalescing for persist() materializations (off by
    // default): without it every cached frame pins the static
    // shuffle-partition count and all downstream cache scans inherit
    // that many tasks regardless of data size — the partition count
    // should derive from input size at any scale (opt guide §2.2).
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    // Whole-stage-codegen class cache (static conf, default 100
    // entries): a ~560-query sweep cycles far more generated classes
    // than that, so the timed loop recompiles everything the untimed
    // warm-up pass already compiled (measured: q_stl paid 181 Janino
    // compiles = 2.8 s of its 5.5 s in the timed run). Same
    // JIT-warmth discipline the prewarm exists for; caches compiled
    // CODE, never results.
    "spark.sql.codegen.cache.maxEntries" -> "32768",
    // Input split sizing (opt guide §6): split size is
    // max(openCostInBytes, min(maxPartitionBytes, bytes/minPartitionNum)).
    // The SF dirs are single 1-25 MB parquet files, so the default 4 MB
    // openCost floors the split at 4 MB and caps EVERY full-table scan at
    // ~3 tasks regardless of core count — the map side of each query runs
    // near-sequentially. Local files have no per-open latency; charge
    // 64 KB so bytes/minPartitionNum (defaults to the core count) drives
    // the split and scans fan out to the session's cores. At cluster
    // scale files are >=128 MB and the openCost floor is never the
    // binding term; for many-small-files object-store layouts, where a
    // 4 MB open charge is the honest model, override it.
    "spark.sql.files.openCostInBytes" -> (64 * 1024).toString,
    // Catalyst constraint propagation costs optimizer time superlinear
    // in plan depth (every Project/Filter recomputes the transitive
    // constraint set), and this engine's replay-exact plans are deep —
    // it is the dominant per-query planning cost here. Measured
    // (60-query tail sample, min-of-2 per arm): −19% with it off;
    // plan audit (plans/r13/*_{cp,nocp}.txt): join strategies,
    // exchanges and every EXPLICIT pushed predicate unchanged — the
    // only delta is inferred join-key IsNotNull pushdowns, a no-op on
    // non-null keys and bounded scan waste otherwise. The cost of
    // constraint propagation is driver planning time PER QUERY (and
    // per micro-batch), identical at any data scale, so off is the
    // right default for this workload's deep generated plans; turn it
    // back on for shallow-plan workloads where inferred null-filter
    // pruning pays.
    "spark.sql.constraintPropagation.enabled" -> "false")

  /** The `k=v` entries of a `k=v;k=v` list; an entry without `=` (or
    * with an empty key) is skipped. */
  private[graft] def parseConfs(spec: String): Seq[(String, String)] =
    spec.split(";").toSeq.flatMap { kv =>
      val i = kv.indexOf('=')
      if (i > 0) Some(kv.take(i) -> kv.drop(i + 1)) else None
    }

  /** Set each conf on the running session; a rejected one (a static conf,
    * a malformed value) is logged to stderr, not thrown. */
  private[graft] def setRuntime(spark: SparkSession,
                                entries: Seq[(String, String)]): Unit =
    entries.foreach { case (k, v) =>
      try spark.conf.set(k, v)
      catch { case e: Throwable =>
        Console.err.println(s"EXTRA CONF rejected: $k=$v -> ${e.getMessage}") }
    }

  def session(): SparkSession = {
    val n = cpus
    val extras = sys.env.get("SPARK_GRAFT_EXTRA_CONFS").toSeq.flatMap(parseConfs)
    val builder = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n)
    (confs ++ extras).foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    setRuntime(spark, extras)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
