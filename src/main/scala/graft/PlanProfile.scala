package graft

/** Measurement aid (optimization rounds): split each query's wall time
  * into DataFrame construction (includes any eager iterate execution),
  * plan forcing (analysis + optimization + physical planning of the
  * final frame, via queryExecution.executedPlan), and execution
  * (.count()), and dump Catalyst's global per-rule time counters at the
  * end (RuleExecutor.dumpTimeSpent) so the planning floor is attributed
  * to specific analyzer/optimizer rules. Reads no new data paths and
  * changes nothing the bench times — pure instrumentation.
  *
  * Usage: runMain graft.PlanProfile <sfDir> <q1,q2,...|ALL> [reps]
  */
object PlanProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names: Seq[String] =
      if (args.length < 2 || args(1) == "ALL") SparkEntry.queries.keys.toSeq.sorted
      else args(1).split(",").toSeq
    val reps = if (args.length > 2) args(2).toInt else 1
    val spark = Harness.session()

    // warm pass (codegen/JIT), mirroring the bench's prewarm discipline
    if (sys.env.getOrElse("SPARK_GRAFT_PREWARM", "1") == "1") {
      names.foreach { n =>
        try SparkEntry.queries(n)(spark, sfDir).count()
        catch { case _: Throwable => } }
      SparkEntry.clearFitMemo()
    }
    // reset the global rule counters so the dump covers only timed work
    org.apache.spark.sql.catalyst.rules.RuleExecutor.resetMetrics()

    var (sumC, sumP, sumE) = (0.0, 0.0, 0.0)
    val rows = names.flatMap { n =>
      val fn = SparkEntry.queries.get(n)
      if (fn.isEmpty) { System.err.println(s"[planprofile] unknown query $n"); None }
      else {
        val samples = (1 to reps).map { _ =>
          SparkEntry.clearFitMemo()
          val t0 = System.nanoTime()
          val df = fn.get(spark, sfDir)
          val t1 = System.nanoTime()
          df.queryExecution.executedPlan // force analysis+optimize+plan
          val t2 = System.nanoTime()
          df.count()
          val t3 = System.nanoTime()
          ((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9)
        }
        val (c, p, e) = samples.minBy(s => s._1 + s._2 + s._3)
        sumC += c; sumP += p; sumE += e
        println(f"PLANPROFILE $n%-32s construct $c%7.3f  plan $p%7.3f  exec $e%7.3f  total ${c + p + e}%7.3f")
        Some((n, c, p, e))
      }
    }
    println(f"PLANPROFILE TOTALS construct $sumC%8.2f  plan $sumP%8.2f  exec $sumE%8.2f  n=${rows.size}")
    // top queries by construct+plan (the planning floor)
    rows.sortBy(r => -(r._2 + r._3)).take(30).foreach { case (n, c, p, _) =>
      println(f"PLANFLOOR $n%-32s construct+plan ${c + p}%7.3f")
    }
    println(org.apache.spark.sql.catalyst.rules.RuleExecutor.dumpTimeSpent())
    spark.stop()
  }
}
