package org.apache.spark.sql.perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Counts the Spark jobs of every registered query, one cold call each on
  * the tables in `out/data` with the fit memo cleared first, and writes
  * `{"jobs": {"name": jobs, ...}, "census_seconds": ..., "oracles": ...}`
  * to `file`. */
object Census {
  /** Queries the census skips: the opt-in quadrature fit runs for minutes
    * by design and `graft.Bench` leaves it untimed too. */
  val Excluded = Set("fit_optin_quadrature")

  def run(spark: SparkSession, out: String, file: String): Unit = {
    val data = new File(out, "data").getAbsolutePath
    val listener = new BenchListener(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    val names = SparkEntry.queries.keys.toSeq.sorted.filterNot(Excluded)
    val rows = names.map { name =>
      SparkEntry.clearFitMemo()
      val c0 = listener.snapshot()
      val t0 = System.nanoTime()
      val ok = try { PerfBench.consume(SparkEntry.queries(name)(spark, data)); true }
        catch { case e: Throwable => System.err.println(s"[census] $name threw $e"); false }
      val s = (System.nanoTime() - t0) / 1e9
      val jobs = (listener.snapshot() - c0).jobs
      System.err.println(f"[census] $name%-32s $jobs%4d jobs $s%7.2f s")
      (name, jobs, s, ok)
    }
    val jobsJson = rows.map { case (n, j, _, _) => s"""  "$n": $j""" }.mkString("{\n", ",\n", "\n}")
    val secJson = rows.map { case (n, _, s, ok) =>
      s"""  "$n": {"s": ${PerfBench.num(s)}, "ok": $ok}""" }.mkString("{\n", ",\n", "\n}")
    val oracleJson = names.filter(SparkEntry.oracleSql.contains).map(n =>
      s"""  "$n": "${PerfBench.esc(SparkEntry.oracleSql(n))}"""").mkString("{\n", ",\n", "\n}")
    PerfBench.write(new File(file),
      s"""{\n"jobs": $jobsJson,\n"census_seconds": $secJson,\n"oracles": $oracleJson\n}\n""")
  }
}
