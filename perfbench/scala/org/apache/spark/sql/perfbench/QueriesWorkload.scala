package org.apache.spark.sql.perfbench

import java.io.File
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

import graft.SparkEntry

/** `queries`: the given `SparkEntry.queries` names, in the given order, on
  * seeded harness tables (`perfbench/inputs.py`). The fit memo is cleared
  * before every call.
  *
  * A timed call is construct + plan + `collect()` (every output column).
  * After the clock stops, the rows are written to `out/q/<n>/` for the
  * DuckDB oracle replay; a query with no oracle must return the row
  * count of its warm-up run. */
final class QueriesWorkload(spark: SparkSession, dataDir: String, out: String,
                            val sample: Seq[String]) extends Workload {
  private val qdir = new File(out, "q")
  private val warmRows = scala.collection.mutable.Map.empty[String, Long]
  private var callNo = 0
  private val written = scala.collection.mutable.ArrayBuffer.empty[String]

  private def queryCall(name: String): Call = {
    val fn = SparkEntry.queries(name)
    var rows: Array[Row] = Array.empty
    var schema: org.apache.spark.sql.types.StructType = null
    new Call(name, "query",
      run = () => {
        val df = Tracing.span("entry.construct")(fn(spark, dataDir))
        Tracing.span("catalyst.plan")(df.queryExecution.executedPlan)
        rows = Tracing.span("exec.action")(PerfBench.consume(df))
        schema = df.schema
        Outcome(ok = true, 1.0)
      },
      check = o => {
        val n = rows.length.toLong
        val first = warmRows.synchronized(warmRows.getOrElseUpdate(name, n))
        if (SparkEntry.oracleSql.contains(name)) {
          // the oracle replay happens after the run; the rows go to disk
          val target = new File(qdir, f"$callNo%05d")
          spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
            .write.mode("overwrite").parquet(target.getAbsolutePath)
          written += s"""{"call":$callNo,"name":"$name","dir":"${target.getName}"}"""
          callNo += 1
          o
        } else if (first != n) Outcome(ok = false, o.work, s"row count $n, warm-up had $first")
        else o
      })
  }

  lazy val calls: IndexedSeq[Call] = sample.map(queryCall).toIndexedSeq

  override def beforeCall(c: Call): Unit = SparkEntry.clearFitMemo()

  /** Warm-up: every query once; a rows-only query records its row count. */
  override def warmUp(): Unit = {
    PerfBench.inParallel(calls) { c =>
      c.run()
      if (!SparkEntry.oracleSql.contains(c.name)) c.check(Outcome(ok = true, 1.0))
    }
    SparkEntry.clearFitMemo()
  }

  override def record: Map[String, String] = Map(
    "sample" -> sample.map("\"" + _ + "\"").mkString("[", ",", "]"),
    "oracle_calls" -> written.mkString("[", ",", "]"),
    "oracles" -> sample.distinct.filter(SparkEntry.oracleSql.contains)
      .map(n => s""""$n":"${PerfBench.esc(SparkEntry.oracleSql(n))}"""")
      .mkString("{", ",", "}"))
}
