package graft

import org.apache.spark.sql.execution.FormattedMode
import java.nio.file.{Files, Paths}

/** Measurement aid (optimization rounds): dump `.explain("formatted")`
  * for named SparkEntry queries to files — the plan evidence the
  * optimization round commits under plans/rNN/.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <suffix> q1,q2,...
  * writes <outDir>/<query>_<suffix>.txt
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, suffix, names) = args.take(4)
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    names.split(",").foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val plan = df.queryExecution.explainString(FormattedMode)
        Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
        System.err.println(s"[plandump] wrote $name ($suffix)")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $name failed: $e")
      }
    }
    spark.stop()
  }
}
