package graft

import java.io.ByteArrayOutputStream
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The harness session (`Harness.session`) that every main builds, and
  * the relation memo its queries read through (`SparkEntry.readMemo`). */
class HarnessSpec extends AnyFunSuite {

  private def withSession[T](body: SparkSession => T): T = {
    val spark = Harness.session()
    try body(spark) finally spark.stop()
  }

  test("the k=v;k=v parser skips entries without '='") {
    assert(Harness.parseConfs("a=1;novalue;=x;b=c=d;;e=") ==
      Seq("a" -> "1", "b" -> "c=d", "e" -> ""))
    assert(Harness.parseConfs("") == Nil)
  }

  test("the session carries the bench's confs; a rejected runtime conf is logged, not thrown") {
    withSession { spark =>
      val cpus = Harness.cpus
      assert(spark.sparkContext.master == s"local[$cpus]")
      val expected = Map(
        "spark.sql.shuffle.partitions" -> cpus,
        "spark.sql.adaptive.enabled" -> "true",
        "spark.sql.session.timeZone" -> "UTC",
        "spark.ui.enabled" -> "false",
        "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "16384",
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
        "spark.sql.codegen.cache.maxEntries" -> "32768",
        "spark.sql.files.openCostInBytes" -> "65536",
        "spark.sql.constraintPropagation.enabled" -> "false")
      assert(expected.map { case (k, _) => k -> spark.conf.get(k) } == expected)

      // a static conf cannot change on a running session
      val err = new ByteArrayOutputStream()
      Console.withErr(err) {
        Harness.setRuntime(spark, Seq(
          "spark.sql.codegen.cache.maxEntries" -> "7",
          "spark.sql.shuffle.partitions" -> "3"))
      }
      assert(err.toString("UTF-8").contains(
        "EXTRA CONF rejected: spark.sql.codegen.cache.maxEntries=7"))
      assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "32768")
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "3")
    }
  }

  test("a stopped session's relations leave the read memo on the next miss") {
    val dir = Files.createTempDirectory("graft-harness").toFile
    val path = s"$dir/t.parquet"
    val first = Harness.session()
    try {
      first.range(3).write.parquet(path)
      SparkEntry.readParquet(first, path)
      assert(SparkEntry.readMemo.containsKey((first, path)))
    } finally first.stop()
    withSession { spark =>
      SparkEntry.readParquet(spark, path)
      assert(!SparkEntry.readMemo.keySet.asScala.exists(_._1 eq first))
      assert(SparkEntry.readMemo.containsKey((spark, path)))
    }
  }

  test("clearReadMemo makes a rewritten path read its new schema") {
    val dir = Files.createTempDirectory("graft-harness").toFile
    val path = s"$dir/t.parquet"
    withSession { spark =>
      spark.range(3).toDF("a").write.parquet(path)
      assert(SparkEntry.readParquet(spark, path).columns.toSeq == Seq("a"))
      spark.range(3).toDF("b").write.mode("overwrite").parquet(path)
      // a memo hit still serves the old relation
      assert(SparkEntry.readParquet(spark, path).columns.toSeq == Seq("a"))
      SparkEntry.clearReadMemo()
      val reread = SparkEntry.readParquet(spark, path)
      assert(reread.columns.toSeq == Seq("b"))
      assert(reread.count() == 3)
    }
  }

  test("SparkSession.builder appears in src/main/scala only in Harness.scala") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"source tree not found at ${root.getAbsolutePath}")
    def files(d: java.io.File): Seq[java.io.File] = d.listFiles().toSeq.flatMap { f =>
      if (f.isDirectory) files(f) else Seq(f).filter(_.getName.endsWith(".scala"))
    }
    // code only: block comments (scaladoc included) and line comments
    // may show how to build a session
    val comments = """(?s)/\*.*?\*/|//[^\n]*""".r
    val offenders = files(root).filterNot(_.getName == "Harness.scala").filter { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val code = try comments.replaceAllIn(src.mkString, "") finally src.close()
      code.contains("SparkSession.builder")
    }.map(_.getPath).sorted
    assert(offenders.isEmpty,
      s"session builders in ${offenders.mkString(", ")}: use Harness.session()")
  }
}
