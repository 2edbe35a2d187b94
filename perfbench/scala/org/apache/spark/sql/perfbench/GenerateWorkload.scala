package org.apache.spark.sql.perfbench

import java.io.File

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Observation, SparkSession, functions => F}

import graft.operators.{GaussianCopula, GaussianMixtureResult, Marginal, Mixture, Sampling}

/** The generation half of `models`: models with fixed parameters, as a fit
  * returns them, turned into a million rows each written as parquet. Each call's row count is read back from the parquet footers,
  * and the mean and variance of every column, observed in the same write,
  * must match the model's. The output is deleted after the check. */
final class GenerateWorkload(spark: SparkSession, dataDir: String, seed: Long) extends Workload {
  val Rows = 1000000L
  /** Relative variance tolerance. The tabulated ppf interpolates linearly
    * inside its last grid cell (u up to 1 − 1e-7), which inflates the
    * variance of right-skewed families by 1–2% (expon, gamma, exponnorm);
    * the check allows 3% and the run record keeps each measured variance. */
  val VarianceTolerance = 0.03
  private var bytes = 0L
  private var rowsWritten = 0L
  private val draw = new java.util.concurrent.atomic.AtomicLong()

  /** (column, mean, variance) the model implies. */
  private type Moments = Seq[(String, Double, Double)]

  /** Mean and variance of norm(mu, sigma) truncated to [a, b]. */
  private def normMoments(mu: Double, sigma: Double, a: Double, b: Double): (Double, Double) = {
    val (al, be) = ((a - mu) / sigma, (b - mu) / sigma)
    def pdf(x: Double) = math.exp(-x * x / 2) / math.sqrt(2 * math.Pi)
    val z = graft.functions.SpecialMath.normCdf(be) - graft.functions.SpecialMath.normCdf(al)
    val d = (pdf(al) - pdf(be)) / z
    (mu + sigma * d, sigma * sigma * (1 + (al * pdf(al) - be * pdf(be)) / z - d * d))
  }

  private def genCall(name: String, rows: Long, moments: Moments)(make: Long => DataFrame): Call = {
    val target = new File(dataDir, name)
    var observed: Map[String, Any] = Map.empty
    new Call(name, "generate",
      run = () => {
        val df = Tracing.span("sampling.construct")(make(seed * 1000 + draw.incrementAndGet()))
        val obs = Observation(name)
        val aggs = F.count(F.lit(1)).as("n") +: moments.flatMap { case (c, _, _) =>
          Seq(F.avg(c).as(s"mean_$c"), F.var_samp(c).as(s"var_$c")) }
        Tracing.span("sink.write") {
          df.observe(obs, aggs.head, aggs.tail: _*).write.mode("overwrite").parquet(target.getAbsolutePath)
        }
        observed = obs.get
        Outcome(ok = true, rows.toDouble)
      },
      check = o => {
        val conf = new Configuration()
        val files = Option(target.listFiles).getOrElse(Array.empty).filter(_.getName.endsWith(".parquet"))
        val footerRows = files.map { f =>
          val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f.getAbsolutePath), conf))
          try r.getRecordCount finally r.close()
        }.sum
        val size = PerfBench.dirBytes(target)
        PerfBench.deleteRecursively(target)
        val problems = (if (footerRows != rows) Seq(s"footers hold $footerRows rows, expected $rows") else Nil) ++
          (if (observed.getOrElse("n", -1L) != rows) Seq(s"observed ${observed.get("n")} rows") else Nil) ++
          moments.flatMap { case (c, mean, variance) =>
            val m = observed(s"mean_$c").asInstanceOf[Double]
            val v = observed(s"var_$c").asInstanceOf[Double]
            val se = math.sqrt(variance / rows)
            (if (math.abs(m - mean) > 6 * se + 1e-3 * math.sqrt(variance)) Seq(s"$c mean $m, model $mean") else Nil) ++
              (if (math.abs(v - variance) > VarianceTolerance * variance) Seq(s"$c variance $v, model $variance") else Nil)
          }
        val measured = moments.map { case (c, _, _) =>
          f"$c mean ${observed(s"mean_$c")}, variance ${observed(s"var_$c")}" }.mkString("; ")
        if (problems.isEmpty) {
          bytes += size; rowsWritten += rows
          o.copy(note = measured)
        } else Outcome(ok = false, o.work, problems.mkString("; "))
      })
  }

  lazy val calls: IndexedSeq[Call] = {
    val (tm, tv) = normMoments(50.0, 10.0, 40.0, 70.0)
    val copula = new GaussianCopula(
      Seq(Marginal("a", "norm", Array(50.0, 10.0)), Marginal("b", "expon", Array(0.0, 5.0)),
        Marginal("c", "gamma", Array(2.0, 0.0, 2.0))),
      Array(Array(1.0, 0.5, 0.3), Array(0.5, 1.0, 0.4), Array(0.3, 0.4, 1.0)))
    val mixture = GaussianMixtureResult(Seq("x", "y"), Array(0.4, 0.6),
      Array(Array(0.0, 0.0), Array(5.0, 3.0)),
      Array(Array(Array(1.0, 0.2), Array(0.2, 1.0)), Array(Array(1.0, -0.3), Array(-0.3, 2.0))),
      0.0, 0L, 0.0, 0.0)
    def mixMoments(i: Int): (Double, Double) = {
      val m = 0.4 * mixture.means(0)(i) + 0.6 * mixture.means(1)(i)
      val second = (0 until 2).map(c => mixture.weights(c) *
        (mixture.covariances(c)(i)(i) + mixture.means(c)(i) * mixture.means(c)(i))).sum
      (m, second - m * m)
    }
    val (mx, vx) = mixMoments(0)
    val (my, vy) = mixMoments(1)
    IndexedSeq(
      genCall("generate_norm", Rows, Seq(("sample", 50.0, 100.0)))(s =>
        Sampling.generate(spark, "norm", Array(50.0, 10.0), Rows, s)),
      genCall("generate_gamma", Rows, Seq(("sample", 4.0, 8.0)))(s =>
        Sampling.generate(spark, "gamma", Array(2.0, 0.0, 2.0), Rows, s)),
      genCall("generate_exponnorm", Rows, Seq(("sample", 1.5, 3.25)))(s =>
        Sampling.generate(spark, "exponnorm", Array(1.5, 0.0, 1.0), Rows, s)),
      genCall("generate_truncnorm", Rows, Seq(("sample", tm, tv)))(s =>
        Sampling.generate(spark, "norm", Array(50.0, 10.0), Rows, s,
          lowerBound = Some(40.0), upperBound = Some(70.0))),
      genCall("generate_grid", Rows, Seq(("sample", 50.0, 100.0)))(_ =>
        Sampling.generateGrid(spark, "norm", Array(50.0, 10.0), Rows)),
      genCall("copula_sample", Rows / 2, Seq(("a", 50.0, 100.0), ("b", 5.0, 25.0), ("c", 4.0, 8.0)))(s =>
        copula.sampleDistributed(spark, Rows / 2, s)),
      genCall("mixture_sample", Rows / 2, Seq(("x", mx, vx), ("y", my, vy)))(s =>
        Mixture.sampleDistributed(spark, mixture, Rows / 2, s)))
  }

  /** Warm-up: one pass, one call at a time (concurrent writes warm no
    * faster), output deleted unchecked. */
  override def warmUp(): Unit = calls.foreach { c =>
    c.run()
    PerfBench.deleteRecursively(new File(dataDir, c.name))
  }

  override def probes(): Map[String, Double] = Map(
    "sink.bytes_per_row" -> (if (rowsWritten > 0) bytes.toDouble / rowsWritten else 0.0))

  override def record: Map[String, String] = Map(
    "rows_written" -> rowsWritten.toString, "bytes_written" -> bytes.toString)
}
