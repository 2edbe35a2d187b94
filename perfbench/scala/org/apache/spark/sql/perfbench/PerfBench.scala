package org.apache.spark.sql.perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.Locale

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What one timed call did: whether it passed its check, how much work it
  * completed (fits, a query or rows) and why it failed, if it did. */
final case class Outcome(ok: Boolean, work: Double, note: String = "")

/** One public call of a workload, of a `kind` (fit, generate or query).
  * `run` is timed; `check` runs after the clock stops and may turn a
  * completed call into a failure. */
final class Call(val name: String, val kind: String, val run: () => Outcome,
                 val check: Outcome => Outcome = identity)

/** A closed-loop workload over inputs made from the seed: a fixed call
  * order, untimed per-call hooks and the traced-run layer probes. */
trait Workload {
  def calls: IndexedSeq[Call]
  /** Runs untimed before each call. */
  def beforeCall(c: Call): Unit = ()
  /** Untimed warm-up, counted in set-up: every call at least once. */
  def warmUp(): Unit
  /** Layer probes of the traced run, outside the timed loop. */
  def probes(): Map[String, Double] = Map.empty
  /** Extra lines for the run record. */
  def record: Map[String, String] = Map.empty
}

final case class CallRecord(index: Int, name: String, kind: String, seconds: Double,
                            ok: Boolean, work: Double, note: String)

/** The `models` workload: the `fit` calls, then the `generate` calls. */
final class ModelsWorkload(fit: FitWorkload, generate: GenerateWorkload) extends Workload {
  lazy val calls: IndexedSeq[Call] = fit.calls ++ generate.calls
  override def warmUp(): Unit = { fit.warmUp(); generate.warmUp() }
  override def probes(): Map[String, Double] = fit.probes() ++ generate.probes()
  override def record: Map[String, String] = fit.record ++ generate.record
}

/** Benchmark main. Usage:
  * {{{
  * PerfBench --workload models|queries --seed N --seconds S --trace 0|1
  *           --inputs-s T --out DIR [--queries q1,q2,...]
  * PerfBench --census FILE --out DIR
  * }}}
  * The inputs are in DIR/data; T is the seconds their generation took.
  * Writes `result.json` (and, traced, `spans.json`) into DIR. */
object PerfBench {

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val out = args("out")
    new File(out).mkdirs()
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val spark = session(cores, out)
    try {
      args.get("census") match {
        case Some(file) => Census.run(spark, out, file)
        case None =>
          run(spark, args("workload"), args("seed").toLong, args("seconds").toDouble,
            args.getOrElse("trace", "0") == "1", args("inputs-s").toDouble, out, cores, jvmStartMs,
            args.get("queries").map(_.split(",").toSeq).getOrElse(Nil))
      }
    } finally spark.stop()
  }

  /** The session confs of the project's timed main (`graft.Bench`), so the
    * benchmark times the configuration the project ships. */
  def session(cores: Int, out: String): SparkSession = {
    val tmp = new File(out, "spark").getAbsolutePath
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "16384")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.codegen.cache.maxEntries", "32768")
      .config("spark.sql.files.openCostInBytes", (64 * 1024).toString)
      .config("spark.sql.constraintPropagation.enabled", "false")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.local.dir", tmp)
      .config("spark.sql.warehouse.dir", new File(tmp, "warehouse").getAbsolutePath)
      .config("spark.sql.streaming.checkpointLocation", new File(tmp, "checkpoints").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def run(spark: SparkSession, name: String, seed: Long, seconds: Double, trace: Boolean,
          inputsS: Double, out: String, cores: Int, jvmStartMs: Long, queries: Seq[String]): Unit = {
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val data = new File(out, "data").getAbsolutePath
    val workload: Workload = name match {
      case "models" => new ModelsWorkload(new FitWorkload(spark, data, seed),
        new GenerateWorkload(spark, data, seed))
      case "queries" => new QueriesWorkload(spark, data, out, queries)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }

    // set-up: session start + input generation (by the caller, the median
    // of three) + the warm-up
    val t0 = System.nanoTime()
    workload.warmUp()
    val warmS = (System.nanoTime() - t0) / 1e9
    val setupS = sessionS + inputsS + warmS
    System.err.println(f"[perfbench] setup: session $sessionS%.2f s, inputs $inputsS%.2f s, warm-up $warmS%.2f s")

    val rec = new SpanRecorder(trace)
    Tracing.recorder = rec
    val listener = if (trace) Some(new BenchListener(spark.sparkContext)) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val layers = new LayerTotals
    val calls = workload.calls
    val records = ArrayBuffer.empty[CallRecord]
    val loopStart = System.nanoTime()
    val deadline = loopStart + (seconds * 1e9).toLong
    val wallToNano = System.nanoTime() - System.currentTimeMillis() * 1000000L
    // whole passes: past the deadline the pass in progress is finished, so
    // every run times the same calls whatever its speed
    var i = 0
    while (System.nanoTime() < deadline || i % calls.length != 0) {
      val call = calls(i % calls.length)
      workload.beforeCall(call)
      val c0 = listener.map(_.snapshot())
      listener.foreach(_.drainFinished())
      val p0 = if (trace) Probes.persisted(spark) else 0
      val (h0, m0) = graft.SparkEntry.memoCounters
      rec.callId = i
      val s0 = System.nanoTime()
      val done =
        try rec.span("call")(call.run())
        catch { case e: Throwable => Outcome(ok = false, 0.0, s"threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
      val dt = (System.nanoTime() - s0) / 1e9
      val checked =
        if (!done.ok) done
        else try call.check(done)
        catch { case e: Throwable => Outcome(ok = false, done.work, s"check threw $e") }
      records += CallRecord(i, call.name, call.kind, dt, checked.ok, checked.work, checked.note)
      if (!checked.ok) System.err.println(s"[perfbench] FAILED ${call.name}: ${checked.note.take(300)}")
      listener.foreach { l =>
        val d = l.snapshot() - c0.get
        val (stages, jobs) = l.drainFinished()
        jobs.foreach { case (id, a, b) =>
          val startNs = a * 1000000L + wallToNano
          val parent = rec.all.filter(s => s.callId == i && s.startNs <= startNs && startNs <= s.endNs)
            .sortBy(s => s.endNs - s.startNs).headOption.map(_.id).getOrElse(-1)
          rec.add("spark.job", parent, startNs, math.max(startNs, b * 1000000L + wallToNano))
        }
        val (h1, m1) = graft.SparkEntry.memoCounters
        layers.add(d, stages, Probes.persisted(spark) - p0, h1 - h0, m1 - m0,
          rec.all.filter(_.callId == i))
      }
      i += 1
    }
    val loopS = (System.nanoTime() - loopStart) / 1e9
    listener.foreach(spark.sparkContext.removeSparkListener)

    val probeMetrics = if (trace) workload.probes() else Map.empty[String, Double]
    val heapMb = Probes.heapUsedMb()

    val times = records.map(_.seconds).sorted.toIndexedSeq
    val busyS = times.sum
    val (tailPct, tailS) = tail(times)
    val failures = records.filterNot(_.ok)
    val work = records.filter(_.ok).map(_.work).sum
    /** Work of one kind per second of that kind's calls. */
    def rate(kind: String): Double = {
      val rs = records.filter(r => r.ok && r.kind == kind)
      if (rs.isEmpty) 0.0 else rs.map(_.work).sum / rs.map(_.seconds).sum
    }
    val e2e: Seq[(String, Double, String)] = Seq(
      ("setup_s", setupS, "s"),
      ("call_p50_s", hdMedian(times), "s"),
      ("call_tail_s", tailS, "s"),
      ("calls_per_s", records.count(_.ok) / busyS, "1/s"),
      ("heap_after_gc_mb", heapMb, "MB"))
    val metrics: Seq[(String, Double, String)] =
      if (!trace) e2e
      else layers.metrics(cores, busyS, rec) ++ Seq(
        ("trace.call_p50_s", hdMedian(times), "s"),
        ("fitter.fits_per_s", rate("fit"), "1/s"),
        ("sink.rows_per_s", rate("generate"), "1/s")) ++
        LayerTotals.probeNames.map(n => (n._1, probeMetrics.getOrElse(n._1, 0.0), n._2))

    val metricJson = metrics.map { case (n, v, u) =>
      s""""$n":{"value":${num(v)},"unit":"$u"}""" }.mkString("{", ",", "}")
    val callJson = records.map(r =>
      s"""{"i":${r.index},"name":"${esc(r.name)}","kind":"${r.kind}","s":${num(r.seconds)},"ok":${r.ok},"work":${num(r.work)},"note":"${esc(r.note.take(500))}"}""")
      .mkString("[", ",\n", "]")
    val extra = workload.record.map { case (k, v) => s""""$k":$v""" }.mkString(",")
    val json =
      s"""{"workload":"$name","seed":$seed,"trace":$trace,"cores":$cores,""" +
      s""""attempted":${records.size},"failed":${failures.size},"metrics":$metricJson,""" +
      s""""n_calls":${records.size},"tail_percentile":${num(tailPct)},"loop_s":${num(loopS)},""" +
      s""""busy_s":${num(busyS)},"work":${num(work)},"session_s":${num(sessionS)},""" +
      s""""inputs_s":${num(inputsS)},"warmup_s":${num(warmS)},""" +
      (if (extra.nonEmpty) extra + "," else "") +
      s""""calls":$callJson}"""
    write(new File(out, "result.json"), json)
    if (trace) write(new File(out, "spans.json"), rec.toJson)
    System.err.println(f"[perfbench] $name seed $seed: ${records.size} calls, ${failures.size} failed, p50 ${hdMedian(times)}%.4f s, tail p$tailPct%.0f $tailS%.4f s")
  }

  /** The highest percentile with at least ten calls beyond it (nearest
    * rank). With twenty calls or fewer that percentile is not above the
    * median, so the slowest call stands in for it. */
  def tail(sorted: IndexedSeq[Double]): (Double, Double) = {
    val n = sorted.size
    if (n == 0) (100.0, 0.0)
    else if (n <= 20) (100.0, sorted.last)
    else {
      val pct = math.floor(100.0 * (n - 10) / n)
      val rank = math.max(1, math.ceil(pct / 100.0 * n).toInt)
      (pct, sorted(rank - 1))
    }
  }

  /** Harrell–Davis median: a Beta-weighted average of every order
    * statistic. A pass holds a few calls of unlike cost, and the middle
    * call alone jumps between them from run to run. */
  def hdMedian(sorted: IndexedSeq[Double]): Double = {
    val n = sorted.size
    if (n == 0) 0.0
    else {
      val beta = new org.apache.commons.math3.distribution.BetaDistribution((n + 1) / 2.0, (n + 1) / 2.0)
      sorted.indices.map(i =>
        (beta.cumulativeProbability((i + 1.0) / n) - beta.cumulativeProbability(i.toDouble / n)) * sorted(i)).sum
    }
  }

  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else String.format(Locale.ROOT, "%.9g", Double.box(v)).replaceAll("\\.?0+(e|$)", "$1")

  /** JSON string escaping. */
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def write(f: File, s: String): Unit = {
    f.getParentFile.mkdirs()
    Files.write(f.toPath, s.getBytes(StandardCharsets.UTF_8))
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)
    else f.length()

  /** Runs `body` on every call, three calls at a time. Running calls side
    * by side overlaps their single-threaded driver work (class loading,
    * JIT and codegen compilation), which is most of a cold call. */
  def inParallel(calls: Seq[Call])(body: Call => Unit): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    try {
      calls.map { c =>
        pool.submit(new Runnable {
          def run(): Unit = {
            val t0 = System.nanoTime()
            try body(c)
            catch { case e: Throwable => System.err.println(s"[perfbench] warm-up ${c.name} threw $e") }
            System.err.println(f"[perfbench] warm-up ${c.name} ${(System.nanoTime() - t0) / 1e9}%.2f s")
          }
        })
      }.foreach(_.get())
    } finally pool.shutdown()
  }

  /** Consumes every output column of `df` on the driver. */
  def consume(df: DataFrame): Array[org.apache.spark.sql.Row] = df.collect()
}

/** Per-layer totals of the traced run, summed over calls. */
final class LayerTotals {
  private var calls = 0
  private var c = Counters()
  private var leaked = 0L
  private var memoHits = 0L
  private var memoMisses = 0L
  private val fitCalls = ArrayBuffer.empty[(Double, Double, Int, Double)] // call, fanout, tasks, skew
  private var constructJobs = 0L

  def add(d: Counters, stages: Seq[StageRecord],
          persistedDelta: Int, hits: Long, misses: Long, spans: Seq[Span]): Unit = {
    calls += 1
    c = c + d
    leaked += persistedDelta
    memoHits += hits
    memoMisses += misses
    spans.find(_.name == "entry.construct").foreach { con =>
      constructJobs += spans.count(s => s.name == "spark.job" && s.parent == con.id)
    }
    spans.find(_.name == "fitter.call").foreach { f =>
      val fan = if (stages.isEmpty) None else Some(stages.maxBy(_.taskRunMs.sum))
      val fanS = fan.map(s => (s.completeMs - s.submitMs) / 1000.0).getOrElse(0.0)
      val skew = fan.filter(_.taskRunMs.nonEmpty).map { s =>
        val med = PerfBench.median(s.taskRunMs.map(_.toDouble))
        if (med > 0) s.taskRunMs.max / med else 1.0
      }.getOrElse(0.0)
      fitCalls += ((f.seconds, fanS, fan.map(_.numTasks).getOrElse(0), skew))
    }
  }

  def metrics(cores: Int, busyS: Double, rec: SpanRecorder): Seq[(String, Double, String)] = {
    val n = math.max(1, calls).toDouble
    val mb = 1024.0 * 1024.0
    def spanMean(name: String): Double = {
      val ss = rec.all.filter(_.name == name)
      if (ss.isEmpty) 0.0 else ss.map(_.seconds).sum / ss.size
    }
    val selfS = rec.selfSeconds
    def selfPerCall(name: String): Double = selfS.getOrElse(name, 0.0) / n
    val nFit = math.max(1, fitCalls.size).toDouble
    val fitS = fitCalls.map(_._1).sum / nFit
    val fanS = fitCalls.map(_._2).sum / nFit
    Seq(
      ("spark.jobs", c.jobs / n, "count"),
      ("spark.stages", c.stages / n, "count"),
      ("spark.tasks", c.tasks / n, "count"),
      ("spark.executor_run_s", c.runMs / 1000.0 / n, "s"),
      ("spark.executor_cpu_s", c.cpuNs / 1e9 / n, "s"),
      ("spark.busy_ratio", if (busyS > 0) c.runMs / 1000.0 / (busyS * cores) else 0.0, "ratio"),
      ("spark.task_wait_s", if (c.tasks > 0) c.waitMs / 1000.0 / c.tasks else 0.0, "s"),
      ("spark.shuffle_write_mb", c.shuffleWriteBytes / mb / n, "MB"),
      ("spark.shuffle_read_mb", c.shuffleReadBytes / mb / n, "MB"),
      ("spark.spill_mb", c.spillBytes / mb / n, "MB"),
      ("spark.failed_tasks", c.failedTasks.toDouble, "count"),
      ("spark.codegen_compile_s", c.codegenNs / 1e9 / n, "s"),
      ("jvm.gc_s", c.gcMs / 1000.0 / n, "s"),
      ("spark.persisted_leaked", leaked.toDouble, "count"),
      ("entry.construct_s", spanMean("entry.construct"), "s"),
      ("entry.construct_jobs", constructJobs / n, "count"),
      ("entry.memo_hits", memoHits / n, "count"),
      ("entry.memo_misses", memoMisses / n, "count"),
      ("catalyst.plan_s", spanMean("catalyst.plan"), "s"),
      ("exec.action_s", spanMean("exec.action"), "s"),
      ("fitter.call_s", fitS, "s"),
      ("fitter.fanout_s", fanS, "s"),
      ("fitter.prep_s", fitS - fanS, "s"),
      ("fitter.fanout_tasks", fitCalls.map(_._3).sum / nFit, "count"),
      ("fitter.fanout_skew", PerfBench.median(fitCalls.map(_._4).toSeq), "ratio"),
      ("sampling.construct_s", spanMean("sampling.construct"), "s"),
      ("sink.write_s", spanMean("sink.write"), "s"),
      ("self.call_s", selfPerCall("call"), "s"),
      ("self.entry_construct_s", selfPerCall("entry.construct"), "s"),
      ("self.catalyst_plan_s", selfPerCall("catalyst.plan"), "s"),
      ("self.exec_action_s", selfPerCall("exec.action"), "s"),
      ("self.fitter_call_s", selfPerCall("fitter.call"), "s"),
      ("self.spark_job_s", selfPerCall("spark.job"), "s"),
      ("trace.listener_s", c.listenerNs / 1e9 / n, "s"))
  }
}

object LayerTotals {
  /** Metrics filled by a workload's probes; 0 where the workload has none. */
  val probeNames: Seq[(String, String)] = Seq(
    "fitter.fits" -> "count",
    "dists.kernel_s" -> "s",
    "dists.kernel_max_s" -> "s",
    "dists.kernel_p50_ms" -> "ms",
    "functions.ks_ad_s" -> "s",
    "sink.bytes_per_row" -> "B")
}
