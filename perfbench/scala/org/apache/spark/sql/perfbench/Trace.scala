package org.apache.spark.sql.perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** One timed interval. Spans of one benchmark call share `callId`;
  * `parent` is the enclosing span's id (-1 for a root). */
final case class Span(id: Int, parent: Int, callId: Int, name: String,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Spans are opened and closed on the benchmark
  * thread only; listener-derived spans are added after the listener bus
  * has drained. Nothing is written until the run ends. */
final class SpanRecorder(val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private var nextId = 0
  private var open: List[Int] = Nil
  var callId: Int = -1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val t0 = System.nanoTime()
      try body
      finally {
        open = open.tail
        spans += Span(id, parent, callId, name, t0, System.nanoTime())
      }
    }

  /** Adds a span measured elsewhere (a Spark job or stage) under `parent`. */
  def add(name: String, parent: Int, startNs: Long, endNs: Long): Unit =
    if (enabled) {
      spans += Span(nextId, parent, callId, name, startNs, endNs)
      nextId += 1
    }

  def all: Seq[Span] = spans.toSeq

  /** Self time per span name: each span's duration minus the part of its
    * interval that its children's intervals cover. */
  def selfSeconds: Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val covered = kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
          .filter { case (a, b) => b > a }
          .sortBy(_._1)
          .foldLeft((0L, Long.MinValue)) { case ((sum, end), (a, b)) =>
            if (b <= end) (sum, end)
            else (sum + b - math.max(a, end), b)
          }._1
        (s.endNs - s.startNs - covered) / 1e9
      }.sum
    }
  }

  def toJson: String = spans.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"call":${s.callId},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.mkString("[\n", ",\n", "\n]")
}

/** Per-stage record kept by the listener. */
final case class StageRecord(stageId: Int, numTasks: Int, submitMs: Long,
                             completeMs: Long, taskRunMs: Seq[Long])

/** Cumulative Spark counters. A benchmark call's share is the difference
  * of two snapshots taken after the listener bus has drained. */
final case class Counters(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0, failedTasks: Long = 0,
    runMs: Long = 0, cpuNs: Long = 0, waitMs: Long = 0,
    shuffleWriteBytes: Long = 0, shuffleReadBytes: Long = 0, spillBytes: Long = 0,
    codegenNs: Long = 0, gcMs: Long = 0, listenerNs: Long = 0) {
  def -(o: Counters): Counters = Counters(
    jobs - o.jobs, stages - o.stages, tasks - o.tasks, failedTasks - o.failedTasks,
    runMs - o.runMs, cpuNs - o.cpuNs, waitMs - o.waitMs,
    shuffleWriteBytes - o.shuffleWriteBytes, shuffleReadBytes - o.shuffleReadBytes,
    spillBytes - o.spillBytes, codegenNs - o.codegenNs, gcMs - o.gcMs,
    listenerNs - o.listenerNs)
  def +(o: Counters): Counters = Counters(
    jobs + o.jobs, stages + o.stages, tasks + o.tasks, failedTasks + o.failedTasks,
    runMs + o.runMs, cpuNs + o.cpuNs, waitMs + o.waitMs,
    shuffleWriteBytes + o.shuffleWriteBytes, shuffleReadBytes + o.shuffleReadBytes,
    spillBytes + o.spillBytes, codegenNs + o.codegenNs, gcMs + o.gcMs,
    listenerNs + o.listenerNs)
}

/** SparkListener that counts jobs, stages and tasks and keeps per-stage
  * task run times. The benchmark lives in the `org.apache.spark.sql`
  * namespace only to reach the listener bus's drain call and the cache
  * manager's entry count. */
final class BenchListener(sc: SparkContext) extends SparkListener {
  private var c = Counters()
  private val stageSubmitMs = scala.collection.mutable.Map.empty[Int, Long]
  private val stageTasks = scala.collection.mutable.Map.empty[Int, ArrayBuffer[Long]]
  private val finished = ArrayBuffer.empty[StageRecord]
  private val jobs = ArrayBuffer.empty[(Int, Long, Long)]
  private val jobStartMs = scala.collection.mutable.Map.empty[Int, Long]

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    synchronized {
      body
      c = c.copy(listenerNs = c.listenerNs + System.nanoTime() - t0)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    c = c.copy(jobs = c.jobs + 1)
    jobStartMs(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    jobs += ((e.jobId, jobStartMs.remove(e.jobId).getOrElse(e.time), e.time))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = timed {
    stageSubmitMs(e.stageInfo.stageId) =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    val info = e.stageInfo
    c = c.copy(stages = c.stages + 1)
    finished += StageRecord(info.stageId, info.numTasks,
      stageSubmitMs.remove(info.stageId).orElse(info.submissionTime).getOrElse(0L),
      info.completionTime.getOrElse(System.currentTimeMillis()),
      stageTasks.remove(info.stageId).map(_.toSeq).getOrElse(Nil))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val m = e.taskMetrics
    val failed = e.reason != org.apache.spark.Success
    val wait = stageSubmitMs.get(e.stageId)
      .map(s => math.max(0L, e.taskInfo.launchTime - s)).getOrElse(0L)
    if (m != null) {
      stageTasks.getOrElseUpdate(e.stageId, ArrayBuffer.empty) += m.executorRunTime
      c = c.copy(
        tasks = c.tasks + 1,
        failedTasks = c.failedTasks + (if (failed) 1 else 0),
        runMs = c.runMs + m.executorRunTime,
        cpuNs = c.cpuNs + m.executorCpuTime,
        waitMs = c.waitMs + wait,
        shuffleWriteBytes = c.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
        shuffleReadBytes = c.shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
        spillBytes = c.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled)
    } else {
      c = c.copy(tasks = c.tasks + 1, failedTasks = c.failedTasks + (if (failed) 1 else 0),
        waitMs = c.waitMs + wait)
    }
  }

  /** Waits until every posted event has been delivered, then returns the
    * cumulative counters (plus codegen and GC totals read now). */
  def snapshot(): Counters = {
    sc.listenerBus.waitUntilEmpty()
    synchronized(c).copy(codegenNs = CodeGenerator.compileTime, gcMs = Probes.gcMillis)
  }

  /** Stages and jobs finished since the last call (call after snapshot). */
  def drainFinished(): (Seq[StageRecord], Seq[(Int, Long, Long)]) = synchronized {
    val out = (finished.toSeq, jobs.toSeq)
    finished.clear(); jobs.clear()
    out
  }
}

object Probes {
  def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Heap in use after full GCs, repeated until it stops falling: the
    * Spark context cleaner releases broadcasts and shuffles only after a GC
    * has cleared their references. */
  def heapUsedMb(): Double = {
    def used(): Long = {
      System.gc()
      Thread.sleep(100)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    var last = used()
    var next = used()
    var rounds = 0
    while (next < last && rounds < 5) { last = next; next = used(); rounds += 1 }
    math.min(last, next) / (1024.0 * 1024.0)
  }

  /** Persistent RDDs plus Dataset cache entries held by the session. */
  def persisted(spark: org.apache.spark.sql.SparkSession): Int =
    spark.sparkContext.getPersistentRDDs.size +
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sharedState.cacheManager.numCachedEntries
}
