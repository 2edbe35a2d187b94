package graft.operators

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graftbridge.CheckpointBridge
import org.apache.spark.storage.StorageLevel

/** The one lifecycle of the frames an operator reads more than once or
  * carries from round to round (the reference caches the frame it
  * reuses and lets the caller `unpersist` it). Every eager checkpoint
  * under `operators/` is made here. Inside `Persisted { scope => ... }`:
  *
  *  - `cache(df)` persists a frame the body reads more than once. A
  *    frame whose plan the CacheManager already holds is the caller's:
  *    it comes back as is and is never released here.
  *  - `checkpoint(df)` checkpoints a frame eagerly, so the plans built on
  *    it stay O(1) deep.
  *  - `round(replaced, next)` checkpoints the next frame of an iteration
  *    and releases the checkpoints `replaced` reads, which nothing may
  *    read afterwards; `release(df)` releases them alone.
  *
  * When the body returns or throws, every frame it cached is released,
  * and so is every checkpoint that the frame it returns does not read: a
  * returned lazy frame keeps only the checkpoints it reads, which the
  * ContextCleaner frees once the caller drops the frame. A returned
  * `Product` (a tuple, a case class) keeps the checkpoints read by each
  * of its `Dataset` fields. A checkpoint whose job fails is released
  * before the failure propagates. A returned frame must not read a
  * cached one (that one would be recomputed), so a body checkpoints
  * what it returns. Releases do not block. A nested helper takes its
  * operator's scope as an argument. */
private[operators] final class Persisted private {
  private val cached = mutable.ArrayBuffer.empty[DataFrame]
  private val checkpoints = mutable.LinkedHashMap.empty[Int, RDD[_]]

  def cache(df: DataFrame): DataFrame = {
    if (df.storageLevel == StorageLevel.NONE) cached += df.persist()
    df
  }

  def checkpoint(df: DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    // the operator's line names the checkpoint job, as if the operator
    // had called localCheckpoint, and marks the RDD the job fills: if the
    // job fails, that RDD stays persisted, unreachable but by this mark
    val site = "localCheckpoint at " + Thread.currentThread.getStackTrace
      .find(f => f.getClassName.startsWith("graft.") &&
        !f.getClassName.startsWith(classOf[Persisted].getName))
      .fold("?")(f => s"${f.getFileName}:${f.getLineNumber}")
    val outer = sc.getLocalProperty("callSite.short")
    sc.setCallSite(site)
    val cp = try df.localCheckpoint(true) catch {
      case t: Throwable =>
        sc.getPersistentRDDs.valuesIterator
          .filter(r => !r.isCheckpointed && r.name == null &&
            r.toString.endsWith(s" at $site"))
          .foreach(CheckpointBridge.release)
        throw t
    } finally sc.setLocalProperty("callSite.short", outer)
    Persisted.checkpointsOf(cp).foreach(r => checkpoints(r.id) = r)
    cp
  }

  def round(replaced: DataFrame, next: DataFrame): DataFrame = {
    val cp = checkpoint(next)
    if (replaced != null) release(replaced)
    cp
  }

  def release(df: DataFrame): Unit = Persisted.checkpointsOf(df)
    .foreach(r => checkpoints.remove(r.id).foreach(CheckpointBridge.release))
}

private[operators] object Persisted {

  def apply[A](body: Persisted => A): A = {
    val scope = new Persisted
    var kept = Set.empty[Int]
    try {
      val result = body(scope)
      val returned = result match {
        case df: Dataset[_] => Iterator(df)
        case p: Product => p.productIterator.collect { case df: Dataset[_] => df }
        case _ => Iterator.empty
      }
      kept = returned.flatMap(checkpointsOf).map(_.id).toSet
      result
    } finally {
      scope.cached.foreach(_.unpersist(blocking = false))
      scope.checkpoints.valuesIterator.filterNot(r => kept(r.id))
        .foreach(CheckpointBridge.release)
    }
  }

  /** The checkpointed RDDs `df`'s plan reads. */
  private def checkpointsOf(df: Dataset[_]): Seq[RDD[_]] =
    df.queryExecution.analyzed.collectWithSubqueries { case r: LogicalRDD => r.rdd }
}
