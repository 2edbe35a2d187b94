package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.scalatest.Assertions

/** What a call leaves behind in a session, and how many Spark jobs it
  * runs: the probes of the substrate specs. */
object SparkProbes {

  /** Persisted RDDs other than local checkpoints (a result that
    * outlives its call is checkpointed on purpose and released by the
    * ContextCleaner), and whether the CacheManager is empty. */
  def cachedState(spark: SparkSession): (Set[Int], Boolean) =
    (spark.sparkContext.getPersistentRDDs.collect {
      case (id, rdd) if !rdd.isCheckpointed => id
    }.toSet, spark.sharedState.cacheManager.isEmpty)

  /** Every persistent RDD, local checkpoints included, and whether the
    * CacheManager is empty: the state of an operator whose result must
    * not pin anything. */
  def persistedState(spark: SparkSession): (Set[Int], Boolean) =
    (spark.sparkContext.getPersistentRDDs.keySet.toSet,
      spark.sharedState.cacheManager.isEmpty)

  /** What `body` adds to `probe`'s state, run from an empty
    * CacheManager: the RDD ids it added, and whether the CacheManager
    * holds an entry afterwards. Entries may only vanish in between: the
    * ContextCleaner drops collected RDDs on its own. */
  def added(spark: SparkSession, probe: SparkSession => (Set[Int], Boolean))
           (body: => Any): (Set[Int], Boolean) = {
    // an earlier leak of the same plan would mask this call's own
    spark.catalog.clearCache()
    val before = probe(spark)
    body
    val after = probe(spark)
    (after._1 -- before._1, !after._2)
  }

  /** The names of the cases that leave state behind in `probe`. A case
    * is (name, call, throws): a throwing call must raise a typed
    * `IllegalArgumentException`; a returned DataFrame is collected. */
  def leaks(spark: SparkSession, probe: SparkSession => (Set[Int], Boolean))
           (cases: Seq[(String, () => Any, Boolean)]): Seq[String] =
    cases.filter { case (_, call, throws) =>
      val (rdds, cached) = added(spark, probe) {
        if (throws) Assertions.intercept[IllegalArgumentException](call())
        else call() match {
          case df: Dataset[_] => df.collect()
          case _ =>
        }
      }
      rdds.nonEmpty || cached
    }.map(_._1)

  /** Spark jobs started while `body` runs. */
  def jobsOf(spark: SparkSession)(body: => Any): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.ListenerBusAccess.drain(sc)
    sc.addSparkListener(listener)
    try {
      body
      org.apache.spark.ListenerBusAccess.drain(sc)
      jobs.get
    } finally sc.removeSparkListener(listener)
  }
}
