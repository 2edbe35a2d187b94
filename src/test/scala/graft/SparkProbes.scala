package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

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

  /** State `after` holds that `before` did not. Entries may only vanish
    * in between: the ContextCleaner drops collected RDDs on its own. */
  def added(before: (Set[Int], Boolean),
            after: (Set[Int], Boolean)): Boolean =
    (after._1 -- before._1).nonEmpty || (before._2 && !after._2)

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
