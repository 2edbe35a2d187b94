package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD

/** Releases a locally checkpointed RDD that nothing reads any more.
  * `RDD.unpersist` does the same but warns on every call that the
  * lineage is gone, which an iteration releasing one checkpoint per
  * round knows; `SparkContext.unpersistRDD` is `private[spark]`. */
object CheckpointBridge {
  def release(rdd: RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
}
