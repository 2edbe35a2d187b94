package graft.operators

import org.apache.spark.sql.SparkSession
import java.util.concurrent.atomic.AtomicBoolean

/** Fit-progress tracking (reference: src/spark_bestfit/progress.py:38-221):
  * a daemon thread polls the SparkStatusTracker for the tagged job group
  * and reports (completed, total, percent) to a callback. Purely
  * observational — no effect on the job.
  */
final class ProgressTracker(
    spark: SparkSession,
    jobGroup: String,
    callback: (Int, Int, Double) => Unit,
    pollMillis: Long = 500L) {

  private val running = new AtomicBoolean(false)
  @volatile private var thread: Thread = _

  def start(): Unit = {
    if (!running.compareAndSet(false, true)) return
    thread = new Thread(() => {
      val tracker = spark.sparkContext.statusTracker
      while (running.get()) {
        val jobIds = tracker.getJobIdsForGroup(jobGroup)
        if (jobIds.nonEmpty) {
          var completed = 0
          var total = 0
          jobIds.foreach { id =>
            tracker.getJobInfo(id).foreach { info =>
              info.stageIds.foreach { sid =>
                tracker.getStageInfo(sid).foreach { st =>
                  completed += st.numCompletedTasks
                  total += st.numTasks
                }
              }
            }
          }
          if (total > 0) callback(completed, total, 100.0 * completed / total)
        }
        Thread.sleep(pollMillis)
      }
    }, s"graft-progress-$jobGroup")
    thread.setDaemon(true)
    thread.start()
  }

  def stop(): Unit = {
    running.set(false)
    Option(thread).foreach(_.interrupt())
  }
}
