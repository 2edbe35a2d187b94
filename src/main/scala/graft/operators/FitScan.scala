package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.util.random.BernoulliCellSampler

/** The data pass every fit makes after its stats aggregate: ONE job, no
  * shuffle, that returns per-partition tallies (histogram bin counts or
  * PMF counts) together with the fitting-sample rows.
  *
  * A draw keeps exactly the rows that
  * `frame.where(admit).sample(withReplacement = false, fraction, seed)
  * .limit(cap).collect()` returns: per partition it runs the sampler that
  * `Dataset.sample` runs (a `BernoulliCellSampler(0, fraction)` seeded
  * `seed + partitionIndex`, one draw per admitted row), and the partitions
  * are concatenated in order and cut at `cap`, which is what the limit's
  * incremental take does. A partition stops drawing once it holds `cap`
  * rows: no later row of it could survive the cut. Unlike the take, every
  * partition runs, so the driver receives each partition's draw — about
  * `fraction` × its admitted rows, at most `cap` — before the cut. The
  * identity holds while `admit` does not change the frame's partitioning,
  * which a row filter never does except over an in-memory local relation
  * (Catalyst folds the filter into the relation, which re-slices it). */
private[operators] object FitScan {

  /** One fitting-sample draw: the rows `admit` accepts, Bernoulli-sampled
    * at `fraction` (None keeps every admitted row), at most `cap` of them. */
  final case class Draw(admit: InternalRow => Boolean, fraction: Option[Double],
                        seed: Long, cap: Int)

  object Draw {
    /** The fitters' sampling rule: every admitted row when `fitsWhole`,
      * else a Bernoulli draw of `size · 1.2 / n` (oversampled so the
      * post-filter size still reaches `size`) cut at `cap`. */
    def seeded(admit: InternalRow => Boolean, fitsWhole: Boolean, n: Long,
               size: Int, seed: Long, cap: Int): Draw =
      if (fitsWhole) Draw(admit, None, seed, Int.MaxValue)
      else Draw(admit, Some(math.min(1.0, size * 1.2 / math.max(n, 1L))), seed, cap)
  }

  /** Every row is a candidate. */
  val anyRow: InternalRow => Boolean = _ => true

  /** Scans `frame` once. Each partition folds its rows into a fresh
    * `zero()` with `add` and runs every draw; the driver folds the
    * partitions' tallies into one with `merge(into, from)`. Returns that
    * tally and each draw's rows (copied, in the frame's column order). */
  def run[T](frame: DataFrame, draws: Seq[Draw], zero: () => T,
             add: (T, InternalRow) => Unit,
             merge: (T, T) => Unit): (T, Seq[Array[InternalRow]]) = {
    val ds = draws.toArray
    val parts = frame.queryExecution.toRdd.mapPartitionsWithIndex { (pi, rows) =>
      val tally = zero()
      val samplers = ds.map(d => d.fraction.map { f =>
        val s = new BernoulliCellSampler[InternalRow](0.0, f, false)
        s.setSeed(d.seed + pi)
        s
      })
      val kept = ds.map(_ => ArrayBuffer.empty[InternalRow])
      rows.foreach { row =>
        add(tally, row)
        var i = 0
        while (i < ds.length) {
          val d = ds(i)
          if (kept(i).length < d.cap && d.admit(row) && samplers(i).forall(_.sample() > 0))
            kept(i) += row.copy()
          i += 1
        }
      }
      Iterator.single((tally, kept.map(_.toArray)))
    }.collect()
    val total = zero()
    parts.foreach(p => merge(total, p._1))
    (total, ds.indices.map(i => parts.iterator.flatMap(_._2(i)).take(ds(i).cap).toArray))
  }

  /** [[run]] without a tally: the draws alone. */
  def draw(frame: DataFrame, draws: Seq[Draw]): Seq[Array[InternalRow]] =
    run[Unit](frame, draws, () => (), (_, _) => (), (_, _) => ())._2

  /** Per-slot bin counts: the tally of the histogram passes. */
  def zeroCounts(nBins: Array[Int]): () => Array[Array[Long]] =
    () => nBins.map(n => new Array[Long](n))

  def addCounts(into: Array[Array[Long]], from: Array[Array[Long]]): Unit = {
    var i = 0
    while (i < into.length) {
      var b = 0
      while (b < into(i).length) { into(i)(b) += from(i)(b); b += 1 }
      i += 1
    }
  }
}
