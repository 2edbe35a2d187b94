package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.util.random.BernoulliCellSampler

/** The data passes of every fit, over the rows of ONE planned frame
  * (`frame.queryExecution.toRdd`, planned once per call): each pass is one
  * job with no shuffle whose per-partition tallies are collected and
  * merged on the driver in partition order. The stats pass ([[tally]]
  * with [[Extent]]s) reads min/max/count; the fused pass ([[run]]) adds
  * histogram bin counts or PMF counts together with the fitting-sample
  * rows.
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
private[graft] object FitScan {

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

  /** Scans `rows` once. Each partition folds its rows into a fresh
    * `zero()` with `add` and runs every draw; the driver folds the
    * partitions' tallies into one with `merge(into, from)`, in partition
    * order. Returns that tally and each draw's rows (copied, in the
    * frame's column order). */
  def run[T](rows: RDD[InternalRow], draws: Seq[Draw], zero: () => T,
             add: (T, InternalRow) => Unit,
             merge: (T, T) => Unit): (T, Seq[Array[InternalRow]]) = {
    val ds = draws.toArray
    val parts = rows.mapPartitionsWithIndex { (pi, it) =>
      val tally = zero()
      val samplers = ds.map(d => d.fraction.map { f =>
        val s = new BernoulliCellSampler[InternalRow](0.0, f, false)
        s.setSeed(d.seed + pi)
        s
      })
      val kept = ds.map(_ => ArrayBuffer.empty[InternalRow])
      it.foreach { row =>
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
  def draw(rows: RDD[InternalRow], draws: Seq[Draw]): Seq[Array[InternalRow]] =
    run[Unit](rows, draws, () => (), (_, _) => (), (_, _) => ())._2

  /** [[run]] without draws: the tally alone. */
  def tally[T](rows: RDD[InternalRow], zero: () => T, add: (T, InternalRow) => Unit,
               merge: (T, T) => Unit): T =
    run(rows, Nil, zero, add, merge)._1

  /** Spark's `min`, `max` and `count` of one double column, folded a value
    * at a time: `least`/`greatest` order (NaN above every number, −0.0
    * equal to 0.0) and, on a tie, the value seen first stays. Spark's
    * aggregate merges its partials in partition order, so folding the
    * partitions in that order gives the aggregate's bits, −0.0 against
    * 0.0 included. */
  final class Extent extends Serializable {
    var min: Double = 0.0
    var max: Double = 0.0
    var count: Long = 0L

    def add(x: Double): Unit = widen(x, x, 1L)

    def merge(from: Extent): Unit = if (from.count > 0L) widen(from.min, from.max, from.count)

    private def widen(lo: Double, hi: Double, n: Long): Unit = {
      if (count == 0L) { min = lo; max = hi }
      else {
        if (SQLOrderingUtil.compareDoubles(lo, min) < 0) min = lo
        if (SQLOrderingUtil.compareDoubles(hi, max) > 0) max = hi
      }
      count += n
    }
  }

  /** One [[Extent]] per column `0 until n` of the scanned rows; nulls
    * count for nothing. */
  def extents(rows: RDD[InternalRow], n: Int): Array[Extent] =
    tally(rows, () => Array.fill(n)(new Extent),
      (t: Array[Extent], row: InternalRow) => {
        var i = 0
        while (i < n) {
          if (!row.isNullAt(i)) t(i).add(row.getDouble(i))
          i += 1
        }
      },
      (into: Array[Extent], from: Array[Extent]) =>
        into.indices.foreach(i => into(i).merge(from(i))))

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
