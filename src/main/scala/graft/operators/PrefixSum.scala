package graft.operators

import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, Dataset}

/** Prefix sums in a global order without a global window — the
  * construction Spark itself uses for `zipWithIndex`, shared by every
  * rank, ECDF and risk-set operator in this package:
  *
  *   1. `repartitionByRange` + `sortWithinPartitions` on the order
  *      columns (ascending, or `.desc` for suffix sums such as a Cox
  *      risk set), cached as a typed RDD. Under adaptive execution
  *      taking the RDD materializes the input's shuffles and the range
  *      shuffle as query stages, so the range sampler reads an
  *      aggregated input's shuffle output instead of recomputing it;
  *   2. [[PrefixSum#parts]]: one job, one summary per partition, in
  *      partition order — driver traffic O(#partitions);
  *   3. a driver-side scan of the summaries ([[PrefixSum.scan]] for
  *      `Long` lanes; Double, max/min, first-value and carry scans are
  *      the caller's own fold over `parts`);
  *   4. [[PrefixSum#walk]]: the scan broadcast once, partition i
  *      walking its sorted rows from seed i.
  *
  * Lifecycle contract: the entry point is a loan. The cached sorted RDD
  * lives for the body only and is released in `finally`, also when the
  * body throws. A walk the body returns stays lazy and valid after the
  * release: on first use it re-reads the range shuffle's output, which
  * the loan has already written, and sorts each partition again. A
  * result read by several actions may still be materialized inside the
  * loan by its operator's `scope.checkpoint` (see [[Persisted]]), at
  * one job and a persisted RDD.
  */
private[operators] final class PrefixSum[T] private (sorted: RDD[T]) {

  /** One job: `f` folds each partition's sorted rows to one summary;
    * the summaries come back in partition order. */
  def parts[S: ClassTag](f: Iterator[T] => S): Array[S] =
    sorted.mapPartitions(it => Iterator.single(f(it))).collect()

  /** Exclusive prefix offsets of `lanes` Long sums: `add` adds one row
    * into a partition's lane accumulator. Element i is the sum over the
    * partitions before i; the last element is the grand total. */
  def offsets(lanes: Int)(add: (Array[Long], T) => Unit): Array[Array[Long]] =
    PrefixSum.scan(lanes, parts { it =>
      val s = new Array[Long](lanes)
      it.foreach(add(s, _))
      s
    })

  /** Partition i runs `f` over its sorted rows, seeded with `seeds(i)`;
    * the seeds are broadcast once. Lazy, like any RDD transformation. */
  def walk[S: ClassTag, U: ClassTag](seeds: Array[S])(
      f: (S, Iterator[T]) => Iterator[U]): RDD[U] = {
    val bc = sorted.sparkContext.broadcast(seeds)
    sorted.mapPartitionsWithIndex((i, it) => f(bc.value(i), it))
  }
}

private[operators] object PrefixSum {

  /** Loan the range-sorted `input` to `body` (see the class doc). */
  def apply[T, R](input: Dataset[T], order: Column*)(
      body: PrefixSum[T] => R): R = {
    val sorted = input.repartitionByRange(order: _*)
      .sortWithinPartitions(order: _*).rdd
    sorted.cache()
    try body(new PrefixSum(sorted))
    finally sorted.unpersist(blocking = false)
  }

  /** Exclusive k-lane scan of per-partition Long sums: `sums.length + 1`
    * rows, row i the lane-wise sum of `sums(0 until i)`. */
  def scan(lanes: Int, sums: Array[Array[Long]]): Array[Array[Long]] =
    sums.scanLeft(new Array[Long](lanes)) { (acc, s) =>
      Array.tabulate(lanes)(j => acc(j) + s(j))
    }
}
