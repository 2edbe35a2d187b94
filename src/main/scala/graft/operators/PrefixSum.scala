package graft.operators

import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, Dataset}

/** Prefix sums in a global order without a global window — the
  * construction Spark itself uses for `zipWithIndex`, shared by every
  * rank, ECDF and risk-set operator in this package:
  *
  *   1. persist the input: range partitioning samples its child in a
  *      separate job before the shuffle job reads it again, so an
  *      aggregated input is computed once, not twice
  *      ([[PrefixSum.scanTwice]] skips this for row-scale inputs);
  *   2. `repartitionByRange` + `sortWithinPartitions` on the order
  *      columns (ascending, or `.desc` for suffix sums such as a Cox
  *      risk set), cached as a typed RDD;
  *   3. [[PrefixSum#parts]]: one job, one summary per partition, in
  *      partition order — driver traffic O(#partitions);
  *   4. a driver-side scan of the summaries ([[PrefixSum.scan]] for
  *      `Long` lanes; Double, max/min, first-value and carry scans are
  *      the caller's own fold over `parts`);
  *   5. [[PrefixSum#walk]]: the scan broadcast once, partition i
  *      walking its sorted rows from seed i.
  *
  * Lifecycle contract: the entry points are loans. The persisted input
  * and the sorted RDD live for the body only and are released in
  * `finally`, also when the body throws. A result the body returns that
  * is still backed by the sorted RDD must be materialized inside the
  * loan with `localCheckpoint(true)`, or it re-runs the range shuffle on
  * first use after the release.
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

  /** Loan the range-sorted `input` to `body`, the input persisted for
    * the loan (see the class doc). For aggregated inputs, whose
    * recomputation would re-run their shuffle. */
  def apply[T, R](input: Dataset[T], order: Column*)(
      body: PrefixSum[T] => R): R =
    loan(input, order, persistInput = true)(body)

  /** [[apply]] without persisting the input: the range sampler and the
    * shuffle each scan it. For row-scale or already-materialized inputs,
    * where a cache would hold a whole table and cost one more job (the
    * adaptive planner materializes a cached relation in a job of its
    * own) to save one cheap scan. */
  def scanTwice[T, R](input: Dataset[T], order: Column*)(
      body: PrefixSum[T] => R): R =
    loan(input, order, persistInput = false)(body)

  private def loan[T, R](input: Dataset[T], order: Seq[Column],
                         persistInput: Boolean)(body: PrefixSum[T] => R): R = {
    if (persistInput) input.persist()
    try {
      val sorted = input.repartitionByRange(order: _*)
        .sortWithinPartitions(order: _*).rdd
      sorted.cache()
      try body(new PrefixSum(sorted))
      finally sorted.unpersist(blocking = false)
    } finally if (persistInput) input.unpersist(blocking = false)
  }

  /** Exclusive k-lane scan of per-partition Long sums: `sums.length + 1`
    * rows, row i the lane-wise sum of `sums(0 until i)`. */
  def scan(lanes: Int, sums: Array[Array[Long]]): Array[Array[Long]] =
    sums.scanLeft(new Array[Long](lanes)) { (acc, s) =>
      Array.tabulate(lanes)(j => acc(j) + s(j))
    }
}
