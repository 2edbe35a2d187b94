package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** Bottom-k-by-hash sketch (the KMV / "k minimum values" summary,
  * Bar-Yossef et al. 2002): per group, keep the k records whose content
  * hash is smallest in hash order.
  *
  * One bounded-state aggregate yields two deterministic products:
  *
  *  - a **uniform content-addressed sample** of exactly k rows per group
  *    (the hash is a function of the record id, so the selected SET is
  *    identical across engines, partition layouts, and re-runs — unlike
  *    `TABLESAMPLE`/`sample()`, it is replayable by any system that can
  *    compute the same hash, which makes it hash-checkable end-to-end);
  *  - a **distinct-count estimate** `(k−1) / U(h_k)` from the k-th
  *    smallest hash mapped to (0,1) — the classic KMV estimator.
  *
  * Scale design: state is ≤ k (hash, id) pairs per partial aggregate and
  * the merge is union-and-retruncate, so the shuffle carries k rows per
  * (partition, group) instead of the group's full membership. With
  * k = 32 and md5 this is ~1.5 KB per partial — the same mergeable-
  * summary discipline as [[SpaceSaving]] and [[HistAggregator]].
  *
  * The hash is supplied by the caller as a column (md5 hex in the
  * harness) rather than computed here, so the priority order is visible
  * in the plan and replayable by the DuckDB oracle.
  */
class BottomK(k: Int)
    extends Aggregator[(String, Long), Array[(String, Long)], Seq[(String, Long)]]
    with Serializable {
  require(k >= 1, "k must be >= 1")

  def zero: Array[(String, Long)] = Array.empty

  /** Insert in hash order, ties broken by id (md5 collisions are
    * practically impossible, but determinism must not rest on that). */
  private def lt(a: (String, Long), b: (String, Long)): Boolean = {
    val c = a._1.compareTo(b._1)
    c < 0 || (c == 0 && a._2 < b._2)
  }

  def reduce(b: Array[(String, Long)], in: (String, Long)): Array[(String, Long)] = {
    if (b.length == k && !lt(in, b(k - 1))) return b
    // binary search for the insertion point in the sorted buffer
    var lo = 0; var hi = b.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (lt(b(mid), in)) lo = mid + 1 else hi = mid
    }
    val outLen = math.min(b.length + 1, k)
    val out = new Array[(String, Long)](outLen)
    System.arraycopy(b, 0, out, 0, lo)
    if (lo < outLen) {
      out(lo) = in
      System.arraycopy(b, lo, out, lo + 1, outLen - lo - 1)
    }
    out
  }

  def merge(a: Array[(String, Long)], b: Array[(String, Long)]): Array[(String, Long)] = {
    if (a.isEmpty) return b
    if (b.isEmpty) return a
    val out = new Array[(String, Long)](math.min(a.length + b.length, k))
    var i = 0; var j = 0; var o = 0
    while (o < out.length) {
      out(o) =
        if (j >= b.length || (i < a.length && lt(a(i), b(j)))) { i += 1; a(i - 1) }
        else { j += 1; b(j - 1) }
      o += 1
    }
    out
  }

  def finish(b: Array[(String, Long)]): Seq[(String, Long)] = b.toSeq

  def bufferEncoder: Encoder[Array[(String, Long)]] =
    Encoders.kryo[Array[(String, Long)]]
  def outputEncoder: Encoder[Seq[(String, Long)]] =
    ExpressionEncoder[Seq[(String, Long)]]()
}
