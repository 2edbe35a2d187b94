package graft.operators

import org.apache.spark.sql.{DataFrame, functions => F}

/** Concat-and-chunk sequence packing: lay every document's tokens end to
  * end in id order and cut fixed-capacity training sequences — the
  * GPT-style packing step that turns a filtered corpus into equal-length
  * model inputs. Each document learns its global token offset and which
  * sequences it lands in (a document may span several).
  *
  * Scale design: the global offset is a prefix sum in id order. A window
  * `sum() over (order by id)` would funnel the corpus through ONE
  * partition; instead the [[PrefixSum]] substrate range-partitions by
  * id and runs the token sums where the rows already live. Every stage
  * is distributed; driver traffic is O(#partitions).
  */
object Packing {

  /** @param capacity tokens per packed training sequence
    * @return (id, n_tokens, offset, first_seq, last_seq, n_seqs) */
  def packSequences(df: DataFrame, idCol: String, nTokensCol: String,
                    capacity: Long): DataFrame = Persisted { scope =>
    require(capacity > 0, "capacity must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    // null ids have no place in the order and are excluded; null token
    // counts pack as zero-length documents (they occupy no tokens)
    val base = df
      .select(F.col(idCol).cast("long").as("id"),
        F.coalesce(F.col(nTokensCol).cast("long"), F.lit(0L)).as("n_tokens"))
      .where(F.col("id").isNotNull)
    PrefixSum(base.as[(Long, Long)], F.col("id")) { ps =>
      scope.checkpoint(ps.walk(ps.offsets(1)((s, r) => s(0) += r._2)) { (o, it) =>
        var running = o(0)
        it.map { case (id, nt) =>
          val off = running
          running += nt
          val first = off / capacity
          val last = if (nt == 0) first else (off + nt - 1) / capacity
          (id, nt, off, first, last, last - first + 1)
        }
      }.toDF("id", "n_tokens", "offset", "first_seq", "last_seq", "n_seqs"))
    }
  }
}
