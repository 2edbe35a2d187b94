package graft

import org.apache.spark.sql.{Column, functions => F}

package object operators {

  /** Σc as DECIMAL(38,6), read back as a double: a sum that does not
    * depend on the order partitions are added in, so an external engine
    * replays it exactly. */
  private[operators] def dsum(c: Column): Column =
    F.sum(c.cast("decimal(38,6)")).cast("double")
}
