package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Z-order (Morton) clustering: interleave the bits of two integer
  * dimensions so that rows close in BOTH dimensions land close in the
  * one-dimensional sort order. Writing a table clustered by z-value
  * gives parquet row-group min/max ranges that are tight in every
  * interleaved dimension at once, so scans filtering on ANY of them
  * prune row groups — the OPTIMIZE ZORDER primitive of lakehouse
  * engines, here as a plain column expression that a caller sorts or
  * range-partitions by.
  *
  * The interleave is a fixed fold of shift/mask built-ins, fully
  * inside whole-stage codegen (no UDF), and exactly reproducible in
  * SQL for the oracle.
  */
object ZOrder {

  /** Morton code of N ≥ 2 non-negative integer columns using the low
    * `bits` bits of each: bit i of column k lands at position
    * N·i + k. N·bits must fit the 63 value bits of a LONG.
    *
    * Keys wider than `bits` are TRUNCATED to their low bits, which
    * collapses distinct high-key values into one z bucket and
    * degrades (never breaks) min/max pruning along that dimension.
    * The 2-column default of 21 bits per dimension (42-bit z, exact
    * in a LONG — and in a DOUBLE, for engines whose bit ops work
    * there) covers keys to ~2.1M; size `bits` to
    * ceil(log2(max key + 1)) for wider domains (3 columns × 21 bits
    * = 63 still fits).
    */
  def zValueN(dims: Seq[Column], bits: Int = 21): Column = {
    val n = dims.length
    require(n >= 2, s"z-order needs >= 2 dimensions, got $n")
    require(n * bits <= 63, s"$n dims x $bits bits overflow a LONG")
    (0 until bits).flatMap { i =>
      dims.zipWithIndex.map { case (c, k) =>
        shiftleft(shiftright(c, i).bitwiseAND(lit(1L)), n * i + k)
      }
    }.reduce(_ + _)
  }

  /** Two-column [[zValueN]]: bit i of x at position 2i, of y at 2i+1. */
  def zValue(x: Column, y: Column, bits: Int = 21): Column =
    zValueN(Seq(x, y), bits)
}
