package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Cross-engine-deterministic column helpers.
  *
  * Doubles summed in different orders differ across engines (and across
  * partitionings!), so every aggregated money/measure column is first
  * scaled to an exact integer. Integer sums are associative => identical
  * in Spark and DuckDB regardless of plan shape. This is also the right
  * call at 100 TB: integer agg states are smaller and exact.
  */
object ColumnOps {
  /** Money double (2 decimals) -> exact integer cents. */
  def cents(c: Column): Column = round(c * 100).cast("long")

  /** Rate double (2 decimals, e.g. 0.07 discount) -> exact integer percent. */
  def pct(c: Column): Column = round(c * 100).cast("long")

  /** Generic fixed-point quantization (e.g. embeddings at 1e-3). */
  def fixed(c: Column, scale: Int): Column =
    round(c.cast("double") * scale).cast("long")

  /** The C(n,2) pairs (x, y), x < y, of a sorted set `ps` of non-negative
    * longs, each packed into one long `(x << 32) | y`. Packing is
    * bijective, and its numeric order is (x, y) lexicographic order, only
    * while every element is below 2^31. The set's last element is its
    * max, so one comparison per set checks that, and a larger element
    * fails the query (`raise_error`) instead of aliasing pairs. */
  def packedPairs(ps: Column): Column = {
    val max = try_element_at(ps, lit(-1))
    when(max >= lit(1L << 31), raise_error(
      concat(lit("packed pair key needs elements below 2^31, got "), max.cast("string"))))
      .otherwise(flatten(transform(ps, (x, i) =>
        transform(slice(ps, i + 2, size(ps)), y => shiftleft(x, 32) + y))))
  }
}
