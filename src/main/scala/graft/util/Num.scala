package graft.util

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Numeric helpers shared by the analytics queries.
  *
  * The driver's correctness gate hash-compares Spark results against a
  * DuckDB oracle. Floating-point SUMs are order-dependent, and Spark's
  * partial aggregation order differs from DuckDB's — so any money SUM
  * is computed exactly: cast the 2-decimal double to DECIMAL(18,2)
  * (exact, both engines round-trip 2dp doubles identically), SUM in
  * decimal (exact, associative), cast the result back to DOUBLE
  * (deterministic). This is also the right call at 100 TB: decimal
  * sums are exact at any scale while double sums drift.
  */
object Num {
  /** Exact SUM of a 2-decimal-place monetary double, as double. */
  def moneySum(c: Column): Column =
    sum(c.cast(DecimalType(18, 2))).cast("double")
}
