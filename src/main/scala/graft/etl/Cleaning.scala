package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reusable data-quality primitives (SURVEY.md §2.2/§2.8).
  *
  * Everything here is set-based: the reference's per-row `iterrows()`
  * loops (reference: extract-transform-data/et_produtos.py:164-180)
  * become one grouped aggregation + one join, which is the only
  * formulation that scales past a single node.
  */
object Cleaning {

  /** The reference's canonical "missing" test: NULL or empty string
    * (reference: extract-transform-data/et_produtos.py:131).
    */
  def isMissing(c: Column): Column = c.isNull || c === ""

  /** Attach a physical-row index. Needed only by the two
    * order-sensitive operators (keep-first dedup, sequential ID
    * backfill), which need order, not contiguity: the ids are
    * partition-major (partition index in the upper bits), and a
    * single-file scan's partitions are its splits in file order.
    */
  def withRowIdx(df: DataFrame): DataFrame =
    df.withColumn("_row_idx", monotonically_increasing_id())

  /** Key-based dedup keeping the first physical row (SURVEY.md §2.8
    * D1; reference: extract-transform-data/et_produtos.py:66-85).
    * NULL keys group together, matching pandas `duplicated` NaN
    * semantics. One shuffle on the key; no driver-side state.
    */
  def dedupKeepFirst(df: DataFrame, keys: Seq[String],
                     keepIdx: Boolean = false): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("_row_idx"))
    val deduped = withRowIdx(df)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
    if (keepIdx) deduped else deduped.drop("_row_idx")
  }

  /** Exact interpolated per-group median of `value` over its non-null
    * pool, as a two-column frame (key, median). Matches pandas
    * `.median()` (linear interpolation on even counts — SURVEY.md
    * §2.9.5); never `percentile_approx`.
    *
    * Scale note: `percentile` is a sort-based exact aggregate — fine
    * while groups fit an executor; the pool is aggregated once and
    * joined back (broadcast — group count is small by construction).
    */
  def groupMedian(df: DataFrame, key: String, value: String, out: String): DataFrame =
    df.filter(col(value).isNotNull)
      .groupBy(col(key))
      .agg(percentile(col(value), lit(0.5)).as(out))

  /** Exact global median of the non-null pool, as a 1-row frame. */
  def globalMedian(df: DataFrame, value: String, out: String): DataFrame =
    df.filter(col(value).isNotNull)
      .agg(percentile(col(value), lit(0.5)).as(out))

  /** Clamp a numeric column into [lo, hi] (SURVEY.md §2.7 F9). */
  def clamp(c: Column, lo: Column, hi: Column): Column =
    least(greatest(c, lo), hi)
}
