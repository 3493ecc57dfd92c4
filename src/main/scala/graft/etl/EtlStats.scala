package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's audit/statistics side-channel (SURVEY.md §2.4 A6):
  * every ET stage logs distinct counts, means, medians, value counts
  * and imputation tallies (reference: et_empregados.py:295-346,
  * et_vendas.py:327-337, save_data_parquet.py:124-141). Here the same
  * numbers come from ONE distributed aggregation per table instead of
  * driver-side pandas calls, returned as small DataFrames so callers
  * can log or persist them.
  */
object EtlStats {

  /** Column-level profile: rows, distinct, nulls, and for numeric
    * columns mean/exact-median — the engine's data-quality dashboard.
    */
  def profile(df: DataFrame): DataFrame = {
    val numeric = df.schema.fields.filter(f =>
      f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType]).map(_.name).toSet
    val rows = df.schema.fields.toIndexedSeq.map { f =>
      val c = col(f.name)
      struct(
        lit(f.name).as("column"),
        count(lit(1)).as("n_rows"),
        approx_count_distinct(c).as("approx_distinct"),
        sum(when(c.isNull, 1L).otherwise(0L)).as("n_null"),
        (if (numeric(f.name)) avg(c.cast("double")) else lit(null).cast("double")).as("mean"),
        (if (numeric(f.name)) percentile(c.cast("double"), lit(0.5))
         else lit(null).cast("double")).as("median"))
    }
    df.agg(array(rows: _*).as("stats"))
      .select(explode(col("stats")).as("s"))
      .select("s.column", "s.n_rows", "s.approx_distinct", "s.n_null", "s.mean", "s.median")
  }

  /** Categorical value_counts (reference logs cargo distribution). */
  def valueCounts(df: DataFrame, column: String): DataFrame =
    df.groupBy(column).agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col(column))

  /** Imputation tally per method flag column (reference:
    * et_vendas.py:327-337).
    */
  def imputationSummary(df: DataFrame, flagCol: String, methodCol: String): DataFrame =
    df.filter(col(flagCol))
      .groupBy(methodCol).agg(count(lit(1)).as("n"))
      .orderBy(desc("n"))
}
