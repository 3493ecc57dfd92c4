package graft.etl

import java.time.LocalDate
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import Cleaning._

/** Cleaning stages for the sales fact table (reference:
  * extract-transform-data/et_vendas.py:432-467). Stage order:
  * dedup → date cascade → unit-value imputation (needs the cleaned
  * product dimension) → total computation (SURVEY.md §2.8).
  *
  * `referenceDate` replaces the reference's `pd.Timestamp.now()`
  * fallback (reference: et_vendas.py:275,311) so the engine is
  * deterministic and testable (SURVEY.md §7.5.4). The date column
  * stays a dd/MM/yyyy string through the cascade, exactly as in the
  * reference; the load boundary parses it to DateType.
  */
object VendasEtl {
  private val DatePat = "dd/MM/yyyy"

  /** Day-floored exact median of a date column expressed in epoch
    * days. pandas takes the interpolated median of datetimes and then
    * formats with strftime, which floors the possible half-day to the
    * earlier day (reference: et_vendas.py:213-214) — floor(percentile)
    * reproduces that.
    */
  private def medianDays(c: org.apache.spark.sql.Column) =
    floor(percentile(unix_date(c), lit(0.5))).cast("int")

  /** The three-strategy missing-date cascade + format validation
    * (reference: et_vendas.py:137-345):
    *   1. median date of the same employee's valid-dated sales;
    *   2. global median date (pool includes strategy-1 fills, hence
    *      the staged second aggregation);
    *   3. referenceDate;
    * then any still-unparseable non-missing date → referenceDate with
    * metodo 'formato_invalido'.
    */
  def fillDates(df: DataFrame, referenceDate: LocalDate): DataFrame = {
    val refStr = referenceDate.format(DateTimeFormatter.ofPattern(DatePat))
    val missing = isMissing(col("data"))
    val parsed = to_date(col("data"), DatePat)

    // Strategy 1: per-employee median over valid-dated rows.
    val empMed = df.filter(!isMissing(col("data")))
      .withColumn("_p", parsed).filter(col("_p").isNotNull)
      .groupBy("id_empregado")
      .agg(medianDays(col("_p")).as("_emp_med"))
    val s1 = df.join(broadcast(empMed), Seq("id_empregado"), "left")
      .withColumn("_m1", missing && col("_emp_med").isNotNull)
      .withColumn("data",
        when(col("_m1"), date_format(date_from_unix_date(col("_emp_med")), DatePat))
          .otherwise(col("data")))
      .drop("_emp_med")

    // Strategy 2: global median over the post-strategy-1 valid pool.
    val globMed = s1.filter(!isMissing(col("data")))
      .withColumn("_p", to_date(col("data"), DatePat)).filter(col("_p").isNotNull)
      .agg(medianDays(col("_p")).as("_glob_med"))
    val s2 = s1.crossJoin(broadcast(globMed))
      .withColumn("_m2", isMissing(col("data")) && col("_glob_med").isNotNull)
      .withColumn("data",
        when(col("_m2"), date_format(date_from_unix_date(col("_glob_med")), DatePat))
          .otherwise(col("data")))
      .drop("_glob_med")

    // Strategy 3: referenceDate for anything still missing.
    val s3 = s2.withColumn("_m3", isMissing(col("data")))
      .withColumn("data", when(col("_m3"), lit(refStr)).otherwise(col("data")))

    // Format validation: non-missing but unparseable → referenceDate.
    s3.withColumn("_bad", to_date(col("data"), DatePat).isNull)
      .withColumn("data", when(col("_bad"), lit(refStr)).otherwise(col("data")))
      .withColumn("data_imputada",
        col("_m1") || col("_m2") || col("_m3") || col("_bad"))
      .withColumn("metodo_imputacao",
        when(col("_m1"), "mediana_empregado")
          .when(col("_m2"), "mediana_global")
          .when(col("_m3"), "data_atual")
          .when(col("_bad"), "formato_invalido"))
      .drop("_m1", "_m2", "_m3", "_bad")
  }

  /** Missing valor_unitario → per-categoria median (via broadcast
    * enrichment join against the cleaned product dimension, reference:
    * et_vendas.py:348-401), then global median — but, exactly as in
    * the reference, the global fallback applies only to rows whose
    * product has no categoria, and its pool includes the per-category
    * fills. Medians rounded HALF_EVEN to 2dp.
    */
  def fillUnitValues(df: DataFrame, produtos: DataFrame): DataFrame = {
    val joined = df.join(
      broadcast(produtos.select("id_produto", "categoria")), Seq("id_produto"), "left")
    val catMed = groupMedian(
      joined.filter(col("categoria").isNotNull), "categoria", "valor_unitario", "_cat_med")
    val s1 = joined.join(broadcast(catMed), Seq("categoria"), "left")
      .withColumn("valor_unitario",
        when(col("valor_unitario").isNull && col("_cat_med").isNotNull,
          bround(col("_cat_med"), 2))
          .otherwise(col("valor_unitario")))
      .drop("_cat_med")
    val globMed = globalMedian(s1, "valor_unitario", "_g")
      .select(bround(col("_g"), 2).as("_glob_med"))
    s1.crossJoin(broadcast(globMed))
      .withColumn("valor_unitario",
        when(col("valor_unitario").isNull && col("categoria").isNull, col("_glob_med"))
          .otherwise(col("valor_unitario")))
      .drop("_glob_med", "categoria")
  }

  /** Missing valor_total → quantidade × valor_unitario (reference:
    * et_vendas.py:404-429; only missing totals are computed — existing
    * totals are never re-validated, SURVEY.md §2.9.1).
    */
  def fillTotals(df: DataFrame): DataFrame =
    df.withColumn("valor_total",
      when(col("valor_total").isNull,
        col("quantidade").cast("double") * col("valor_unitario"))
        .otherwise(col("valor_total")))

  def treat(raw: DataFrame, produtos: DataFrame,
            referenceDate: LocalDate = LocalDate.now()): DataFrame = {
    val deduped = dedupKeepFirst(raw, Seq("id_venda"))
    fillTotals(fillUnitValues(fillDates(deduped, referenceDate), produtos))
      .select("id_venda", "data", "id_produto", "id_empregado",
        "quantidade", "valor_unitario", "valor_total",
        "data_imputada", "metodo_imputacao")
  }
}
