package graft.etl

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.SalesIo

/** End-to-end hermetic pipeline mirroring the reference's 9 sequential
  * steps (reference: pipeline.py:71-96) minus environment provisioning:
  * CSV extract → clean → (in-engine catalog instead of Postgres) →
  * parquet sinks → the five analytic queries.
  *
  * The reference's Postgres hop is a pure handoff buffer (SURVEY.md
  * §1.4); here the cleaned DataFrames flow directly (vendas' ET reads
  * the cleaned product dimension, reference: et_vendas.py:55-78,457).
  */
object SalesPipeline {

  final case class Cleaned(produtos: DataFrame, vendas: DataFrame, empregados: DataFrame)

  /** Run ET for all three entities. `baseDir` holds the reference-layout
    * CSVs (produtos.csv, vendas.csv, empregados.csv); all three are
    * guarded up front like the reference's pipeline pre-check
    * (reference: pipeline.py:40-48).
    */
  def run(spark: SparkSession, baseDir: String,
          referenceDate: LocalDate = LocalDate.now()): Cleaned = {
    val paths = Seq("produtos.csv", "vendas.csv", "empregados.csv")
      .map(f => s"$baseDir/$f")
    paths.foreach(SalesIo.requireFile)
    val produtos = ProdutosEtl.treat(
      SalesIo.readCsv(spark, paths(0), SalesSchemas.produtos))
    val vendas = VendasEtl.treat(
      SalesIo.readCsv(spark, paths(1), SalesSchemas.vendas),
      produtos, referenceDate)
    val empregados = EmpregadosEtl.treat(
      SalesIo.readCsv(spark, paths(2), SalesSchemas.empregados))
    Cleaned(produtos, vendas, empregados)
  }

  /** The load-boundary projection: lineage flags dropped, DDL column
    * order, dates become DateType (reference: load-data/l_vendas.py:
    * 108-120 inserts only base columns; the DB column is DATE), and
    * money columns are quantized through NUMERIC(10,2) exactly as the
    * Postgres DDL does (reference: l_vendas.py:86-87 — e.g. an imputed
    * valor_total of 7×551.18 = 3858.2599999999998 becomes 3858.26 in
    * the DB and hence in the golden outputs).
    */
  def loadBoundary(c: Cleaned): Cleaned = {
    def money(name: String) =
      col(name).cast(org.apache.spark.sql.types.DecimalType(10, 2)).cast("double").as(name)
    // idempotent on `data`: parsing an already-DateType column with a
    // dd/MM/yyyy pattern would null every value
    val dataCol =
      if (c.vendas.schema("data").dataType == org.apache.spark.sql.types.DateType) col("data")
      else to_date(col("data"), "dd/MM/yyyy").as("data")
    Cleaned(
      produtos = c.produtos.select(col("id_produto"), col("nome"),
        money("preco"), col("categoria")),
      vendas = c.vendas.select(col("id_venda"), dataCol,
        col("id_produto"), col("id_empregado"), col("quantidade"),
        money("valor_unitario"), money("valor_total")),
      empregados = c.empregados.select("id_empregado", "nome", "cargo", "idade"))
  }

  /** Parquet export of the three cleaned tables (reference:
    * save-data/save_data_parquet.py:97-121; vendas is exported as
    * resumo-vendas).
    */
  def writeParquet(c: Cleaned, outDir: String): Unit = {
    val b = loadBoundary(c)
    SalesIo.write(b.produtos, "parquet", s"$outDir/produtos.parquet")
    SalesIo.write(b.empregados, "parquet", s"$outDir/empregados.parquet")
    SalesIo.write(b.vendas, "parquet", s"$outDir/resumo-vendas.parquet")
  }

  /** S9 made tabular: the five report tables as machine-checkable
    * parquet + csv artifacts (reference: save_data_pdf_report.py
    * renders these into a PDF — chart/PDF rendering is presentation,
    * not a query capability; SURVEY.md §2.1 S9).
    */
  def writeReportTables(raw: Cleaned, outDir: String): Unit = {
    val c = loadBoundary(raw) // safe either way — loadBoundary is idempotent
    val tables = Seq(
      "vendas_por_funcionario" -> q1SalesByEmployee(c),
      "ticket_medio_por_produto" -> q2AvgTicketByProduct(c),
      "vendas_por_categoria" -> q3SalesByCategory(c),
      "top5_funcionarios" -> q4Top5Employees(c),
      "vendas_por_periodo" -> q5SalesByPeriod(c))
    tables.foreach { case (name, df) =>
      SalesIo.write(df, "parquet", s"$outDir/report/$name.parquet")
      // one part file keeps the csv copy in query order
      SalesIo.write(df.coalesce(1), "csv", s"$outDir/report/$name.csv")
    }
  }

  // ---- The five analytic queries over the cleaned tables -------------
  // (reference: save-data/save_data_pdf_report.py:64-222; SURVEY.md
  // §2.3-2.5.) Dimensions are broadcast: the fact table never shuffles
  // for the join, and each query is a single hash-aggregation.

  /** Q1: total sales per employee (reference: :75-85). */
  def q1SalesByEmployee(c: Cleaned): DataFrame =
    c.vendas.join(broadcast(c.empregados), Seq("id_empregado"))
      .groupBy(col("id_empregado"), col("nome"))
      .agg(coalesce(sum("valor_total"), lit(0)).as("valor_total"))
      .orderBy(desc("valor_total"), col("id_empregado")) // id tie-break: deterministic top-5 cut

  /** Q2: average ticket per product, result sorted by the number
    * embedded in the product name, missing numbers last (reference:
    * :103-139; SURVEY.md §2.5 W3).
    */
  def q2AvgTicketByProduct(c: Cleaned): DataFrame =
    c.vendas.join(broadcast(c.produtos), Seq("id_produto"))
      .groupBy(col("id_produto"), col("nome"))
      .agg(coalesce(sum("valor_total") / count("id_venda"), lit(0)).as("ticket_medio"))
      .withColumn("_n", regexp_extract(col("nome"), "(\\d+)", 1).cast("int"))
      .orderBy(asc_nulls_last("_n"), col("id_produto"))
      .drop("_n")

  /** Q3: sales count per category (reference: :153-162). */
  def q3SalesByCategory(c: Cleaned): DataFrame =
    c.vendas.join(broadcast(c.produtos), Seq("id_produto"))
      .groupBy("categoria")
      .agg(count("id_venda").as("quantidade_vendas"))
      .orderBy(desc("quantidade_vendas"), col("categoria"))

  /** Q4: top-5 employees by sales volume (reference: :180-190);
    * Catalyst plans TakeOrderedAndProject — O(K) memory at any scale.
    */
  def q4Top5Employees(c: Cleaned): DataFrame =
    q1SalesByEmployee(c).limit(5)

  /** Q5: sales count + revenue per calendar month (reference:
    * :205-218). TO_CHAR → date_format. Queries run over the
    * load-boundary tables (as in the reference, where they run inside
    * Postgres), so `data` is already DateType here.
    */
  def q5SalesByPeriod(c: Cleaned): DataFrame = {
    c.vendas
      .where(col("data").isNotNull)
      .groupBy(date_format(col("data"), "yyyy-MM").as("periodo"))
      .agg(
        count("id_venda").as("quantidade_vendas"),
        sum("valor_total").as("valor_total"))
      .orderBy("periodo")
  }
}
