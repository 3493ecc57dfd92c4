package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.etl.{ReportModel, SalesPipeline, SalesReportHtml, SalesReportPdf}
import graft.sources.SalesIo

/** A report refresh over the load-boundary parquet tables a pipeline
  * pass wrote: read them with `SalesIo.read`, build `ReportModel`, render
  * the PDF and the HTML. The traced `etl_dirty` run times it layer by
  * layer, so the read-only query and render path is measured apart from
  * the ET and the sinks.
  */
object ReportRefresh {
  private val Cap = 1000

  final case class Refresh(model: ReportModel.Report, pdf: Array[Byte], html: String)

  def read(spark: SparkSession, dir: String): SalesPipeline.Cleaned = SalesPipeline.Cleaned(
    SalesIo.read(spark, "parquet", s"$dir/produtos.parquet"),
    SalesIo.read(spark, "parquet", s"$dir/resumo-vendas.parquet"),
    SalesIo.read(spark, "parquet", s"$dir/empregados.parquet"))

  /** Q-table invariants on the collected rows. Both dimensions have more
    * than 1000 rows with sales, so Q1 and Q2 take the capped-collect path.
    */
  def verify(r: Refresh, p: DirtySales.Planted): Unit = {
    val sec = r.model.sections
    Check(sec.size == 5, s"${sec.size} report sections")
    Check(sec(0).rows.size == Cap && sec(1).rows.size == Cap,
      s"Q1/Q2 not capped at $Cap rows: ${sec(0).rows.size}, ${sec(1).rows.size}")
    Check(sec(3).rows == sec(0).rows.take(5), "Q4 differs from Q1's first five rows")
    val q3 = sec(2).rows.map(_(1).toLong).sum
    Check(q3 == p.vendasKnownProduct, s"Q3 counts sum to $q3, not ${p.vendasKnownProduct}")
    val q5 = sec(4).rows.map(_(1).toLong).sum
    Check(q5 == p.vendasClean, s"Q5 counts sum to $q5, not ${p.vendasClean}")
    Check(new String(r.pdf.take(4), "US-ASCII") == "%PDF", "report PDF does not start with %PDF")
    Check(r.html.contains("<svg"), "HTML report has no chart")
  }

  /** One refresh with a span per layer, then each query collected the
    * way `ReportModel` collects it. Returns the refresh and the ids of
    * its spans (not the per-query ones).
    */
  def traced(spark: SparkSession, tr: Tracer, dir: String): (Refresh, Set[Int]) = {
    val r = tr.span("report.refresh") {
      val c = tr.span("sources.parquet_read")(read(spark, dir))
      val model = tr.span("report.model")(ReportModel.build(c))
      val pdf = tr.span("report.render_pdf")(SalesReportPdf.render(model))
      val html = tr.span("report.render_html")(SalesReportHtml.render(model))
      Refresh(model, pdf, html)
    }
    val root = tr.spans.filter(_.name == "report.refresh").last.id
    tr.span("decompose.queries") {
      val c = read(spark, dir)
      def capped(df: DataFrame) = df.limit(Cap + 1).collect()
      tr.span("query.q1")(capped(SalesPipeline.q1SalesByEmployee(c).select("nome", "valor_total")))
      tr.span("query.q2")(capped(SalesPipeline.q2AvgTicketByProduct(c).select("nome", "ticket_medio")))
      tr.span("query.q3")(capped(SalesPipeline.q3SalesByCategory(c)))
      tr.span("query.q4")(SalesPipeline.q4Top5Employees(c).select("nome", "valor_total").collect())
      tr.span("query.q5")(capped(SalesPipeline.q5SalesByPeriod(c)))
    }
    (r, tr.subtree(root))
  }

  /** Per-layer metrics of the traced refreshes. */
  def metrics(spark: SparkSession, tr: Tracer, probe: SparkProbe, refreshSpans: Set[Int],
      refreshes: Int): Seq[(String, Double)] = {
    def ms(name: String) = tr.medianSeconds(name) * 1e3
    val c = probe.forSpans(spark, refreshSpans)
    val n = math.max(1, refreshes).toDouble
    Seq(
      "sources.parquet_read_ms" -> ms("sources.parquet_read"),
      "sources.parquet_mb_per_refresh" -> c.inputBytes / 1e6 / n,
      "query.q1_ms" -> ms("query.q1"),
      "query.q2_ms" -> ms("query.q2"),
      "query.q3_ms" -> ms("query.q3"),
      "query.q4_ms" -> ms("query.q4"),
      "query.q5_ms" -> ms("query.q5"),
      "report.refresh_ms" -> ms("report.refresh"),
      "report.model_ms" -> ms("report.model"),
      "report.render_pdf_ms" -> ms("report.render_pdf"),
      "report.render_html_ms" -> ms("report.render_html"),
      "report.jobs_per_refresh" -> c.jobs / n)
  }
}
