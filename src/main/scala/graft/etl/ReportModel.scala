package graft.etl

/** Presentation-neutral model of the S9 sales report: the reference's
  * section/table/chart inventory (save-data/save_data_pdf_report.py:
  * 480-745 — title, five sections in order, three charts), built ONCE
  * from the five report aggregates and rendered by the HTML/SVG
  * writer (SalesReportHtml), the dependency-free PDF writer
  * (SalesReportPdf) and RunSalesPipeline's console summary, so the
  * three cannot drift.
  *
  * Each aggregate is collected exactly once; table cells are
  * pre-formatted here (locale-pinned) while chart values stay numeric
  * — parsing display strings back would lose precision.
  */
object ReportModel {

  /** kind ∈ {hbar, vbar, line} — the reference's three chart forms. */
  final case class Chart(kind: String, title: String, data: Seq[(String, Double)])

  final case class Section(title: String, summary: String,
      headers: Seq[String], rows: Seq[Seq[String]], chart: Option[Chart])

  final case class Report(title: String, sections: Seq[Section])

  /** Locale-pinned formatting: the f-interpolator uses the JVM default
    * locale, which would emit comma decimals on e.g. a pt-BR JVM.
    */
  def fmt(v: Any): String = v match {
    case null => ""
    case d: java.math.BigDecimal => d.setScale(2, java.math.RoundingMode.HALF_UP).toPlainString
    case d: Double => String.format(java.util.Locale.ROOT, "%.2f", Double.box(d))
    case x => x.toString
  }

  private def cells(rows: Array[org.apache.spark.sql.Row]): Seq[Seq[String]] =
    rows.toSeq.map(_.toSeq.map(fmt))

  /** Cap on rows COLLECTED for rendering. The parquet/csv report sink
    * (SalesPipeline.writeReportTables) stays full-fidelity; only the
    * driver-side HTML/PDF materialization is bounded — at 100×
    * part-cardinality the per-product table would otherwise pull
    * millions of rows into the driver for a document nobody can read.
    */
  private[graft] val ReportMaxRows = 1000

  /** Collect at most ReportMaxRows (+1 row to detect truncation).
    * The frames arrive ordered: over a plain query the limit plans a
    * TakeOrderedAndProject, over a computed (cached) one it reads the
    * first rows in partition order — either way the cluster-side work
    * is bounded too, not just the driver heap.
    */
  private def collectCapped(df: org.apache.spark.sql.DataFrame)
      : (Array[org.apache.spark.sql.Row], Boolean) = {
    val rows = df.limit(ReportMaxRows + 1).collect()
    if (rows.length > ReportMaxRows) (rows.take(ReportMaxRows), true) else (rows, false)
  }

  /** The row count a summary states. A truncated collect never sees
    * the true total, so it says only that the cap was exceeded.
    */
  private def total(rows: Array[org.apache.spark.sql.Row], truncated: Boolean): String =
    if (truncated) s"mais de $ReportMaxRows" else rows.length.toString

  private def truncNote(truncated: Boolean): String =
    if (truncated) s" Exibindo os primeiros $ReportMaxRows registros." else ""

  // Chart values come straight off the Row as numbers.
  private def labeled(rows: Array[org.apache.spark.sql.Row],
      labelIdx: Int, valueIdx: Int): Seq[(String, Double)] =
    rows.toSeq.map { r =>
      val v = r.get(valueIdx) match { case n: Number => n.doubleValue(); case _ => 0.0 }
      (Option(r.get(labelIdx)).fold("")(_.toString), v)
    }

  /** Builds the full report model over the load-boundary tables `c`. */
  def build(c: SalesPipeline.Cleaned): Report =
    build(SalesPipeline.reportTables.map { case (name, q) => name -> q(c) })

  /** Builds the full report model (the reference's section/chart
    * inventory, same order) from `SalesPipeline.reportTables`' frames.
    */
  def build(tables: Seq[(String, org.apache.spark.sql.DataFrame)]): Report = {
    val Seq(byEmployee, byProduct, byCategory, top5, byPeriod) = tables.map(_._2)
    val (q1, t1) = collectCapped(byEmployee.select("nome", "valor_total"))
    val (q2, t2) = collectCapped(byProduct.select("nome", "ticket_medio"))
    val (q3, t3) = collectCapped(byCategory)
    val q4 = top5.select("nome", "valor_total").collect()
    val (q5, t5) = collectCapped(byPeriod)
    val nEmp = total(q1, t1); val nProd = total(q2, t2)
    val nCat = total(q3, t3); val nPer = total(q5, t5)
    Report("Relatório de Vendas", Seq(
      Section("Total de vendas por funcionário",
        s"Total de vendas consolidado por funcionário ($nEmp funcionários)." + truncNote(t1),
        Seq("Nome do Funcionário", "Total de Vendas (R$)"), cells(q1), None),
      Section("Ticket médio por produto",
        s"Ticket médio (valor total / número de vendas) por produto ($nProd produtos)." + truncNote(t2),
        Seq("Nome do Produto", "Ticket Médio (R$)"), cells(q2),
        Some(Chart("hbar", "Ticket médio por produto", labeled(q2, 0, 1)))),
      Section("Quantidade de vendas por categoria de produto",
        s"Contagem de vendas por categoria ($nCat categorias)." + truncNote(t3),
        Seq("Categoria", "Qtd. Vendas"), cells(q3), None),
      Section("Top 5 funcionários com maior volume de vendas",
        "Os cinco funcionários com maior volume total de vendas.",
        Seq("Nome do Funcionário", "Total de Vendas (R$)"), cells(q4),
        Some(Chart("vbar", "Top 5 funcionários", labeled(q4, 0, 1)))),
      Section("Quantidade de vendas por período",
        s"Evolução mensal da quantidade de vendas ($nPer meses)." + truncNote(t5),
        Seq("Período", "Qtd. Vendas", "Valor Total (R$)"), cells(q5),
        Some(Chart("line", "Vendas por período", labeled(q5, 0, 1))))))
  }
}
