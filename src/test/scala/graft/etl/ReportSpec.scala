package graft.etl

import java.time.LocalDate

import org.scalatest.funsuite.AnyFunSuite

/** S9 visual half: the HTML/SVG report must carry the reference PDF's
  * full inventory (save_data_pdf_report.py:480-745) — title, the five
  * sections in order, and the three charts.
  */
class ReportSpec extends AnyFunSuite {

  lazy val spark = graft.GraftSession.build("report-spec", "4")

  lazy val model: ReportModel.Report = ReportModel.build(SalesPipeline.loadBoundary(
    SalesPipeline.run(spark, "/root/reference/bases-de-dados", LocalDate.of(2025, 8, 27))))

  lazy val html: String = SalesReportHtml.render(model)

  test("report carries the reference's five sections in order") {
    val sections = Seq(
      "Total de vendas por funcionário",
      "Ticket médio por produto",
      "Quantidade de vendas por categoria de produto",
      "Top 5 funcionários com maior volume de vendas",
      "Quantidade de vendas por período")
    assert(html.contains("Relatório de Vendas"))
    val idx = sections.map(html.indexOf)
    assert(idx.forall(_ >= 0), s"missing sections: ${sections.zip(idx).filter(_._2 < 0)}")
    assert(idx === idx.sorted, "sections out of order")
  }

  test("report carries the reference's three charts") {
    for (cls <- Seq("hbar-chart", "bar-chart", "line-chart"))
      assert(html.contains(cls), s"missing chart $cls")
    assert(html.split("<svg ").length - 1 === 3)
  }

  test("top-5 section tabulates exactly 5 employees") {
    val top5 = html.split("Top 5 funcionários com maior volume de vendas")(1)
      .split("</table>")(0)
    assert(top5.split("<tr><td>").length - 1 === 5)
  }

  test("driver-side report materialization is capped at ReportMaxRows") {
    // >cap products: the per-product section must collect exactly
    // ReportMaxRows rows and say so; full-fidelity output remains the
    // parquet/csv report sink, which this cap never touches.
    import spark.implicits._
    val n = ReportModel.ReportMaxRows + 500
    val produtos = (1 to n).map(i => (i, s"Produto $i", 10.0, "cat"))
      .toDF("id_produto", "nome", "preco", "categoria")
    val empregados = Seq((1, "Emp 1", "cargo", 30))
      .toDF("id_empregado", "nome", "cargo", "idade")
    val vendas = (1 to n).map(i =>
        (i, java.sql.Date.valueOf("2024-01-15"), i, 1, 1, 10.0, 10.0))
      .toDF("id_venda", "data", "id_produto", "id_empregado",
        "quantidade", "valor_unitario", "valor_total")
    val report = ReportModel.build(SalesPipeline.Cleaned(produtos, vendas, empregados))
    val perProduct = report.sections(1)
    assert(perProduct.rows.length === ReportModel.ReportMaxRows)
    assert(perProduct.summary.contains("Exibindo os primeiros"),
      s"missing truncation note in: ${perProduct.summary}")
    // the cap is not the total: a truncated summary says only "more than"
    assert(perProduct.summary.contains(s"(mais de ${ReportModel.ReportMaxRows} produtos)"),
      s"truncated summary states the cap as the total: ${perProduct.summary}")
    // untruncated sections carry no note
    assert(!report.sections(4).summary.contains("Exibindo"))
  }

  test("write() produces the html artifact") {
    val dir = "/tmp/graft_report_spec"
    SalesReportHtml.write(model, dir)
    val p = java.nio.file.Paths.get(s"$dir/relatorio_vendas.html")
    assert(java.nio.file.Files.exists(p) && java.nio.file.Files.size(p) > 5000)
  }
}
