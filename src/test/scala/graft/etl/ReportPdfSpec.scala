package graft.etl

import java.time.LocalDate

import org.scalatest.funsuite.AnyFunSuite

/** S9 byte-format half: the PDF twin of the HTML report must be a
  * structurally valid PDF 1.4 carrying the reference's full inventory
  * (save_data_pdf_report.py:480-745) — title, five sections in order,
  * three charts. Content streams are uncompressed, so text/inventory
  * assertions can read the bytes directly; structural validity is
  * checked by walking the xref table like a PDF reader would.
  */
class ReportPdfSpec extends AnyFunSuite {

  lazy val spark = graft.GraftSession.build("report-pdf-spec", "4")

  lazy val frames = SalesPipeline.loadBoundary(
    SalesPipeline.run(spark, "/root/reference/bases-de-dados", LocalDate.of(2025, 8, 27)))

  lazy val pdf: Array[Byte] = SalesReportPdf.render(ReportModel.build(frames))

  // windows-1252 decodes every byte we emit, so containment checks on
  // the decoded string see the text exactly as encoded.
  lazy val txt: String = new String(pdf, "windows-1252")

  test("emits a well-formed PDF shell") {
    assert(txt.startsWith("%PDF-1.4"))
    assert(txt.trim.endsWith("%%EOF"))
    // startxref points at the xref table
    val sx = txt.lastIndexOf("startxref")
    val pos = txt.substring(sx).split("\\s+")(1).toInt
    assert(txt.substring(pos).startsWith("xref"), "startxref must land on the xref table")
  }

  test("xref offsets land on their object headers") {
    val sx = txt.lastIndexOf("startxref")
    val xrefPos = txt.substring(sx).split("\\s+")(1).toInt
    val lines = txt.substring(xrefPos).linesIterator.toSeq
    val count = lines(1).split(" ")(1).toInt
    val entries = lines.slice(3, 2 + count) // skip "xref", "0 N", free entry
    entries.zipWithIndex.foreach { case (e, i) =>
      val off = e.split(" ")(0).toInt
      assert(txt.substring(off).startsWith(s"${i + 1} 0 obj"),
        s"xref entry ${i + 1} does not land on its object")
    }
  }

  test("carries the reference's five sections in order, plus the title") {
    assert(txt.contains("Relatório de Vendas"))
    val sections = Seq(
      "Total de vendas por funcionário",
      "Ticket médio por produto",
      "Quantidade de vendas por categoria de produto",
      "Top 5 funcionários com maior volume de vendas",
      "Quantidade de vendas por período")
    val idx = sections.map(txt.indexOf)
    assert(idx.forall(_ >= 0), s"missing sections: ${sections.zip(idx).filter(_._2 < 0)}")
    assert(idx === idx.sorted, "sections out of order")
  }

  test("carries the three charts as vector content") {
    // chart titles present...
    for (t <- Seq("Ticket médio por produto", "Top 5 funcionários", "Vendas por período"))
      assert(txt.contains(t), s"missing chart title $t")
    // ...and actual vector ops: filled+stroked bars (B after re) for the
    // bar charts, a stroked polyline (m ... l ... S) for the line chart
    assert(txt.split(" re B").length - 1 >= 5, "expected filled+stroked chart bars")
    assert(txt.contains(" m ") && txt.contains(" l "), "expected polyline ops")
  }

  test("paginates: multi-page document with per-page content streams") {
    val count = "/Count (\\d+)".r.findFirstMatchIn(txt).get.group(1).toInt
    assert(count >= 2, s"report should span multiple pages, got $count")
    assert(txt.split("/Type /Page[^s]").length - 1 === count)
    // opening markers sit on their own line; "endstream" lines don't match
    assert("(?m)^stream$".r.findAllIn(txt).length === count,
      "one content stream per page")
  }

  test("render is locale-independent (comma-decimal locales must not corrupt operands)") {
    val baseline = pdf // force the render under the default locale first
    val dflt = java.util.Locale.getDefault
    try {
      // pt-BR formats 0.16 as "0,16" — a bare f-interpolator anywhere in
      // the operand path would emit `0,16 0,50 0,72 rg`, corrupting every
      // content stream. The render must be byte-identical regardless.
      java.util.Locale.setDefault(java.util.Locale.forLanguageTag("pt-BR"))
      val b = SalesReportPdf.render(ReportModel.build(frames))
      assert(java.util.Arrays.equals(b, baseline),
        "PDF bytes must not depend on the JVM default locale")
      assert("""\d,\d+ (rg|RG|re|w )""".r.findFirstIn(new String(b, "windows-1252")).isEmpty,
        "comma-decimal operand leaked into a content stream")
    } finally java.util.Locale.setDefault(dflt)
  }

  test("write() produces the reference-named artifact") {
    val dir = "/tmp/graft_report_pdf_spec"
    SalesReportPdf.write(ReportModel.build(frames), dir)
    val p = java.nio.file.Paths.get(s"$dir/relatorio-final.pdf")
    assert(java.nio.file.Files.exists(p) && java.nio.file.Files.size(p) > 5000)
  }
}
