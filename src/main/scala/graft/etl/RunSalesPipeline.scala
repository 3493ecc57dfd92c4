package graft.etl

import java.time.LocalDate

/** CLI analog of the reference's `pipeline.py` (reference:
  * pipeline.py:7-99): run the full ET over the reference-layout CSVs,
  * export the three cleaned tables and the five report tables as
  * parquet, render the one ReportModel as the HTML report and the
  * reference-named PDF (SURVEY.md §2.1 S9), and print each report
  * section's title, summary, header and first five rows.
  *
  * Usage: runMain graft.etl.RunSalesPipeline <csvDir> <outDir> [yyyy-MM-dd]
  */
object RunSalesPipeline {
  def main(args: Array[String]): Unit = {
    val csvDir = if (args.length > 0) args(0) else "/root/reference/bases-de-dados"
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_sales_out"
    val refDate = if (args.length > 2) LocalDate.parse(args(2)) else LocalDate.now()
    val spark = graft.GraftSession.build("graft-sales-pipeline")

    val t0 = System.nanoTime()
    val cleanedRaw = SalesPipeline.run(spark, csvDir, refDate)
    // ~20 actions follow (writes, collects, counts, audits) — cache both
    // forms once so the ETL DAG doesn't re-execute per action
    val cleaned = SalesPipeline.Cleaned(
      cleanedRaw.produtos.cache(), cleanedRaw.vendas.cache(), cleanedRaw.empregados.cache())
    val b = SalesPipeline.loadBoundary(cleaned)
    val bc = SalesPipeline.Cleaned(b.produtos.cache(), b.vendas.cache(), b.empregados.cache())
    SalesPipeline.writeParquet(bc, outDir)
    SalesPipeline.writeReportTables(bc, outDir)
    // The HTML report, the PDF and the console all render the one
    // ReportModel (built once).
    val model = ReportModel.build(bc)
    SalesReportHtml.write(model, s"$outDir/report")
    SalesReportPdf.write(model, s"$outDir/report")
    println(s"[pipeline] produtos=${bc.produtos.count()} vendas=${bc.vendas.count()} " +
      s"empregados=${bc.empregados.count()} -> $outDir")
    model.sections.foreach { s =>
      println(s"== ${s.title}")
      println(s.summary)
      (s.headers +: s.rows.take(5)).foreach(r => println(r.mkString(" | ")))
    }
    // audit side-channel (reference logs these per stage — SURVEY.md A6)
    println("== audit: imputation methods (vendas dates)")
    EtlStats.imputationSummary(cleaned.vendas, "data_imputada", "metodo_imputacao")
      .show(truncate = false)
    println("== audit: empregados profile")
    EtlStats.profile(bc.empregados).show(truncate = false)
    println(f"[pipeline] total ${(System.nanoTime() - t0) / 1e9}%.2f s")
    spark.stop()
  }
}
