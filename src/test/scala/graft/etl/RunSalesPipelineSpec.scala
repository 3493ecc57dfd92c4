package graft.etl

import java.nio.file.{Files, Path, Paths}
import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.SalesIo

/** The CLI end to end over tiny hand-written dirty CSVs (duplicates,
  * blank ids, names, categorias and cargos, missing dates, unit values
  * and totals, a malformed date, an out-of-range age, a sale of an
  * unknown product): every artifact it writes, and its console, agree
  * with the five report queries over its own load-boundary output.
  */
class RunSalesPipelineSpec extends AnyFunSuite {

  private def write(dir: Path, name: String, lines: String*): Unit =
    Files.write(dir.resolve(name), lines.mkString("", "\n", "\n").getBytes("UTF-8"))

  lazy val outDir: String = Files.createTempDirectory("run-sales-pipeline-out").toString

  lazy val csvDir: Path = {
    val csvDir = Files.createTempDirectory("run-sales-pipeline-in")
    write(csvDir, "produtos.csv", "id_produto;nome;preco;categoria",
      "1;Produto 1;10.0;A", "2;Produto 2;;A", "3;Caneta;20.0;B", "3;Caneta;20.0;B",
      "4;;16.0;", "5;Produto 5;30.0;A")
    write(csvDir, "vendas.csv",
      "id_venda;data;id_produto;id_empregado;quantidade;valor_unitario;valor_total",
      "1;01/01/2023;1;1;2;10.0;20.0", "2;15/02/2023;2;2;1;;", "3;;3;1;3;20.0;60.0",
      "3;;3;1;3;20.0;60.0", "4;2023-03-01;1;2;1;10.0;10.0", "5;10/03/2023;4;3;2;16.0;",
      "6;20/03/2023;9;1;1;5.0;5.0", "7;;5;4;1;30.0;30.0", "8;05/04/2023;5;;2;;")
    write(csvDir, "empregados.csv", "id_empregado;nome;cargo;idade",
      "1;Ana;Vendedor;30.0", "2;;Gerente;75.0", "3;Caio;;", "1;Ana;Vendedor;30.0",
      ";Duda;Vendedor;40.0")
    csvDir
  }

  /** Runs the CLI once and returns its stdout. */
  lazy val stdout: String = {
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
      RunSalesPipeline.main(Array(csvDir.toString, outDir, "2024-01-01"))
    }
    buf.toString("UTF-8")
  }

  /** `main` stops its session; the assertions read through a new one. */
  lazy val spark: SparkSession = { stdout; graft.GraftSession.build("run-sales-pipeline-spec", "4") }

  lazy val boundary: SalesPipeline.Cleaned = {
    def read(name: String) = SalesIo.read(spark, "parquet", s"$outDir/$name.parquet")
    SalesPipeline.Cleaned(read("produtos"), read("resumo-vendas"), read("empregados"))
  }

  lazy val queries: Seq[(String, DataFrame)] = Seq(
    "vendas_por_funcionario" -> SalesPipeline.q1SalesByEmployee(boundary),
    "ticket_medio_por_produto" -> SalesPipeline.q2AvgTicketByProduct(boundary),
    "vendas_por_categoria" -> SalesPipeline.q3SalesByCategory(boundary),
    "top5_funcionarios" -> SalesPipeline.q4Top5Employees(boundary),
    "vendas_por_periodo" -> SalesPipeline.q5SalesByPeriod(boundary))

  test("report parquet tables equal the five queries over the load-boundary parquet") {
    assert(boundary.vendas.count() === 8) // one duplicate dropped, the unknown product's sale kept
    for ((name, q) <- queries) {
      val table = SalesIo.read(spark, "parquet", s"$outDir/report/$name.parquet")
      def columns(df: DataFrame) = df.schema.map(f => f.name -> f.dataType)
      assert(columns(table) === columns(q), name)
      val expected = q.collect().map(_.toString).sorted.toSeq
      assert(expected.nonEmpty, name)
      assert(table.collect().map(_.toString).sorted.toSeq === expected, name)
    }
  }

  test("report csv files, read in file order, equal each query's ordered rows") {
    for ((name, q) <- queries) {
      val csv = SalesIo.read(spark, "csv", s"$outDir/report/$name.csv", Some(q.schema))
      assert(csv.collect().toSeq === q.collect().toSeq, name)
    }
  }

  test("console prints the five report sections in order") {
    val titles = Seq(
      "== Total de vendas por funcionário",
      "== Ticket médio por produto",
      "== Quantidade de vendas por categoria de produto",
      "== Top 5 funcionários com maior volume de vendas",
      "== Quantidade de vendas por período")
    val idx = titles.map(stdout.indexOf)
    assert(idx.forall(_ >= 0), s"missing sections: ${titles.zip(idx).filter(_._2 < 0)}\n$stdout")
    assert(idx === idx.sorted, "sections out of order")
  }

  test("the PDF and HTML reports are written") {
    stdout
    val pdf = Files.readAllBytes(Paths.get(s"$outDir/report/relatorio-final.pdf"))
    assert(new String(pdf.take(4), "US-ASCII") === "%PDF")
    val html = new String(
      Files.readAllBytes(Paths.get(s"$outDir/report/relatorio_vendas.html")), "UTF-8")
    assert(html.contains("Relatório de Vendas"))
  }

  test("run reads a file:// base dir like the plain path and still guards missing files") {
    val date = LocalDate.of(2024, 1, 1)
    def rows(c: SalesPipeline.Cleaned) =
      Seq(c.produtos, c.vendas, c.empregados).map(_.collect().map(_.toString).sorted.toSeq)
    val plain = rows(SalesPipeline.run(spark, csvDir.toString, date))
    assert(plain.forall(_.nonEmpty))
    assert(rows(SalesPipeline.run(spark, "file://" + csvDir, date)) === plain)
    val partial = Files.createTempDirectory("run-sales-pipeline-partial")
    Files.copy(csvDir.resolve("produtos.csv"), partial.resolve("produtos.csv"))
    val e = intercept[java.io.FileNotFoundException] {
      SalesPipeline.run(spark, "file://" + partial, date)
    }
    assert(e.getMessage.startsWith("Arquivo CSV não encontrado: file://"), e.getMessage)
  }
}
