package perfbench

import java.nio.file.{Files, Paths}
import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl._
import graft.sources.SalesIo

/** `etl_dirty`: each op is one `graft.etl.RunSalesPipeline.main` pass
  * over generated dirty CSVs — extract, clean, load boundary, parquet
  * and report-table sinks, report, console output.
  */
object EtlDirty {
  val Sizes: DirtySales.Sizes = DirtySales.Sizes(vendas = 20000, produtos = 2000, empregados = 1500)
  /** Fixed so the `data_atual` and `formato_invalido` fills are deterministic. */
  val RefDate = "2024-01-01"

  private val Sink = new java.io.PrintStream(java.io.OutputStream.nullOutputStream())

  def runMain(csvDir: String, outDir: String): Unit =
    Console.withOut(Sink)(RunSalesPipeline.main(Array(csvDir, outDir, RefDate)))

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Output checks of one pass, read back from `outDir`. */
  def verify(spark: SparkSession, outDir: String, p: DirtySales.Planted): Unit = {
    def read(name: String) = spark.read.parquet(s"$outDir/$name")
    val np = read("produtos.parquet").count()
    Check(np == p.produtosClean, s"produtos rows $np != ${p.produtosClean}")
    val e = read("empregados.parquet")
      .agg(count(lit(1)), min("idade"), max("idade"), count(when(col("idade").isNull, 1))).head()
    Check(e.getLong(0) == p.empregadosClean, s"empregados rows ${e.getLong(0)} != ${p.empregadosClean}")
    Check(e.getLong(3) == 0 && e.getInt(1) >= 18 && e.getInt(2) <= 70,
      s"idade outside [18, 70] or null: ${e.get(1)}..${e.get(2)}, ${e.getLong(3)} null")
    val v = read("resumo-vendas.parquet").agg(count(lit(1)),
      count(when(col("data").isNull || col("valor_unitario").isNull || col("valor_total").isNull, 1)))
      .head()
    Check(v.getLong(0) == p.vendasClean, s"resumo-vendas rows ${v.getLong(0)} != ${p.vendasClean}")
    Check(v.getLong(1) == 0, s"${v.getLong(1)} resumo-vendas rows with null data/valor")
    val q3 = read("report/vendas_por_categoria.parquet").agg(sum("quantidade_vendas")).head().getLong(0)
    Check(q3 == p.vendasKnownProduct, s"Q3 counts sum to $q3, not ${p.vendasKnownProduct}")
    val order = Seq(desc("valor_total"), col("id_empregado"))
    val q1 = read("report/vendas_por_funcionario.parquet").orderBy(order: _*).limit(5).collect().toSeq
    val q4 = read("report/top5_funcionarios.parquet").orderBy(order: _*).collect().toSeq
    Check(q1 == q4, s"Q4 $q4 != first five rows of Q1 $q1")
    val pdf = Files.readAllBytes(Paths.get(s"$outDir/report/relatorio-final.pdf"))
    Check(new String(pdf.take(4), "US-ASCII") == "%PDF", "report PDF does not start with %PDF")
  }

  /** Order-independent digest of every table the pass writes. */
  def outputHash(spark: SparkSession, outDir: String): String = {
    val tables = Seq("produtos.parquet", "empregados.parquet", "resumo-vendas.parquet",
      "report/vendas_por_funcionario.parquet", "report/ticket_medio_por_produto.parquet",
      "report/vendas_por_categoria.parquet", "report/top5_funcionarios.parquet",
      "report/vendas_por_periodo.parquet")
    val md = java.security.MessageDigest.getInstance("SHA-256")
    tables.foreach { t =>
      md.update(t.getBytes("UTF-8"))
      spark.read.parquet(s"$outDir/$t").collect().map(_.mkString("\u0001")).sorted
        .foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Counts the ET reports, for comparison with the planted counts. */
  final case class Observed(dateMethods: Map[String, Long], agesImputed: Long,
      agesClamped: Long, idsBackfilled: Long)

  def observe(cleaned: SalesPipeline.Cleaned, p: DirtySales.Planted): Observed = {
    val methods = EtlStats.imputationSummary(cleaned.vendas, "data_imputada", "metodo_imputacao")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val e = cleaned.empregados.agg(
      count(when(col("idade_imputada"), 1)), count(when(col("idade_ajustada"), 1)),
      count(when(col("id_empregado") > p.maxEmployeeId, 1))).head()
    Observed(methods, e.getLong(0), e.getLong(1), e.getLong(2))
  }

  def matches(o: Observed, p: DirtySales.Planted): Boolean =
    o.dateMethods == p.dateMethods && o.agesImputed == p.agesImputed &&
      o.agesClamped == p.agesClamped && o.idsBackfilled == p.idsBackfilled

  /** One pass that calls the same public functions, in the same order
    * and with the same cache points, as `RunSalesPipeline.main`, with a
    * span around each step. The only addition is the count that forces
    * the load-boundary caches, so the ET is timed apart from the sinks.
    * Returns the cleaned tables, still cached, for the planted-count
    * check; the caller unpersists them.
    */
  def tracedMain(spark: SparkSession, tr: Tracer, csvDir: String, outDir: String)
      : (SalesPipeline.Cleaned, SalesPipeline.Cleaned) = tr.span("op") {
    val cleanedRaw = SalesPipeline.run(spark, csvDir, LocalDate.parse(RefDate))
    val cleaned = SalesPipeline.Cleaned(
      cleanedRaw.produtos.cache(), cleanedRaw.vendas.cache(), cleanedRaw.empregados.cache())
    val b = SalesPipeline.loadBoundary(cleaned)
    val bc = SalesPipeline.Cleaned(b.produtos.cache(), b.vendas.cache(), b.empregados.cache())
    tr.span("etl.load_boundary") {
      bc.produtos.count(); bc.vendas.count(); bc.empregados.count()
    }
    tr.span("etl.write_parquet")(SalesPipeline.writeParquet(bc, outDir))
    tr.span("etl.write_report_tables")(SalesPipeline.writeReportTables(bc, outDir))
    val model = tr.span("etl.report_model")(ReportModel.build(bc))
    Files.createDirectories(Paths.get(s"$outDir/report"))
    tr.span("etl.render_html") {
      Files.write(Paths.get(s"$outDir/report/relatorio_vendas.html"),
        SalesReportHtml.render(model).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    tr.span("etl.render_pdf") {
      Files.write(Paths.get(s"$outDir/report/relatorio-final.pdf"), SalesReportPdf.render(model))
    }
    tr.span("etl.cli_console") {
      Console.withOut(Sink) {
        println(s"[pipeline] produtos=${bc.produtos.count()} vendas=${bc.vendas.count()} " +
          s"empregados=${bc.empregados.count()} -> $outDir")
        Seq(SalesPipeline.q1SalesByEmployee(bc), SalesPipeline.q2AvgTicketByProduct(bc),
          SalesPipeline.q3SalesByCategory(bc), SalesPipeline.q4Top5Employees(bc),
          SalesPipeline.q5SalesByPeriod(bc)).foreach { df =>
          println(s"== (${df.count()} rows)")
          df.show(5, truncate = false)
        }
        EtlStats.imputationSummary(cleaned.vendas, "data_imputada", "metodo_imputacao")
          .show(truncate = false)
        EtlStats.profile(bc.empregados).show(truncate = false)
      }
    }
    (cleaned, bc)
  }

  /** The layer decomposition a traced pass adds: the CSV scans, each
    * entity's `treat` forced to a noop sink, the row index, and the
    * VendasEtl steps forced as uncached prefixes (each step's marginal
    * cost is its prefix minus the previous one).
    */
  def decompose(spark: SparkSession, tr: Tracer, csvDir: String): Unit = tr.span("decompose") {
    def csv(name: String, schema: org.apache.spark.sql.types.StructType) =
      SalesIo.readCsv(spark, s"$csvDir/$name.csv", schema)
    tr.span("sources.csv_scan") {
      noop(csv("produtos", SalesSchemas.produtos))
      noop(csv("vendas", SalesSchemas.vendas))
      noop(csv("empregados", SalesSchemas.empregados))
    }
    val rawV = csv("vendas", SalesSchemas.vendas)
    val produtos = ProdutosEtl.treat(csv("produtos", SalesSchemas.produtos))
    val ref = LocalDate.parse(RefDate)
    tr.span("etl.produtos")(noop(produtos))
    tr.span("etl.row_idx")(noop(Cleaning.withRowIdx(rawV)))
    val dedup = Cleaning.dedupKeepFirst(rawV, Seq("id_venda"))
    val dates = VendasEtl.fillDates(dedup, ref)
    val units = VendasEtl.fillUnitValues(dates, produtos)
    tr.span("prefix.dedup")(noop(dedup))
    tr.span("prefix.fill_dates")(noop(dates))
    tr.span("prefix.fill_unit_values")(noop(units))
    tr.span("prefix.fill_totals")(noop(VendasEtl.fillTotals(units)))
    tr.span("etl.vendas")(noop(VendasEtl.treat(rawV, produtos, ref)))
    tr.span("etl.empregados")(noop(EmpregadosEtl.treat(csv("empregados", SalesSchemas.empregados))))
  }

  def run(ctx: Ctx): Seq[(String, Double)] = {
    val o = ctx.opts
    val csvDir = s"${o.work}/etl_in"
    val outDir = s"${o.work}/etl_out"
    val planted = ctx.repeatedSetup(if (o.trace) 1 else 3) {
      DirtySales.writeDirty(ctx.session(), o.seed, Sizes, csvDir)
    }
    System.err.println(s"[perfbench] planted $planted")
    // untimed warm-up pass: a cold pass costs about twice a warm one, so
    // mixing them would make the per-op figures depend on how many
    // passes fit in the run
    runMain(csvDir, outDir)
    verify(ctx.session(), outDir, planted)
    ctx.setupDone()

    def pass(i: Int): Unit = {
      ctx.session()
      ctx.op(s"pass $i")(runMain(csvDir, outDir))(_ => verify(ctx.session(), outDir, planted))
    }
    if (!o.trace) return ctx.endToEnd(ctx.loop(o.seconds)(pass))

    ctx.loop(o.seconds / 2)(pass)
    val untracedMs = ctx.latencies.map(_._2).toSeq
    val spark = ctx.session()
    val probe = SparkProbe.attach(spark)
    val tr = ctx.tracer
    val csvBytes = Seq("produtos", "vendas", "empregados")
      .flatMap(t => Fs.partFiles(Paths.get(s"$csvDir/$t.csv"))).map(Files.size).sum.toDouble
    val opIds = Seq.newBuilder[Int]
    var refreshSpans = Set.empty[Int]
    ctx.loop(o.seconds / 2) { i =>
      tr.op = i
      ctx.op(s"traced pass $i") {
        decompose(spark, tr, csvDir)
        tracedMain(spark, tr, csvDir, outDir)
      } { case (cleaned, bc) =>
        opIds += tr.spans.filter(s => s.name == "op" && s.op == i).map(_.id).head
        val seen = observe(cleaned, planted)
        Seq(cleaned, bc).foreach(c => Seq(c.produtos, c.vendas, c.empregados).foreach(_.unpersist()))
        Check(matches(seen, planted), s"observed ET counts $seen != planted $planted")
        verify(spark, outDir, planted)
        // the read-only report path over the tables this pass wrote
        val (refresh, spans) = ReportRefresh.traced(spark, tr, outDir)
        refreshSpans ++= spans
        ReportRefresh.verify(refresh, planted)
      }
    }
    val ops = opIds.result()
    val opCounters = probe.forSpans(spark, ops.flatMap(tr.subtree).toSet)
    val writeCounters = probe.forSpans(spark,
      tr.spans.filter(_.name == "etl.write_report_tables").map(_.id).toSet)
    val all = probe.totals(spark)
    val opSeconds = tr.spans.filter(_.name == "op").map(_.seconds)
    def m(name: String) = tr.medianSeconds(name)
    val parquetMb = Seq("produtos", "empregados", "resumo-vendas")
      .flatMap(t => Fs.partFiles(Paths.get(s"$outDir/$t.parquet"))).map(Files.size).sum / 1e6
    val n = math.max(1, ops.size)
    val engine = SparkProbe.metrics(opCounters, all.planMs, ops.size, opSeconds.sum, ctx.cores)
    Seq(
        "op_p50_ms" -> Stats.median(untracedMs),
        "op_mean_ms" -> Stats.mean(untracedMs),
        "op_p90_ms" -> Stats.quantile(untracedMs, 0.9),
        "peak_rss_mb" -> Proc.peakRssMb(),
        "trace.overhead_ratio" -> Stats.median(opSeconds) * 1e3 / Stats.median(untracedMs),
        "sources.csv_scan_s" -> m("sources.csv_scan"),
        "sources.csv_input_passes" -> opCounters.inputBytes / n / csvBytes,
        "etl.produtos_s" -> m("etl.produtos"),
        "etl.empregados_s" -> m("etl.empregados"),
        "etl.vendas_s" -> m("etl.vendas"),
        "etl.row_idx_s" -> m("etl.row_idx"),
        "etl.vendas.dedup_s" -> m("prefix.dedup"),
        "etl.vendas.fill_dates_s" -> (m("prefix.fill_dates") - m("prefix.dedup")),
        "etl.vendas.fill_unit_values_s" -> (m("prefix.fill_unit_values") - m("prefix.fill_dates")),
        "etl.vendas.fill_totals_s" -> (m("prefix.fill_totals") - m("prefix.fill_unit_values")),
        "etl.load_boundary_s" -> m("etl.load_boundary"),
        "etl.write_parquet_s" -> m("etl.write_parquet"),
        "etl.write_parquet_mb" -> parquetMb,
        "etl.write_report_tables_s" -> m("etl.write_report_tables"),
        "etl.write_report_tables_jobs" -> writeCounters.sqlExecutions.size.toDouble / n,
        "etl.report_model_s" -> m("etl.report_model"),
        "etl.render_pdf_s" -> m("etl.render_pdf"),
        "etl.render_html_s" -> m("etl.render_html"),
        "etl.cli_console_s" -> m("etl.cli_console")) ++ engine ++
      ReportRefresh.metrics(spark, tr, probe, refreshSpans, ops.size)
  }
}
