package graft.etl

import java.nio.file.{Files, Path}
import java.time.LocalDate

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.SalesIo

/** One ETL pass does each piece of work once, and its report does not
  * depend on how the engine splits the work. The fixture is a seeded
  * dirty ~10³-row input: duplicate keys, blank and malformed dates,
  * blank prices, categorias, cargos, ages, unit values and totals,
  * blank employee ids and sales of unknown products.
  */
class EtlPassSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.GraftSession.build("etl-pass-spec", "4")
  private val date = LocalDate.of(2024, 1, 1)

  /** Data rows per fixture CSV. */
  private val rows = Map("produtos" -> 64, "vendas" -> 1000, "empregados" -> 26)

  lazy val csvDir: Path = {
    val r = new Random(13)
    val dir = Files.createTempDirectory("etl-pass-spec")
    def write(name: String, header: String, lines: Seq[String]): Unit = {
      assert(lines.size === rows(name))
      Files.write(dir.resolve(s"$name.csv"), (header +: lines).mkString("", "\n", "\n").getBytes("UTF-8"))
    }
    def blankOr(p: Double)(v: => String) = if (r.nextDouble() < p) "" else v
    def cents(lo: Int, hi: Int) = BigDecimal(lo + r.nextInt(hi - lo), 2)
    val produtos = (1 to 60).map { i =>
      val nome = if (i % 7 == 0) "Caneta" else s"Produto $i"
      val cat = if (i % 11 == 0) "" else Seq("A", "B", "C", "D")(i % 4)
      s"$i;$nome;${blankOr(0.1)(cents(100, 90000).toString)};$cat"
    }
    write("produtos", "id_produto;nome;preco;categoria", produtos ++ produtos.take(4))
    val empregados = (1 to 24).map { i =>
      val id = if (i % 10 == 5) "" else i.toString
      s"$id;Emp $i;${Seq("Vendedor", "Gerente", "")(i % 3)};${blankOr(0.2)(s"${16 + r.nextInt(60)}.0")}"
    }
    write("empregados", "id_empregado;nome;cargo;idade", empregados ++ empregados.take(2))
    val vendas = (1 to 960).map { i =>
      val data = r.nextInt(100) match {
        case n if n < 6 => ""
        case 6 => "2023-03-01"
        case _ => f"${1 + r.nextInt(28)}%02d/${1 + r.nextInt(12)}%02d/2023"
      }
      val q = 1 + r.nextInt(9)
      val unit = cents(100, 500000)
      s"$i;$data;${1 + r.nextInt(62)};${blankOr(0.02)((1 + r.nextInt(22)).toString)};$q;" +
        s"${blankOr(0.06)(unit.toString)};${blankOr(0.06)((unit * q).toString)}"
    }
    write("vendas", "id_venda;data;id_produto;id_empregado;quantidade;valor_unitario;valor_total",
      vendas ++ Seq.fill(40)(vendas(r.nextInt(960))))
    dir
  }

  private def csv(name: String, schema: StructType): DataFrame =
    SalesIo.readCsv(spark, s"$csvDir/$name.csv", schema)

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Runs `body` and returns the stages its jobs completed. */
  private def stages(body: => Unit): Seq[StageInfo] = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[StageInfo]
    val l = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = seen.add(e.stageInfo)
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(l)
    try { body; ListenerBusDrain(sc) } finally sc.removeSparkListener(l)
    seen.asScala.toSeq
  }

  /** Rows the CSV scans of `body`'s jobs returned. */
  private def rowsScanned(body: => Unit): Long =
    stages(body).filter(_.rddInfos.exists(_.name == "FileScanRDD"))
      .map(_.taskMetrics.inputMetrics.recordsRead).sum

  test("each cleaned table scans its own CSV once") {
    var produtos: DataFrame = null
    val np = rowsScanned {
      produtos = ProdutosEtl.treat(csv("produtos", SalesSchemas.produtos)); noop(produtos)
    }
    assert(np === rows("produtos"))
    val nv = rowsScanned(noop(VendasEtl.treat(csv("vendas", SalesSchemas.vendas), produtos, date)))
    assert(nv === rows("vendas"))
    val ne = rowsScanned(noop(EmpregadosEtl.treat(csv("empregados", SalesSchemas.empregados))))
    assert(ne === rows("empregados"))
  }

  test("the report sink computes each table once and leaves no cached frame behind") {
    val sc = spark.sparkContext
    val raw = SalesPipeline.run(spark, csvDir.toString, date)
    Seq(raw.produtos.cache(), raw.empregados.cache()).foreach(noop)
    val beforeVendas = sc.getPersistentRDDs.keySet
    val cleaned = raw.copy(vendas = raw.vendas.cache())
    noop(cleaned.vendas)
    val vendasCache = sc.getPersistentRDDs.keySet -- beforeVendas
    assert(vendasCache.size === 1)
    try {
      val persisted = sc.getPersistentRDDs.keySet
      val out = Files.createTempDirectory("etl-pass-sink").toString
      val reads = stages {
        SalesPipeline.withReportTables(SalesPipeline.loadBoundary(cleaned)) { t =>
          SalesPipeline.writeReportTables(t, out)
          ReportModel.build(t)
        }
      }.count(_.rddInfos.exists(r => vendasCache(r.id)))
      assert(reads <= SalesPipeline.reportTables.size, s"$reads stages read the cleaned vendas")
      assert(sc.getPersistentRDDs.keySet === persisted)
      val b = SalesPipeline.loadBoundary(cleaned)
      for ((name, q) <- SalesPipeline.reportTables)
        assert(q(b).storageLevel === StorageLevel.NONE, s"$name is still cached")
      Seq(cleaned.produtos, cleaned.vendas, cleaned.empregados)
        .foreach(df => assert(df.storageLevel !== StorageLevel.NONE))
    } finally Seq(cleaned.produtos, cleaned.vendas, cleaned.empregados).foreach(_.unpersist())
  }

  private def withConf[T](conf: (String, String)*)(body: => T): T = {
    val saved = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("the report csv files do not depend on shuffle partitions or scan splits") {
    /** Each report csv's text, from one pass. */
    def report(): Map[String, String] = {
      val out = Files.createTempDirectory("etl-pass-report")
      SalesPipeline.writeReportTables(SalesPipeline.run(spark, csvDir.toString, date), out.toString)
      SalesPipeline.reportTables.map { case (name, _) =>
        val parts = Files.list(out.resolve(s"report/$name.csv")).iterator().asScala
          .filter(_.getFileName.toString.startsWith("part-")).toSeq.sorted
        name -> parts.map(p => new String(Files.readAllBytes(p), "UTF-8")).mkString
      }.toMap
    }
    val shuffle = "spark.sql.shuffle.partitions"
    // AQE would coalesce this small input's shuffles into one partition,
    // whatever the setting; keep the partition count as set
    val coalesce = "spark.sql.adaptive.coalescePartitions.enabled" -> "false"
    val before = spark.conf.get(shuffle)
    val base = withConf(shuffle -> "4", coalesce)(report())
    assert(base.values.forall(_.nonEmpty))
    withConf(shuffle -> "13", coalesce, "spark.sql.files.maxPartitionBytes" -> "16384",
        "spark.sql.files.openCostInBytes" -> "1024") {
      assert(csv("vendas", SalesSchemas.vendas).rdd.getNumPartitions >= 3, "vendas is one split")
      assert(report() === base, "13 shuffle partitions, vendas scanned in splits")
    }
    assert(spark.conf.get(shuffle) === before)
  }
}
