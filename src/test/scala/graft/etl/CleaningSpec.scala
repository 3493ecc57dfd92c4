package graft.etl

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Unit fixtures for the semantic quirks called out in SURVEY.md §2.9
  * and §5 — the places where a plausible-but-wrong Spark primitive
  * silently diverges from the reference (pandas/Python) semantics.
  */
class CleaningSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.GraftSession.build("cleaning-spec", "4")
  import spark.implicits._

  test("bround matches Python round: HALF_EVEN at exact midpoints") {
    // Python: round(2.5)=2, round(3.5)=4, round(0.125,2)=0.12
    val r = spark.range(1).select(
      bround(lit(2.5), 0), bround(lit(3.5), 0), bround(lit(0.125), 2)).head()
    assert(r.getDouble(0) === 2.0)
    assert(r.getDouble(1) === 4.0)
    assert(r.getDouble(2) === 0.12)
  }

  test("percentile interpolates on even counts like pandas .median()") {
    val df = Seq(1.0, 2.0, 10.0, 100.0).toDF("x")
    val m = df.agg(percentile(col("x"), lit(0.5))).head().getDouble(0)
    assert(m === 6.0) // pandas: (2+10)/2
  }

  test("date median floors the half-day like pandas strftime of the mean") {
    // two dates -> pandas median is midday between them; strftime floors
    val df = Seq("2023-01-01", "2023-01-02").toDF("d")
      .select(to_date(col("d")).as("d"))
    val med = df.agg(
      floor(percentile(unix_date(col("d")), lit(0.5))).cast("int").as("md"))
      .select(date_from_unix_date(col("md")).cast("string")).head().getString(0)
    assert(med === "2023-01-01")
  }

  test("keep-first dedup groups NULL keys together (pandas NaN semantics)") {
    val schema = StructType(Seq(
      StructField("k", IntegerType), StructField("v", StringType)))
    val rows = java.util.Arrays.asList(
      Row(null, "first-null"), Row(1, "a"), Row(null, "second-null"), Row(1, "b"))
    val df = spark.createDataFrame(rows, schema)
    val out = Cleaning.dedupKeepFirst(df, Seq("k")).collect()
    assert(out.length === 2)
    val nullRow = out.find(_.isNullAt(0)).get
    assert(nullRow.getString(1) === "first-null", "kept wrong null-key row")
    val oneRow = out.find(r => !r.isNullAt(0)).get
    assert(oneRow.getString(1) === "a", "kept wrong row for key 1")
  }

  /** Runs `f` over `lines` (header first) written as a ';'-CSV and
    * scanned in 64-byte splits, so the rows land in several partitions
    * in file order.
    */
  private def splitCsv(lines: Seq[String], schema: StructType)(f: DataFrame => Unit): Unit = {
    val path = java.nio.file.Files.createTempDirectory("cleaning-spec").resolve("t.csv")
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    val keys = Seq("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    keys.foreach(spark.conf.set(_, "64"))
    try {
      val df = graft.sources.SalesIo.readCsv(spark, path.toString, schema)
      assert(df.rdd.getNumPartitions >= 3, "the scan must split the file")
      f(df)
    } finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("keep-first dedup keeps a key's first physical row across scan splits") {
    val schema = StructType(Seq(StructField("k", IntegerType), StructField("v", StringType)))
    val firsts = (1 to 20).map(i => s"$i;first-$i")
    splitCsv("k;v" +: (firsts ++ Seq("2;copy-2", "7;copy-7", "1;copy-1")), schema) { df =>
      val split = df.select(col("v"), spark_partition_id().as("p")).collect()
        .map(r => r.getString(0) -> r.getInt(1)).toMap
      for (k <- Seq(1, 2, 7))
        assert(split(s"copy-$k") > split(s"first-$k"), s"key $k's copy is not in a later split")
      val kept = Cleaning.dedupKeepFirst(df, Seq("k")).collect()
        .map(r => r.getInt(0) -> r.getString(1)).toMap
      assert(kept === (1 to 20).map(i => i -> s"first-$i").toMap)
    }
  }

  test("blank employee ids in different splits backfill as max+1, max+2 in file order") {
    val rows = (1 to 24).map { i =>
      if (i % 8 == 4) s";blank-$i;Dev;30.0" else s"${i * 10};Emp $i;Dev;30.0"
    }
    splitCsv("id_empregado;nome;cargo;idade" +: rows, SalesSchemas.empregados) { df =>
      val blanks = df.filter(col("id_empregado").isNull)
        .select(spark_partition_id()).collect().map(_.getInt(0)).toSeq
      assert(blanks.distinct.size === 3, s"blank ids share a split: $blanks")
      val filled = EmpregadosEtl.fillMissingIds(Cleaning.withRowIdx(df))
        .filter(col("nome").startsWith("blank-"))
        .collect().map(r => r.getString(1) -> r.getInt(0)).toMap
      assert(filled === Map("blank-4" -> 241, "blank-12" -> 242, "blank-20" -> 243))
    }
  }

  test("regex-extract sort puts number-less names last (inf semantics)") {
    val df = Seq("Produto 2", "Sem Numero", "Produto 10", "Produto 1").toDF("nome")
    val sorted = df
      .withColumn("n", nullif(regexp_extract(col("nome"), "(\\d+)", 1), lit("")).cast("int"))
      .orderBy(asc_nulls_last("n")).select("nome").collect().map(_.getString(0)).toSeq
    assert(sorted === Seq("Produto 1", "Produto 2", "Produto 10", "Sem Numero"))
  }

  test("empty-peer category keeps preco null (reference warn path)") {
    val df = Seq(
      (1, "Produto 1", Option(10.0), "A"),
      (2, "Produto 2", Option.empty[Double], "B"), // no priced peer in B
      (3, "Produto 3", Option.empty[Double], "A")
    ).toDF("id_produto", "nome", "preco", "categoria")
    val out = ProdutosEtl.fillPrices(df).select("id_produto", "preco").collect()
      .map(r => r.getInt(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(out(3) === Some(10.0)) // filled from category A median
    assert(out(2) === None)       // warn path: stays null
  }

  test("age clamp: 18/70 bounds with flag, imputed median half-even") {
    val df = Seq(
      (1, "x", "Dev", Option(17.0)),
      (2, "y", "Dev", Option(75.0)),
      (3, "z", "Dev", Option(30.0)),
      (4, "w", "Dev", Option.empty[Double])
    ).toDF("id_empregado", "nome", "cargo", "idade")
    val out = EmpregadosEtl.clampAges(EmpregadosEtl.fillAges(df))
      .select("id_empregado", "idade", "idade_ajustada", "idade_imputada")
      .collect().map(r => r.getInt(0) -> ((r.getInt(1), r.getBoolean(2), r.getBoolean(3)))).toMap
    assert(out(1) === ((18, true, false)))
    assert(out(2) === ((70, true, false)))
    assert(out(3) === ((30, false, false)))
    // median of (17, 75, 30) = 30 -> imputed, in range
    assert(out(4) === ((30, false, true)))
  }

  test("date cascade: employee median, then global, then reference date") {
    val ref = LocalDate.of(2025, 1, 31)
    val df = Seq(
      (1, "01/01/2023", Some(7), 1, Option(1.0), Option(1.0)),
      (2, "03/01/2023", Some(7), 1, Option(1.0), Option(1.0)),
      (3, "", Some(7), 1, Option(1.0), Option(1.0)),        // -> employee median 02/01
      (4, "10/06/2023", Some(8), 1, Option(1.0), Option(1.0)),
      (5, "", Some(9), 1, Option(1.0), Option(1.0))         // employee 9 has no dates -> global median
    ).toDF("id_venda", "data", "id_empregado", "quantidade", "valor_unitario", "valor_total")
    val out = VendasEtl.fillDates(df, ref)
      .select("id_venda", "data", "metodo_imputacao")
      .collect().map(r => r.getInt(0) -> ((r.getString(1), Option(r.getString(2))))).toMap
    assert(out(3) === (("02/01/2023", Some("mediana_empregado"))))
    // global pool after strategy 1: 01/01, 03/01, 02/01, 10/06 -> median
    // of days: interpolated between 02/01 and 03/01 -> floor 02/01
    assert(out(5)._2 === Some("mediana_global"))
    assert(out(1) === (("01/01/2023", None)))
  }

  test("invalid-format dates repaired to reference date with flag") {
    val ref = LocalDate.of(2025, 1, 31)
    val df = Seq(
      (1, "2023-01-01", Some(7), 1, Option(1.0), Option(1.0)), // wrong format
      (2, "05/05/2023", Some(7), 1, Option(1.0), Option(1.0))
    ).toDF("id_venda", "data", "id_empregado", "quantidade", "valor_unitario", "valor_total")
    val out = VendasEtl.fillDates(df, ref)
      .select("id_venda", "data", "metodo_imputacao")
      .collect().map(r => r.getInt(0) -> ((r.getString(1), Option(r.getString(2))))).toMap
    assert(out(1) === (("31/01/2025", Some("formato_invalido"))))
    assert(out(2) === (("05/05/2023", None)))
  }
}
