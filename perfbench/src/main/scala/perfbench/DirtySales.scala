package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded generator for the sales pipeline's inputs.
  *
  * Every value is a hash of (seed, table, row id, column salt), so the
  * same seed gives byte-identical files. Rows come from `spark.range`
  * in one partition and each table is written by a single writer, so
  * file order equals row order — which keep-first dedup and the
  * sequential id backfill depend on.
  *
  * Defect classes planted in the dirty `;`-CSVs, by logical id k = row + 1:
  *  - full-row duplicates: produtos k%20==8, vendas k%40==12, empregados k%13==5;
  *  - produtos: nome missing k%12==0, wrong nome k%31==0, preco missing
  *    k%7==0, blank categoria k%14==0;
  *  - vendas: data missing k%10==0, malformed data k%97==5 (and not
  *    missing), valor_unitario and valor_total co-missing k%13==0,
  *    blank id_empregado k%30==0 (so its date falls to the global
  *    median), id_produto absent from produtos k%26==0 (always with a
  *    missing valor_unitario, the only route to the global fallback);
  *  - empregados: blank id_empregado k%50==25, nome missing k%9==0,
  *    blank cargo k%11==3, idade missing k%11==1, idade out of
  *    [18, 70] k%17==0.
  */
object DirtySales {

  final case class Sizes(vendas: Long, produtos: Long, empregados: Long)

  /** Counts the generator planted, in the units the ET reports them. */
  final case class Planted(
      produtosRaw: Long, produtosClean: Long,
      vendasRaw: Long, vendasClean: Long,
      empregadosRaw: Long, empregadosClean: Long,
      vendasKnownProduct: Long,
      dateEmployeeMedian: Long, dateGlobalMedian: Long,
      dateToday: Long, dateMalformed: Long,
      unitValueCategory: Long, unitValueGlobal: Long,
      agesImputed: Long, agesClamped: Long, idsBackfilled: Long, maxEmployeeId: Long) {
    def dateMethods: Map[String, Long] = Map(
      "mediana_empregado" -> dateEmployeeMedian,
      "mediana_global" -> dateGlobalMedian,
      "data_atual" -> dateToday,
      "formato_invalido" -> dateMalformed).filter(_._2 > 0)
  }

  val Categorias: Seq[String] = Seq("Beleza", "Casa", "Eletrônicos", "Livros", "Roupas")
  val Cargos: Seq[String] = Seq("Assistente", "Gerente", "Vendedor")
  private val Nomes = Seq("Ana", "Bruno", "Carla", "Diego", "Elisa", "Fábio", "Gabriela",
    "Heitor", "Isabela", "João", "Larissa", "Marcos", "Natália", "Otávio", "Paula", "Rafael")
  private val Sobrenomes = Seq("Almeida", "Barbosa", "Costa", "Dias", "Ferreira", "Gomes",
    "Lima", "Martins", "Oliveira", "Pereira", "Ribeiro", "Santos", "Silva", "Souza")

  /** Sizes: reference-fixture scale (about 1.3k raw rows) for the tests. */
  val Fixture: Sizes = Sizes(vendas = 1000, produtos = 200, empregados = 100)

  private val Start = java.time.LocalDate.of(2023, 1, 1)
  private val DaySpan = 540 // 18 months

  /** Uniform non-negative hash in [0, m). */
  private def h(seed: Long, table: Int, k: Column, salt: Int, m: Long): Column =
    pmod(xxhash64(lit(seed), lit(table), k, lit(salt)), lit(m))

  private def pick(values: Seq[String], idx: Column): Column =
    element_at(array(values.map(lit): _*), (idx + 1).cast("int"))

  private def money(c: Column): Column = bround(c, 2)

  /** Logical rows 1..n in one partition, ordered. */
  private def logical(spark: SparkSession, n: Long): DataFrame =
    spark.range(1, n + 1, 1, 1).withColumnRenamed("id", "k")

  /** Expand each logical row flagged `dup` into two identical rows. */
  private def withDuplicates(df: DataFrame, dup: Column): DataFrame =
    df.withColumn("_copy", explode(when(dup, array(lit(0), lit(1))).otherwise(array(lit(0)))))
      .drop("_copy")

  private def produtosLogical(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val k = col("k")
    logical(spark, n).select(
      k,
      (k % 20 === 8).as("_dup"),
      k.cast("int").as("id_produto"),
      when(k % 12 === 0, lit(null).cast("string"))
        .when(k % 31 === 0, concat(lit("Item "), k.cast("string")))
        .otherwise(concat(lit("Produto "), k.cast("string"))).as("nome"),
      when(k % 7 === 0, lit(null).cast("double"))
        .otherwise(money(lit(10.0) + h(seed, 1, k, 1, 199000L) / 100.0)).as("preco"),
      when(k % 14 === 0, lit(null).cast("string"))
        .otherwise(pick(Categorias, h(seed, 1, k, 2, Categorias.size.toLong))).as("categoria"))
  }

  private def vendasLogical(spark: SparkSession, seed: Long, s: Sizes): DataFrame = {
    val k = col("k")
    val day = h(seed, 2, k, 4, DaySpan.toLong).cast("int")
    val unit = money(lit(5.0) + h(seed, 2, k, 7, 99500L) / 100.0)
    val qty = (h(seed, 2, k, 6, 10L) + 1).cast("int")
    val unitMissing = k % 13 === 0
    logical(spark, s.vendas).select(
      k,
      (k % 40 === 12).as("_dup"),
      k.cast("int").as("id_venda"),
      when(k % 10 === 0, lit(null).cast("string"))
        .when(k % 97 === 5, lit("99/99/2023"))
        .otherwise(date_format(date_add(lit(Start), day), "dd/MM/yyyy")).as("data"),
      when(k % 26 === 0, lit(s.produtos + 1) + h(seed, 2, k, 5, 9L))
        .otherwise(h(seed, 2, k, 5, s.produtos) + 1).cast("int").as("id_produto"),
      when(k % 30 === 0, lit(null).cast("int"))
        .otherwise((h(seed, 2, k, 3, s.empregados) + 1).cast("int")).as("id_empregado"),
      qty.as("quantidade"),
      when(unitMissing, lit(null).cast("double")).otherwise(unit).as("valor_unitario"),
      when(unitMissing, lit(null).cast("double")).otherwise(money(qty * unit)).as("valor_total"))
  }

  private def empregadosLogical(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val k = col("k")
    val name = concat_ws(" ",
      pick(Nomes, h(seed, 3, k, 1, Nomes.size.toLong)),
      pick(Sobrenomes, h(seed, 3, k, 2, Sobrenomes.size.toLong)))
    logical(spark, n).select(
      k,
      (k % 13 === 5).as("_dup"),
      when(k % 50 === 25, lit(null).cast("int")).otherwise(k.cast("int")).as("id_empregado"),
      when(k % 9 === 0, lit(null).cast("string")).otherwise(name).as("nome"),
      when(k % 11 === 3, lit(null).cast("string"))
        .otherwise(pick(Cargos, h(seed, 3, k, 3, Cargos.size.toLong))).as("cargo"),
      when(k % 11 === 1, lit(null).cast("double"))
        .when(k % 17 === 0, when(h(seed, 3, k, 5, 2L) === 0, lit(15.0)).otherwise(lit(75.0)))
        .otherwise((h(seed, 3, k, 4, 45L) + 18).cast("double")).as("idade"))
  }

  private def writeCsv(df: DataFrame, path: String): Unit =
    withDuplicates(df, col("_dup")).drop("k", "_dup")
      .coalesce(1).write.mode("overwrite")
      .option("header", "true").option("sep", ";").option("encoding", "UTF-8")
      .csv(path)

  /** Write produtos.csv, vendas.csv and empregados.csv (each a Spark
    * output directory holding one part file) under `dir` and return the
    * planted counts.
    */
  def writeDirty(spark: SparkSession, seed: Long, s: Sizes, dir: String): Planted = {
    val p = produtosLogical(spark, seed, s.produtos)
    val v = vendasLogical(spark, seed, s)
    val e = empregadosLogical(spark, seed, s.empregados)
    writeCsv(p, s"$dir/produtos.csv")
    writeCsv(v, s"$dir/vendas.csv")
    writeCsv(e, s"$dir/empregados.csv")
    planted(p, v, e)
  }

  /** The planted counts, computed from the logical rows with the
    * generator's own reading of each defect class.
    */
  private def planted(p: DataFrame, v: DataFrame, e: DataFrame): Planted = {
    def n(b: Column): Column = sum(when(b, 1L).otherwise(0L))
    val pr = p.agg(count(lit(1)), n(col("_dup"))).head()
    val missing = col("data").isNull
    val validDate = to_date(col("data"), "dd/MM/yyyy").isNotNull
    val datedEmployees = v.filter(validDate && col("id_empregado").isNotNull)
      .select(col("id_empregado").as("_e")).distinct().withColumn("_dated", lit(true))
    val vr = v.join(datedEmployees, col("id_empregado") === col("_e"), "left")
      .agg(count(lit(1)), n(col("_dup")),
        n(missing && col("_dated").isNotNull),
        n(missing && col("_dated").isNull),
        n(!missing && !validDate),
        n(col("valor_unitario").isNull && col("k") % 26 =!= 0),
        n(col("k") % 26 === 0))
      .head()
    // null ids group together in keep-first dedup: of the blank-id
    // rows only the first survives, and it alone gets a new id
    val firstBlank = e.filter(col("id_empregado").isNull).agg(min("k")).head()
    val survives = col("id_empregado").isNotNull ||
      (if (firstBlank.isNullAt(0)) lit(false) else col("k") === firstBlank.getLong(0))
    val er = e.agg(count(lit(1)), n(col("_dup")),
        n(!survives),
        n(survives && col("idade").isNull),
        n(survives && (col("idade") < 18 || col("idade") > 70)),
        max("id_empregado").cast("long"))
      .head()
    val vendasClean = vr.getLong(0)
    Planted(
      produtosRaw = pr.getLong(0) + pr.getLong(1), produtosClean = pr.getLong(0),
      vendasRaw = vendasClean + vr.getLong(1), vendasClean = vendasClean,
      empregadosRaw = er.getLong(0) + er.getLong(1),
      empregadosClean = er.getLong(0) - er.getLong(2),
      vendasKnownProduct = vendasClean - vr.getLong(6),
      dateEmployeeMedian = vr.getLong(2), dateGlobalMedian = vr.getLong(3),
      dateToday = 0L, dateMalformed = vr.getLong(4),
      unitValueCategory = vr.getLong(5), unitValueGlobal = vr.getLong(6),
      agesImputed = er.getLong(3), agesClamped = er.getLong(4),
      idsBackfilled = if (firstBlank.isNullAt(0)) 0L else 1L,
      maxEmployeeId = er.getLong(5))
  }
}
