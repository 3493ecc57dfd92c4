package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Sources and sinks for the sales engine (SURVEY.md §2.1).
  *
  * The reference moves data CSV → Postgres → {Parquet, report}; this
  * engine is hermetic by default (temp-view catalog / parquet) with
  * JDBC behind an explicit config, mirroring SURVEY.md §1.4's
  * architecture decision.
  */
object SalesIo {

  /** S1-S3: ';'-separated CSV scan with an explicit schema — never
    * inferSchema (SURVEY.md §1.4); unparseable cells degrade to NULL
    * like pandas `errors='coerce'`.
    */
  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .option("sep", ";").option("header", "true").option("encoding", "UTF-8")
      .schema(schema)
      .csv(path)

  /** S4: file-existence guard (reference: et_produtos.py:32-43). */
  def requireFile(path: String): Unit =
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(path)))
      throw new java.io.FileNotFoundException(s"Arquivo CSV não encontrado: $path")

  /** Generic format readers for the cleaned-table round trips. */
  def read(spark: SparkSession, format: String, path: String,
           schema: Option[StructType] = None): DataFrame = {
    val r = spark.read.format(format)
    val withSchema = schema.fold(r)(r.schema)
    format match {
      case "csv" => withSchema.option("header", "true").option("sep", ";").load(path)
      case _ => withSchema.load(path)
    }
  }

  /** S5/S6: JDBC scan (reference: et_vendas.py:55-78 reads the cleaned
    * produtos back from Postgres; save_data_parquet.py:67-94 reads all
    * three tables). Partitioned reads keep the scan parallel on a
    * cluster. Exercised end-to-end by JdbcRoundTripSpec against the
    * embedded Derby engine that ships with Spark's jars — same Spark
    * JDBC source; production points the URL at Postgres.
    */
  def readJdbc(spark: SparkSession, url: String, table: String,
               user: String, password: String,
               partitionColumn: Option[(String, Long, Long, Int)] = None): DataFrame = {
    val base = spark.read.format("jdbc")
      .option("url", url).option("dbtable", table)
      .option("user", user).option("password", password)
    partitionColumn.fold(base) { case (c, lo, hi, n) =>
      base.option("partitionColumn", c)
        .option("lowerBound", lo).option("upperBound", hi)
        .option("numPartitions", n)
    }.load()
  }

  /** S8 and the report sink: full-replace writers, parquet (reference:
    * save_data_parquet.py:97-121) or the ';'-separated header CSV
    * dialect that readCsv/read scan (also orc/json for export breadth).
    */
  def write(df: DataFrame, format: String, path: String): Unit = format match {
    case "csv" => df.write.mode("overwrite")
      .option("header", "true").option("sep", ";").csv(path)
    case f => df.write.mode("overwrite").format(f).save(path)
  }

  /** S7: full-replace JDBC table sink. `overwrite` without truncate
    * reproduces the reference's DROP TABLE + CREATE TABLE;
    * `createTableColumnTypes` pins the NUMERIC(10,2)/VARCHAR DDL
    * fidelity (SURVEY.md §7.5.5). The reference's per-row
    * ON CONFLICT DO NOTHING skip-bad-rows behavior is unnecessary
    * post-cleaning (PK unique by construction) — validation happens
    * before the write, where it can run distributed.
    */
  def writeJdbc(df: DataFrame, url: String, table: String,
                user: String, password: String,
                columnTypes: Option[String] = None): Unit = {
    val w = df.write.format("jdbc").mode("overwrite")
      .option("url", url).option("dbtable", table)
      .option("user", user).option("password", password)
    columnTypes.fold(w)(t => w.option("createTableColumnTypes", t)).save()
  }

  /** The DDL column types for JDBC mode, verbatim from the reference
    * (load-data/l_produtos.py:78-86, l_vendas.py:78-89,
    * l_empregados.py:78-86).
    */
  val jdbcColumnTypes: Map[String, String] = Map(
    "produtos" ->
      "id_produto INTEGER, nome VARCHAR(255), preco NUMERIC(10,2), categoria VARCHAR(255)",
    "vendas" ->
      ("id_venda INTEGER, data DATE, id_produto INTEGER, id_empregado INTEGER, " +
        "quantidade INTEGER, valor_unitario NUMERIC(10,2), valor_total NUMERIC(10,2)"),
    "empregados" ->
      "id_empregado INTEGER, nome VARCHAR(255), cargo VARCHAR(255), idade INTEGER")
}
