package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded generator for the registry's star schema plus its events,
  * documents and embeddings tables — the ten tables `graft.sources.Tables`
  * names, with the column names and types the registry queries read.
  * Row counts follow the smallest scale the registry is run at
  * (6,000 lineitem rows).
  */
object TpchLite {

  private def h(seed: Long, table: Int, k: Column, salt: Int, m: Long): Column =
    pmod(xxhash64(lit(seed), lit(table), k, lit(salt)), lit(m))

  private def pick(values: Seq[String], idx: Column): Column =
    element_at(array(values.map(lit): _*), (idx + 1).cast("int"))

  private def keys(spark: SparkSession, n: Long, name: String): DataFrame =
    spark.range(0, n, 1, 1).withColumnRenamed("id", name)

  private def ntz(days: Column, base: String): Column =
    date_add(lit(java.sql.Date.valueOf(base)), days.cast("int")).cast("timestamp_ntz")

  private val Vocab = Seq("a", "the", "data", "spark", "query", "join", "scan", "sort", "hash",
    "merge", "window", "stream", "batch", "table", "column", "row", "key", "value", "group",
    "agg", "filter", "order", "part", "line", "customer", "vector", "fast", "slow", "big", "small")

  def write(spark: SparkSession, seed: Long, dir: String): Unit = {
    val nCust = 150L; val nSupp = 10L; val nPart = 200L
    val nOrd = 1500L; val nLine = 6000L; val nEv = 1000L
    val nDoc = 500L; val nVec = 500L
    def save(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$dir/$name.parquet")

    save(keys(spark, 5, "k").select(col("k").cast("int").as("r_regionkey"),
      pick(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"), col("k")).as("r_name")),
      "region")
    save(keys(spark, 25, "k").select(col("k").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("k").cast("string")).as("n_name"),
      (col("k") % 5).cast("int").as("n_regionkey")), "nation")
    val seg = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    save(keys(spark, nCust, "c_custkey").select(col("c_custkey"),
      format_string("Customer#%09d", col("c_custkey")).as("c_name"),
      h(seed, 1, col("c_custkey"), 1, 25).cast("int").as("c_nationkey"),
      round(h(seed, 1, col("c_custkey"), 2, 1099999) / 100.0 - 999.99, 2).as("c_acctbal"),
      pick(seg, h(seed, 1, col("c_custkey"), 3, 5)).as("c_mktsegment")), "customer")
    save(keys(spark, nSupp, "s_suppkey").select(col("s_suppkey"),
      format_string("Supplier#%09d", col("s_suppkey")).as("s_name"),
      h(seed, 2, col("s_suppkey"), 1, 25).cast("int").as("s_nationkey"),
      round(h(seed, 2, col("s_suppkey"), 2, 1099999) / 100.0 - 999.99, 2).as("s_acctbal")),
      "supplier")
    val adj = Seq("cold", "small", "large", "blue", "new", "hot", "red", "old")
    val noun = Seq("widget", "bolt", "rod", "gear", "anvil", "ring", "plate", "gizmo")
    val ptype = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
    val pk = col("p_partkey")
    save(keys(spark, nPart, "p_partkey").select(pk,
      concat_ws(" ", pick(adj, h(seed, 3, pk, 1, 8)), pick(noun, h(seed, 3, pk, 2, 8))).as("p_name"),
      concat(lit("Brand#"), (h(seed, 3, pk, 3, 25) + 1).cast("string")).as("p_brand"),
      pick(ptype, h(seed, 3, pk, 4, 6)).as("p_type"),
      (h(seed, 3, pk, 5, 50) + 1).cast("int").as("p_size"),
      round(lit(900.0) + (pk % 200) * 0.1, 2).as("p_retailprice")), "part")
    val ok = col("o_orderkey")
    save(keys(spark, nOrd, "o_orderkey").select(ok,
      h(seed, 4, ok, 1, nCust).as("o_custkey"),
      pick(Seq("F", "O", "P"), h(seed, 4, ok, 2, 3)).as("o_orderstatus"),
      round(h(seed, 4, ok, 3, 49900000) / 100.0 + 1000.0, 2).as("o_totalprice"),
      ntz(h(seed, 4, ok, 4, 2404), "1995-01-01").as("o_orderdate"),
      pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"),
        h(seed, 4, ok, 5, 5)).as("o_orderpriority")), "orders")
    val lk = col("k")
    val qty = (h(seed, 5, lk, 4, 50) + 1).cast("double")
    save(keys(spark, nLine, "k").select(
      h(seed, 5, lk, 1, nOrd).as("l_orderkey"),
      h(seed, 5, lk, 2, nPart).as("l_partkey"),
      h(seed, 5, lk, 3, nSupp).as("l_suppkey"),
      (h(seed, 5, lk, 5, 7) + 1).cast("int").as("l_linenumber"),
      qty.as("l_quantity"),
      round(qty * (lit(900.0) + h(seed, 5, lk, 6, 120000) / 100.0), 2).as("l_extendedprice"),
      (h(seed, 5, lk, 7, 11) / 100.0).as("l_discount"),
      (h(seed, 5, lk, 8, 9) / 100.0).as("l_tax"),
      pick(Seq("A", "N", "R"), h(seed, 5, lk, 9, 3)).as("l_returnflag"),
      pick(Seq("F", "O"), h(seed, 5, lk, 10, 2)).as("l_linestatus"),
      ntz(h(seed, 5, lk, 11, 2498), "1995-01-02").as("l_shipdate")), "lineitem")
    val ek = col("event_id")
    // events arrive in id order over January 2024, a few seconds apart
    val micros = ek * lit(2592000000000L / math.max(1L, nEv)) + h(seed, 6, ek, 1, 2000000000L)
    save(keys(spark, nEv, "event_id").select(ek,
      timestamp_micros(lit(1704067200000000L) + micros).cast("timestamp_ntz").as("ts"),
      h(seed, 6, ek, 2, 15).as("user_id"),
      pick(Seq("click", "error", "purchase", "signup", "view"), h(seed, 6, ek, 3, 5)).as("event_type"),
      round(-log(lit(1.0) - (h(seed, 6, ek, 4, 9999) + 1) / 10001.0) * 50.0, 2).as("value"),
      format_string("{\"k\": %d}", h(seed, 6, ek, 5, 100)).as("props")), "events")
    // every 20th document repeats its predecessor's text plus " dup"
    val dk = col("doc_id")
    val src = (dk - when(dk % 20 === 7, lit(1L)).otherwise(lit(0L))).as("_src")
    val words = expr(
      s"transform(sequence(1, 8 + cast(pmod(xxhash64($seed, 7, _src, 1), 80) as int)), " +
        s"i -> element_at(array(${Vocab.map("'" + _ + "'").mkString(",")}), " +
        s"1 + cast(pmod(xxhash64($seed, 7, _src, i), ${Vocab.size}) as int)))")
    val docs = keys(spark, nDoc, "doc_id").select(dk, src)
      .withColumn("text", concat_ws(" ", words))
      .withColumn("text", when(dk % 20 === 7 && dk > 0, concat(col("text"), lit(" dup")))
        .otherwise(col("text")))
    save(docs.select(dk, col("text"),
      pick(Seq("de", "en", "en", "es", "fr", "zh"), h(seed, 7, dk, 2, 6)).as("lang"),
      concat(lit("src"), (dk % 20).cast("string")).as("source"),
      length(col("text")).cast("long").as("n_chars")), "documents")
    val vk = col("vec_id")
    val raw = expr(s"transform(sequence(0, 63), j -> " +
      s"(cast(pmod(xxhash64($seed, 8, vec_id, j), 2000001) as double) - 1000000.0) / 1000000.0)")
    save(keys(spark, nVec, "vec_id").withColumn("_v", raw)
      .withColumn("_n", sqrt(aggregate(col("_v"), lit(0.0), (a, x) => a + x * x)))
      .select(vk,
        transform(col("_v"), x => (x / col("_n")).cast("float")).as("embedding"),
        h(seed, 8, vk, 1, 10).cast("int").as("label")), "embeddings")
  }
}
