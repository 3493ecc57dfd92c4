package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.EmbeddingOps

/** The custom codegen'd CosineSimilarity must be bitwise-equal to the
  * composed built-in form (zip_with + aggregate) — same index-order
  * accumulation — both as Column API and as a registered SQL function,
  * in codegen and interpreted paths.
  */
class VectorExprsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.GraftSession.build("vector-exprs-spec", "4")
  val sf = "/root/testdata/sf0.001"

  test("native cosine == composed cosine, bitwise, on real embeddings") {
    import spark.implicits._
    val base = graft.sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
    val a = base.select(col("vec_id").as("ia"), col("v").as("va"))
    val b = base.select(col("vec_id").as("ib"), col("v").as("vb"))
    val pairs = a.join(b, col("ia") < col("ib")).limit(5000)
    val diff = pairs.select(
      EmbeddingOps.cosine(col("va"), col("vb")).as("composed"),
      VectorExprs.cosineSim(col("va"), col("vb")).as("native"))
      .filter(col("composed") =!= col("native"))
      .count()
    assert(diff === 0L)
  }

  test("registered SQL function works and agrees") {
    graft.sources.Tables.embeddings(spark, sf).createOrReplaceTempView("emb")
    val r = spark.sql(
      """SELECT cosine_sim(
           transform(a.embedding, x -> CAST(x AS DOUBLE)),
           transform(b.embedding, x -> CAST(x AS DOUBLE))) AS c
         FROM emb a JOIN emb b ON a.vec_id = 0 AND b.vec_id = 1""").collect()
    assert(r.length === 1 && math.abs(r.head.getDouble(0)) <= 1.0)
  }

  test("null and type mismatches are rejected or null, not wrong") {
    import spark.implicits._
    val df = Seq((Seq(1.0, 2.0), Option.empty[Seq[Double]])).toDF("a", "b")
    val out = df.select(VectorExprs.cosineSim(col("a"), col("b"))).collect()
    assert(out.head.isNullAt(0))
    val bad = Seq((1, "x")).toDF("a", "b")
    intercept[Exception] {
      bad.select(VectorExprs.cosineSim(col("a"), col("b"))).collect()
    }
  }

  test("native ANN query equals composed ANN query") {
    val composed = EmbeddingOps.annBruteTopK(spark, sf).collect().toSeq
    val native = EmbeddingOps.annBruteTopKNative(spark, sf).collect().toSeq
    assert(composed === native)
  }
}
