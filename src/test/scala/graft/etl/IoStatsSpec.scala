package graft.etl

import java.time.LocalDate

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.SalesIo

/** Format round-trips (parquet/orc/json/csv) for the cleaned tables
  * and the audit-stats operators.
  */
class IoStatsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.GraftSession.build("io-stats-spec", "4")

  lazy val cleaned: SalesPipeline.Cleaned = SalesPipeline.loadBoundary(
    SalesPipeline.run(spark, "/root/reference/bases-de-dados", LocalDate.of(2025, 8, 27)))

  test("produtos round-trips through parquet, orc, json, csv") {
    val base = cleaned.produtos.orderBy("id_produto").collect().map(_.toSeq).toSeq
    Seq("parquet", "orc", "json", "csv").foreach { fmt =>
      val dir = s"/tmp/graft_io_rt/$fmt"
      SalesIo.write(cleaned.produtos, fmt, dir)
      val back = SalesIo.read(spark, fmt, dir, Some(cleaned.produtos.schema))
        .orderBy("id_produto").collect().map(_.toSeq).toSeq
      assert(back === base, s"round-trip mismatch for $fmt")
    }
  }

  test("file-existence guard raises like the reference") {
    intercept[java.io.FileNotFoundException] {
      SalesIo.requireFile(spark, "/nonexistent/produtos.csv")
    }
    SalesIo.requireFile(spark, "/root/reference/bases-de-dados/produtos.csv")
  }

  test("profile reports rows/nulls/mean/median per column") {
    val p = EtlStats.profile(cleaned.empregados).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(p.keySet === Set("id_empregado", "nome", "cargo", "idade"))
    assert(p("idade").getLong(1) === 100L)       // n_rows
    assert(p("idade").getLong(3) === 0L)         // n_null post-cleaning
    assert(!p("idade").isNullAt(4) && !p("idade").isNullAt(5))
    assert(p("nome").isNullAt(4))                // no mean for strings
  }

  test("value counts match the reference's cargo distribution shape") {
    val vc = EtlStats.valueCounts(cleaned.empregados, "cargo").collect()
    assert(vc.map(_.getLong(1)).sum === 100L)
    assert(vc.map(_.getLong(1)).toSeq === vc.map(_.getLong(1)).toSeq.sortBy(-_))
  }

  test("imputation summary counts the vendas date methods") {
    val full = SalesPipeline.run(spark, "/root/reference/bases-de-dados",
      LocalDate.of(2025, 8, 27))
    val s = EtlStats.imputationSummary(full.vendas, "data_imputada", "metodo_imputacao")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // reference log: 100 imputed dates, all mediana_empregado
    assert(s === Map("mediana_empregado" -> 100L))
  }
}
