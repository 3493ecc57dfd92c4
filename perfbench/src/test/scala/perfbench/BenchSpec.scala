package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.SalesPipeline

/** The benchmark's own checks: the generator at the reference
  * fixture's size (about 1.3k raw rows), each workload at its own.
  */
class BenchSpec extends AnyFunSuite {
  private val root = Paths.get(sys.props.getOrElse("perfbench.root", ".."))
  private val scratch = Files.createDirectories(
    Paths.get(sys.props("java.io.tmpdir")).resolve("perfbench-spec"))

  private def spark: SparkSession = graft.GraftSession.build("perfbench-spec", "4")
  private def dir(name: String): String = {
    val d = scratch.resolve(name)
    Fs.deleteTree(d)
    d.toString
  }

  private def csvBytes(d: String): Seq[Array[Byte]] =
    Seq("produtos", "vendas", "empregados").flatMap(t =>
      Fs.partFiles(Paths.get(s"$d/$t.csv")).map(Files.readAllBytes))

  test("the same seed gives byte-identical CSVs, another seed different ones") {
    val (a, b, c) = (dir("seed-a"), dir("seed-b"), dir("seed-c"))
    DirtySales.writeDirty(spark, 7, DirtySales.Fixture, a)
    DirtySales.writeDirty(spark, 7, DirtySales.Fixture, b)
    DirtySales.writeDirty(spark, 8, DirtySales.Fixture, c)
    val (ba, bb, bc) = (csvBytes(a), csvBytes(b), csvBytes(c))
    assert(ba.size == 3)
    assert(ba.zip(bb).forall { case (x, y) => java.util.Arrays.equals(x, y) })
    assert(!ba.zip(bc).forall { case (x, y) => java.util.Arrays.equals(x, y) })
  }

  test("planted counts equal the counts observed through treat") {
    val d = dir("planted")
    val p = DirtySales.writeDirty(spark, 11, DirtySales.Fixture, d)
    assert(p.vendasRaw + p.produtosRaw + p.empregadosRaw > 1200)
    Seq(p.dateEmployeeMedian, p.dateGlobalMedian, p.dateMalformed, p.agesImputed,
      p.agesClamped, p.idsBackfilled, p.unitValueGlobal).foreach(n => assert(n > 0))
    val c = SalesPipeline.run(spark, d, java.time.LocalDate.parse(EtlDirty.RefDate))
    assert(c.produtos.count() == p.produtosClean)
    assert(c.vendas.count() == p.vendasClean)
    assert(c.empregados.count() == p.empregadosClean)
    val seen = EtlDirty.observe(c, p)
    assert(EtlDirty.matches(seen, p), s"$seen vs $p")
  }

  test("traced and untraced etl passes write identical outputs") {
    val in = dir("hash-in")
    DirtySales.writeDirty(spark, 13, DirtySales.Fixture, in)
    val (plain, traced) = (dir("hash-plain"), dir("hash-traced"))
    EtlDirty.runMain(in, plain)
    val s = spark
    val (cleaned, bc) = EtlDirty.tracedMain(s, new Tracer(() => s), in, traced)
    Seq(cleaned, bc).foreach(x => Seq(x.produtos, x.vendas, x.empregados).foreach(_.unpersist()))
    assert(EtlDirty.outputHash(s, plain) == EtlDirty.outputHash(s, traced))
  }

  private val declared: Map[Boolean, Set[String]] = {
    val text = Files.readString(root.resolve("BENCHMARK.json"))
    def names(section: String): Set[String] = {
      val start = text.indexOf("\"" + section + "\"")
      val end = text.indexOf("]", start)
      "\"name\":\\s*\"([^\"]+)\"".r.findAllMatchIn(text.substring(start, end)).map(_.group(1)).toSet
    }
    Map(false -> names("end_to_end"), true -> names("per_layer"))
  }

  for (w <- Seq("etl_dirty", "registry_sweep"); trace <- Seq(false, true))
    test(s"$w (trace=$trace) is correct and emits only declared metric names") {
      val o = Opts(w, 5, 0.1, trace, dir(s"run-$w-$trace"), "", "test")
      val (ctx, metrics, correct) = Main.runWorkload(o)
      assert(correct, ctx.failures.mkString("; "))
      val names = metrics.map(_._1)
      assert(names.distinct.size == names.size)
      names.foreach(n => assert(n.matches("[A-Za-z0-9_.-]+") && n.length <= 64, n))
      assert(names.toSet.subsetOf(declared(trace)), names.toSet -- declared(trace))
      if (!trace) assert(names.toSet == declared(false))
      assert(metrics.forall(m => !m._2.isNaN), metrics)
    }
}
