package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Command-line options, as run.py passes them. */
final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
    work: String, out: String, source: String)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(get("workload"), get("seed").toLong, get("seconds").toDouble, get("trace") == "1",
      get("work"), get("out"), m.getOrElse("source", "unknown"))
  }
}

/** State of one benchmark run: the closed-loop op accounting, the
  * set-up clock and the traced run's recorder.
  */
final class Ctx(val opts: Opts) {
  val cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0
  var failed = 0
  /** Name and wall latency (ms) of each op that passed its check. */
  val latencies = mutable.ArrayBuffer.empty[(String, Double)]
  var cpuSeconds = 0.0
  private var setupRepeats = Seq.empty[Double]
  private var setupSeconds = Double.NaN

  def session(): SparkSession = graft.GraftSession.build("perfbench", cores.toString)

  val tracer = new Tracer(() => session())

  def fail(what: String, e: Throwable): Unit = {
    failures += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
    System.err.println(s"[perfbench] FAILED $what: $e")
  }

  /** Run the part of set-up that can repeat `n` times; the median
    * replaces the summed time in setup_s.
    */
  def repeatedSetup[T](n: Int)(body: => T): T = {
    session() // the session starts once, outside the repeated part
    val runs = (0 until n).map { _ =>
      val t0 = System.nanoTime()
      val r = body
      ((System.nanoTime() - t0) / 1e9, r)
    }
    setupRepeats = runs.map(_._1)
    System.err.println(s"[perfbench] repeated set-up: ${runs.map(r => f"${r._1}%.2f").mkString(" ")} s")
    runs.last._2
  }

  /** Set-up ends here: process start to the first timed op, with the
    * repeated part counted once at its median.
    */
  def setupDone(): Unit = {
    val repeated = if (setupRepeats.isEmpty) 0.0 else setupRepeats.sum - Stats.median(setupRepeats)
    setupSeconds = Proc.uptimeSeconds() - repeated
    System.err.println(f"[perfbench] set-up ${setupSeconds}%.2f s")
  }
  def setup: Double = setupSeconds

  /** One closed-loop op: `body` is timed (wall and process CPU), then
    * `verify` checks its output untimed. A throw in either fails the op.
    */
  def op[T](name: String)(body: => T)(verify: T => Unit): Option[T] = {
    attempted += 1
    val c0 = Proc.cpuSeconds()
    val t0 = System.nanoTime()
    val r = try Some(body) catch { case e: Throwable => fail(name, e); None }
    val ms = (System.nanoTime() - t0) / 1e6
    val cpu = Proc.cpuSeconds() - c0
    r.flatMap { v =>
      try { verify(v); latencies += name -> ms; cpuSeconds += cpu; Some(v) }
      catch { case e: Throwable => fail(name, e); None }
    }.orElse { failed += 1; None }
  }

  /** Forget the ops so far (a warm-up made of ops); their failures stay. */
  def resetOps(): Unit = {
    latencies.clear(); attempted = 0; failed = 0; cpuSeconds = 0.0
  }

  /** Run `step` until `seconds` have passed, at least `min` times. */
  def loop(seconds: Double, min: Int = 1)(step: Int => Unit): Int = {
    val t0 = System.nanoTime()
    var i = 0
    while (i < min || (System.nanoTime() - t0) / 1e9 < seconds) { step(i); i += 1 }
    i
  }

  /** The end-to-end metrics every untraced run reports, over `ops` ops.
    * Wall latency is not among them: on a shared host a few percent of
    * CPU steal stretches the scheduling-bound registry keys by a third,
    * while process CPU time and the live heap stay steady. The traced
    * run reports the wall latencies as per-layer metrics.
    */
  def endToEnd(ops: Int): Seq[(String, Double)] = Seq(
    "cpu_s_per_op" -> cpuSeconds / math.max(1, ops),
    "live_heap_mb" -> Proc.liveHeapMb(),
    "setup_s" -> setup)
}

object Main {
  private def host(spark: SparkSession, o: Opts, cores: Int): String = {
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    val gc = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    Json.obj(Seq(
      "nproc" -> Runtime.getRuntime.availableProcessors().toString,
      "mem_total" -> Json.str(Proc.memTotalKb()),
      "jvm" -> Json.str(s"${rt.getVmName} ${System.getProperty("java.version")}"),
      "gc" -> Json.str((0 until gc.size).map(i => gc.get(i).getName).mkString(", ")),
      "jvm_args" -> Json.str((0 until rt.getInputArguments.size)
        .map(rt.getInputArguments.get).filter(a => a.startsWith("-X")).mkString(" ")),
      "jvm_heap_max_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "spark" -> Json.str(spark.version),
      "master" -> Json.str(spark.sparkContext.master),
      "spark_graft_cpus" -> Json.str(sys.env.getOrElse("SPARK_GRAFT_CPUS", "")),
      "cores_used" -> cores.toString,
      "source" -> Json.str(o.source)))
  }

  /** Run one workload; the run is correct when no op or check failed. */
  def runWorkload(o: Opts): (Ctx, Seq[(String, Double)], Boolean) = {
    val ctx = new Ctx(o)
    Files.createDirectories(Paths.get(o.work))
    val workload: Ctx => Seq[(String, Double)] = o.workload match {
      case "etl_dirty" => EtlDirty.run
      case "registry_sweep" => RegistrySweep.run
      case w => sys.error(s"unknown workload $w")
    }
    val metrics =
      try workload(ctx)
      catch { case e: Throwable =>
        ctx.fail("run", e); e.printStackTrace(); Seq.empty
      }
    (ctx, metrics, ctx.failures.isEmpty && ctx.attempted > 0 && metrics.nonEmpty)
  }

  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val load0 = Proc.loadAvg1()
    val steal0 = Proc.stealJiffies()
    val (ctx, measured, correct) = runWorkload(o)
    val steal1 = Proc.stealJiffies()
    val steal = (steal1._1 - steal0._1).toDouble / math.max(1L, steal1._2 - steal0._2)
    val metrics = if (o.trace) measured :+ ("host.cpu_steal_frac" -> steal) else measured
    val spark = ctx.session()
    val json = Json.obj(Seq(
      "workload" -> Json.str(o.workload), "seed" -> o.seed.toString,
      "trace" -> (if (o.trace) "1" else "0"), "seconds" -> Json.num(o.seconds),
      "correct" -> correct.toString,
      "attempted" -> ctx.attempted.toString, "failed" -> ctx.failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, v) => k -> Json.num(v) }),
      "host" -> host(spark, o, ctx.cores),
      "load_1m_start" -> Json.num(load0), "load_1m_end" -> Json.num(Proc.loadAvg1()),
      "cpu_steal_frac" -> Json.num(steal),
      "failures" -> Json.arr(ctx.failures.toSeq.map(Json.str)),
      "ops" -> Json.arr(ctx.latencies.toSeq.map { case (k, ms) => Json.arr(Seq(Json.str(k), Json.num(ms))) }),
      "spans" -> (if (o.trace) ctx.tracer.toJson else "[]")))
    Files.write(Paths.get(o.out), json.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
