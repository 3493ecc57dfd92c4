package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region of a traced run. `parent` is -1 for a root span. */
final case class Span(id: Int, name: String, parent: Int, op: Int, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Spans are recorded from the benchmark's own
  * code around calls into the program's public functions; they are kept
  * in memory and written out with the result at the end of the run.
  *
  * While a span is open its id is the Spark local property
  * [[Tracer.SpanProperty]], so [[SparkProbe]] can attribute every job
  * the span submits to it.
  */
final class Tracer(spark: () => SparkSession) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Int, String, Long)] = Nil
  private var nextId = 0
  var op: Int = -1

  private def setProperty(v: String): Unit =
    spark().sparkContext.setLocalProperty(Tracer.SpanProperty, v)

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.map(_._1).getOrElse(-1)
    stack = (id, name, System.nanoTime()) :: stack
    setProperty(id.toString)
    try body
    finally {
      val (_, _, t0) = stack.head
      stack = stack.tail
      done += Span(id, name, parent, op, t0, System.nanoTime())
      // the session may have been replaced inside the span
      setProperty(stack.headOption.map(_._1.toString).orNull)
    }
  }

  def spans: Seq[Span] = done.toSeq.sortBy(_.id)

  /** Ids of `root` and every span below it. */
  def subtree(root: Int): Set[Int] = {
    val children = spans.groupBy(_.parent)
    def walk(id: Int): Seq[Int] = id +: children.getOrElse(id, Nil).flatMap(s => walk(s.id))
    walk(root).toSet
  }

  /** A span's duration minus the part of it its children cover. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    val covered = kids.foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
      val from = math.max(a, reach)
      if (b > from) (sum + (b - from), b) else (sum, reach)
    }._1
    ((s.endNs - s.startNs) - covered) / 1e9
  }

  /** Median duration of the named span over the traced ops, 0 if the
    * span never opened in this run.
    */
  def medianSeconds(name: String): Double = {
    val xs = spans.filter(_.name == name).map(_.seconds)
    if (xs.isEmpty) 0.0 else Stats.median(xs)
  }

  def toJson: String = Json.arr(spans.map { s =>
    Json.obj(Seq("id" -> s.id.toString, "name" -> Json.str(s.name),
      "parent" -> s.parent.toString, "op" -> s.op.toString,
      "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString,
      "self_s" -> Json.num(selfSeconds(s))))
  })
}

object Tracer {
  val SpanProperty = "perfbench.span"
}

/** Engine counters, summed over a run and per span. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var execRunMs = 0L
  var execCpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var planMs = 0.0
  val sqlExecutions: mutable.Set[String] = mutable.Set.empty

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    execRunMs += o.execRunMs; execCpuNs += o.execCpuNs; gcMs += o.gcMs
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleReadBytes += o.shuffleReadBytes
    spillBytes += o.spillBytes; inputBytes += o.inputBytes
    planMs += o.planMs; sqlExecutions ++= o.sqlExecutions
  }
}

/** A SparkListener plus a QueryExecutionListener that the benchmark
  * registers on each session it traces. Jobs, stages and tasks are
  * attributed to the span that was open when the job was submitted.
  */
final class SparkProbe extends SparkListener with QueryExecutionListener {
  private val total = new Counters
  private val perSpan = mutable.Map.empty[Int, Counters]
  private val stageSpan = mutable.Map.empty[Int, Int]

  private def forSpan(id: Int): Counters = perSpan.getOrElseUpdate(id, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
      .map(_.toInt).getOrElse(-1)
    e.stageIds.foreach(stageSpan(_) = span)
    total.jobs += 1
    val c = forSpan(span)
    c.jobs += 1
    props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).foreach(c.sqlExecutions += _)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    total.stages += 1
    forSpan(stageSpan.getOrElse(e.stageInfo.stageId, -1)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val cs = Seq(total, forSpan(stageSpan.getOrElse(e.stageId, -1)))
    cs.foreach { c =>
      c.tasks += 1
      if (m != null) {
        c.execRunMs += m.executorRunTime
        c.execCpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.inputBytes += m.inputMetrics.bytesRead
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planned(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    planned(qe)

  /** Analysis, optimization and planning time from the query's tracker. */
  private def planned(qe: QueryExecution): Unit = synchronized {
    val ms = qe.tracker.phases.values.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum
    total.planMs += ms
  }

  def totals(spark: SparkSession): Counters = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    synchronized { val c = new Counters; c.add(total); c }
  }

  /** Counters summed over the given spans. */
  def forSpans(spark: SparkSession, ids: Set[Int]): Counters = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    synchronized {
      val c = new Counters
      ids.foreach(i => perSpan.get(i).foreach(c.add))
      c
    }
  }
}

object SparkProbe {
  /** Attach a fresh probe to `spark`. */
  def attach(spark: SparkSession): SparkProbe = {
    val p = new SparkProbe
    spark.sparkContext.addSparkListener(p)
    spark.listenerManager.register(p)
    p
  }

  /** Engine metrics for a traced run, per traced op. Planning time is
    * not attributable to a span, so the caller passes the run's total;
    * `wallSeconds` is the traced ops' wall time, for the busy-core
    * fraction.
    */
  def metrics(c: Counters, planMs: Double, ops: Int, wallSeconds: Double,
      cores: Int): Seq[(String, Double)] = {
    val n = math.max(1, ops).toDouble
    Seq(
      "spark.jobs" -> c.jobs / n,
      "spark.stages" -> c.stages / n,
      "spark.tasks" -> c.tasks / n,
      "spark.exec_run_s" -> c.execRunMs / 1e3 / n,
      "spark.exec_cpu_s" -> c.execCpuNs / 1e9 / n,
      "spark.gc_s" -> c.gcMs / 1e3 / n,
      "spark.shuffle_write_mb" -> c.shuffleWriteBytes / 1e6 / n,
      "spark.shuffle_read_mb" -> c.shuffleReadBytes / 1e6 / n,
      "spark.spill_mb" -> c.spillBytes / 1e6 / n,
      "spark.plan_ms" -> planMs / n,
      "spark.busy_core_frac" ->
        (if (wallSeconds > 0) c.execRunMs / 1e3 / (wallSeconds * cores) else 0.0))
  }
}
