package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

object Stats {
  /** Linear-interpolation quantile (numpy's default), q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = xs.sum / xs.length
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}

/** Process-level probes read from the JVM and from procfs. */
object Proc {
  private lazy val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds used by this process, all threads. */
  def cpuSeconds(): Double = os.getProcessCpuTime / 1e9

  /** Seconds since this JVM started. */
  def uptimeSeconds(): Double = ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  private def procField(file: String, key: String): Option[String] =
    try {
      val lines = Files.readAllLines(Paths.get(file), StandardCharsets.UTF_8)
      (0 until lines.size).map(lines.get).find(_.startsWith(key))
        .map(_.substring(key.length).trim)
    } catch { case _: java.io.IOException => None }

  /** Peak resident set size (VmHWM) in MB. */
  def peakRssMb(): Double =
    procField("/proc/self/status", "VmHWM:")
      .map(_.stripSuffix("kB").trim.toDouble / 1024.0).getOrElse(Double.NaN)

  /** Heap still reachable at the end of the run: used heap after a full
    * collection. Unlike peak RSS it does not depend on when the
    * collector ran, so it is steady enough to bound.
    */
  def liveHeapMb(): Double = {
    // twice, with a pause: Spark releases unpersisted blocks and
    // weakly-held state asynchronously
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def memTotalKb(): String = procField("/proc/meminfo", "MemTotal:").getOrElse("unknown")

  /** (steal, total) jiffies of all CPUs so far: the share of time the
    * hypervisor gave this machine's CPUs to someone else.
    */
  def stealJiffies(): (Long, Long) =
    procField("/proc/stat", "cpu ").map { line =>
      val v = line.split("\\s+").map(_.toLong)
      (if (v.length > 7) v(7) else 0L, v.sum)
    }.getOrElse((0L, 0L))

  def loadAvg1(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+")(0).toDouble
    catch { case _: Exception => Double.NaN }
}

/** An output check: a failed one fails the op it belongs to. */
object Check {
  def apply(cond: Boolean, what: => String): Unit =
    if (!cond) throw new IllegalStateException(s"output check failed: $what")
}

object Fs {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally s.close()
    }

  /** Data files of a Spark output directory, in name order. */
  def partFiles(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try {
      val it = s.iterator()
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .filter(f => f.getFileName.toString.startsWith("part-")).toSeq.sortBy(_.toString)
    } finally s.close()
  }
}
