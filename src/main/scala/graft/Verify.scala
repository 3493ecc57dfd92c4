package graft
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Optional extra args name specific queries (dev iteration: dump +
  * check one operator without sweeping every SparkEntry.Registry row);
  * the dumped oracle_sql.json is restricted to the selection so
  * scripts/check.py checks exactly what was dumped. The driver's 2-arg
  * call is the full sweep, unchanged.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // legacy key names bridge through scripts/renames.json (stderr
    // notes which); results dump under the LIVE name either way
    val only = args.drop(2).toSet.map((n: String) =>
      SparkEntry.resolveName(n).getOrElse(n))
    // fail fast on a typo'd query name: an empty selection would dump
    // nothing and write an empty oracle_sql.json — a dev iteration that
    // "passes" on zero checks
    val unknown = only -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
    val selected =
      if (only.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (n, _) => only(n) }
    // recursive delete, children before their directory
    def deleteTree(root: Path): Unit = {
      val walk = Files.walk(root)
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      finally walk.close()
    }
    val spark = GraftSession.build("graft-verify")
    new java.io.File(outDir).mkdirs()
    // full sweep into a reused outDir: drop stale result dirs from
    // renamed/removed registry keys, or the compare would keep
    // "passing" a query that no longer exists
    if (only.isEmpty) {
      val live = SparkEntry.queries.keySet
      Option(new java.io.File(outDir).listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && !live(f.getName))
        // only dirs that LOOK like prior Verify outputs (parquet write
        // markers) — pointing Verify at a directory holding anything
        // else must not destroy it; everything removed is logged
        .filter(stale => Option(stale.listFiles()).getOrElse(Array.empty)
          .exists(c => c.getName == "_SUCCESS" || c.getName.endsWith(".parquet")))
        .foreach { stale =>
          System.err.println(s"[verify] removing stale result dir: $stale")
          deleteTree(stale.toPath)
        }
    }
    selected.foreach { case (name, fn) =>
      // clear any previous run's output first: a query that now throws
      // must not leave stale parquet behind for the gate to "pass" on
      val dest = Paths.get(s"$outDir/$name")
      if (Files.exists(dest)) deleteTree(dest)
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // release per-call transients (persisted candidate sets, the
      // iterative operators' localCheckpoint blocks) between queries —
      // mirroring Bench/TimeQuery: accumulated blocks across a 90+
      // query dump measurably slow the later queries. The memoized
      // substrate stays pinned (it is shared, and tracked separately).
      graft.operators.DedupOps.releaseTransients(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.isEmpty || only(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
