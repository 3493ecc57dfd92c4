package graft

import org.apache.spark.sql.SparkSession

/** Canonical session factory for the engine's entry points and tests.
  *
  * - `ansi.enabled=false`: the reference's cleaning semantics are
  *   pandas `errors='coerce'` — unparseable values degrade to NULL
  *   instead of erroring (SURVEY.md §2.2 P6, §2.9). Spark 4 defaults
  *   ANSI on, which would turn those data-quality paths into runtime
  *   failures.
  * - `shuffle.partitions` sized to the local core count, not 200 —
  *   on a real cluster this is AQE-coalesced anyway. Overridable via
  *   `SPARK_GRAFT_SHUFFLE_PARTITIONS` (a cluster deployment sets it to
  *   cores×2-3 across the fleet; AQE coalescing sizes the actual
  *   post-shuffle partitions to data, below).
  * - AQE on: runtime re-planning (skew joins, partition coalescing)
  *   is part of the 100 TB story.
  * - `coalescePartitions.minPartitionSize` stays at Spark's 1m
  *   default but is parameterised (`SPARK_GRAFT_MIN_PARTITION_BYTES`).
  *   AQE's coalesced partition target is max(min(shuffleBytes /
  *   parallelism, advisory), minPartitionSize). A 16m floor was
  *   measured slower (OPTIMIZATION_r20.md, item 1): fewer, bigger
  *   coalesced partitions of the cached stages serialize their
  *   consumers, and at small inputs reduce-side parallelism is worth
  *   more than per-task launch latency.
  * - `advisoryPartitionSizeInBytes` stays at Spark's 64m default but
  *   is parameterised (`SPARK_GRAFT_ADVISORY_BYTES`) — the knob a
  *   cluster deployment raises to 256m for multi-TB shuffles.
  * - GraftExtensions installed at build time — the cluster deployment
  *   path (`spark.sql.extensions=graft.GraftExtensions`): custom SQL
  *   functions, the as-of TVF/strategy/rules, and the RANGE_BIN hint
  *   rule are live in every session (and every `newSession()` child)
  *   with zero per-session registration. Note getOrCreate reuses an
  *   existing session and IGNORES withExtensions — in-process callers
  *   after a foreign builder get neither the analyzer hint rule nor
  *   the SQL functions; `AsOfJoinOps.asof` still installs the as-of
  *   strategy and rules at first use, and
  *   `AsOfJoinOps.registerSqlSurface` the `asof_join` TVF.
  */
object GraftSession {
  def build(appName: String, cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        sys.env.getOrElse("SPARK_GRAFT_MIN_PARTITION_BYTES", "1m"))
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        sys.env.getOrElse("SPARK_GRAFT_ADVISORY_BYTES", "64m"))
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
