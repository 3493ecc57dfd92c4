package graft

/** Dev tool: time individual registered queries (noop sink, n runs)
  * without paying for the whole Bench sweep. Usage:
  *
  *   sbt "runMain graft.TimeQuery <sfDir> <query> [query ...]"
  *
  * Prints per-run seconds; transient caches are released between runs
  * and the pinned dedup substrate is materialized up front — the same
  * steady-state accounting as Bench, so numbers here compare against
  * the committed floors (Bench reports the substrate separately as
  * `_substrate`).
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    // resolve legacy names up front so the stage warm-up check below
    // sees live keys
    val names = (if (args.length > 1) args.drop(1).toSeq else Seq.empty)
      .map(n => SparkEntry.resolveName(n).getOrElse(n))
    val iters = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt)
    val spark = GraftSession.build("graft-time-query")
    // only pre-build the (expensive) pinned stage frames when a
    // requested query actually consumes one — timing `scalars` should
    // not pay a ~30 s dedup-stage warm-up. The consumer set
    // (DedupOps.PinnedStageConsumers) derives from the stage table's
    // rows (DedupOps.PinnedStages).
    try {
      graft.operators.DedupOps.materializeSubstrate(spark, dir)
      if (names.exists(graft.operators.DedupOps.PinnedStageConsumers))
        graft.operators.DedupOps.materializePinnedStages(spark, dir)
    } catch { case e: Throwable =>
      System.err.println(s"[time] substrate skipped: ${e.getMessage}")
    }
    names.foreach { n =>
      val fn = SparkEntry.query(n).getOrElse(
        sys.error(s"unknown query '$n' (not a live key and not in scripts/renames.json)"))
      val runs = (1 to iters).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, dir).write.format("noop").mode("overwrite").save()
        val t = (System.nanoTime() - t0) / 1e9
        graft.operators.DedupOps.releaseTransients(spark)
        t
      }
      println(f"[time] $n: ${runs.map(v => f"$v%.2f").mkString(" ")} s")
    }
    spark.stop()
  }
}
