package perfbench

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.operators.{DedupOps, PipelineOps}

/** `registry_sweep`: each op is one key of `graft.SparkEntry.queries`,
  * run to a noop sink with `DedupOps.releaseTransients` after it — the
  * timing body of `graft.Bench` — over generated tables.
  *
  * The untraced run sweeps a fixed slice of the registry: every
  * [[Stride]]-th key, in name order, of the keys that consume no pinned
  * stage, so one pass fits a run without the substrate. The traced run
  * also builds the substrate (shingle and gram memos and every pinned
  * stage) and runs every pinned-stage consumer once.
  */
object RegistrySweep {
  val Stride = 6
  private val ProgressEvery = 10

  /** Stage names reported one by one; any other stage is summed into
    * `substrate.other_s`.
    */
  val KnownStages: Seq[String] = Seq("shingle_memo", "gram_memo",
    "banded_rows", "minhash_cand", "cluster_labels", "base_labels", "base_keep",
    "simhash_sig", "jaccard_md5_cand", "neardup_cand", "bpe_merges", "tok_ids",
    "ftq_fv", "ftq_model", "ivf_rank2", "ivf_rank2_t", "ann_brute", "pq_codes",
    "pq_cbt", "pq_codes_t", "cents_t", "pqf_cb", "pqf_codes", "sem_asg",
    "sem_labels", "sem_blabels", "sem_bkeep", "win_sel", "win_kept", "win_ext", "packed")

  def slice: Seq[String] = {
    val others = SparkEntry.queries.keys.filterNot(DedupOps.PinnedStageConsumers).toSeq.sorted
    others.zipWithIndex.collect { case (k, i) if i % Stride == 0 => k }
  }

  /** Rotate `keys` by the seed, so each seed starts the sweep elsewhere. */
  def rotate(keys: Seq[String], seed: Long): Seq[String] = {
    val r = java.lang.Math.floorMod(seed, keys.size.toLong).toInt
    keys.drop(r) ++ keys.take(r)
  }

  private def runKey(spark: SparkSession, dir: String, key: String): Unit =
    SparkEntry.queries(key)(spark, dir).write.format("noop").mode("overwrite").save()

  /** One pass over `keys` as closed-loop ops, with progress on stderr. */
  private def sweep(ctx: Ctx, spark: SparkSession, dir: String, keys: Seq[String],
      label: String)(wrap: String => (=> Unit) => Unit): Int = {
    val t0 = System.nanoTime()
    var done = 0
    keys.foreach { key =>
      try ctx.op(key)(wrap(key)(runKey(spark, dir, key)))(_ => ())
      finally DedupOps.releaseTransients(spark)
      done += 1
      if (done % ProgressEvery == 0 || done == keys.size)
        System.err.println(f"[perfbench] $label: $done/${keys.size} keys, " +
          f"${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    done
  }

  private val plain: String => (=> Unit) => Unit = _ => body => body

  /** Per-key medians over every timed sample of the key. */
  private def perKeyMs(samples: Seq[(String, Double)]): Map[String, Double] =
    samples.groupBy(_._1).map { case (k, xs) => k -> Stats.median(xs.map(_._2)) }

  def run(ctx: Ctx): Seq[(String, Double)] = {
    val o = ctx.opts
    val dir = s"${o.work}/registry_in"
    ctx.repeatedSetup(if (o.trace) 1 else 3)(TpchLite.write(ctx.session(), o.seed, dir))
    val spark = ctx.session()
    val keys = rotate(slice, o.seed)
    // untimed warm-up pass in name order, for the same reason as
    // etl_dirty's: cold keys cost about twice warm ones
    sweep(ctx, spark, dir, slice, "warm-up")(plain)
    ctx.resetOps()
    ctx.setupDone()

    if (!o.trace) {
      // whole passes only, so every key has the same weight in the run
      val passes = ctx.loop(o.seconds)(_ => sweep(ctx, spark, dir, keys, "sweep")(plain))
      return ctx.endToEnd(passes * keys.size)
    }

    sweep(ctx, spark, dir, keys, "untraced pass")(plain)
    val untraced = perKeyMs(ctx.latencies.toSeq)
    val probe = SparkProbe.attach(spark)
    val tr = ctx.tracer
    val t0 = System.nanoTime()
    val stages: Seq[(String, Double)] = tr.span("substrate") {
      DedupOps.clearCaches(spark)
      def timed(name: String)(f: => Unit) = name -> tr.span(s"substrate.$name") {
        val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9
      }
      Seq(timed("shingle_memo")(DedupOps.materializeSubstrate(spark, dir)),
        timed("gram_memo")(PipelineOps.materializeGramSubstrate(spark, dir))) ++
        tr.span("substrate.pinned")(DedupOps.materializePinnedStages(spark, dir))
    }
    val consumers = rotate(DedupOps.PinnedStageConsumers.toSeq.sorted, o.seed)
    val before = ctx.latencies.size
    def traced(key: String): (=> Unit) => Unit = body => tr.span(s"key.$key")(body)
    tr.span("registry.stage_consumers")(sweep(ctx, spark, dir, consumers, "stage consumers")(traced))
    tr.span("registry.other")(sweep(ctx, spark, dir, keys, "traced pass")(traced))
    val wall = (System.nanoTime() - t0) / 1e9
    val tracedMs = ctx.latencies.drop(before).toSeq
    val sliceTraced = perKeyMs(tracedMs.filter(s => untraced.contains(s._1)))
    val counters = probe.totals(spark)
    val ops = tracedMs.size
    val (known, other) = stages.partition(s => KnownStages.contains(s._1))
    Seq(
      "op_p50_ms" -> Stats.median(untraced.values.toSeq),
      "op_mean_ms" -> Stats.mean(untraced.values.toSeq),
      "op_p90_ms" -> Stats.quantile(untraced.values.toSeq, 0.9),
      "peak_rss_mb" -> Proc.peakRssMb(),
      "trace.overhead_ratio" -> sliceTraced.values.sum / untraced.values.sum,
      "substrate_s" -> stages.map(_._2).sum,
      "substrate.other_s" -> other.map(_._2).sum,
      "registry.pass_s" -> tracedMs.map(_._2).sum / 1e3,
      "registry.stage_consumers_s" -> tr.medianSeconds("registry.stage_consumers"),
      "registry.other_s" -> tr.medianSeconds("registry.other"),
      "registry.key_p50_ms" -> Stats.median(tracedMs.map(_._2)),
      "registry.key_p90_ms" -> Stats.quantile(tracedMs.map(_._2), 0.9)) ++
      known.map { case (name, s) => s"substrate.${name}_s" -> s } ++
      SparkProbe.metrics(counters, counters.planMs, ops, wall, ctx.cores)
  }
}
