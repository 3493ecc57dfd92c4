package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Data-profiling and constraint-validation operators — the "is this
  * table what I think it is" utilities every warehouse grows: a
  * one-scan column profiler and a declarative DQ check suite. Both
  * return small long-format summaries (rows ∝ columns/checks, never
  * data), so their output is driver-safe at any corpus scale.
  */
object QualityOps {

  /** Exact column profiler for `orders`: per column, row count, null
    * count, exact distinct count, and min/max (numerics as double;
    * strings lexicographic — min/max are selections, not arithmetic,
    * so they're engine-exact). TWO hash-based aggregation passes
    * joined on their 1-row results, NOT one combined aggregate: the
    * multi-distinct rewrite (one Expand + partial aggregation,
    * regardless of column count) runs alone so its counts-only
    * buffers stay HashAggregate-able, and the min/max/null pass runs
    * alone as an ObjectHashAggregate. MIXING them forces the planner
    * to SortAggregate — string min/max buffers are immutable, so the
    * whole ×columns-expanded stream gets globally SORTED twice
    * (measured 3.1 s → 0.5 s at sf0.1, 17 s at 10×; the same
    * split-the-aggregate lesson as sk_distinct). Timestamps profile
    * as epoch seconds.
    */
  def profileTable(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .withColumn("od_sec", TimeSeriesOps.epochSecExpr("o_orderdate"))
    val num = Seq("o_orderkey", "o_custkey", "o_totalprice", "od_sec")
    val str = Seq("o_orderstatus", "o_orderpriority")
    val dAggs = (num ++ str).map(c => countDistinct(col(c)).as(s"${c}__distinct"))
    val distincts = o.agg(dAggs.head, dAggs.tail: _*)
    val oAggs = (num ++ str).flatMap { c =>
      Seq(
        count(lit(1)).as(s"${c}__n"),
        count(when(col(c).isNull, lit(1))).as(s"${c}__nulls")) ++
        (if (num.contains(c))
           Seq(min(col(c)).cast("double").as(s"${c}__min_num"),
             max(col(c)).cast("double").as(s"${c}__max_num"))
         else
           Seq(min(col(c)).as(s"${c}__min_str"),
             max(col(c)).as(s"${c}__max_str")))
    }
    val wide = o.agg(oAggs.head, oAggs.tail: _*).crossJoin(distincts)
    val rows = (num ++ str).map { c =>
      val isNum = num.contains(c)
      struct(
        lit(c).as("col_name"),
        col(s"${c}__n").as("n"),
        col(s"${c}__nulls").as("n_null"),
        col(s"${c}__distinct").as("n_distinct"),
        (if (isNum) col(s"${c}__min_num") else lit(null).cast("double")).as("min_num"),
        (if (isNum) col(s"${c}__max_num") else lit(null).cast("double")).as("max_num"),
        (if (isNum) lit(null).cast("string") else col(s"${c}__min_str")).as("min_str"),
        (if (isNum) lit(null).cast("string") else col(s"${c}__max_str")).as("max_str"))
    }
    wide.select(explode(array(rows: _*)).as("p"))
      .select("p.*")
      .orderBy("col_name")
  }

  /** Order-independent table content fingerprint, per return flag:
    * the migration/transfer-validation tool — run it on both sides of
    * a copy (cluster→cluster, format migration, backfill) and compare
    * small signatures instead of data. Each row hashes to 60 bits
    * (md5-prefix, the engine-shared DedupOps.tokenHash scheme over a
    * '|'-joined tuple of integer/flag columns — no floats, whose
    * string forms are engine-divergent) and the group signature is the
    * XOR plus the exact 38-digit decimal SUM of row hashes: both are
    * commutative/associative, so ANY partitioning, row order, or
    * merge tree yields identical signatures — and the pair is
    * stronger than either alone (XOR cancels even multiplicities,
    * SUM catches them). One partial-aggregated pass; constant bytes
    * per group cross the wire at any corpus size.
    */
  def tableChecksum(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    Tables.lineitem(spark, dir)
      .withColumn("h", DedupOps.tokenHash(concat_ws("|",
        col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_returnflag"), col("l_linestatus"))))
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n_rows"),
        expr("bit_xor(h)").as("xor_sig"),
        // the sum ships as a STRING: it is a signature, not a number,
        // and 22-digit decimals degrade to float through both engines'
        // pandas bridges (observed: value-identical sums hash-mismatch
        // as 1.14e+22). Strings survive every bridge exactly.
        sum(col("h").cast(DecimalType(38, 0))).cast("string").as("sum_sig"))
      .orderBy("l_returnflag")
  }

  /** The APPROX profiler's one-pass aggregation: per column, row
    * count, null count, HLL++ distinct estimate (rsd 2%), min/max —
    * in ONE un-expanded scan. `approx_count_distinct` carries fixed-KB
    * map-side-combinable state per column, so unlike the exact
    * multi-distinct (which plans one Expand replicating every row per
    * distinct column — the row stream inflates ×columns) this plan's
    * cost is independent of how many columns are profiled. At 100 TB
    * THIS is the profiling plan; [[profileTable]]'s exact Expand plan
    * is the right default up to dimension scale. PlanSpec pins the
    * no-Expand shape. Exposed for that pin; [[profileApprox]] adds the
    * accuracy gate.
    */
  private[operators] def profileApproxOnly(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .withColumn("od_sec", TimeSeriesOps.epochSecExpr("o_orderdate"))
    val num = Seq("o_orderkey", "o_custkey", "o_totalprice", "od_sec")
    val str = Seq("o_orderstatus", "o_orderpriority")
    val aggs = (num ++ str).flatMap { c =>
      Seq(
        count(lit(1)).as(s"${c}__n"),
        count(when(col(c).isNull, lit(1))).as(s"${c}__nulls"),
        approx_count_distinct(col(c), 0.02).as(s"${c}__acd")) ++
        (if (num.contains(c))
           Seq(min(col(c)).cast("double").as(s"${c}__min_num"),
             max(col(c)).cast("double").as(s"${c}__max_num"))
         else
           Seq(min(col(c)).as(s"${c}__min_str"),
             max(col(c)).as(s"${c}__max_str")))
    }
    o.agg(aggs.head, aggs.tail: _*)
  }

  /** Sketch-based profiler, accuracy-gated: the long-format profile
    * with the HLL++ distinct estimate checked within 5% of the exact
    * distinct per column — same contract as sk_distinct (the oracle
    * computes the exact counts and expects every gate TRUE, so a
    * sketch drifting out of tolerance fails the hash gate). The exact
    * multi-distinct pass (the Expand plan) exists here ONLY as the
    * gate's reference; the production one-pass plan is
    * [[profileApproxOnly]], and the emitted `n_distinct` is the exact
    * value so the row hash is engine-comparable.
    */
  def profileApprox(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .withColumn("od_sec", TimeSeriesOps.epochSecExpr("o_orderdate"))
    val num = Seq("o_orderkey", "o_custkey", "o_totalprice", "od_sec")
    val str = Seq("o_orderstatus", "o_orderpriority")
    val exAggs = (num ++ str).map(c => countDistinct(col(c)).as(s"${c}__exact"))
    val exact = o.agg(exAggs.head, exAggs.tail: _*)
    val wide = profileApproxOnly(spark, dir).crossJoin(exact)
    val rows = (num ++ str).map { c =>
      val isNum = num.contains(c)
      struct(
        lit(c).as("col_name"),
        col(s"${c}__n").as("n"),
        col(s"${c}__nulls").as("n_null"),
        col(s"${c}__exact").as("n_distinct"),
        (abs(col(s"${c}__acd") - col(s"${c}__exact")) <=
          col(s"${c}__exact") * 0.05).as("acd_within_5pct"),
        (if (isNum) col(s"${c}__min_num") else lit(null).cast("double")).as("min_num"),
        (if (isNum) col(s"${c}__max_num") else lit(null).cast("double")).as("max_num"),
        (if (isNum) lit(null).cast("string") else col(s"${c}__min_str")).as("min_str"),
        (if (isNum) lit(null).cast("string") else col(s"${c}__max_str")).as("max_str"))
    }
    wide.select(explode(array(rows: _*)).as("p"))
      .select("p.*")
      .orderBy("col_name")
  }

  /** Declarative data-quality checks over the star schema, one row per
    * check: PK nulls and duplicates, FK orphans (anti-join), domain
    * violations. All FILTER-style checks on a table fold into ONE
    * conditional aggregate (`count(when(...))`) — one scan of orders
    * and one of lineitem total, vs. one scan per check — unpivoted to
    * the long check-per-row shape by the same struct-explode the
    * profiler uses. The orphan checks stay as the standard anti-join
    * (broadcast at dim scale) and the PK-dup check as its own grouped
    * aggregate; counts only cross the wire everywhere. A zero row is a
    * passing check, so the output shape is fixed and diffable across
    * runs.
    */
  def dqChecks(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val l = Tables.lineitem(spark, dir)
    // one pass per table over its filter-style checks; count(when())
    // (never sum) so an empty table yields 0, not NULL
    def folded(df: DataFrame, checks: Seq[(String, Column)]): DataFrame = {
      val wide = df.agg(
        count(when(checks.head._2, lit(1))).as(checks.head._1),
        checks.tail.map { case (n, p) => count(when(p, lit(1))).as(n) }: _*)
      val rows = checks.map { case (n, _) =>
        struct(lit(n).as("check_name"), col(n).as("n_bad"))
      }
      wide.select(explode(array(rows: _*)).as("r")).select("r.*")
    }
    def check(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_bad")).select(lit(name).as("check_name"), col("n_bad"))
    folded(o, Seq(
        "orders_custkey_null" -> col("o_custkey").isNull,
        "orders_totalprice_negative" -> (col("o_totalprice") < 0)))
      .unionAll(folded(l, Seq(
        "lineitem_quantity_nonpositive" -> (col("l_quantity") <= 0),
        "lineitem_discount_range" -> (col("l_discount") < 0 || col("l_discount") > 1))))
      .unionAll(check("orders_custkey_orphan",
        o.join(c, o("o_custkey") === c("c_custkey"), "left_anti")))
      .unionAll(check("orders_orderkey_dup",
        o.groupBy("o_orderkey").agg(count(lit(1)).as("cnt")).filter(col("cnt") > 1)))
      .unionAll(check("lineitem_orderkey_orphan",
        l.join(o, l("l_orderkey") === o("o_orderkey"), "left_anti")))
      .orderBy("check_name")
  }

  // ---- fastText-style quality classifier (ftq) -------------------------

  /** Hashed-feature dimensionality for the quality classifier. */
  private[graft] val FtqBuckets = 64
  /** Integer feature scale: r_j = (count_j * FtqScale) div n_tokens. */
  private[graft] val FtqScale = 1024L
  /** Perceptron refinement rounds after the centroid init. */
  private[graft] val FtqRounds = 8
  /** Per-round step: 2^-8 — a power of two, so every weight update is
    * an EXACT IEEE operation (long-gradient -> double is exact below
    * 2^53, multiply by a power of two is exact).
    */
  private[graft] val FtqLr = 0.00390625
  /** Held-out accuracy floor — discriminating: strictly above every
    * SF's majority-class base rate (~0.59-0.66) and above the
    * untrained centroid-only accuracy (~0.87-0.90); measured final
    * 0.94-0.96 across sf0.001/0.01/0.1.
    */
  private[graft] val FtqAccFloor = 0.85
  /** The planted "reference corpus" lexicon: a doc is a GOOD example
    * (y=1) when >= 25% of its tokens come from this set — the GPT-3
    * quality-classifier fixture shape (label = looks-like-the-
    * reference-distribution), planted so the signal is genuinely
    * learnable from HASHED bag-of-words features (each word maps to a
    * pure md5 bucket at D=64 on this corpus' vocabulary).
    */
  private[graft] val FtqRefLexicon =
    Seq("fast", "filter", "hash", "key", "query", "scan", "small", "window")

  /** The md5 feature-bucket law, shared with the oracle:
    * bucket(tok) = first-8-hex-chars-of-md5 mod D.
    */
  private def ftqBucket(tok: Column): Column =
    conv(substring(md5(tok), 1, 8), 16, 10).cast("long") % FtqBuckets

  /** Per-document feature/label frame: (doc_id, y, istrain, fv) with
    * fv a dense FtqBuckets-element double array of integer-scaled
    * token-ratio features r_j = (count_j * 1024) div n — pure integer
    * arithmetic, so the features (and every gradient sum over them)
    * are bitwise engine-exact. Built relationally (explode ->
    * two aggregations -> dense array via a per-doc map lookup), the
    * codegen'd shape.
    *
    * The frame is a pinned MEMO STAGE (`ftq_fv`) — the
    * deployment's standing feature table: built once per (session,
    * dir) and read by the model trainer (the `ftq_model` stage
    * build), the end-to-end classifier gate (`ftq`) and the gated
    * composite's full-corpus scoring pass (`ftd`) — three consumers
    * that each re-ran the corpus explode + two aggregations before
    * (the tok_ids discipline applied to the classifier features).
    * memoStage persists the frame, so no localCheckpoint here — the
    * pinned cache survives releaseTransients, which a checkpointed
    * RDD would not.
    */
  private def ftqFeatures(spark: SparkSession, dir: String): DataFrame =
    DedupOps.memoStage(spark, dir, "ftq_fv") {
      val refs = FtqRefLexicon
      val toks = Tables.documents(spark, dir)
        .filter(col("text").isNotNull)
        .select(col("doc_id"),
          posexplode(TextOps.tokens(col("text"))).as(Seq("pos", "tok")))
      val e = toks.select(col("doc_id"), col("tok"), ftqBucket(col("tok")).as("b"))
      val lab = e.groupBy("doc_id").agg(
        count(lit(1)).as("n"),
        count(when(col("tok").isInCollection(refs), lit(1))).as("hits"))
      val dense = e.groupBy("doc_id", "b").agg(count(lit(1)).as("cnt"))
        .groupBy("doc_id")
        .agg(map_from_entries(collect_list(struct(col("b"), col("cnt")))).as("m"))
      lab.join(dense, Seq("doc_id"))
        .select(col("doc_id"),
          (col("hits") * 4 >= col("n")).cast("int").as("y"),
          (col("doc_id") % 4 =!= 0).as("istrain"),
          expr(s"transform(sequence(0, ${FtqBuckets - 1}), " +
            s"j -> CAST((coalesce(element_at(m, CAST(j AS BIGINT)), 0L) * $FtqScale) " +
            s"DIV n AS DOUBLE))").as("fv"))
    }

  /** Exposed for [[DedupOps.materializePinnedStages]]. */
  private[operators] def ftqFeatureStage(spark: SparkSession, dir: String): DataFrame =
    ftqFeatures(spark, dir)

  /** Integer-quantized linear score under a literal weight vector:
    * floor of the index-order dot product (the fused fold both
    * engines replay identically), so thresholds compare LONGS.
    */
  private def ftqScore(w: Seq[Double]): Column =
    floor(graft.functions.VectorExprs.dotProduct(
      typedLit(w), col("fv"))).cast("long")

  /** Train the classifier; returns (w0, theta0, w, theta) — the
    * centroid init and the refined model. Exactness argument: the
    * features are integral doubles, so class sums and gradient sums
    * are exact in ANY order (every partial sum is an integer below
    * 2^53); weights evolve by exact power-of-two steps; scores floor
    * to longs before any comparison. The driver sees one skinny
    * aggregate per step (64 centroid rows, then per round one 64-row
    * gradient and one 1-row threshold) — the ivft training
    * discipline: no per-document driver state at any corpus size.
    */
  private def ftqTrain(fv: DataFrame): (Seq[Double], Long, Seq[Double], Long) = {
    val tr = fv.filter(col("istrain"))
    val IterLog = sys.env.contains("GRAFT_ITER_LOG")
    var tMark = System.nanoTime()
    def mark(tag: String): Unit = if (IterLog) {
      val t = System.nanoTime()
      System.err.println(f"[ftq] $tag: ${(t - tMark) / 1e9}%.2f s")
      tMark = t
    }
    // ONE corpus pass for init: the per-bucket class sums AND the
    // class counts ride in the same 64-row aggregate (n1/nd are
    // constant across j — every doc contributes exactly one row per
    // bucket — so the j=0 row carries the doc counts; previously the
    // counts were a separate corpus-scan action).
    val init = tr.select(col("y"), posexplode(col("fv")).as(Seq("j", "r")))
      .groupBy("j").agg(
        sum(when(col("y") === 1, col("r")).otherwise(lit(0.0))).as("s1"),
        sum(when(col("y") === 0, col("r")).otherwise(lit(0.0))).as("s0"),
        sum(col("y")).as("n1"),
        count(lit(1)).as("nd"))
      .collect().sortBy(_.getAs[Int]("j"))
    val n1 = if (init.isEmpty) 0L else init.head.getAs[Long]("n1")
    val n0 = if (init.isEmpty) 0L else init.head.getAs[Long]("nd") - n1
    if (n1 == 0L || n0 == 0L) {
      // degenerate corpus (empty input, or a train split with one
      // class): nothing to train — a zero scorer with an unreachable
      // threshold keeps the contract total (empty input → empty
      // output; the gate booleans never see this path at real SFs)
      val w = Seq.fill(FtqBuckets)(0.0)
      return (w, 1L, w, 1L)
    }
    require(init.length == FtqBuckets, s"expected $FtqBuckets init rows")
    val w0 = init.map(r =>
      r.getAs[Double]("s1") / n1 - r.getAs[Double]("s0") / n0).toSeq
    mark("init")
    var w = w0
    import org.apache.spark.sql.expressions.Window
    val wj = Window.partitionBy("j").orderBy("s")
    val wjBelow = wj.rowsBetween(Window.unboundedPreceding, -1)
    val wjAll = wj.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    for (_ <- 1 to FtqRounds) {
      // ONE corpus pass and ONE driver action per round, in a plan of
      // THREE shuffle stages (score+explode → (s, j) grid; re-key by
      // j; windowed fold + 64-row aggregate): the per-score label
      // counts ride the grid (pj/cj are identical across j — every
      // doc has one row per bucket), so the threshold search and the
      // gradient's suffix sum both evaluate inside one window pass
      // per bucket — candidate correct(th) = totp − pb + nb per row,
      // the max+1 sentinel's correct is totn, argmax with
      // ties-to-lowest-th is a max over (correct, −s) structs, and
      // the winning struct CARRIES its gradient (g is a trailing
      // struct field, never consulted by the comparison since (c,
      // nth) is unique per row). The previous form built a broadcast
      // threshold frame + crossJoin + TakeOrdered per round (~7
      // sequential stages of pure latency at any scale).
      // The regrouping is exact: features are integral doubles, so
      // every partial sum is an integer below 2^53 in any order, and
      // g = Σ r·y − (Σ r − Σ_{s<th} r) is the same integer as the
      // doc-level Σ r·(y − [s≥th]) the previous form computed.
      val grid = tr
        .select(col("y"), ftqScore(w).as("s"),
          posexplode(col("fv")).as(Seq("j", "r")))
        .groupBy("s", "j").agg(
          sum(col("r")).as("rs"),
          sum(when(col("y") === 1, col("r")).otherwise(lit(0.0))).as("rys"),
          sum(col("y")).as("p"),
          (count(lit(1)) - sum(col("y"))).as("ng"))
      val folded = grid.select(col("j"), col("s"),
        coalesce(sum(col("p")).over(wjBelow), lit(0L)).as("pb"),
        coalesce(sum(col("ng")).over(wjBelow), lit(0L)).as("nb"),
        coalesce(sum(col("rs")).over(wjBelow), lit(0.0)).as("rsb"),
        sum(col("p")).over(wjAll).as("totp"),
        sum(col("ng")).over(wjAll).as("totn"),
        sum(col("rs")).over(wjAll).as("totrs"),
        sum(col("rys")).over(wjAll).as("totrys"),
        max(col("s")).over(wjAll).as("smax"))
      val grad = folded.select(col("j"),
          struct((col("totp") - col("pb") + col("nb")).as("c"),
            (-col("s")).as("nth"),
            (col("totrys") - (col("totrs") - col("rsb"))).as("g")).as("cand"),
          struct(col("totn").as("c"), (-(col("smax") + 1)).as("nth"),
            col("totrys").as("g")).as("sent"))
        .groupBy("j").agg(greatest(max(col("cand")), max(col("sent"))).as("best"))
        .select(col("j"), col("best.g").as("g"))
        .collect().sortBy(_.getAs[Int]("j"))
      require(grad.length == FtqBuckets, s"expected $FtqBuckets gradient rows")
      w = w.zip(grad.map(_.getAs[Double]("g"))).map { case (wi, g) => wi + g * FtqLr }
      mark("round")
    }
    // Both decision thresholds from ONE corpus pass and ONE action:
    // each doc contributes its (model-index k, score) pair for BOTH
    // models, the (k, s) grid carries each model's per-score label
    // counts (its marginal, exact long sums), and the same windowed
    // argmax fold as the training rounds picks each model's
    // threshold — a 2-row collect.
    val scored = tr.select(col("y"),
        explode(array(
          struct(lit(0).as("k"), ftqScore(w0).as("s")),
          struct(lit(1).as("k"), ftqScore(w).as("s")))).as("e"))
      .select(col("y"), col("e.k").as("k"), col("e.s").as("s"))
    val wk = Window.partitionBy("k").orderBy("s")
    val wkBelow = wk.rowsBetween(Window.unboundedPreceding, -1)
    val wkAll = wk.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val ths = scored.groupBy("k", "s").agg(
        sum(col("y")).as("p"),
        (count(lit(1)) - sum(col("y"))).as("ng"))
      .select(col("k"),
        struct(
          (sum(col("p")).over(wkAll)
            - coalesce(sum(col("p")).over(wkBelow), lit(0L))
            + coalesce(sum(col("ng")).over(wkBelow), lit(0L))).as("c"),
          (-col("s")).as("nth")).as("cand"),
        struct(sum(col("ng")).over(wkAll).as("c"),
          (-(max(col("s")).over(wkAll) + 1)).as("nth")).as("sent"))
      .groupBy("k").agg(greatest(max(col("cand")), max(col("sent"))).as("best"))
      .select(col("k"), (-col("best.nth")).as("th"))
      .collect().sortBy(_.getAs[Int]("k"))
    require(ths.length == 2, "expected one threshold row per model")
    mark("final-thetas")
    (w0, ths(0).getAs[Long]("th"), w, ths(1).getAs[Long]("th"))
  }

  /** fastText-style quality classifier, end to end — the GPT-3/CCNet
    * companion filter: hashed bag-of-words features (D=64 md5
    * buckets, integer token-ratio values), a linear scorer trained as
    * centroid-difference init + FtqRounds batch-perceptron rounds
    * with the accuracy-optimal threshold re-picked each round, and a
    * deterministic doc_id%4 train/test split. Emits one row per
    * split: counts, final and init accuracy, the majority-class base
    * rate, and the machine-checked gate booleans — held-out accuracy
    * >= FtqAccFloor (floor_met), above the majority class
    * (beats_base), and at least the untrained init (trained_ge_init,
    * the ivft trained>=seed contract). The oracle replays the WHOLE
    * chain — features, init, every round's gradient and threshold —
    * as unrolled CTEs, so the hash gate pins training itself, not
    * just the final verdict.
    *
    * Scale shape: the corpus never leaves the executors — per step
    * the driver sees a FtqBuckets-row aggregate (model-sized, like
    * the Lloyd and BPE trainers); scoring is one broadcast-literal
    * projection, so the trained model applies row-locally.
    */
  def ftqClassifier(spark: SparkSession, dir: String): DataFrame = {
    val fv = ftqFeatures(spark, dir)
    // the trained AND init models come from the pinned `ftq_model`
    // stage (which unrolls the full deterministic training chain once
    // per session — the bpe_merges discipline): this query prices ONE
    // scoring pass over the pinned feature frame instead of re-paying
    // the FtqRounds driver-loop training the stage already ran. The
    // collected rows are exactly ftqTrain's output, so the emitted
    // accuracies are bit-identical to the inline-training form the
    // oracle unrolls.
    val rows = ftqModelStage(spark, dir).orderBy("j").collect()
    val w0 = rows.map(_.getAs[Double]("w0")).toSeq
    val w = rows.map(_.getAs[Double]("w")).toSeq
    val theta0 = rows.head.getAs[Long]("theta0")
    val theta = rows.head.getAs[Long]("theta")
    val scored = fv.select(col("y"), col("istrain"),
      ftqScore(w0).as("s0"), ftqScore(w).as("s"))
    scored
      .groupBy(when(col("istrain"), "train").otherwise("test").as("split"))
      .agg(
        count(lit(1)).as("n"),
        count(when((col("s") >= theta) === (col("y") === 1), lit(1)))
          .as("n_correct"),
        count(when((col("s0") >= theta0) === (col("y") === 1), lit(1)))
          .as("n_correct0"),
        greatest(sum(col("y")), count(lit(1)) - sum(col("y"))).as("n_major"))
      .select(col("split"), col("n"), col("n_correct"),
        (col("n_correct").cast("double") / col("n")).as("acc"),
        (col("n_correct0").cast("double") / col("n")).as("acc0"),
        (col("n_major").cast("double") / col("n")).as("base_acc"),
        lit(FtqAccFloor).as("acc_floor"),
        (col("n_correct").cast("double") / col("n") >= FtqAccFloor)
          .as("floor_met"),
        (col("n_correct") > col("n_major")).as("beats_base"),
        (col("n_correct") >= col("n_correct0")).as("trained_ge_init"))
      .orderBy("split")
  }

  /** The trained model as a pinned MEMO STAGE (one model-sized frame:
    * FtqBuckets (j, w) rows carrying theta) — the deployment shape:
    * training runs once per retrain (Bench prices the driver loop
    * inside `_substrate`, like the BPE merge table and the PQ
    * codebooks), and every consumer (the ftq-gated composite, ad-hoc
    * scoring) collects the KB-sized frame instead of re-running the
    * FtqRounds training actions inside its own timed query.
    */
  private[graft] def ftqModelStage(spark: SparkSession, dir: String): DataFrame =
    DedupOps.memoStage(spark, dir, "ftq_model") {
      // the INIT model rides along (w0, theta0): `ftq` reports init
      // accuracy beside final, so staging only the refined model would
      // leave it re-training anyway — ftqTrain computes all four
      val (w0, theta0, w, theta) = ftqTrain(ftqFeatures(spark, dir))
      import spark.implicits._
      w.zipWithIndex.map { case (wi, j) =>
        (j.toLong, w0(j), wi, theta0, theta) }
        .toDF("j", "w0", "w", "theta0", "theta")
    }

  /** The trained model as (weights, theta) through the pinned
    * [[ftqModelStage]] — collects the cached 64-row frame (KBs)
    * instead of retraining.
    */
  private[graft] def ftqStandingModelCached(spark: SparkSession,
      dir: String): (Seq[Double], Long) = {
    val rows = ftqModelStage(spark, dir).orderBy("j").collect()
    (rows.map(_.getAs[Double]("w")).toSeq, rows.head.getAs[Long]("theta"))
  }

  /** Batch scoring of the standing corpus under a collected model,
    * through the RELATIONAL feature path (the training-side
    * construction).
    */
  private[graft] def ftqBatchScores(spark: SparkSession, dir: String,
      w: Seq[Double], theta: Long): DataFrame =
    // scores the pinned `ftq_fv` stage (one projection over cached
    // rows) instead of re-deriving the corpus features
    ftqFeatures(spark, dir)
      .select(col("doc_id"), ftqScore(w).as("score"),
        (ftqScore(w) >= theta).as("keep"))

  /** Hash width of the DSIR importance model (unigram+bigram md5
    * buckets) — coarse on purpose: DSIR's result is that hashed
    * n-gram proxies preserve the target/source likelihood-ratio
    * ranking; 256 cells keep both bucket-count tables broadcast-sized
    * at any corpus scale.
    */
  private[graft] val DsirBuckets = 256

  /** Per-gram importance-ratio quantization scale (the LmScale
    * discipline at 1e6: ratios are O(1/target-fraction), so scaled
    * per-gram scores stay far inside Long and a million-gram doc's
    * decimal sum far inside 38 digits).
    */
  private[graft] val DsirScale = 1e6

  /** DSIR-style importance-weighted data selection (Xie et al. 2023,
    * "Data Selection for Language Models via Importance Resampling"):
    * score every document by how target-like its hashed n-gram
    * profile is under two bag-of-n-grams models — a TARGET model fit
    * on the trusted slice (here the `lang='en'` docs, the intrinsic
    * stand-in for the paper's Wikipedia/books target) and a SOURCE
    * model fit on the whole raw pool — then keep the top quarter by
    * weight. Features are unigrams + adjacent bigrams hashed into
    * [[DsirBuckets]] md5 cells; each cell's smoothed target/source
    * probability ratio ((ct+1)/(Nt+B)) / ((cs+1)/(Ns+B)) is floored
    * to a [[DsirScale]]-scaled long, and a document's weight is the
    * integer mean of its gram-position scores (decimal(38,0) sum +
    * integral division — the lmScore discipline). Engine-exactness:
    * counts are exact longs; the one ratio is fixed-order IEEE double
    * multiply/divide (bitwise-identical on both engines — no libm ln
    * anywhere, which is why the weight is the arithmetic mean of
    * quantized per-gram ratios rather than the paper's log-sum: same
    * monotone "more target-like grams → higher weight" ranking,
    * with every intermediate reproducible); selection rank breaks
    * ties by doc_id. Emits every doc with its weight, rank, and the
    * `selected` verdict (rank ≤ ceil(n/4), integer law).
    *
    * Plan shape: the gram stream is exploded ONCE and immediately
    * folded to per-(doc, cell) counts (map-side combinable off the
    * explode), and THAT ≤B-rows-per-doc frame is the checkpointed
    * standing state both consumers read; the two models are ONE
    * grouped pass over it (B-bounded rows — a conditional sum folds
    * target into the same aggregate); the per-gram score table
    * broadcast-joins back (B rows), so scoring is one doc_id-keyed
    * aggregation — the corpus shuffles once, at cell not gram
    * granularity.
    * The final rank is a global window over the skinny (doc_id,
    * weight) frame; at 100 TB the production dial is the same
    * precomputed weight-quantile split points CCNet uses for its
    * perplexity terciles (a broadcast threshold instead of a total
    * order) — the tercile note on pplBuckets applies verbatim.
    */
  def dsirSelect(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val B = DsirBuckets
    val docs = Tables.documents(spark, dir)
    val toks = TextOps.tokens(col("text"))
    // unigrams ++ adjacent bigrams, built array-side so the corpus is
    // tokenized exactly once; sequence() is guarded (Spark generates
    // DESCENDING sequences when stop < start, so a 1-token doc would
    // otherwise get a phantom [1,0] index pair)
    val bigrams = when(size(col("__toks")) >= 2,
      transform(sequence(lit(1), size(col("__toks")) - 1),
        i => concat_ws(" ",
          element_at(col("__toks"), i), element_at(col("__toks"), i + 1))))
      .otherwise(array().cast("array<string>"))
    // the standing frame is per-(doc, cell) COUNTS, not gram rows:
    // the count aggregation is map-side combinable straight off the
    // explode, and everything downstream (model fit, scoring join,
    // per-doc rollup) reads ≤ B rows per document instead of one row
    // per gram position — at sf0.1 this is the difference between
    // checkpointing ~1.5M rows and ~300K
    val occ = OpCaches.localCheckpointTracked(
      docs
        .withColumn("__toks", toks)
        .select(col("doc_id"), (col("lang") === "en").as("tgt"),
          explode(concat(col("__toks"), bigrams)).as("g"))
        .groupBy(col("doc_id"), col("tgt"),
          (conv(substring(md5(col("g")), 1, 8), 16, 10).cast("long") % B)
            .as("b"))
        .agg(count(lit(1)).as("cnt")))
    // both models in ONE B-bounded grouped pass: source count = all
    // gram positions in the cell, target count = the tgt positions
    val mdl = occ.groupBy("b").agg(
      sum(col("cnt")).as("cs"),
      sum(when(col("tgt"), col("cnt")).otherwise(lit(0L))).as("ct"))
    val tot = mdl.agg(sum("cs").as("ns"), sum("ct").as("nt"))
    val ps = mdl.crossJoin(tot)
      .select(col("b"),
        floor(
          (col("ct") + 1).cast("double") * (col("ns") + B).cast("double") /
            ((col("cs") + 1).cast("double") * (col("nt") + B).cast("double")) *
            DsirScale)
          .cast("long").as("ps"))
    val perDoc = occ.join(broadcast(ps), Seq("b"))
      .groupBy("doc_id")
      .agg(sum(col("cnt")).as("n_grams"),
        sum(col("cnt").cast("decimal(38,0)") * col("ps")).as("s"))
    val scored = docs.select("doc_id", "lang")
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(expr("s div n_grams"), lit(0L)).as("w_scaled"))
    val byW = Window.orderBy(desc("w_scaled"), asc("doc_id"))
    scored
      .withColumn("rk", row_number().over(byW).cast("long"))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy()))
      .select(col("doc_id"), col("lang"), col("n_grams"), col("w_scaled"),
        col("rk"), expr("rk <= ((__n + 3) div 4)").as("selected"))
      .orderBy("doc_id")
  }
}
