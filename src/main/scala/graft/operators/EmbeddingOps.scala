package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Similarity search over the `embeddings` table (`Array[Float]`
  * column), SURVEY.md §7.4:
  *
  *  - brute-force cosine top-k: the correctness baseline. The query
  *    set is broadcast, so the candidate scan is one narrow pass over
  *    the corpus — linear, no shuffle of the big side;
  *  - sign-LSH bucketed top-k: the scale path. Deterministic
  *    hyperplanes (axis signs of the leading dimensions) bucket the
  *    corpus; search touches only the query's bucket — at 100 TB the
  *    corpus would be written bucket-partitioned so a query prunes to
  *    one partition;
  *  - near-dup pairs above a cosine threshold.
  *
  * All math runs in double via higher-order functions (zip_with +
  * aggregate) — codegen'd, index-order accumulation, deterministic.
  *
  * Every ANN variant is written against a corpus FRAME, not the table:
  * the same machinery runs over the raw embeddings (engine-parity
  * gate, `ann_recall`) and over the deterministic CLUSTERED fixture
  * (quality gate, `ann_recall_cl` — see [[clusteredCorpus]])
  * without duplication.
  */
object EmbeddingOps {

  /** Embedding as double array (float math differs between engines;
    * double is exact enough to make rank outputs stable).
    */
  private def vecD(c: Column): Column = transform(c, x => x.cast("double"))

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  private def corpus(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), vecD(col("embedding")).as("v"))

  val QueryCount = 20
  val TopK = 5

  /** Shared top-k tail: rank candidates per query by cosine (desc,
    * neighbor-id tie-break) and keep TopK — the single definition all
    * ANN variants and their oracles depend on.
    *
    * Implemented as a partial-aggregatable bounded-heap aggregate
    * (graft.functions.TopKByScore), NOT a `row_number` window: the
    * window form collects every query's full candidate list into one
    * task for a total sort, which is the scale bottleneck once the
    * corpus (and so each query's candidate count) grows 100×. The
    * aggregate keeps at most k entries per group per mapper, combines
    * map-side, and ships O(k) per group through the shuffle. The heap's
    * total order (score desc, id asc) is exactly the window's ORDER BY,
    * so output is identical to the oracles' row_number formulation.
    */
  private def topK(scored: DataFrame): DataFrame = {
    scored.groupBy("query_id")
      .agg(graft.functions.TopKAgg.topKByScore(
        col("cos").cast("double"), col("vec_id").cast("long"), TopK).as("ids"))
      .select(col("query_id"), posexplode(col("ids")).as(Seq("pos", "neighbor_id")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("neighbor_id"))
      .orderBy("query_id", "rank")
  }

  /** Brute-force exact cosine top-k over an arbitrary corpus frame. */
  private def bruteOn(base: DataFrame): DataFrame = {
    val q = base.filter(col("vec_id") < QueryCount)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val joined = base.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("cos", cosine(col("qv"), col("v")))
    topK(joined)
  }

  /** Brute-force exact cosine top-k for the first `QueryCount` vectors.
    * Output is rank-only (ints) so it is robust to last-ulp drift.
    */
  def annBruteTopK(spark: SparkSession, dir: String): DataFrame =
    bruteOn(corpus(spark, dir))

  /** Brute-force top-k via the custom codegen'd CosineSimilarity
    * expression (graft.functions.VectorExprs) — one fused pass per
    * pair, no intermediate zipped arrays. Bitwise-identical output to
    * annBruteTopK (same index-order double accumulation), so it shares
    * that query's oracle.
    */
  def annBruteTopKNative(spark: SparkSession, dir: String): DataFrame = {
    val base = corpus(spark, dir)
    val q = base.filter(col("vec_id") < QueryCount)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val joined = base.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("cos", graft.functions.VectorExprs.cosineSim(col("qv"), col("v")))
    topK(joined)
  }

  /** Sign-LSH bucket id: one bit per leading dimension's sign. */
  def signBucket(v: Column, bits: Int = 8): Column =
    (0 until bits).map { i =>
      when(element_at(v, i + 1) >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  private def lshOn(base0: DataFrame): DataFrame = {
    val base = base0.withColumn("bucket", signBucket(col("v")))
    val q = base.filter(col("vec_id") < QueryCount)
      .select(col("bucket"), col("vec_id").as("query_id"), col("v").as("qv"))
    val joined = base.join(broadcast(q), Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      // native fused cosine — bitwise-identical to the composed form
      // (same index-order accumulation), ~2.8x faster per pair
      .withColumn("cos", graft.functions.VectorExprs.cosineSim(col("qv"), col("v")))
    topK(joined)
  }

  /** Bucketed ANN: search only the query's sign-LSH bucket. Recall is
    * partial by construction (that's the approximation); the plumbing
    * — bucket key, co-partitioned join — is what carries to 100 TB.
    */
  def annLshBucket(spark: SparkSession, dir: String): DataFrame =
    lshOn(corpus(spark, dir))

  /** IVF-style ANN: a deterministic coarse quantizer (a fixed-size
    * pseudo-random sample of the corpus serves as the centroid set —
    * a k-means stand-in with no RNG so the oracle can replicate it),
    * each vector assigned to its nearest centroid by cosine, queries
    * searched only within their own cell (nprobe=1). At real scale the
    * corpus is written partitioned by cell, so a query touches one
    * partition; recall/latency trades via nprobe exactly as in a
    * production IVF index.
    *
    * The centroid COUNT is a fixed constant, independent of corpus
    * size: the K corpus vectors with the smallest values of a pure
    * integer hash of vec_id (an LCG step — chosen over xxhash64
    * because the oracle engine lacks that function, and over a vec_id
    * stride because a stride ties centroid count to N, which made the
    * N×C assignment stage O(N²) at scale). All arithmetic stays within
    * BIGINT for any vec_id (id is reduced mod 2³¹ first), so both
    * engines compute bit-identical hashes with no overflow semantics
    * in play. Ties (same hash) break by vec_id — a total order.
    * Selection is orderBy(hash).limit(K): a TakeOrderedAndProject,
    * i.e. one O(N) scan keeping K rows per partition — no full sort.
    */
  val IvfCentroidK = 32

  private def centOrder(id: Column): Column =
    ((id % lit(2147483648L)) * lit(1103515245L) + lit(12345L)) % lit(2147483648L)

  private def centroidsOn(base: DataFrame): DataFrame =
    base.orderBy(centOrder(col("vec_id")), col("vec_id")).limit(IvfCentroidK)

  /** The fixed-K centroid set (exposed for the OperatorSpec assertion
    * that |centroids| is IvfCentroidK regardless of corpus size).
    */
  private[operators] def ivfCentroids(spark: SparkSession, dir: String): DataFrame =
    centroidsOn(corpus(spark, dir))

  /** Shared IVF assignment + probed search, parameterized by corpus
    * frame and nprobe — one definition so the nprobe variants, the
    * clustered-fixture variants, and their oracles cannot drift. Norms
    * hoisted once per vector/centroid (same bitwise cosine as the
    * per-pair formula — see embNeardupPairs) so the N×C assignment
    * stage does one fused dot per pair; the rank-filtered assignment
    * frame (≤ nprobe·N skinny rows) is materialized because BOTH the
    * corpus cells and the query probes derive from it — otherwise the
    * N×C assignment would run once per consumer. Assignment ties break
    * toward the lowest centroid id.
    */
  /** The materialized rank-filtered assignment frame (arank ≤
    * maxProbe): the single N×C stage every IVF consumer derives from.
    */
  private def ivfRanked(base0: DataFrame, maxProbe: Int): DataFrame =
    ivfRankedWith(base0,
      centroidsOn(base0).select(col("vec_id").as("cent_id"), col("v").as("cv")),
      maxProbe)

  /** Assignment against an EXPLICIT centroid set (cent_id, cv) — the
    * seed-sample path and the Lloyd-trained path share this one
    * definition.
    */
  private def ivfRankedWith(base0: DataFrame, cents0: DataFrame, maxProbe: Int): DataFrame =
    OpCaches.track(ivfRankedWithRaw(base0, cents0, maxProbe))

  /** [[ivfRankedWith]] without the transient-track wrapper — the
    * pinned-stage builders persist the frame themselves (memoStage);
    * double-registering it as transient would let clearTransients
    * unpersist the pinned twin (OpCaches.track's documented hazard).
    */
  private def ivfRankedWithRaw(base0: DataFrame, cents0: DataFrame, maxProbe: Int): DataFrame = {
    import graft.functions.VectorExprs.dotProduct
    val base = base0.withColumn("nrm", sqrt(dotProduct(col("v"), col("v"))))
    val cents = cents0
      .select(col("cent_id"), col("cv"),
        sqrt(dotProduct(col("cv"), col("cv"))).as("cnrm"))
    val scoredAll = base.join(broadcast(cents), lit(true))
      .withColumn("ccos", dotProduct(col("cv"), col("v")) / (col("cnrm") * col("nrm")))
    if (maxProbe <= 1) {
      // nprobe-1 (the Lloyd assignment step and the incremental
      // encoders): the winner per vector is a map-side-combinable
      // max over (ccos, −cent_id) structs — same order as the window
      // form's (desc ccos, asc cent_id), with the vector riding as a
      // never-compared trailing payload (ccos ties cannot happen at
      // equal rank keys: cent_id is distinct per candidate row) — so
      // the N×C candidate grid partial-aggregates before the shuffle
      // instead of being shuffled whole and sorted per vector.
      scoredAll
        .groupBy("vec_id")
        .agg(max(struct(col("ccos"), negate(col("cent_id")).as("nc"),
          col("v"))).as("m"))
        .select(col("vec_id"), col("m.v").as("v"),
          negate(col("m.nc")).as("cent_id"), lit(1).as("arank"))
    } else {
      val wAssign = org.apache.spark.sql.expressions.Window
        .partitionBy("vec_id").orderBy(desc("ccos"), col("cent_id"))
      scoredAll
        .withColumn("arank", row_number().over(wAssign))
        .filter(col("arank") <= maxProbe)
        .select(col("vec_id"), col("v"), col("cent_id"), col("arank"))
    }
  }

  /** The CLUSTERED corpus' seed nprobe-2 ranked assignment as a pinned
    * MEMO STAGE — the N×C assignment every clustered-fixture consumer
    * (`arcl`, `ivq`, `pqt` and the pq_codes/pq_cbt/pq_codes_t stage
    * builds) previously re-ran per query. The frame carries the
    * corpus vectors (its arank=1 rows ARE the clustered corpus), so
    * consumers derive base/centroids from the cache with no extra
    * scan — at 100 TB this is the cell-assignment table a deployment
    * keeps beside the cell-partitioned layout (LayoutSpec's story).
    */
  private[operators] def rankedSeedStage(spark: SparkSession, dir: String): DataFrame =
    DedupOps.memoStage(spark, dir, "ivf_rank2") {
      val base = clusteredCorpus(spark, dir)
      val cents = centroidsOn(base)
        .select(col("vec_id").as("cent_id"), col("v").as("cv"))
      ivfRankedWithRaw(base, cents, 2)
    }

  /** The clustered corpus as the cached seed assignment's arank=1 rows
    * — one definition for every consumer that needs (vec_id, v) after
    * the stage exists (identical rows: the assignment projects `v`
    * through unchanged and emits exactly one arank=1 row per vector).
    */
  private def clusteredFromStage(spark: SparkSession, dir: String): DataFrame =
    rankedSeedStage(spark, dir).filter(col("arank") === 1)
      .select(col("vec_id"), col("v"))

  /** The TRAINED nprobe-2 ranked assignment over the clustered corpus
    * as a pinned MEMO STAGE — shared by the trained recall gate
    * (`ivft`), the fully-trained PQ stack (`pqf`) and the
    * pqf_cb/pqf_codes stage builds.
    */
  private[operators] def rankedTrainedStage(spark: SparkSession, dir: String): DataFrame =
    DedupOps.memoStage(spark, dir, "ivf_rank2_t") {
      ivfRankedWithRaw(clusteredFromStage(spark, dir),
        centroidsTrainedStage(spark, dir), 2)
    }

  /** The EXACT brute-force top-k reference over the clustered corpus
    * as a pinned MEMO STAGE — five recall gates (`arcl`, `ivft`,
    * `ivq`, `pqt`, `pqf`) each re-ran the full N×Q scoring pass to
    * rebuild this one deterministic (query_id, neighbor_id) frame;
    * it is the ground-truth table an ANN evaluation harness computes
    * once per corpus snapshot.
    */
  private[operators] def bruteClusteredStage(spark: SparkSession, dir: String): DataFrame =
    DedupOps.memoStage(spark, dir, "ann_brute") {
      bruteOn(clusteredFromStage(spark, dir))
        .select(col("query_id"), col("neighbor_id"))
    }

  /** The (vec_id, v, cent_id, arank) assignment frame for external
    * consumers — LayoutSpec writes the corpus parquet-partitioned by
    * its arank=1 cell and proves a probe's scan prunes to nprobe/K of
    * the files, machine-checking the "at real scale the corpus is
    * written partitioned by cell" claim in the annIvf scaladoc.
    */
  private[graft] def ivfCellAssignments(spark: SparkSession, dir: String,
                                        maxProbe: Int = 2): DataFrame =
    ivfRanked(corpus(spark, dir), maxProbe)

  /** Probed search over a prebuilt assignment frame. An nprobe-p probe
    * set is a pure FILTER of any ranked frame built with maxProbe ≥ p
    * (same rows, arank ≤ p), so consumers that need several nprobe
    * settings — the recall gates — build ONE ranked frame at the
    * largest nprobe and derive every variant from it, paying the N×C
    * assignment once instead of once per variant.
    */
  private def ivfTopKFromRanked(ranked: DataFrame, nprobe: Int): DataFrame = {
    val assigned = ranked.filter(col("arank") === 1)
      .select(col("vec_id"), col("v"), col("cent_id").as("cell"))
    val q = ranked.filter(col("arank") <= nprobe && col("vec_id") < QueryCount)
      .select(col("cent_id").as("cell"), col("vec_id").as("query_id"), col("v").as("qv"))
    val joined = assigned.join(broadcast(q), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", graft.functions.VectorExprs.cosineSim(col("qv"), col("v")))
    topK(joined)
  }

  private def annIvfNprobeOn(base0: DataFrame, nprobe: Int): DataFrame =
    ivfTopKFromRanked(ivfRanked(base0, nprobe), nprobe)

  def annIvf(spark: SparkSession, dir: String): DataFrame =
    annIvfNprobeOn(corpus(spark, dir), nprobe = 1)

  /** IVF with nprobe=2: the query searches its TWO nearest cells
    * instead of one — the standard recall/latency dial. Corpus vectors
    * still live in exactly one cell (their arank=1 assignment), so the
    * probed candidate sets are disjoint and need no dedup; the cost is
    * exactly 2× the cells touched, the recall strictly ≥ nprobe=1
    * (OperatorSpec proves elementwise cosine dominance).
    */
  def annIvfProbe2(spark: SparkSession, dir: String): DataFrame =
    annIvfNprobeOn(corpus(spark, dir), nprobe = 2)

  /** Recall@k of every approximate ANN variant against the exact
    * brute-force top-k over the same corpus frame: recall =
    * |approx ∩ brute| / |brute| over all (query, neighbor) pairs.
    * Pure deterministic relational composition of the existing
    * queries (semi-join + ratio), so the oracle replicates it exactly;
    * the brute frame is materialized once (OpCaches) and probed by all
    * three variants.
    */
  private def recallOn(base: DataFrame): DataFrame =
    recallWith(base,
      OpCaches.track(
        bruteOn(base).select(col("query_id"), col("neighbor_id"))),
      ivfRanked(base, maxProbe = 2))

  /** [[recallOn]] with the brute reference and the ranked assignment
    * passed in — the clustered-fixture gate reads both from pinned
    * stages, the raw-corpus gate builds them inline.
    */
  private def recallWith(base: DataFrame, brute: DataFrame,
      ranked2: DataFrame): DataFrame = {
    val denom = brute.agg(count(lit(1)).as("n_brute"))
    // one N×C assignment serves both probe settings (see
    // ivfTopKFromRanked) — the p1 probe set is a filter of the p2 frame
    Seq(
      ("ivf_p1", ivfTopKFromRanked(ranked2, 1)),
      ("ivf_p2", ivfTopKFromRanked(ranked2, 2)),
      ("lsh_bucket", lshOn(base))).map { case (name, df) =>
        df.select(col("query_id"), col("neighbor_id"))
          .join(brute, Seq("query_id", "neighbor_id"), "left_semi")
          .agg(count(lit(1)).as("n_hits"))
          .select(lit(name).as("method"), col("n_hits"))
      }.reduce(_ unionAll _)
      .crossJoin(broadcast(denom))
      // degenerate empty-corpus case drops out (uniform empty-input
      // contract: zero rows, not three 0/0=NaN rows)
      .filter(col("n_brute") > 0)
      .withColumn("recall", col("n_hits").cast("double") / col("n_brute"))
      .orderBy("method")
  }

  /** Engine-parity recall gate over the RAW embeddings. On the
    * synthetic uniform-random vectors the recall values are
    * near-chance BY CONSTRUCTION (no cluster structure for the coarse
    * quantizer to find) — this row pins the recall MACHINERY against
    * the oracle; [[annRecallClustered]] is the row that pins recall
    * QUALITY on a corpus with planted structure.
    */
  def annRecall(spark: SparkSession, dir: String): DataFrame =
    recallOn(corpus(spark, dir))

  // ---- clustered fixture: the discriminating ANN quality gate ------

  /** Number of planted clusters and the jitter amplitude of the
    * clustered corpus view.
    */
  val ClusterPlantedK = 8
  val ClusterEps = 0.2

  /** Clustered corpus view, derived DETERMINISTICALLY in-engine from
    * the raw embeddings — no new data files: planted centroids are the
    * first [[ClusterPlantedK]] vectors; every corpus vector is
    * re-derived as its cluster's centroid (cluster = vec_id mod K)
    * plus a small integer-hash jitter:
    *
    *   w[i] = centroid[i] + eps · (h(id,i)/2²⁰ − 0.5),
    *   h(id,i) = (id·1103515245 + i·12345 + 54321) mod 2²⁰
    *
    * All jitter arithmetic is BIGINT until one exact cast to double,
    * then a fixed IEEE op chain — bit-identical in both engines (the
    * linear-congruential mix is jitter, not randomness; determinism is
    * the point). With component scale ≈ U(−0.5, 0.5) and eps = 0.2 the
    * within-cluster cosine is ≈ 0.96+ while cross-cluster cosine is
    * ≈ 0 — the regime real embedding corpora live in, where a WORKING
    * coarse quantizer must score high recall and a broken one cannot.
    * On the uniform-random raw corpus IVF recall is near-chance by
    * construction, so only this view makes the recall gate
    * discriminating.
    */
  private[operators] def clusteredCorpus(spark: SparkSession, dir: String): DataFrame = {
    val base = corpus(spark, dir)
    val cents = base.filter(col("vec_id") < ClusterPlantedK)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    base.join(broadcast(cents), col("vec_id") % ClusterPlantedK === col("cid"))
      .select(col("vec_id"),
        transform(col("cv"), (x, i) =>
          x + lit(ClusterEps) *
            (((col("vec_id") * lit(1103515245L) + (i + 1) * lit(12345L) + lit(54321L))
              % lit(1048576L)).cast("double") / lit(1048576.0) - lit(0.5))).as("v"))
  }

  // ---- trained coarse quantizer (spherical k-means) ----------------

  /** Lloyd iterations for the trained quantizer — two steps move the
    * seed sample decisively toward cluster mass; more buys little on
    * any corpus and the oracle unrolls one CTE block per step.
    */
  val LloydIters = 2

  /** Quantization scale for the centroid-update sums (2²⁴: normalized
    * components are in [−1, 1], so a scaled component fits 25 bits and
    * a corpus-sized sum stays far inside BIGINT on both engines).
    */
  val LloydScale = 16777216.0

  /** One spherical-k-means step: assign every vector to its nearest
    * centroid by cosine (the same fused assignment as search), then
    * re-estimate each cell's centroid as the elementwise mean of its
    * members' UNIT vectors — the mean direction, the spherical-k-means
    * update that maximizes the summed cosine. Each normalized
    * component is floored to a 2²⁴-scaled long before the sum, so the
    * update is a sum of integers — order-independent and bit-identical
    * across engines — with exactly two IEEE divisions at the end.
    * Cells that end a step empty simply drop out (standard k-means
    * behavior; both engines derive the same survivor set).
    */
  private def lloydStep(base0: DataFrame, cents: DataFrame): DataFrame = {
    import graft.functions.VectorExprs.dotProduct
    val assigned = ivfRankedWith(base0, cents, 1)
      .select(col("cent_id").as("cell"), col("v"))
    assigned
      .withColumn("nrm", sqrt(dotProduct(col("v"), col("v"))))
      .select(col("cell"), col("nrm"), posexplode(col("v")).as(Seq("i", "x")))
      .groupBy("cell", "i")
      .agg(sum(floor(col("x") / col("nrm") * lit(LloydScale)).cast("long")).as("s"),
        count(lit(1)).as("n"))
      .withColumn("comp", col("s").cast("double") / col("n") / lit(LloydScale))
      .groupBy("cell")
      .agg(transform(array_sort(collect_list(struct(col("i"), col("comp")))),
        e => e.getField("comp")).as("cv"))
      .select(col("cell").as("cent_id"), col("cv"))
  }

  /** The trained centroid set: LloydIters spherical-k-means steps from
    * the deterministic seed sample. Each round's (tiny) centroid frame
    * is locally checkpointed — the iterative self-derived-frame rule
    * (see GraphOps.pageRank): without truncation every round's plan
    * embeds the previous rounds' full assignment subtrees.
    */
  private[operators] def centroidsTrainedOn(base: DataFrame): DataFrame = {
    var cents = centroidsOn(base)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"))
    (1 to LloydIters).foreach { _ =>
      cents = OpCaches.localCheckpointTracked(lloydStep(base, cents))
    }
    cents
  }

  /** [[centroidsTrainedOn]] over the clustered corpus as a pinned MEMO
    * STAGE — coarse-quantizer training is index-build work a
    * deployment pays once per retrain (priced in Bench's `_substrate`,
    * the pq_cbt discipline). Consumers: the trained-IVF recall gate
    * (`ivft`) and the fully-trained PQ stack (`pqf`).
    */
  private[operators] def centroidsTrainedStage(spark: SparkSession, dir: String): DataFrame =
    DedupOps.memoStage(spark, dir, "cents_t") {
      // the training corpus reads the pinned seed assignment's cached
      // arank=1 rows (identical to clusteredCorpus) — no extra scan
      centroidsTrainedOn(clusteredFromStage(spark, dir))
    }

  /** Per-method recall floors on the clustered corpus. Measured
    * headroom at sf0.01/sf0.1 sits well above each floor (see
    * OperatorSpec); a broken coarse quantizer (wrong cell assignment,
    * lost probe, collapsed centroid set) lands near chance ≈ 1/K and
    * fails its floor.
    */
  val ClusterRecallFloors: Map[String, Double] =
    Map("ivf_p1" -> 0.5, "ivf_p2" -> 0.8, "lsh_bucket" -> 0.5)

  /** The DISCRIMINATING ANN quality gate: recall@k on the clustered
    * corpus, each method checked against its floor. The oracle
    * recomputes recall identically AND emits literal TRUE for
    * `recall_ok` — so recall drifting below a floor fails the hash
    * gate outright (same contract as sk_distinct), and the
    * nprobe/band dials are genuinely exercised: moving nprobe 1→2
    * moves recall, and the spec asserts the ordering.
    */
  def annRecallClustered(spark: SparkSession, dir: String): DataFrame = {
    val floor = ClusterRecallFloors.foldLeft(lit(null).cast("double")) {
      case (acc, (m, f)) => when(col("method") === m, lit(f)).otherwise(acc)
    }
    // base, assignment and brute reference all read pinned stages —
    // this query prices the probed searches and the recall joins only
    recallWith(clusteredFromStage(spark, dir),
      bruteClusteredStage(spark, dir), rankedSeedStage(spark, dir))
      .withColumn("recall_floor", floor)
      .withColumn("recall_ok", col("recall") >= col("recall_floor"))
      .orderBy("method")
  }

  /** Recall floors for the TRAINED quantizer on the clustered corpus —
    * strictly ABOVE the untrained floors (0.5 / 0.8): training must
    * buy recall, not merely preserve it. Measured 0.90–0.98 (t1) and
    * 0.99–1.0 (t2) across sf0.001/0.01/0.1.
    */
  val TrainedRecallFloors: Map[String, Double] =
    Map("ivf_t1" -> 0.7, "ivf_t2" -> 0.9)

  /** Trained-quantizer recall gate on the clustered corpus: the same
    * contract as [[annRecallClustered]] but with Lloyd-trained
    * centroids — this is the row that pins the TRAINING machinery
    * (assignment, exact-integer update, convergence plumbing) against
    * the oracle, with recall floors as the quality teeth.
    */
  def annRecallTrained(spark: SparkSession, dir: String): DataFrame = {
    val brute = bruteClusteredStage(spark, dir)
    val denom = brute.agg(count(lit(1)).as("n_brute"))
    val ranked2 = rankedTrainedStage(spark, dir)
    val floor = TrainedRecallFloors.foldLeft(lit(null).cast("double")) {
      case (acc, (m, f)) => when(col("method") === m, lit(f)).otherwise(acc)
    }
    Seq(
      ("ivf_t1", ivfTopKFromRanked(ranked2, 1)),
      ("ivf_t2", ivfTopKFromRanked(ranked2, 2))).map { case (name, df) =>
        df.select(col("query_id"), col("neighbor_id"))
          .join(brute, Seq("query_id", "neighbor_id"), "left_semi")
          .agg(count(lit(1)).as("n_hits"))
          .select(lit(name).as("method"), col("n_hits"))
      }.reduce(_ unionAll _)
      .crossJoin(broadcast(denom))
      .filter(col("n_brute") > 0)
      .withColumn("recall", col("n_hits").cast("double") / col("n_brute"))
      .withColumn("recall_floor", floor)
      .withColumn("recall_ok", col("recall") >= col("recall_floor"))
      .orderBy("method")
  }

  // ---- IVF-PQ: the ANN memory tier ---------------------------------

  /** Product-quantization geometry (Jégou et al., the public PQ
    * construction): the 64-dim vector splits into [[PqSubspaces]]
    * sub-vectors; each is replaced by the id of its nearest codebook
    * entry (L2, min-id tie-break), so a stored vector is
    * 16 codes × log2(32) bits = 10 bytes against 256 raw float bytes
    * (25.6×) — the compression that lets a 100 TB corpus' vectors
    * live in cluster RAM. Codebook entries are the residual
    * sub-vectors of the first [[PqCodebookK]] corpus vectors — the
    * same deterministic seed-sample device the coarse quantizer uses
    * (a Lloyd-trained codebook per sub-space is the production
    * refinement; the seed codebook keeps the oracle exact and already
    * clears the recall floor).
    */
  val PqSubspaces = 16
  val PqCodebookK = 32

  /** IVF-PQ recall floor on the planted-cluster corpus — above the
    * sign-LSH floor (0.5), below the measured recall at every test SF
    * (0.77 / 0.75 / 0.67 at sf0.001/0.01/0.1; deterministic, no
    * run-to-run noise). PQ trades recall for 25.6× memory against
    * `ivf_p2`'s raw-vector 0.8 — that gap IS the tier's price, and
    * the gate pins it from below.
    */
  val PqRecallFloor = 0.6

  /** ADC shortlist width for the exact re-rank tier: raw vectors are
    * fetched for at most this many candidates per query.
    */
  val PqShortlist = 20

  /** Re-rank recall floor — the two-stage tier must recover
    * raw-vector-class recall (measured 1.0 / 0.94 / 0.97 at
    * sf0.001/0.01/0.1; deterministic), strictly above `ivf_p2`'s 0.8:
    * the shortlist+re-rank buys back what code quantization gave up,
    * at the price of touching [[PqShortlist]] raw vectors per query.
    */
  val PqRerankFloor = 0.85

  private def pqSubSlices(c: Column): Column = {
    val sub = 64 / PqSubspaces
    array((0 until PqSubspaces).map(j => slice(c, j * sub + 1, sub)): _*)
  }

  /** The PQ assignment context: (clustered corpus, coarse centroids,
    * nprobe-2 ranked assignment). Every frame is OpCaches-tracked (or
    * derives from a tracked frame), so the several call sites inside
    * one query share the physical plans.
    */
  private def pqContext(spark: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame) = {
    // base and assignment read the pinned seed stage; the centroid set
    // is a TakeOrdered over cached rows (deterministic regardless of
    // row order, so identical to the from-scratch construction)
    val base = clusteredFromStage(spark, dir)
    val cents = centroidsOn(base)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"))
    (base, cents, rankedSeedStage(spark, dir))
  }

  /** The per-vector residual frame (vec_id, cell, r) — encoding input
    * and codebook source.
    */
  private def pqResiduals(cents: DataFrame, ranked: DataFrame): DataFrame =
    ranked.filter(col("arank") === 1)
      .join(broadcast(cents), Seq("cent_id"))
      .select(col("vec_id"), col("cent_id").as("cell"),
        zip_with(col("v"), col("cv"), (x, c) => x - c).as("r"))

  /** The codebook: residual sub-vectors of the first [[PqCodebookK]]
    * corpus vectors, one (code, j, sv) row per entry per sub-space.
    */
  private def pqCodebook(asg: DataFrame): DataFrame =
    asg.filter(col("vec_id") < PqCodebookK)
      .select(col("vec_id").as("code"),
        posexplode(pqSubSlices(col("r"))).as(Seq("j", "sv")))

  /** Residual SUB-VECTOR rows (vec_id, cell, j, rv) — the per-sub-space
    * relational form both the encoder and the codebook trainer consume.
    */
  private def pqRsub(asg: DataFrame): DataFrame =
    asg.select(col("vec_id"), col("cell"),
      posexplode(pqSubSlices(col("r"))).as(Seq("j", "rv")))

  /** PQ encoding against an EXPLICIT codebook: each residual
    * sub-vector becomes its nearest entry's id (L2, min-id tie-break)
    * — one definition shared by the seed-codebook index, the trained-
    * codebook index, and the incremental append path, so the encoding
    * law cannot drift between them.
    */
  private def pqEncodeWith(rsub: DataFrame, cb: DataFrame): DataFrame =
    // nearest entry per (vector, sub-space) as a map-side-combinable
    // min over (l2, code) structs — identical winner to the previous
    // row_number window (same (l2 asc, code asc) comparison; l2 ties
    // break to the lowest code), but the N·m·K candidate grid
    // partial-aggregates to N·m rows BEFORE the shuffle instead of
    // shuffling and per-key sorting the whole grid.
    rsub.join(broadcast(cb), Seq("j"))
      .withColumn("l2", aggregate(
        zip_with(col("rv"), col("sv"), (a, b) => (a - b) * (a - b)),
        lit(0.0), (acc, x) => acc + x))
      .groupBy("vec_id", "cell", "j")
      .agg(min(struct(col("l2"), col("code"))).as("m"))
      .select(col("vec_id"), col("cell"), col("j"), col("m.code").as("code"))

  /** The PQ CODE INDEX — each vector's m nearest-codebook-entry ids
    * (L2, min-id tie-break), (vec_id, cell, j, code) rows: the
    * standing compressed form a production deployment keeps on disk
    * beside the coarse-cell layout, rebuilt only when the codebook
    * retrains. Pinned as a memo stage (like the LSH band index the
    * dedup family probes), so Bench prices the one-time N·m·K encode
    * inside `_substrate` and the search query pays steady-state cost.
    */
  private[operators] def pqCodes(spark: SparkSession, dir: String): DataFrame =
    DedupOps.memoStage(spark, dir, "pq_codes") {
      val (_, cents, ranked) = pqContext(spark, dir)
      val asg = OpCaches.track(pqResiduals(cents, ranked))
      pqEncodeWith(pqRsub(asg), pqCodebook(asg))
    }

  // ---- trained PQ codebooks (per-sub-space Lloyd) -------------------

  /** Lloyd rounds for the per-sub-space codebook training — the same
    * fixed-unroll budget as the coarse quantizer's [[LloydIters]]
    * (the oracle unrolls one CTE pair per round).
    */
  val PqLloydIters = 2

  /** One k-means step over ONE sub-space family, all m sub-spaces at
    * once: assign every residual sub-vector to its nearest codebook
    * entry (the exact encoding law — [[pqEncodeWith]]'s L2 min-id
    * order), then re-estimate each (j, code) entry as the elementwise
    * MEAN of its assigned sub-vectors. The mean uses the established
    * exact-integer device ([[lloydStep]]): components floored to
    * 2²⁴-scaled longs before the sum, so the update is order-
    * independent and bit-identical across engines, with exactly two
    * IEEE divisions at the end. Entries that end a round with no
    * assignments drop out (standard k-means; both engines derive the
    * same survivor set). Residual components are bounded (|v−c| ≤ 2
    * on unit-scale corpora), so a scaled component fits 26 bits and a
    * corpus-sized sum stays far inside BIGINT.
    */
  private def pqLloydStep(rsub: DataFrame, cb: DataFrame): DataFrame = {
    // same min-struct assignment as pqEncodeWith (the encoding law
    // lives in the comparison order, which is identical); rv rides as
    // a never-compared payload — it is constant within the (vec_id, j)
    // group, and (l2, code) is unique per candidate row
    val asg = rsub.join(broadcast(cb), Seq("j"))
      .withColumn("l2", aggregate(
        zip_with(col("rv"), col("sv"), (a, b) => (a - b) * (a - b)),
        lit(0.0), (acc, x) => acc + x))
      .groupBy("vec_id", "j")
      .agg(min(struct(col("l2"), col("code"), col("rv"))).as("m"))
      .select(col("j"), col("m.code").as("code"), col("m.rv").as("rv"))
    asg
      .select(col("j"), col("code"), posexplode(col("rv")).as(Seq("i", "x")))
      .groupBy("j", "code", "i")
      .agg(sum(floor(col("x") * lit(LloydScale)).cast("long")).as("s"),
        count(lit(1)).as("n"))
      .withColumn("comp", col("s").cast("double") / col("n") / lit(LloydScale))
      .groupBy("code", "j")
      .agg(transform(array_sort(collect_list(struct(col("i"), col("comp")))),
        e => e.getField("comp")).as("sv"))
      .select(col("code"), col("j"), col("sv"))
  }

  /** The Lloyd-TRAINED codebook — [[PqLloydIters]] per-sub-space
    * k-means steps from the seed-sample codebook, the production
    * refinement the seed construction's scaladoc names. Pinned as a
    * memo stage: training is index-build work a deployment pays once
    * per retrain (priced in `_substrate`), never per query. Each
    * round's codebook is tiny (≤ K·m rows) and localCheckpointed (the
    * iterative self-derived-frame rule); the residual sub-vector frame
    * is corpus-sized and tracked so the rounds share one
    * materialization.
    */
  private[operators] def pqCodebookTrained(spark: SparkSession, dir: String): DataFrame =
    DedupOps.memoStage(spark, dir, "pq_cbt") {
      val (_, cents, ranked) = pqContext(spark, dir)
      val asg = OpCaches.track(pqResiduals(cents, ranked))
      val rsub = OpCaches.track(pqRsub(asg))
      var cb = pqCodebook(asg)
      (1 to PqLloydIters).foreach { _ =>
        cb = OpCaches.localCheckpointTracked(pqLloydStep(rsub, cb))
      }
      cb
    }

  /** The TRAINED code index — [[pqCodes]]' exact shape, encoded
    * against [[pqCodebookTrained]]: what a deployment rebuilds when
    * the codebook retrains.
    */
  private[operators] def pqCodesTrained(spark: SparkSession, dir: String): DataFrame =
    DedupOps.memoStage(spark, dir, "pq_codes_t") {
      val (_, cents, ranked) = pqContext(spark, dir)
      val asg = OpCaches.track(pqResiduals(cents, ranked))
      pqEncodeWith(pqRsub(asg), pqCodebookTrained(spark, dir))
    }

  /** Total quantization distortion of a codebook over the corpus
    * residuals: Σ over (vector, sub-space) of the L2² to the NEAREST
    * entry — the k-means objective. Exposed for the spec's Lloyd
    * monotonicity pin: each training round's assignment step picks
    * the argmin and its update step is the within-cell mean (the L2²
    * minimizer), so distortion(trained) ≤ distortion(seed) is a
    * theorem, and a broken update (wrong scale, dropped entry
    * handling) breaks it measurably.
    */
  private[graft] def pqDistortion(spark: SparkSession, dir: String,
      trained: Boolean): Double = {
    import org.apache.spark.sql.expressions.Window
    val (_, cents, ranked) = pqContext(spark, dir)
    val asg = OpCaches.track(pqResiduals(cents, ranked))
    val cb = if (trained) pqCodebookTrained(spark, dir) else pqCodebook(asg)
    val wCode = Window.partitionBy("vec_id", "j").orderBy(col("l2"), col("code"))
    pqRsub(asg).join(broadcast(cb), Seq("j"))
      .withColumn("l2", aggregate(
        zip_with(col("rv"), col("sv"), (a, b) => (a - b) * (a - b)),
        lit(0.0), (acc, x) => acc + x))
      .withColumn("rnk", row_number().over(wCode))
      .filter(col("rnk") === 1)
      .agg(sum(col("l2"))).collect().head.getDouble(0)
  }

  /** IVF-PQ search, gated on recall like [[annRecallClustered]]:
    * coarse quantizer (the seed-centroid IVF, nprobe=2) prunes to the
    * probed cells, then candidates are scored from their CODES alone —
    * cosine(query, reconstruction), where the reconstruction is
    * cell centroid + codebook entry per sub-space (asymmetric
    * distance: the query side stays exact, the corpus side never
    * touches a raw vector). Encoding residuals (vector − cell
    * centroid) rather than vectors is the standard IVF-PQ coupling:
    * within a cell the centroid term is shared, so all ranking signal
    * must come from the quantized residual.
    *
    * Scale shape: encoding is one linear pass (N × m × K sub-vector
    * L2s, the one-time index build); search joins the probed cells'
    * code rows (m skinny rows per candidate) against three
    * BROADCAST side tables (codebook: K×m rows, centroid slices,
    * query slices) and folds the m per-sub-space terms in index order
    * (sort-collect fold, not a float `sum` — partial-sum merge order
    * is engine- and run-dependent; same discipline as
    * sampleTemperature's z). In-row claims: the recall floor AND the
    * bytes/vector compression, both oracle-checked.
    */
  /** ADC scoring core — (query_id, vec_id, cos) for every candidate in
    * a probed cell, scored from codes alone against an explicit
    * codebook: per sub-space, reconstruction = centroid slice +
    * codebook entry; numerator/denominator terms folded in j order.
    * Shared by the seed-codebook gate and the trained-codebook gate so
    * the asymmetric-distance law lives once. Returned frame is tracked
    * (the callers read it twice: top-k and shortlist).
    */
  private def pqAdcScores(ranked: DataFrame, cents: DataFrame,
      cb: DataFrame, codes: DataFrame): DataFrame = {
    import graft.functions.VectorExprs.dotProduct
    // queries: exact vectors (asymmetric), probing 2 cells
    val q = ranked.filter(col("arank") <= 2 && col("vec_id") < QueryCount)
      .select(col("cent_id").as("cell"), col("vec_id").as("query_id"))
    val qvecs = ranked.filter(col("arank") === 1 && col("vec_id") < QueryCount)
      .withColumn("qn", sqrt(dotProduct(col("v"), col("v"))))
      .select(col("vec_id").as("query_id"), col("qn"),
        posexplode(pqSubSlices(col("v"))).as(Seq("j", "qvj")))
    val centsub = cents.select(col("cent_id").as("cell"),
      posexplode(pqSubSlices(col("cv"))).as(Seq("j", "ccv")))
    val parts = q.join(codes, Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .join(broadcast(cb), Seq("j", "code"))
      .join(broadcast(centsub), Seq("cell", "j"))
      .join(broadcast(qvecs), Seq("query_id", "j"))
      .withColumn("xs", zip_with(col("ccv"), col("sv"), (a, b) => a + b))
      .select(col("query_id"), col("vec_id"), col("j"), col("qn"),
        dotProduct(col("qvj"), col("xs")).as("nj"),
        dotProduct(col("xs"), col("xs")).as("dj"))
    def foldByJ(c: Column) = aggregate(
      transform(array_sort(c), e => e.getField("t")),
      lit(0.0), (acc, x) => acc + x)
    OpCaches.track(parts.groupBy("query_id", "vec_id")
      .agg(collect_list(struct(col("j"), col("nj").as("t"))).as("ns"),
        collect_list(struct(col("j"), col("dj").as("t"))).as("ds"),
        first(col("qn")).as("qn"))
      .withColumn("cos", foldByJ(col("ns")) / (col("qn") * sqrt(foldByJ(col("ds"))))))
  }

  def annRecallPq(spark: SparkSession, dir: String): DataFrame = {
    val m = PqSubspaces
    val (base, cents, ranked) = pqContext(spark, dir)
    val cb = pqCodebook(OpCaches.track(pqResiduals(cents, ranked)))
    val codes = pqCodes(spark, dir)
    val sc = pqAdcScores(ranked, cents, cb, codes)
    val pqTop = topK(sc)
    // two-stage tier: exact re-rank of the ADC top-PqShortlist — the
    // only point raw vectors are touched, PqShortlist rows per query
    val shortlist = sc.groupBy("query_id")
      .agg(graft.functions.TopKAgg.topKByScore(
        col("cos").cast("double"), col("vec_id").cast("long"), PqShortlist).as("ids"))
      .select(col("query_id"), explode(col("ids")).as("vec_id"))
    val qfull = ranked.filter(col("arank") === 1 && col("vec_id") < QueryCount)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val rrTop = topK(shortlist
      .join(base.select(col("vec_id"), col("v")), Seq("vec_id"))
      .join(broadcast(qfull), Seq("query_id"))
      .withColumn("cos", graft.functions.VectorExprs.cosineSim(col("qv"), col("v"))))
    // recall vs the exact reference (pinned stage), floors +
    // compression in-row
    val brute = bruteClusteredStage(spark, dir)
    val denom = brute.agg(count(lit(1)).as("n_brute"))
    val bytesRaw = base.agg((max(size(col("v"))) * 4).cast("long").as("bytes_raw"))
    val bytesPq = (m * (64 - java.lang.Long.numberOfLeadingZeros(
      PqCodebookK - 1L).toInt) + 7) / 8
    def hitsOf(df: DataFrame, as: String) =
      df.select(col("query_id"), col("neighbor_id"))
        .join(brute, Seq("query_id", "neighbor_id"), "left_semi")
        .agg(count(lit(1)).as(as))
    hitsOf(pqTop, "n_hits")
      .select(lit("ivf_pq").as("method"), col("n_hits"))
      .crossJoin(broadcast(hitsOf(rrTop, "n_hits_rr")))
      .crossJoin(broadcast(denom))
      .filter(col("n_brute") > 0)
      .crossJoin(broadcast(bytesRaw))
      .withColumn("recall", col("n_hits").cast("double") / col("n_brute"))
      .withColumn("recall_floor", lit(PqRecallFloor))
      .withColumn("recall_ok", col("recall") >= col("recall_floor"))
      .withColumn("recall_rr", col("n_hits_rr").cast("double") / col("n_brute"))
      .withColumn("rr_floor", lit(PqRerankFloor))
      .withColumn("rr_ok", col("recall_rr") >= col("rr_floor"))
      .withColumn("bytes_pq", lit(bytesPq.toLong))
      .withColumn("compression",
        col("bytes_raw").cast("double") / col("bytes_pq"))
  }

  // ---- incremental PQ-code maintenance ------------------------------

  /** The ANN tier's delta predicate — vec_id % 5 == 0, mirroring the
    * dedup family's refresh fixture (DedupOps.deltaPredOn): the same
    * "today's shard" story, over embeddings.
    */
  private def pqDeltaPred(c: Column): Column = c % 5 === 0

  /** INCREMENTAL PQ-code maintenance — the dinc/linc analog for the
    * ANN tier: vectors arriving in a refresh encode against the
    * STANDING codebook and coarse centroids (both derived from the
    * BASE corpus — yesterday's index state) and their code rows APPEND
    * to the standing `pq_codes` index; a full re-encode happens only
    * when the codebook itself retrains. Because encoding is row-local
    * given (centroids, codebook), the appended rows are IDENTICAL to
    * what a full re-encode of the corpus against the same standing
    * state would produce for the delta ids — the oracle computes
    * exactly that full path and filters to the delta, so the hash gate
    * pins append ≡ full re-encode; the spec pins the work side
    * (encode input ∝ |delta|: this query's assignment and encoding
    * stages never touch a base vector).
    *
    * Scale shape: per refresh the only work is |delta| × C coarse
    * assignment + |delta| × m × K encoding, plus one TakeOrdered scan
    * of the base for the standing centroid seed (in production the
    * centroids/codebook are persisted state, not re-derived — here
    * they are recomputed deterministically so the oracle can replay
    * them, and both are tiny).
    */
  def pqCodesIncremental(spark: SparkSession, dir: String): DataFrame =
    pqCodesIncrementalOn(spark, dir, deltaOnly = true)

  /** The full-re-encode REFERENCE for [[pqCodesIncremental]]'s spec:
    * every corpus vector encoded against the same standing state,
    * restricted to delta ids afterward — the frame the append path
    * must equal row-for-row.
    */
  private[operators] def pqCodesIncrementalFull(spark: SparkSession, dir: String): DataFrame =
    pqCodesIncrementalOn(spark, dir, deltaOnly = false)

  private def pqCodesIncrementalOn(spark: SparkSession, dir: String,
      deltaOnly: Boolean): DataFrame = {
    val all = OpCaches.track(clusteredCorpus(spark, dir))
    val base = all.filter(!pqDeltaPred(col("vec_id")))
    // standing coarse centroids: the seed-sample rule over the BASE
    // corpus (yesterday's state); standing codebook: residuals of the
    // base vectors below PqCodebookK (the first-K rule, base-filtered)
    val cents = OpCaches.track(centroidsOn(base)
      .select(col("vec_id").as("cent_id"), col("v").as("cv")))
    val cb = pqCodebook(
      pqResiduals(cents, ivfRankedWith(base.filter(col("vec_id") < PqCodebookK), cents, 1)))
    val toEncode = if (deltaOnly) all.filter(pqDeltaPred(col("vec_id"))) else all
    val asg = pqResiduals(cents, ivfRankedWith(toEncode, cents, 1))
    val out = pqEncodeWith(pqRsub(asg), cb)
    (if (deltaOnly) out else out.filter(pqDeltaPred(col("vec_id"))))
      // j is posexplode's int position — widen to match the oracle's
      // BIGINT range() (schema-compared output, unlike the internal
      // code frames)
      .select(col("vec_id"), col("cell"), col("j").cast("long").as("j"),
        col("code"))
      .orderBy("vec_id", "j")
  }

  // ---- fully-trained IVF-PQ (trained coarse × trained codebooks) ----

  /** The fully-TRAINED PQ context: Lloyd-trained coarse centroids
    * (the pinned `cents_t` stage) and the nprobe-2 ranked assignment
    * against them — [[pqContext]] with training in the coarse tier.
    */
  private def pqContextTrained(spark: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame) = {
    (clusteredFromStage(spark, dir), centroidsTrainedStage(spark, dir),
      rankedTrainedStage(spark, dir))
  }

  /** Lloyd codebooks trained on the residuals of the TRAINED coarse
    * assignment — the composed stack's second tier, staged like
    * [[pqCodebookTrained]] (whose residuals come from the SEED coarse
    * assignment; that partial tier stays gated as `pqt`).
    */
  private[operators] def pqfCodebook(spark: SparkSession, dir: String): DataFrame =
    DedupOps.memoStage(spark, dir, "pqf_cb") {
      val (_, cents, ranked) = pqContextTrained(spark, dir)
      val asg = OpCaches.track(pqResiduals(cents, ranked))
      val rsub = OpCaches.track(pqRsub(asg))
      var cb = pqCodebook(asg)
      (1 to PqLloydIters).foreach { _ =>
        cb = OpCaches.localCheckpointTracked(pqLloydStep(rsub, cb))
      }
      cb
    }

  /** The composed stack's code index: trained-assignment residuals
    * encoded against [[pqfCodebook]].
    */
  private[operators] def pqfCodes(spark: SparkSession, dir: String): DataFrame =
    DedupOps.memoStage(spark, dir, "pqf_codes") {
      val (_, cents, ranked) = pqContextTrained(spark, dir)
      val asg = OpCaches.track(pqResiduals(cents, ranked))
      pqEncodeWith(pqRsub(asg), pqfCodebook(spark, dir))
    }

  /** Trained-codebook ADC recall floor — STRICTLY above the seed
    * codebook's [[PqRecallFloor]] 0.6: training must buy recall at the
    * same 10 bytes/vector, not merely preserve it (the same
    * trained-beats-seed contract [[TrainedRecallFloors]] pins for the
    * coarse quantizer). Measured 0.86 / 0.84 / 0.72 at
    * sf0.001/0.01/0.1 (seed ADC: 0.76 / 0.77 / 0.67) — deterministic;
    * the spec additionally asserts trained ≥ seed on the same corpus.
    */
  val PqtRecallFloor = 0.7

  /** The trained-codebook IVF-PQ gate: [[annRecallPq]]'s ADC tier with
    * [[pqCodebookTrained]] in place of the seed sample — same coarse
    * probe, same encoding law, same j-ordered fold, same
    * 10 bytes/vector (training moves WHERE the K·m entries sit, never
    * how many bits address them, so the compression claim rides
    * unchanged). No re-rank tier here: raw-vector re-rank would mask
    * codebook quality, and this row exists to pin exactly that.
    */
  def annRecallPqTrained(spark: SparkSession, dir: String): DataFrame = {
    val (base, cents, ranked) = pqContext(spark, dir)
    val cb = pqCodebookTrained(spark, dir)
    val codes = pqCodesTrained(spark, dir)
    adcRecallRow(spark, dir, base, topK(pqAdcScores(ranked, cents, cb, codes)),
      "ivf_pqt", PqtRecallFloor)
  }

  /** The shared ADC recall-gate tail: recall of `pqTop` against the
    * exact brute reference over `base`, with the floor and the
    * bytes/vector compression claims in hash-checked rows — one
    * definition for the trained-codebook (`pqt`) and fully-trained
    * (`pqf`) gates.
    */
  private def adcRecallRow(spark: SparkSession, dir: String,
      base: DataFrame, pqTop: DataFrame,
      method: String, floor: Double): DataFrame = {
    val brute = bruteClusteredStage(spark, dir)
    val denom = brute.agg(count(lit(1)).as("n_brute"))
    val bytesRaw = base.agg((max(size(col("v"))) * 4).cast("long").as("bytes_raw"))
    val bytesPq = (PqSubspaces * (64 - java.lang.Long.numberOfLeadingZeros(
      PqCodebookK - 1L).toInt) + 7) / 8
    pqTop.select(col("query_id"), col("neighbor_id"))
      .join(brute, Seq("query_id", "neighbor_id"), "left_semi")
      .agg(count(lit(1)).as("n_hits"))
      .select(lit(method).as("method"), col("n_hits"))
      .crossJoin(broadcast(denom))
      .filter(col("n_brute") > 0)
      .crossJoin(broadcast(bytesRaw))
      .withColumn("recall", col("n_hits").cast("double") / col("n_brute"))
      .withColumn("recall_floor", lit(floor))
      .withColumn("recall_ok", col("recall") >= col("recall_floor"))
      .withColumn("bytes_pq", lit(bytesPq.toLong))
      .withColumn("compression",
        col("bytes_raw").cast("double") / col("bytes_pq"))
  }

  /** Fully-trained ADC recall floor — the composed stack must clear
    * the best PARTIAL tier's floor (`pqt`'s 0.7) at the same
    * 10 bytes/vector; the spec additionally asserts composed recall ≥
    * max(seed-codebook `ivfpq`, trained-codebook `pqt`) on the same
    * corpus — the trained ≥ seed contract in its final form. Measured
    * (deterministic): 0.92 / 0.93 / 0.83 at sf0.001/0.01/0.1, vs
    * `pqt`'s 0.86 / 0.84 / 0.72 and `ivfpq`'s ADC 0.76 / 0.77 / 0.67.
    */
  val PqfRecallFloor = 0.7

  /** The COMPOSED fully-trained IVF-PQ gate: Lloyd-trained coarse
    * cells ([[centroidsTrainedStage]]), Lloyd codebooks trained on the
    * residuals of the TRAINED assignment ([[pqfCodebook]]), the same
    * encoding law, ADC fold, and 10 bytes/vector as every other PQ
    * tier. This closes the stack: `ivfpq` trains neither tier, `pqt`
    * trains only the codebook — this row trains both.
    */
  def annRecallPqFull(spark: SparkSession, dir: String): DataFrame = {
    val (base, cents, ranked) = pqContextTrained(spark, dir)
    adcRecallRow(spark, dir, base,
      topK(pqAdcScores(ranked, cents, pqfCodebook(spark, dir), pqfCodes(spark, dir))),
      "ivf_pqf", PqfRecallFloor)
  }

  val NeardupBands = 8
  val NeardupBandBits = 8

  /** Embedding near-duplicate pairs: banded sign-LSH candidate
    * generation + exact cosine verification, id-ordered int pairs
    * (ulp-safe). Replaces round 1's all-pairs nested-loop self-join —
    * the one O(N²) scale-killer in the repo.
    *
    * Blocking: the 64 dims split into 8 bands of 8 sign bits; a pair
    * is a candidate iff it matches some band exactly. For random
    * vectors each band collides with probability 2⁻⁸, so candidates
    * are ~3% of all pairs (measured at every test SF) and the work is
    * Σ bucket² per band — linear in corpus size at fixed density —
    * instead of N²/2. The equi-join on (band, bucket) is a plain
    * shuffled hash join: no BroadcastNestedLoopJoin anywhere (PlanSpec
    * pins this).
    *
    * Recall is partial BY CONSTRUCTION, like annLshBucket: a cos-0.9
    * near-dup pair matches a band with p = 1−(1−(1−θ/π)⁸)⁸ ≈ 0.94;
    * at the test corpus' 0.45 threshold (≈63° — not a near-dup angle;
    * chosen so the synthetic data yields rows) recall is lower. The
    * oracle replicates the banding, so the gate checks these exact
    * semantics. At 100 TB, band count/width are the recall/cost dial
    * (more bands = higher recall, linearly more candidate work).
    *
    * Verification hot loop: norms computed once per vector, fused
    * native DotProduct per surviving pair (the composed
    * zip_with+aggregate form was 20× slower), identical accumulation
    * order to the oracle's formula.
    */
  def embNeardupPairs(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorExprs.dotProduct
    val base = corpus(spark, dir)
      .withColumn("nrm", sqrt(dotProduct(col("v"), col("v"))))
    val cand = neardupCandidates(spark, dir)
    val a = base.select(col("vec_id").as("vec_a"), col("v").as("va"), col("nrm").as("na"))
    val b = base.select(col("vec_id").as("vec_b"), col("v").as("vb"), col("nrm").as("nb"))
    cand.join(a, Seq("vec_a")).join(b, Seq("vec_b"))
      .withColumn("cos", dotProduct(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") > 0.45)
      .select("vec_a", "vec_b")
      // materialized before the global sort so orderBy's range
      // sampling cannot re-run candidate generation + verification
      .transform(graft.operators.OpCaches.track)
      .orderBy("vec_a", "vec_b")
  }

  /** The sign-LSH band-bucket candidate stage of [[embNeardupPairs]]:
    * distinct pairs matching ≥1 of the 8 bands of 8 sign bits.
    * Exposed so the work-metric gate counts the exact candidate frame
    * production verifies.
    */
  private[operators] def neardupCandidates(spark: SparkSession, dir: String): DataFrame =
    DedupOps.memoStage(spark, dir, "neardup_cand")(neardupCandidatesBuild(spark, dir))

  private def neardupCandidatesBuild(spark: SparkSession, dir: String): DataFrame = {
    val bandCols = (0 until NeardupBands).map { t =>
      val bucket = (0 until NeardupBandBits).map { i =>
        when(element_at(col("v"), t * NeardupBandBits + i + 1) >= 0,
          lit(1L << i)).otherwise(lit(0L))
      }.reduce(_ + _)
      struct(lit(t).as("band"), bucket.as("bh"))
    }
    val banded = corpus(spark, dir)
      .select(col("vec_id"), explode(array(bandCols: _*)).as("b"))
      .select(col("vec_id"), col("b.band").as("band"), col("b.bh").as("bh"))
    banded.as("x").join(banded.as("y"), Seq("band", "bh"))
      .filter(col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
      .distinct()
  }

  // ---- semantic dedup (SemDeDup) ------------------------------------

  /** Cosine threshold for a semantic-duplicate pair. On the planted-
    * cluster fixture the within/between-cluster separation is wide
    * (measured within-cluster min ≈ 0.69, cross-cluster max ≈ 0.50
    * across sf0.001–0.1), so 0.6 sits in the gap with margin on both
    * sides — no boundary row can straddle the threshold between
    * engines.
    */
  val SemDedupTau = 0.6

  /** Standing semantic-cell membership — every clustered-corpus vector
    * assigned to its Lloyd-trained coarse cell (arank = 1) with its
    * cosine to the winning centroid RETAINED, as a pinned MEMO STAGE:
    * the dedup analog of the `pq_codes` index, built once per refresh
    * and probed by the from-scratch (`sdd`) and incremental (`sinc`,
    * `sref`) consumers. Same fused assignment chain as
    * [[ivfRankedWith]] (hoisted norms, index-order dots,
    * desc-cosine/asc-id tie-break) so the cell partition is the one
    * the search tier already uses — at 100 TB the corpus is
    * written partitioned by this cell and dedup runs per-partition.
    */
  private[graft] def semanticMembers(spark: SparkSession, dir: String): DataFrame =
    DedupOps.memoStage(spark, dir, "sem_asg") {
      import graft.functions.VectorExprs.dotProduct
      val base = clusteredCorpus(spark, dir)
        .withColumn("nrm", sqrt(dotProduct(col("v"), col("v"))))
      val cents = centroidsTrainedStage(spark, dir)
        .select(col("cent_id"), col("cv"),
          sqrt(dotProduct(col("cv"), col("cv"))).as("cnrm"))
      // nearest trained centroid per vector as a map-side-combinable
      // max over (ccos, −cent_id) structs — same winner as the old
      // arank=1 window (desc ccos, asc cent_id; the payload fields
      // trail and are never compared since cent_id is unique per
      // candidate row), without shuffling the N×C scored grid
      base.join(broadcast(cents), lit(true))
        .withColumn("ccos",
          dotProduct(col("cv"), col("v")) / (col("cnrm") * col("nrm")))
        .groupBy("vec_id")
        .agg(max(struct(col("ccos"), negate(col("cent_id")).as("nc"),
          col("v"), col("nrm"))).as("m"))
        .select(col("vec_id"), col("m.v").as("v"), col("m.nrm").as("nrm"),
          negate(col("m.nc")).as("cell"), col("m.ccos").as("ccos"))
    }

  /** Verified semantic-duplicate pairs between an (a, b) pair of
    * membership frames: equi-join on the CELL (never all-pairs — the
    * SemDeDup blocking), fused cosine per surviving pair, threshold
    * [[SemDedupTau]]. Callers pass the same frame twice (from-scratch)
    * or delta/full (incremental probe); the a < b filter plus the
    * commutativity of the per-element products keeps the emitted cos
    * bitwise independent of which side a vector arrived on.
    */
  private def semanticPairsBetween(a0: DataFrame, b0: DataFrame): DataFrame = {
    import graft.functions.VectorExprs.dotProduct
    val a = a0.select(col("cell"), col("vec_id").as("vec_a"),
      col("v").as("va"), col("nrm").as("na"))
    val b = b0.select(col("cell"), col("vec_id").as("vec_b"),
      col("v").as("vb"), col("nrm").as("nb"))
    a.join(b, Seq("cell"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cos",
        dotProduct(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= lit(SemDedupTau))
      .select(col("vec_a"), col("vec_b"), col("cos"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540 — the public
    * semantic-dedup construction): cluster the embedding corpus with
    * the TRAINED coarse quantizer, verify cosine pairs only WITHIN
    * each cell, connected-component the pair graph, and keep ONE
    * representative per semantic cluster — the member FARTHEST from
    * its cell centroid (lowest ccos; the paper's keep-low-similarity
    * rule, which retains the most informative exemplar), ties to the
    * lowest vec_id. Docs absent from every pair are their own
    * singleton cluster and keep.
    *
    * Scale: pair work is Σ n_cell² (never N²/2 — OperatorSpec
    * machine-checks the reduction factor), and the paper's dial is
    * k ∝ N so cells stay bounded; the CC fixpoint is
    * [[DedupOps.propagateLabels]], ∝ pair count. Cell assignment is
    * the pinned `sem_asg` stage priced in `_substrate`.
    */
  def semanticDedup(spark: SparkSession, dir: String): DataFrame =
    semanticVerdicts(spark, dir).orderBy("vec_id")

  /** The CONVERGED SemDeDup verdict frame — membership joined to its
    * component labels with the election applied — as a pinned MEMO
    * STAGE (`sem_labels`, priced in `_substrate`): the pair
    * verification + CC fixpoint + election runs ONCE per (session,
    * dir) and both consumers (`sdd`, the training-data composite's
    * drop set) read the pinned rows, instead of each re-paying the
    * fixpoint per consumer (the r17 audit's finding #3 — the
    * `cluster_labels` discipline, DedupOps.scala). `sinc`/`sref` keep
    * their own standing-state twins (sem_blabels/sem_bkeep): their
    * contract is delta-sized maintenance, not the from-scratch
    * verdict. (vec_id, cell, ccos, cluster, keep, kept_vec,
    * n_members).
    */
  private[graft] def semanticVerdicts(spark: SparkSession, dir: String): DataFrame =
    DedupOps.memoStage(spark, dir, "sem_labels") {
      val memb = semanticMembers(spark, dir)
      val labels = semanticLabelsOn(semanticPairsBetween(memb, memb))
      semanticElect(semanticAssign(memb, labels))
    }

  /** The drop set SemDeDup implies — vec_ids whose verdict is
    * keep = false (every non-elected member of a semantic cluster).
    * Consumed by the training-data composite's semantic-dedup stage
    * (PipelineOps.trainingData): the corpus's embedding is keyed by
    * the document id, so dropping these ids IS semantic dedup over
    * the document set.
    */
  def semanticDropIds(spark: SparkSession, dir: String): DataFrame =
    // a filter over the pinned `sem_labels` stage (the fixpoint +
    // election run once per session, not per consumer), eagerly
    // checkpointed like the composite's other skinny verdict frames:
    // the id set is consumed through several downstream branches, and
    // the checkpoint truncates the stage's printed lineage so the
    // composite's scan-count pin sees the delta-sized id rows, not
    // the election subtree
    OpCaches.localCheckpointTracked(
      semanticVerdicts(spark, dir)
        .filter(!col("keep"))
        .select(col("vec_id")))

  /** Converged min-label components over a (vec_a, vec_b) pair frame —
    * the CC step shared by the from-scratch dedup and the standing
    * base state. Returns (id, lbl).
    */
  private def semanticLabelsOn(pairs0: DataFrame): DataFrame = {
    val pairs = OpCaches.track(pairs0)
    val edges = OpCaches.localCheckpointTracked(
      pairs.select(col("vec_a").as("src"), col("vec_b").as("dst"))
        .unionAll(pairs.select(col("vec_b").as("src"), col("vec_a").as("dst"))))
    DedupOps.propagateLabels(edges)._1
  }

  /** Members joined to their component labels; label-less members are
    * their own singleton cluster. (vec_id, cell, ccos, cluster).
    */
  private def semanticAssign(memb: DataFrame, labels: DataFrame): DataFrame =
    memb.select(col("vec_id"), col("cell"), col("ccos"))
      .join(labels.select(col("id").as("vec_id"), col("lbl").as("cluster")),
        Seq("vec_id"), "left_outer")
      .withColumn("cluster", coalesce(col("cluster"), col("vec_id")))

  /** The SemDeDup election over an assigned (vec_id, cell, ccos,
    * cluster) frame — ONE policy shared by the from-scratch query, the
    * standing base table, and the incremental refresh's touched-only
    * re-election (the keepVerdicts discipline): keep the member
    * farthest from its centroid (ccos ASC), ties to the lowest vec_id.
    */
  private def semanticElect(assigned: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byProto = Window.partitionBy("cluster")
      .orderBy(asc("ccos"), asc("vec_id"))
    val whole = byProto
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    assigned
      .withColumn("keep", row_number().over(byProto) === 1)
      .withColumn("kept_vec", first(col("vec_id")).over(whole))
      .withColumn("n_members",
        count(lit(1)).over(Window.partitionBy("cluster")))
  }

  /** The STANDING side of the semantic refresh — the cell
    * membership minus the arriving shard (one delta definition shared
    * with [[semanticDedupDelta]] so the two cannot drift).
    */
  private[graft] def semanticStandingMembers(spark: SparkSession, dir: String): DataFrame =
    semanticMembers(spark, dir).filter(!pqDeltaPred(col("vec_id")))

  /** Incremental semantic-dup maintenance — the `pinc`/`dinc` analog
    * for SemDeDup: a delta shard of arriving vectors probes the
    * STANDING cell membership (`sem_asg`, built over the full corpus —
    * a deployment retrains cells per refresh, not per arrival), so
    * candidate work is ∝ |delta| · cell size, never corpus². Because
    * the full pair set is exactly the within-cell pairs, the probe
    * (delta × same-cell members, both orientations normalized) equals
    * the full pair query restricted to delta-touching pairs — which is
    * what the oracle pins.
    */
  def semanticDedupDelta(spark: SparkSession, dir: String): DataFrame =
    semanticDeltaPairs(spark, dir)
      .transform(OpCaches.track)
      .orderBy("vec_a", "vec_b")

  /** The delta probe's pair core — shared by the gated `sinc` query
    * and the incremental refresh ([[semanticRefresh]]), so the probe
    * law lives once. Unordered.
    */
  private def semanticDeltaPairs(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorExprs.dotProduct
    val memb = semanticMembers(spark, dir)
    val delta = memb.filter(pqDeltaPred(col("vec_id")))
    val a = delta.select(col("cell"), col("vec_id").as("ia"),
      col("v").as("va"), col("nrm").as("na"))
    val b = memb.select(col("cell"), col("vec_id").as("ib"),
      col("v").as("vb"), col("nrm").as("nb"))
    a.join(b, Seq("cell"))
      .filter(col("ia") =!= col("ib"))
      .withColumn("cos",
        dotProduct(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= lit(SemDedupTau))
      // normalize orientation; a delta-delta pair is probed from both
      // ends with a bitwise-identical cos (commutative products), so
      // distinct collapses the double-count exactly
      .select(least(col("ia"), col("ib")).as("vec_a"),
        greatest(col("ia"), col("ib")).as("vec_b"), col("cos"))
      .distinct()
  }

  /** STANDING semantic component labels — the converged (id, lbl)
    * frame over the BASE (non-delta) members' within-cell pairs: the
    * state a refresh pipeline persists between runs, pinned as a memo
    * stage (the baseLabels discipline).
    */
  private[graft] def semBaseLabels(spark: SparkSession, dir: String): DataFrame =
    DedupOps.memoStage(spark, dir, "sem_blabels") {
      val standing = semanticStandingMembers(spark, dir)
      semanticLabelsOn(semanticPairsBetween(standing, standing))
    }

  /** STANDING semantic retention verdicts under [[semBaseLabels]] —
    * yesterday's [[semanticDedup]] over the base corpus, the second
    * half of the persisted refresh state.
    */
  private[graft] def semBaseKeep(spark: SparkSession, dir: String): DataFrame =
    DedupOps.memoStage(spark, dir, "sem_bkeep") {
      semanticElect(semanticAssign(
        semanticStandingMembers(spark, dir), semBaseLabels(spark, dir)))
    }

  /** INCREMENTAL semantic refresh — the `linc` analog for the
    * semantic tier: the delta shard's probe pairs
    * ([[semanticDeltaPairs]], work ∝ |delta|·cell) merge into the
    * standing labels through the CONTRACTED graph
    * (DedupOps.contractedMapping — fixpoint work ∝ delta pairs, never
    * corpus), survivors re-elect ONLY in touched clusters, untouched
    * clusters' verdict rows carry from the standing table verbatim,
    * and pairless delta vectors admit as keep singletons. Cell + ccos
    * for delta vectors come from the membership index. Emits
    * `reelected` in-row; the oracle derives the flag independently
    * (cluster contains a delta-pair node) on top of the full
    * from-scratch chain, so the hash gate pins merge ≡ from-scratch
    * AND the exact touched set.
    */
  def semanticRefresh(spark: SparkSession, dir: String): DataFrame = {
    val memb = semanticMembers(spark, dir)
    val sLabels = semBaseLabels(spark, dir)
    val sKeep = semBaseKeep(spark, dir)
    val pairs = semanticDeltaPairs(spark, dir)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
    val m = OpCaches.track(DedupOps.contractedMapping(sLabels, pairs))
    // materialize the TOUCHED set (delta-scale), not the full merged
    // label table (corpus-scale): `merged` has exactly one consumer —
    // this join — while `touched` feeds two branches (the re-election
    // and the singleton anti-join), so the old shape eagerly wrote N
    // corpus rows to the block store per refresh to serve a
    // delta-sized need (guide §5 — cache what is reused, at the size
    // that is reused).
    val touched = OpCaches.localCheckpointTracked(
      DedupOps.applyMapping(sLabels, m)
        .join(m.select("lbl").distinct(), Seq("lbl"))
        .select(col("id").as("vec_id"), col("lbl").as("cluster")))
    val untouched = sKeep
      .join(m.select(col("id").as("cluster")), Seq("cluster"), "left_anti")
      .withColumn("reelected", lit(false))
    val reElect = semanticElect(
      touched.join(memb.select("vec_id", "cell", "ccos"), Seq("vec_id"))
        .select(col("vec_id"), col("cell"), col("ccos"), col("cluster")))
      .withColumn("reelected", lit(true))
    val singles = memb.filter(pqDeltaPred(col("vec_id")))
      .join(touched.select("vec_id"), Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cell"), col("ccos"),
        col("vec_id").as("cluster"), lit(true).as("keep"),
        col("vec_id").as("kept_vec"), lit(1L).as("n_members"),
        lit(false).as("reelected"))
    val cols = Seq("vec_id", "cell", "ccos", "cluster", "keep",
      "kept_vec", "n_members", "reelected").map(col)
    untouched.select(cols: _*)
      .unionByName(reElect.select(cols: _*))
      .unionByName(singles.select(cols: _*))
      .orderBy("vec_id")
  }
}
