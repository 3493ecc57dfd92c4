package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Corpus-pipeline operators beyond analysis/dedup/ANN: the
  * ingest-side transforms a 100 TB training-data pipeline runs between
  * raw crawl and training shards — PII redaction, deterministic
  * stratified sampling, salient-term extraction, funnel analysis over
  * event logs, and keyed upsert/merge of re-ingested batches.
  *
  * Everything here is a narrow, shuffle-minimal relational plan:
  * per-row regex work stays in whole-stage codegen; the sampling
  * filter is a pure function of the row (no RNG state, reproducible
  * under retries/replays — a hard requirement for auditable corpus
  * construction); merge is one key-shuffle; only tf-idf carries a
  * (skinny) token shuffle.
  */
object PipelineOps {

  // ---- PII redaction ---------------------------------------------------

  /** Patterns chosen to mean the same thing to Java regex (Spark,
    * codegen'd) and RE2 (the DuckDB oracle): no backrefs, no
    * lookaround, ASCII classes only.
    */
  private[graft] val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[graft] val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  private[graft] val PhoneRe = "\\+\\d[\\d\\- ]{7,}\\d"

  /** PII redaction over the documents corpus. The synthetic corpus
    * carries no PII, so a deterministic per-doc contact line is
    * appended first (replicated verbatim in the oracle) — the
    * patterns are then exercised end-to-end on every row instead of
    * matching nothing. Counts are taken BEFORE redaction; the
    * redacted text must contain none of the three patterns
    * afterwards (asserted in PipelineOpsSpec).
    *
    * Redaction order matters and is pinned: emails first (an email
    * local part may contain digits that the phone pattern would
    * otherwise mangle), then IPs (dotted digits — must not be eaten
    * as phone digits), then phones.
    */
  def piiRedact(spark: SparkSession, dir: String): DataFrame = {
    val augmented = concat(col("text"),
      lit(" contact: user"), col("doc_id").cast("string"),
      lit("@example.com tel +1 555-010"), (col("doc_id") % 10).cast("string"),
      lit(" host 10.0.0."), (col("doc_id") % 256).cast("string"))
    Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), augmented.as("aug"))
      .select(col("doc_id"),
        regexp_count(col("aug"), lit(EmailRe)).cast("long").as("n_emails"),
        regexp_count(col("aug"), lit(Ipv4Re)).cast("long").as("n_ips"),
        regexp_replace(
          regexp_replace(
            regexp_replace(col("aug"), EmailRe, "<EMAIL>"),
            Ipv4Re, "<IP>"),
          PhoneRe, "<PHONE>").as("redacted"))
      .orderBy("doc_id")
  }

  // ---- deterministic stratified sampling -------------------------------

  /** Per-stratum sampling rates as a hex threshold on the first md5
    * byte of the key: 'en' keeps ≈ 0x1a/0x100 ≈ 10% (the dominant
    * class, downsampled), every other language ≈ 50%. The decision is
    * a pure function of (doc_id, lang) — identical on every engine
    * that agrees on md5, reproducible under task retries, speculative
    * execution, and re-ingestion, and requires no sampling state. A
    * seeded `sample()` has none of those properties (Spark's sampler
    * is partition-placement-dependent).
    */
  def sampleStratified(spark: SparkSession, dir: String): DataFrame = {
    val bucket = substring(md5(col("doc_id").cast("string").cast("binary")), 1, 2)
    val threshold = when(col("lang") === "en", lit("1a")).otherwise(lit("80"))
    Tables.documents(spark, dir)
      .filter(bucket < threshold)
      .select(col("doc_id"), col("lang"), bucket.as("bucket"))
      .orderBy("doc_id")
  }

  /** Deterministic seeded train/val/test split — the corpus staple
    * that `sample`/`randomSplit` cannot be at scale: those draw from a
    * partition-order-dependent RNG stream, so adding one file (or
    * letting AQE re-split an input) silently reassigns documents
    * across sets — train/test leakage by infrastructure. Here the
    * assignment is a pure function of `(seed, doc_id)` via md5:
    *  - disjoint + exhaustive by construction (every row lands in
    *    exactly one named set);
    *  - shard-stable (no partition/order/cluster-size dependence —
    *    the same doc gets the same set on 1 executor or 1000);
    *  - reproducible AND re-rollable (a new seed re-deals every
    *    assignment; the old seed replays the old split forever);
    *  - independent of every feature column, so each stratum inherits
    *    the global ratios in expectation (no per-lang skew).
    * The first two hex chars give 256 buckets: train < 0xcc (204/256
    * ≈ 79.7%), val < 0xe6 (26/256 ≈ 10.2%), else test — ratios are
    * byte-resolution by design; callers needing finer cuts take more
    * hex chars. One narrow projection, no shuffle, no state.
    */
  def splitCorpus(spark: SparkSession, dir: String,
      seed: String = "graft:v1"): DataFrame = {
    val (bucket, split) = splitAssignment(seed)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), bucket.as("bucket"),
        split.as("split"))
      .orderBy("doc_id")
  }

  /** The (bucket, split) assignment columns behind [[splitCorpus]] —
    * pure row-local functions of (seed, doc_id) with no state, no
    * shuffle, and no clock, so a document lands in the same split
    * whatever frame or partitioning it arrives in (a randomSplit-style
    * RNG assignment would re-deal on every run).
    */
  def splitAssignment(seed: String): (Column, Column) = {
    val bucket = substring(
      md5(concat(lit(seed), lit(":"), col("doc_id").cast("string"))
        .cast("binary")), 1, 2)
    val split = when(bucket < "cc", "train")
      .when(bucket < "e6", "val")
      .otherwise("test")
    (bucket, split)
  }

  /** Temperature-scaled corpus mixing — the GPT-3/Pile data-recipe
    * staple: sources (languages here) contribute to the training mix
    * by SOFTENED share `sqrt(n_s) / Σ sqrt(n_t)` (temperature 2, the
    * common choice — exponent 0.5 is `sqrt`, which is IEEE
    * correctly-rounded and therefore engine-exact, unlike a general
    * `pow`), so small sources are up-weighted relative to raw
    * proportions without an arbitrary hand-set rate per source
    * (contrast `sampleStratified`, where rates are constants, and
    * `sampleSourceQuota`, which caps counts). Each source's keep-rate
    * is `min(1, share · budget · N / n_s)` — derived FROM the data —
    * and membership is the same deterministic md5-bucket test the
    * other samplers use (16-bit buckets compared as INTEGERS: a
    * rate of 1.0 maps to threshold 65536, which no 4-hex bucket
    * reaches lexicographically — hex-STRING comparison breaks there).
    *
    * The normalizer `z = Σ sqrt(n_s)` is summed as exact LONGs of
    * `floor(sqrt(n_s)·1e6)`, NOT as a float sum: Spark merges partial
    * float sums in shuffle-block arrival order, which is neither
    * run-stable nor DuckDB's accumulation order, and an ulp
    * difference in z flips membership whenever `rate·65536` sits on
    * an integer boundary (r14 advice). The grid snap is `floor` over
    * an identical IEEE chain (sqrt and ×1e6 are correctly rounded,
    * floor is exact) — NOT fractional `round(x, 6)`, whose rounding
    * algorithm itself is engine-divergent (Spark rounds the shortest
    * decimal repr HALF_UP; DuckDB rounds in float space), the same
    * hazard the sum fix removes. Integer sums are exact and
    * order-independent in both engines; the 1e-6 grid loses nothing
    * a sampling share cares about.
    *
    * Plan: one tiny per-source aggregate, broadcast back, one
    * map-side filter — no shuffle of the corpus itself. At 100 TB the
    * source stats are a dozen rows; the scan stays a single pass.
    */
  def sampleTemperature(spark: SparkSession, dir: String,
      budgetFrac: Double = 0.4): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val sizes = docs.groupBy("lang")
      .agg(count(lit(1)).cast("double").as("n_docs"))
    val sqrt6 = floor(sqrt(col("n_docs")) * lit(1e6))
    val tot = sizes.agg(
      sum(sqrt6.cast("long")).cast("double").as("z"),
      sum(col("n_docs")).as("n_total"))
    val rates = sizes.crossJoin(broadcast(tot))
      .withColumn("share", sqrt6 / col("z"))
      .withColumn("rate", least(lit(1.0),
        col("share") * lit(budgetFrac) * col("n_total") / col("n_docs")))
      .select(col("lang"), col("share"), col("rate"))
    val bucket = conv(substring(
      md5(col("doc_id").cast("string").cast("binary")), 1, 4), 16, 10)
      .cast("long")
    docs.join(broadcast(rates), Seq("lang"))
      .filter(bucket < floor(col("rate") * 65536).cast("long"))
      .select(col("doc_id"), col("lang"), col("share"), col("rate"))
      .orderBy("doc_id")
  }

  /** Seeded EPOCH SHUFFLE — the deterministic training-order
    * permutation every epoch of a training run needs: position =
    * global rank of `md5(seed:epoch:doc_id)` (doc_id tie-break, so
    * the order is total even across md5 collisions). A pure function
    * of (seed, epoch, doc_id), like [[splitCorpus]]'s assignment —
    * shard-stable where an `orderBy(rand(seed))` re-deals under any
    * layout change (input splits, partition count, speculative
    * retries: training-order nondeterminism by infrastructure), and
    * re-dealt ONLY by an explicit epoch or seed change.
    *
    * Plan — ONE shuffle of the corpus, no global window: range-
    * repartition on the shuffle key (the sort), sort within
    * partitions, then global position = per-partition offset + local
    * index. The local index derives from `monotonically_increasing_id`
    * stamped AFTER the sort (row order under a unique total key is
    * deterministic), normalized per partition via min(mid); offsets
    * are a running sum over the per-partition counts — a
    * numShufflePartitions-row frame (the single-partition window over
    * it is deliberate and tiny) broadcast back. The id-stamped frame
    * is eagerly localCheckpointed before branching: the offsets agg
    * and the final join must see the SAME partition boundaries and
    * ids, and two executions of a range exchange re-sample boundaries
    * independently (same discipline as intervalOverlapOuter's row-id
    * frame). At 100 TB this is one materialized pass — exactly the
    * shuffle the permutation itself requires, nothing extra.
    */
  def epochShuffle(spark: SparkSession, dir: String, epoch: Int = 0,
      seed: String = "graft:v1"): DataFrame =
    epochShuffleOf(Tables.documents(spark, dir), epoch, seed)
      .orderBy("doc_id")

  /** [[epochShuffle]] over an explicit frame — the spec surface for
    * the layout-independence pin. docs needs (doc_id LONG, lang
    * STRING); emits (doc_id, lang, ek, pos) with pos a 1-based
    * permutation of 1..N.
    */
  def epochShuffleOf(docs: DataFrame, epoch: Int, seed: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = docs.sparkSession
    val ek = md5(concat_ws(":", lit(seed), lit(epoch.toString),
      col("doc_id").cast("string")).cast("binary"))
    val n = spark.sessionState.conf.numShufflePartitions
    val parted = docs.select(col("doc_id"), col("lang"), ek.as("ek"))
      .repartitionByRange(n, col("ek"), col("doc_id"))
      .sortWithinPartitions("ek", "doc_id")
      .withColumn("__pid", spark_partition_id())
      .withColumn("__mid", monotonically_increasing_id())
    val cp = OpCaches.localCheckpointTracked(parted)
    // monotonically_increasing_id's documented contract is monotonic +
    // unique; the position math additionally needs CONSECUTIVE ids
    // within each partition (true of the current implementation:
    // partitionId << 33 | row index). Guard the assumption — if a
    // Spark-internal change ever broke it, this would otherwise emit a
    // silent non-permutation.
    val offs = cp.groupBy("__pid")
      .agg(count(lit(1)).as("__cnt"), min("__mid").as("__mid0"),
        max("__mid").as("__mid1"))
      .withColumn("__ck", assert_true(
        col("__mid1") - col("__mid0") + 1 === col("__cnt"),
        lit("monotonically_increasing_id not consecutive within a partition")))
      .filter(col("__ck").isNull)
      .withColumn("__off", coalesce(
        sum(col("__cnt")).over(Window.orderBy("__pid")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("__pid", "__mid0", "__off")
    cp.join(broadcast(offs), Seq("__pid"))
      .withColumn("pos", col("__off") + (col("__mid") - col("__mid0")) + lit(1L))
      .select("doc_id", "lang", "ek", "pos")
  }

  // ---- salient terms (tf-idf-shaped, oracle-exact) ---------------------

  /** Top-3 salient terms per document, scored tf · (N / df). The
    * score deliberately uses division+multiplication only — both are
    * single correctly-rounded IEEE ops, so Spark and the oracle agree
    * bitwise, unlike ln(N/df) (libm-dependent). Rank ties break on the
    * term itself. Plan: one (doc_id, tok) count, one tok-keyed df
    * aggregate joined back (AQE broadcasts it at small SF; at corpus
    * scale it stays a skinny shuffle on tok), one doc_id-partitioned
    * top-3 window.
    */
  def tfidfTopK(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    // corpus size as a broadcast one-row frame, not a driver count():
    // keeps the plan lazy and the constant distributed with the plan
    val n = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    val toks = docs.select(col("doc_id"),
        explode(split(trim(col("text")), "\\s+")).as("term"))
      .filter(col("term") =!= "")
    // df re-aggregates tf, and a derived frame re-executes its whole
    // subtree — without cutting the lineage the corpus tokenizes TWICE
    // (once per consumer). Checkpoint the skinny (doc, term, tf) rows;
    // released by releaseTransients (same fix as bm25Search).
    val tf = graft.operators.OpCaches.localCheckpointTracked(
      toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf")))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id")
      .orderBy(desc("score"), col("term"))
    tf.join(df, Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("score", col("tf") * (col("n_docs") / col("df")))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("score"), col("rk"))
      .orderBy("doc_id", "rk")
  }

  // ---- event funnel ----------------------------------------------------

  /** Ordered conversion funnel view → click → purchase per user:
    * stage k counts users whose earliest stage-k event happens
    * strictly after their earliest qualifying stage-(k-1) event.
    * Three skinny per-user min-aggregates chained by inner joins —
    * one user-keyed shuffle each, no window over the raw event log.
    */
  def eventsFunnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(col("user_id"), col("event_type"), col("ts"))
    def firstAfter(typ: String, prev: Option[DataFrame]): DataFrame = {
      val typed = ev.filter(col("event_type") === typ)
      val scoped = prev match {
        case Some(p) => typed.join(p, Seq("user_id")).filter(col("ts") > col("prev_ts"))
        case None => typed
      }
      scoped.groupBy("user_id").agg(min("ts").as("prev_ts"))
    }
    val v = firstAfter("view", None)
    val c = firstAfter("click", Some(v))
    val p = firstAfter("purchase", Some(c))
    val stages = Seq(("1_view", v), ("2_click", c), ("3_purchase", p))
    stages.map { case (name, df) =>
      df.agg(count(lit(1)).as("users")).select(lit(name).as("stage"), col("users"))
    }.reduce(_ unionAll _)
      // drop unpopulated stages so an empty event log yields zero rows
      // (the uniform empty-input contract), not three zero-count rows
      .filter(col("users") > 0)
      .orderBy("stage")
  }

  // ---- keyed upsert / merge --------------------------------------------

  /** SCD1 upsert of a re-ingested batch into the orders table — the
    * maintenance operation every long-lived corpus needs (refreshed
    * crawls, re-scored documents). The update batch is derived
    * deterministically here so the oracle replicates it: every key
    * ≡ 0 (mod 10) gets a 10% price bump, and a shifted copy of keys
    * ≡ 1 (mod 10) arrives as brand-new rows.
    *
    * Merge form: left-anti (keep base rows not updated) ⊎ updates.
    * That is ONE key-shuffle over each side and no full-outer join
    * row-matching; at 100 TB both sides hash-partition on the key and
    * the anti side streams. Updated-wins, inserts land, untouched
    * rows pass through byte-identical.
    */
  def mergeUpsert(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(spark, dir)
    val cols = base.columns.map(col).toSeq
    val bumped = base.filter(col("o_orderkey") % 10 === 0)
      .withColumn("o_totalprice", col("o_totalprice") * 1.1)
    val inserts = base.filter(col("o_orderkey") % 10 === 1)
      .withColumn("o_orderkey", col("o_orderkey") + 1000000000L)
    val updates = bumped.select(cols: _*).unionAll(inserts.select(cols: _*))
    base.join(updates.select("o_orderkey"), Seq("o_orderkey"), "left_anti")
      .select(cols: _*)
      .unionAll(updates)
      .orderBy("o_orderkey")
  }

  // ---- sequence packing ------------------------------------------------

  /** Context-window budget in tokens for packSequences. */
  private[graft] val PackBudget = 512

  /** GPT-style sequence packing with concat-then-chunk semantics:
    * documents are concatenated in a deterministic order and cut into
    * fixed 512-token windows; a document's bin is the window its FIRST
    * token lands in (bin = floor(start_offset / budget)).
    *
    * The packing stratum is (lang, hash-bucket), not lang alone: a
    * real corpus is ~90% one language, so a per-lang cumsum would
    * funnel 90 TB of a 100 TB corpus through ONE window partition.
    * The bucket is the first hex char of md5(doc_id) — 16 sub-strata,
    * deterministic, engine-agnostic (same construction as
    * sampleStratified), so the dominant stratum's cumsum parallelizes
    * 16 ways and each window partition is bounded by corpus/16 per
    * lang. Each sub-stratum packs independently (its own offset 0 and
    * bins — equivalent to 16 independent shard files per language,
    * which is exactly how a packed corpus ships at scale); widening to
    * 64/256 buckets is a constant change.
    */
  def packSequences(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("lang", "bucket").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        substring(md5(col("doc_id").cast("string").cast("binary")), 1, 1).as("bucket"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
      .filter(col("n_tokens").isNotNull)
      .withColumn("start_off", sum("n_tokens").over(w) - col("n_tokens"))
      .withColumn("bin", floor(col("start_off") / PackBudget))
      // NULLS LAST pinned explicitly: Spark's default asc ordering is
      // NULLS FIRST, DuckDB's is NULLS LAST — a NULL lang would silently
      // break the hash gate even though today's corpus has none.
      .orderBy(asc_nulls_last("lang"), col("bucket"), col("doc_id"))
  }

  // ---- winsorization ---------------------------------------------------

  /** Per-group winsorization: clamp each part's retail price into its
    * type's exact interpolated [p05, p95] band — the outlier-taming
    * cleanup run before numeric features feed a model. The per-group
    * thresholds are a tiny aggregate joined back (AQE broadcasts it);
    * the fact scan never shuffles.
    *
    * The interpolation is computed EXPLICITLY — rank lookup plus
    * v_lo + (v_hi − v_lo)·frac, every step a correctly-rounded IEEE op
    * — rather than through the engines' percentile functions: Spark's
    * `percentile` and DuckDB's `quantile_cont` use algebraically equal
    * but differently-rounded formulas, and at sf0.1 the p_type=STANDARD
    * p95 landed 1 ulp apart (994.9 vs 994.8999999999999), failing the
    * bitwise gate. Same order statistics, same doubles, by
    * construction, at every corpus size.
    */
  def winsorizeByGroup(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = Tables.part(spark, dir)
      .select(col("p_partkey"), col("p_type"), col("p_retailprice"))
    val w = Window.partitionBy("p_type").orderBy("v")
    val ranked = base.filter(col("p_retailprice").isNotNull)
      .select(col("p_type"), col("p_retailprice").as("v"))
      .withColumn("rn", row_number().over(w).cast("long") - 1)
    val counts = ranked.groupBy("p_type").agg(count(lit(1)).as("n"))
    def idx(q: Double) = (col("n") - 1).cast("double") * q
    val j = ranked.join(counts, Seq("p_type"))
      .select(col("p_type"), col("v"), col("rn"),
        idx(0.05).as("i05"), idx(0.95).as("i95"))
    def pick(i: Column, edge: Column => Column) =
      min(when(col("rn") === edge(i).cast("long"), col("v")))
    val bounds = j.groupBy("p_type")
      .agg(pick(col("i05"), floor).as("lo05"), pick(col("i05"), ceil).as("hi05"),
        pick(col("i95"), floor).as("lo95"), pick(col("i95"), ceil).as("hi95"),
        min(col("i05")).as("i05"), min(col("i95")).as("i95"))
      .select(col("p_type"),
        (col("lo05") + (col("hi05") - col("lo05")) *
          (col("i05") - floor(col("i05")).cast("double"))).as("lo"),
        (col("lo95") + (col("hi95") - col("lo95")) *
          (col("i95") - floor(col("i95")).cast("double"))).as("hi"))
    base.join(broadcast(bounds), Seq("p_type"))
      .select(col("p_partkey"), col("p_type"), col("p_retailprice"),
        greatest(least(col("p_retailprice"), col("hi")), col("lo")).as("winsorized"))
      .orderBy("p_partkey")
  }

  // ---- train/eval decontamination --------------------------------------

  /** Benchmark decontamination: drop training documents whose
    * normalized content exactly matches any held-out eval document
    * (here: every 50th doc_id stands in for the benchmark set). One
    * anti-join on a 16-byte content fingerprint — the train side
    * streams, the eval fingerprints are a skinny build side. The
    * fingerprint (md5 of lower/trim) matches dedupExactText's, so the
    * same normalization governs dedup and decontamination.
    */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), md5(lower(trim(col("text")))).as("fp"))
    val evalFps = docs.filter(col("doc_id") % 50 === 0).select("fp")
    docs.filter(col("doc_id") % 50 =!= 0)
      .join(evalFps, Seq("fp"), "left_anti")
      .select("doc_id", "lang", "fp")
      .orderBy("doc_id")
  }

  /** N-gram size for decontaminateNgram — the GPT-3-family rule uses
    * 8..13-token overlap; 8 is the strict end.
    */
  private[graft] val DecontamK = 8

  /** N-gram-overlap decontamination — the production-strength form of
    * `decontaminate`: a training document is dropped if it shares ANY
    * word 8-gram with any eval document (exact match only catches
    * verbatim copies; eval text quoted inside a larger page needs
    * this). Same eval split (doc_id % 50 == 0).
    *
    * Plan: posexplode → one `lead` window per doc (the shingleRows
    * shape, k=8) → md5 the gram so joins ship fixed 32-byte keys, not
    * document text; eval grams are the distinct skinny side of a
    * semi-join marking contaminated train docs, then one anti-join.
    * Everything shuffles (hash, id) pairs — gram text never leaves its
    * map task. A doc shorter than 8 tokens has no grams and can never
    * be contaminated (or contaminate), matching the oracle's WHERE.
    */
  /** (doc_id, g) rows — the md5 of every complete word k-gram of every
    * document, built with one posexplode and one per-doc lead window
    * (the shingleRows shape). Joins downstream ship fixed 32-byte
    * hashes, never gram text. Shared by decontaminateNgram and
    * dupSpans so one tokenization governs both.
    */
  private def wordGramHashes(spark: SparkSession, dir: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val toks = docs.select(col("doc_id"),
      posexplode(TextOps.tokens(col("text"))).as(Seq("pos", "tok")))
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val leads = (1 until k).map(j => lead(col("tok"), j).over(w))
    toks
      .select(col("doc_id"),
        md5(concat_ws(" ", (col("tok") +: leads): _*).cast("binary")).as("g"),
        leads.last.isNotNull.as("_complete"))
      .filter(col("_complete"))
      .select("doc_id", "g")
  }

  /** Distinct (doc_id, gram-hash) rows for DecontamK-grams, memoized
    * per (session, dir) and persisted PINNED — decontamination and the
    * duplicated-span signal share one tokenization, the same
    * shared-staging-table policy as the dedup shingle substrate (and
    * the same race-safe putIfAbsent-then-persist protocol; see
    * OpCaches.memoPinned for the rationale). Distinct input is
    * semantics-preserving for decontaminateNgram (its joins are
    * semi/anti on gram membership) and is exactly what dupSpans
    * counts. Lifecycle: DedupOps.clearCaches drops this too.
    */
  private val gramCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  private[operators] def gramRowsCached(spark: SparkSession, dir: String): DataFrame =
    OpCaches.memoPinned(gramCache, (spark, dir))(
      wordGramHashes(spark, dir, DecontamK).distinct())

  private[operators] def clearGramCache(spark: SparkSession): Unit =
    gramCache.keys.filter(_._1 eq spark).foreach(gramCache.remove)

  /** Warm-up hook so Bench can attribute the one-time gram
    * materialization to the `_substrate` line (same policy as the
    * shingle substrate).
    */
  def materializeGramSubstrate(spark: SparkSession, dir: String): Unit =
    gramRowsCached(spark, dir).write.format("noop").mode("overwrite").save()

  def decontaminateNgram(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val grams = gramRowsCached(spark, dir)
    val evalG = grams.filter(col("doc_id") % 50 === 0).select("g").distinct()
    val bad = grams.filter(col("doc_id") % 50 =!= 0)
      .join(evalG, Seq("g"), "left_semi")
      .select("doc_id").distinct()
    docs.filter(col("doc_id") % 50 =!= 0)
      .join(bad, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"))
      .orderBy("doc_id")
  }

  /** Corpus-level duplicated-span signal (the Gopher/MassiveText
    * "duplicate n-gram fraction" family, at span granularity): for
    * each document, how many of its distinct word 8-grams also occur
    * in at least one OTHER document. Exact dedup misses templated
    * boilerplate stitched into otherwise-unique pages; this measures
    * it directly, and n_dup/n_grams is the usual filter threshold.
    * Plan: distinct (doc_id, gram-hash) pairs → gram doc-frequency by
    * one hash-partitioned count → join back on `g` (co-partitioned
    * with the count's exchange, so the join reuses it) → one per-doc
    * aggregate. Counts are integers — exact on any engine, no float
    * quantization needed. Docs shorter than 8 tokens surface with
    * zero counts via the left join rather than vanishing.
    */
  def dupSpans(spark: SparkSession, dir: String): DataFrame = {
    // the memoized substrate serves BOTH consumers here (the
    // doc-frequency branch and the per-doc join) and the
    // decontamination query — the distinct itself piggybacks on the
    // lead-window's doc_id partitioning (no extra exchange)
    val grams = gramRowsCached(spark, dir)
    val df = grams.groupBy("g").agg(count(lit(1)).as("gdf"))
    val perDoc = grams.join(df, Seq("g"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        count(when(col("gdf") >= 2, 1)).as("n_dup"))
    Tables.documents(spark, dir).select("doc_id", "lang")
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"))
      .orderBy("doc_id")
  }

  // ---- per-source quota sampling ----------------------------------------

  /** Max documents kept per source in sampleSourceQuota. */
  private[graft] val SourceQuota = 10

  /** Domain/source balancing: keep at most SourceQuota documents per
    * source, selected in a deterministic pseudo-random order (md5 of
    * doc_id, ties by doc_id) so re-runs, retries, and re-ingestions
    * pick the identical subset — same reproducibility contract as
    * sampleStratified. The standard guard against one crawler domain
    * dominating a corpus.
    *
    * The rank window partitions by source, but the rank<=Q filter
    * pushes a partial WindowGroupLimit below the exchange (PlanSpec
    * pins it), so the shuffle carries at most Q rows per (source,
    * mapper) — a hot domain costs what a cold one does.
    */
  /** Importance (score-proportional) sampling: each document is kept
    * with probability ∝ its quality proxy (n_chars, saturating at
    * 2000), decided purely from a keyed hash — `h(doc_id) mod 2¹⁶ <
    * ⌊min(1, n_chars/2000)·2¹⁶⌋` — so the decision is integer-exact,
    * reproducible under retries/speculation/re-ingestion, and needs no
    * sampler state (same contract as sampleStratified, distinct salt
    * so the two samples are independent). The standard up-weight-the-
    * good-docs pass of a training-data pipeline, as one narrow
    * codegen'd filter over the scan.
    */
  def sampleImportance(spark: SparkSession, dir: String): DataFrame = {
    val h = conv(substring(
      md5(concat(lit("imp|"), col("doc_id").cast("string")).cast("binary")), 1, 4),
      16, 10).cast("long")
    Tables.documents(spark, dir)
      .withColumn("thr", least(lit(65536L), expr("n_chars * 65536 DIV 2000")))
      .filter(h < col("thr"))
      .select(col("doc_id"), col("n_chars"), col("thr"))
      .orderBy("doc_id")
  }

  def sampleSourceQuota(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source")
      .orderBy(md5(col("doc_id").cast("string").cast("binary")), col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= SourceQuota)
      .orderBy("doc_id")
  }

  /** Minimum token count for a document to survive corpusPipeline's
    * quality gate.
    */
  private[graft] val CorpusMinTokens = 10

  /** The training-data pipeline composed end-to-end as ONE declarative
    * plan: quality gate (token count) → exact keep-first dedup on the
    * content fingerprint → eval-split decontamination on the same
    * fingerprint → per-source quota balancing. Each stage exists as a
    * standalone oracle-gated operator; this query pins that they
    * compose — Catalyst sees the whole pipeline at once, so the
    * document scan happens ONCE and column pruning/filter ordering
    * work across stage boundaries, which is precisely the argument for
    * running corpus preprocessing inside the engine instead of as
    * glued-together jobs. Stage semantics and constants are shared
    * with the standalone operators (same fingerprint as dedup +
    * decontaminate, same md5 rank as quota_sample).
    */
  def corpusPipeline(spark: SparkSession, dir: String): DataFrame =
    corpusSurvivorsFrom(Tables.documents(spark, dir)).orderBy("doc_id")

  /** [[corpusPipeline]]'s stages over an explicit docs frame, without
    * the output sort — the surviving (doc_id, source, lang, n_tokens)
    * set, consumed mid-plan by the end-to-end composite
    * [[trainingData]] (a mid-plan global sort would add an exchange
    * for nothing).
    */
  private[graft] def corpusSurvivorsFrom(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // checkpointed: the dedup spine AND the eval-fingerprint branch
    // both read these skinny (id, meta, fp) rows — without it each
    // branch re-reads and re-fingerprints the raw document scan
    val base = OpCaches.localCheckpointTracked(
      docs
        .select(col("doc_id"), col("source"), col("lang"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"),
          md5(lower(trim(col("text")))).as("fp"))
        .filter(col("n_tokens") >= CorpusMinTokens))
    val keepFirst = Window.partitionBy("fp").orderBy("doc_id")
    val deduped = base
      .withColumn("rn", row_number().over(keepFirst))
      .filter(col("rn") === 1)
    val evalFps = base.filter(col("doc_id") % 50 === 0).select("fp").distinct()
    val train = deduped.filter(col("doc_id") % 50 =!= 0)
      .join(evalFps, Seq("fp"), "left_anti")
    val quota = Window.partitionBy("source")
      .orderBy(md5(col("doc_id").cast("string").cast("binary")), col("doc_id"))
    train.withColumn("rk", row_number().over(quota))
      .filter(col("rk") <= SourceQuota)
      .select("doc_id", "source", "lang", "n_tokens")
  }

  /** THE training-data job, end-to-end as ONE declarative plan — the
    * corpus composite extended through the tokenizer tail:
    *
    *   quality gate → exact dedup → decontaminate → per-source quota
    *   ([[corpusSurvivorsFrom]]) → SEMANTIC dedup (survivors whose
    *   embedding lost its SemDeDup election drop — one anti-join
    *   against EmbeddingOps.semanticDropIds)
    *   → BPE tokenize to token-ID sequences
    *   (TextOps.bpeTokenIdsStage — trained rules from the pinned
    *   bpe_merges stage, ids under the tokenizer's corpus-wide id law)
    *   → sequence packing (bin = the [[PackBudget]]-token window of
    *   the EOS-separated packed stream — [[packedSequences]]' seq_id
    *   — holding the doc's first token, per (lang, bucket) stratum)
    *   → seeded train/val/test split → epoch-0 shuffle position.
    *
    * Per surviving document: its id sequence, its pack bin, its split
    * set, and its training-order position — everything a shard writer
    * needs, from one plan Catalyst sees whole. Every stage is the
    * SAME oracle-gated logic as its standalone operator (shared
    * functions/constants, nothing re-derived).
    *
    * Scale shape: the verdict chain runs on skinny checkpointed
    * (id, meta, fp) rows; document TEXT is scanned once more only for
    * the survivors' tokenize pass (joining text through three window
    * shuffles would be worse — the standard verdict-then-rejoin
    * shape); the id map is vocabulary-sized and broadcast; pack adds
    * one window over the survivors; the epoch shuffle is the one
    * corpus-order exchange the permutation itself requires. PlanSpec
    * pins the document scan count.
    */
  def trainingData(spark: SparkSession, dir: String, epoch: Int = 0,
      seed: String = "graft:v1"): DataFrame =
    trainingTail(spark, dir, trainedSurvivors(spark, dir), epoch, seed)

  /** [[trainingData]] with the TRAINED quality classifier gating the
    * survivors — the GPT-3 pipeline's actual shape: after the
    * heuristic verdict chain (length gate → exact dedup → decon →
    * quota → semantic anti-join), only documents the standing
    * fastText-style model scores as keep-worthy flow into the
    * tokenizer tail. The model is the pinned `ftq_model` stage
    * (trained once per session — the same deployment story as the
    * BPE merge table), applied as one broadcast-literal projection
    * over the relational feature path ([[QualityOps.ftqBatchScores]])
    * and one semi-join — no training actions inside this query. The
    * oracle replays the WHOLE training chain (init, every gradient,
    * every threshold) before composing the keep set into the survivor
    * CTEs, so the gate pins the trained filter itself, end to end.
    */
  def trainingDataFtq(spark: SparkSession, dir: String, epoch: Int = 0,
      seed: String = "graft:v1"): DataFrame = {
    val (w, theta) = QualityOps.ftqStandingModelCached(spark, dir)
    val keep = QualityOps.ftqBatchScores(spark, dir, w, theta)
      .filter(col("keep")).select("doc_id")
    trainingTail(spark, dir,
      trainedSurvivors(spark, dir).join(keep, Seq("doc_id"), "left_semi"),
      epoch, seed)
  }

  /** The composite's survivor frame — quality gate → exact dedup →
    * decontaminate → quota ([[corpusSurvivorsFrom]]) → SEMANTIC dedup
    * (survivors whose embedding lost its SemDeDup election drop — one
    * anti-join against the delta-sized drop set; ids are shared
    * between the documents and embeddings tables, and docs without an
    * embedding have no verdict and pass through). Also the packer's
    * survivor set ([[packedOffsets]]).
    */
  private def trainedSurvivors(spark: SparkSession, dir: String): DataFrame =
    corpusSurvivorsFrom(Tables.documents(spark, dir))
      .join(graft.operators.EmbeddingOps.semanticDropIds(spark, dir)
        .select(col("vec_id").as("doc_id")), Seq("doc_id"), "left_anti")
      .select("doc_id", "source", "lang")

  /** The composite's tokenizer tail over an explicit survivor frame —
    * shared by [[trainingData]] and [[trainingDataFtq]] so the two
    * differ ONLY in the survivor gate.
    */
  private def trainingTail(spark: SparkSession, dir: String, surv: DataFrame,
      epoch: Int, seed: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the pinned encoded-corpus stage restricted to survivors by the
    // inner join below — the tokenizer's ids are doc-local, so the
    // full-corpus encode restricted to the survivor set equals
    // encoding the survivors directly (TextOps.bpeTokenIdsStage)
    val toks = TextOps.bpeTokenIdsStage(spark, dir)
    val wPack = Window.partitionBy("lang", "bucket").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val (_, split) = splitAssignment(seed)
    // tracked before branching: the epoch-shuffle positions and the
    // final join both read this frame, and its lineage carries the
    // whole verdict + tokenize chain
    val f = OpCaches.track(surv
      .join(toks, Seq("doc_id"))
      .withColumn("bucket",
        substring(md5(col("doc_id").cast("string").cast("binary")), 1, 1))
      // EOS-inclusive stream offsets: each doc contributes its tokens
      // PLUS one end-of-document separator, so `bin` is exactly the
      // packed sequence (packedSequences' seq_id) the doc's first
      // token lands in — one packing law between the provenance
      // column here and the materialized artifact (spec-pinned)
      .withColumn("start_off",
        sum(col("n_tokens") + 1).over(wPack) - (col("n_tokens") + 1))
      .withColumn("bin", floor(col("start_off") / PackBudget))
      .withColumn("split", split))
    val pos = epochShuffleOf(f.select("doc_id", "lang"), epoch, seed)
      .select(col("doc_id"), col("pos"))
    f.join(pos, Seq("doc_id"))
      .select(col("doc_id"), col("source"), col("lang"), col("n_tokens"),
        col("token_ids"), col("bucket"), col("bin"), col("split"), col("pos"))
      .orderBy("doc_id")
  }

  /** Trainer-ready PACKED sequences — the materialized tokenizer tail
    * the composite's `bin` column only POINTS at: the corpus a
    * training job actually loads is fixed-context-window id
    * sequences, not per-document streams (the GPT-3 / Megatron data
    * format), so this emits them. Per (lang, hash-bucket) stratum the
    * semantic-dedup survivors' token-id sequences are concatenated in
    * doc_id order, each document followed by ONE end-of-document
    * separator (TextOps.bpeEosFrame's A+R id — past the vocabulary
    * range by construction), and the stream is cut into
    * [[PackBudget]]-token windows. Per window: seq_id (its index in
    * the stratum), n_docs (documents contributing ≥1 position),
    * n_tokens (window length — exactly PackBudget except each
    * stratum's tail), and the ids themselves, comma-joined so the
    * hash gate pins the ARRAYS. Token conservation (Σ window lengths
    * = Σ doc tokens + one separator per doc) and the budget bound are
    * spec-pinned; `tdata`'s bin column is this law's provenance twin
    * (bin ≡ the seq_id holding the doc's first token — also pinned).
    *
    * Scale shape: the survivor/verdict chain is the composite's
    * (skinny checkpointed rows, pinned sem_labels stage); offsets are
    * ONE doc-granularity window per stratum (never token-granularity
    * — the cumsum runs over per-doc lengths); the only token-
    * granularity work is the posexplode feeding the final
    * (lang, bucket, seq_id) aggregation, whose groups are
    * PackBudget-bounded — the exact shuffle a shard writer pays to
    * ship the artifact, keyed so the dominant language spreads over
    * 16 sub-strata.
    */
  def packedSequences(spark: SparkSession, dir: String,
      budget: Int = PackBudget): DataFrame =
    packedFrame(spark, dir, budget)
      .orderBy(asc_nulls_last("lang"), col("bucket"), col("seq_id"))

  /** PACKING-EFFICIENCY report over the trainer windows — the
    * operational metric a training job watches about its packed
    * corpus: per (lang, bucket) stratum the window count, total
    * tokens, exactly-full windows, and the integer-scaled fill rate
    * sum_tokens·10⁴ div (n_windows·budget) (waste = 10⁴ − fill; by
    * the packing law only each stratum's LAST window can be
    * partial, so n_full ≥ n_windows − 1 — low fill means fragmented
    * strata, the signal to re-bucket). Exact sums + one integral
    * division, engine-exact; the rollup reads the same windows the
    * shard writer ships, one stratum-keyed aggregation over
    * window-count rows.
    */
  def packingEfficiency(spark: SparkSession, dir: String,
      budget: Int = PackBudget): DataFrame =
    packedFrame(spark, dir, budget)
      .groupBy("lang", "bucket")
      .agg(count(lit(1)).as("n_windows"),
        sum(col("n_tokens")).as("sum_tokens"),
        count(when(col("n_tokens") === budget, lit(1))).as("n_full"))
      .select(col("lang"), col("bucket"), col("n_windows"),
        col("sum_tokens"), col("n_full"),
        expr(s"(sum_tokens * 10000) div (n_windows * $budget)")
          .as("fill_scaled"))
      .orderBy(asc_nulls_last("lang"), col("bucket"))

  /** [[packedSequences]] WITHOUT the output sort — the frame the shard
    * writer partitions by (lang, bucket): sorting before a partitioned
    * write would add a range exchange the `partitionBy` layout
    * immediately discards.
    *
    * At the default budget this is the pinned `packed` MEMO STAGE —
    * the packed corpus is the standing artifact a training run reads
    * for a whole epoch, so its consumers (`pksq` order, `pke` rollup,
    * `pkw` write) should each price their own face, not re-pay the
    * token-level explode+aggregate per query; Bench prices the one
    * packing inside `_substrate` (the tok_ids/win_ext discipline). A
    * non-default budget (spec probes of the cut law) builds fresh —
    * the memo key is (session, dir) only.
    */
  private def packedFrame(spark: SparkSession, dir: String,
      budget: Int = PackBudget): DataFrame =
    if (budget == PackBudget) DedupOps.memoStage(spark, dir, "packed")(
      packedFrameBuild(spark, dir, budget))
    else packedFrameBuild(spark, dir, budget)

  /** The `packed` stage builder for [[DedupOps.materializePinnedStages]]
    * — warms the default-budget windows frame.
    */
  private[operators] def packedStage(spark: SparkSession, dir: String): DataFrame =
    packedFrame(spark, dir)

  private def packedFrameBuild(spark: SparkSession, dir: String,
      budget: Int): DataFrame = {
    val f = packedOffsets(spark, dir)
    val positions = f
      .select(col("lang"), col("bucket"), col("doc_id"), col("start_off"),
        posexplode(col("ids")).as(Seq("p", "tid")))
      .withColumn("gpos", col("start_off") + col("p"))
      .withColumn("seq_id", floor(col("gpos") / budget))
    packedWindows(positions, budget)
  }

  /** The packing substrate shared by the full packer and the
    * incremental tail re-packer: per semantic-dedup survivor its
    * EOS-appended id list, (lang, bucket) stratum, and doc-granularity
    * stream offset — everything before any token-level explode.
    */
  private def packedOffsets(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // single consumer (the join into f below) now that the encode is
    // the pinned tok_ids stage — no persist needed
    val surv = trainedSurvivors(spark, dir).select("doc_id", "lang")
    // pinned encoded corpus, restricted to survivors by the join below
    val toks = TextOps.bpeTokenIdsStage(spark, dir)
    val wPack = Window.partitionBy("lang", "bucket").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    surv.join(toks, Seq("doc_id"))
      .crossJoin(broadcast(TextOps.bpeEosFrame(spark, dir)))
      .withColumn("bucket",
        substring(md5(col("doc_id").cast("string").cast("binary")), 1, 1))
      // survivors always tokenize to ≥1 id (CorpusMinTokens gates the
      // quality stage), but the empty guard keeps the split law total
      .withColumn("ids", concat(
        when(col("n_tokens") === 0, array().cast("array<bigint>"))
          .otherwise(transform(split(col("token_ids"), ","),
            s => s.cast("long"))),
        array(col("__eos"))))
      .withColumn("start_off",
        sum(col("n_tokens") + 1).over(wPack) - (col("n_tokens") + 1))
  }

  /** The window aggregation shared by the full and incremental
    * packers — one law for seq_id grouping, doc_starts, and doc_ids.
    */
  private def packedWindows(positions: DataFrame, budget: Int): DataFrame =
    positions.groupBy("lang", "bucket", "seq_id")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_tokens"),
        array_join(transform(
          array_sort(collect_list(struct(col("gpos"), col("tid")))),
          e => e.getField("tid").cast("string")), ",").as("token_ids"),
        // window-local offsets where a NEW document begins (its first
        // token landed here) — what a trainer needs to reset the
        // attention mask across packed documents; a window holding
        // only continuation tokens ships '' (collect_list drops the
        // non-start NULLs)
        array_join(transform(
          array_sort(collect_list(
            when(col("p") === 0, col("gpos") - col("seq_id") * budget))),
          v => v.cast("string")), ",").as("doc_starts"),
        // window PROVENANCE: the contributing doc_ids (ascending,
        // bounded by n_docs ≤ budget — a window holds at most
        // PackBudget positions), so a trainer can trace any packed
        // window back to its source documents — the attribution story
        // the winnowing tier tells for text, applied to the trainer
        // artifact. Conservation is spec-pinned: the union of window
        // doc lists equals the survivor set exactly.
        array_join(transform(array_sort(collect_set(col("doc_id"))),
          i => i.cast("string")), ",").as("doc_ids"))

  /** INCREMENTAL tail re-pack — the append-only maintenance face of
    * [[packedSequences]] (the dinc/wci/pinc contract applied to the
    * trainer artifact): the newest decile of the id space
    * (doc_id > ⌊max·9⁄10⌋ — both engines compute the cut with exact
    * integer arithmetic) models the arriving shard, everything below
    * it the standing packed corpus. Because packing is doc_id-ordered
    * per stratum and arrivals carry larger ids than the standing
    * corpus, appending can NEVER move a full window: per (lang,
    * bucket) stratum only the windows from the standing stream's tail
    * index (⌊standing-token-count ⁄ budget⌋ — the one partially-filled
    * window) onward change, and strata receiving no arrivals change
    * nothing. This emits exactly those windows: a shard maintainer
    * overwrites each touched stratum's tail files with them and
    * leaves every other shard byte-identical (the
    * partitionOverwriteMode=dynamic shape LayoutSpec pins).
    *
    * Work shape: the standing-length/has-arrival computation rides the
    * SAME (lang, bucket) window partitioning the offsets cumsum
    * already paid (zero extra exchanges, doc-granularity rows);
    * token-granularity explode touches ONLY arrival docs plus the one
    * standing doc straddling each touched stratum's tail boundary —
    * ∝ |delta| + one partial window per touched stratum, never the
    * corpus. The oracle computes the FULL packing and restricts it to
    * (touched stratum, seq_id ≥ tail index), so the hash gate pins
    * re-pack ≡ full-pack on every emitted window — the decomposition
    * law (full = untouched-prefix ⊎ this output) is spec-pinned.
    */
  def packedSequencesDelta(spark: SparkSession, dir: String,
      budget: Int = PackBudget): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cutF = Tables.documents(spark, dir)
      .agg(expr("CAST((max(doc_id) * 9) div 10 AS BIGINT)").as("__cut"))
    val wStr = Window.partitionBy("lang", "bucket")
    val touched = packedOffsets(spark, dir)
      .crossJoin(broadcast(cutF))
      .withColumn("__baselen",
        sum(when(col("doc_id") <= col("__cut"), size(col("ids")))
          .otherwise(lit(0))).over(wStr))
      .withColumn("__hasdelta",
        max(when(col("doc_id") > col("__cut"), 1).otherwise(0)).over(wStr))
      .filter(col("__hasdelta") === 1)
      .withColumn("__taili", floor(col("__baselen") / budget).cast("long"))
      // only docs whose span reaches the tail window explode below
      .filter(col("start_off") + size(col("ids")) > col("__taili") * budget)
    val positions = touched
      .select(col("lang"), col("bucket"), col("doc_id"), col("start_off"),
        col("__taili"), posexplode(col("ids")).as(Seq("p", "tid")))
      .withColumn("gpos", col("start_off") + col("p"))
      .withColumn("seq_id", floor(col("gpos") / budget))
      .filter(col("seq_id") >= col("__taili"))
    packedWindows(positions, budget)
      .orderBy(asc_nulls_last("lang"), col("bucket"), col("seq_id"))
  }

  /** Records-per-shard cap for the packed-corpus writer: at the
    * default PackBudget a window row is ~3 KB of comma-joined ids, so
    * 32k rows ≈ a 100 MB shard — the HDFS-block-scale file size a
    * trainer's data loader wants. The writer rolls files per task
    * (`maxRecordsPerFile`), so the cap adds NO shuffle.
    */
  private[graft] val PackedShardRows = 32768L

  /** The packed corpus' on-disk schema — declared once so the
    * read-back face parses partition directory values as STRINGS
    * (without an explicit schema, Spark's partition-value inference
    * would read a hex bucket directory like `bucket=7` back as an
    * integer and the round-trip would diverge from the in-memory
    * frame).
    */
  private[graft] val PackedCorpusSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("lang", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("bucket", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("seq_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n_docs", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n_tokens", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("token_ids", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("doc_starts", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("doc_ids", org.apache.spark.sql.types.StringType)))

  /** WRITE the packed trainer corpus as a laid-out artifact — the
    * sink-shaped contract the reference's whole pipeline ends in
    * (save_data_parquet.py:97-121 writes the treated frames as
    * parquet files), applied to the trainer tail: [[packedSequences]]'
    * windows land partitioned by (lang, bucket) so a per-stratum
    * training job reads ONLY its partition's files (the same
    * listing-time pruning LayoutSpec proves for the IVF cell layout),
    * hash-repartitioned on the partition columns first so each
    * stratum is written by one task (a naive write would have every
    * task emit a file into every stratum it sees — the small-file
    * problem at birth), and rolled at `maxRecordsPerFile` so a huge
    * stratum splits into block-scale shards instead of one monster
    * file. Returns (files written, rows written) for caller
    * assertions; content identity with the in-memory frame and the
    * one-stratum pruning claim are LayoutSpec's job.
    */
  def writePackedCorpus(spark: SparkSession, dir: String, destDir: String,
      budget: Int = PackBudget,
      maxRecordsPerFile: Long = PackedShardRows): (Long, Long) = {
    packedFrame(spark, dir, budget)
      .repartition(col("lang"), col("bucket"))
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy("lang", "bucket")
      .parquet(destDir)
    val fs = new org.apache.hadoop.fs.Path(destDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(new org.apache.hadoop.fs.Path(destDir), true)
    var n = 0L
    while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) n += 1 }
    (n, readPackedCorpus(spark, destDir).count())
  }

  /** Read a [[writePackedCorpus]] artifact back in the in-memory
    * frame's column order and types (explicit schema — see
    * [[PackedCorpusSchema]]).
    */
  def readPackedCorpus(spark: SparkSession, destDir: String): DataFrame =
    spark.read.schema(PackedCorpusSchema).parquet(destDir)
      .select(PackedCorpusSchema.fieldNames.map(col).toSeq: _*)

  /** Per-JVM memo of written packed-corpus artifacts — like the
    * bucketed-join tables, the write is the amortized once-per-layout
    * cost, not part of the repeated read price.
    */
  private val packedWritten =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), String]

  /** The packed corpus THROUGH the artifact: write once per (session,
    * dir) to a deterministic local staging dir, read back, and return
    * the windows in [[packedSequences]]' order — so the oracle gate
    * pins that the laid-out files carry exactly the in-memory frame
    * (schema, partition-value round-trip, row content), the way a
    * trainer would consume them.
    */
  def packedCorpusRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val dest = packedWritten.getOrElseUpdate((spark, dir), {
      val tag = (dir.hashCode.toLong & 0xffffffffL).toString
      val d = s"${sys.props("java.io.tmpdir")}/graft_pkc_$tag"
      writePackedCorpus(spark, dir, d)
      d
    })
    readPackedCorpus(spark, dest)
      .orderBy(asc_nulls_last("lang"), col("bucket"), col("seq_id"))
  }

  // ---- single-pass pipeline telemetry (Dataset.observe) ----------------

  /** Pipeline telemetry via `Dataset.observe` — the 100 TB answer to
    * "how many rows / how many bad rows did this stage see?": a
    * second counting scan over a 100 TB input doubles the job's I/O,
    * and a `.cache()` to avoid it spills the corpus to executor
    * storage. `observe` instead attaches accumulator-backed
    * aggregates to the FLOWING rows — the metrics fall out of the
    * same single pass that feeds the sink, at zero extra scans and
    * O(1) driver memory. Here the documents scan is written to the
    * noop sink (the real pipeline's shard write) while row count,
    * empty-text count, distinct-language count and total characters
    * are observed in-flight; the observed map is then lifted back
    * into a 1-row frame. The oracle recomputes the same aggregates
    * declaratively, so the gate proves the side-channel carries
    * exactly what a dedicated counting pass would have — observed ≡
    * computed. (Observed metrics must merge as accumulators, so
    * CheckAnalysis rejects DISTINCT aggregates — the mix here is
    * count / conditional sum / min / max / sum, all accumulator-
    * mergeable and all exactly reproducible by the oracle.)
    */
  def observedMetrics(spark: SparkSession, dir: String): DataFrame = {
    val obs = org.apache.spark.sql.Observation("graft_docs_pass")
    Tables.documents(spark, dir)
      .observe(obs,
        count(lit(1)).as("n_rows"),
        sum(when(length(trim(col("text"))) === 0, 1L).otherwise(0L))
          .as("n_empty"),
        min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"),
        sum(col("n_chars")).as("total_chars"))
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    // sum/min/max observe to NULL on an empty pass (count to 0) —
    // boxed longs carry that through, matching the declarative twin
    def l(k: String): java.lang.Long = m(k) match {
      case null => null
      case v: java.lang.Long => v
      case v => java.lang.Long.valueOf(v.toString)
    }
    import spark.implicits._
    Seq((l("n_rows"), l("n_empty"), l("min_id"), l("max_id"),
      l("total_chars")))
      .toDF("n_rows", "n_empty", "min_id", "max_id", "total_chars")
  }
}
