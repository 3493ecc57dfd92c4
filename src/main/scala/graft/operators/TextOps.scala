package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Text-analysis operators for a training-data pipeline over the
  * `documents` table: tokenization, quality scoring, language ID,
  * fingerprinting. All pure column expressions (whole-stage codegen,
  * no UDFs) — at 100 TB these run as narrow map stages over the
  * document scan, shuffling only for the final aggregates.
  */
object TextOps {

  /** Whitespace tokenization as a column expression. */
  def tokens(c: Column): Column =
    filter(split(trim(c), "\\s+"), t => t =!= "")

  /** Language-ID stopword lists — tiny n-gram-style lexicons; the
    * heuristic is hits-per-language argmax with a deterministic
    * tie-break order (en > es > de > fr).
    */
  val langLexicon: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is", "to", "in"),
    "es" -> Seq("el", "la", "de", "que", "y", "los"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein"),
    "fr" -> Seq("le", "la", "de", "et", "est", "une"))

  /** Token/char counts per document. */
  def textTokens(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_tokens"),
        size(array_distinct(tokens(col("text")))).cast("long").as("n_uniq_tokens"),
        length(col("text")).cast("long").as("n_chars_text"))
      .orderBy("doc_id")

  /** One row per (doc_id, token) — the relational substrate for the
    * per-token statistics below. Array HOF lambdas (`filter`,
    * `aggregate`) run INTERPRETED per element; explode + a single
    * hash aggregation partitioned by doc_id is codegen'd end-to-end
    * and partial-aggregates map-side — measurably faster at sf1 and
    * the right shape at any corpus size.
    */
  private def tokenRows(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))

  /** Quality scoring: stopword ratio, mean token length, and a simple
    * composite score — the shape of heuristic quality filters used to
    * select pre-training data. All ratios derive from exact integer
    * counts, so this relational form is bitwise-identical to a
    * per-row array formulation.
    */
  def textQuality(spark: SparkSession, dir: String): DataFrame =
    textQualityOn(Tables.documents(spark, dir).select(col("doc_id"), col("text")))

  /** [[textQuality]] over an explicit (doc_id, text) frame — the
    * surface the incremental refresh scores NEW docs through (its
    * input is delta-filtered, so scoring never re-scans the corpus;
    * see DedupOps.dedupKeepIncremental).
    */
  def textQualityOn(docs: DataFrame): DataFrame = {
    val stops = langLexicon.head._2
    val agg = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("_n"),
        sum(when(col("tok").isin(stops: _*), 1L).otherwise(0L)).as("_stop"),
        sum(length(col("tok")).cast("long")).as("_chars"))
    // left join keeps zero-token documents (explode drops them), with
    // counts coalesced to 0 — EXCEPT for NULL text, where the array
    // formulation (and the oracle's len() on a NULL list) yields NULL
    // counts, preserved here via the isNotNull guard. Ratios are
    // explicitly NULL for zero-token documents: Spark (ANSI off)
    // returns NULL for x/0 but DuckDB IEEE division yields NaN/Inf, so
    // both the guard here and NULLIF in the oracle pin the same
    // empty-doc semantics on both engines. (doc_id is the corpus PK;
    // like every keyed aggregate here, uniqueness is assumed.)
    val hasText = col("text").isNotNull
    val nTokens = when(hasText, coalesce(col("_n"), lit(0L)))
    val stopHits = when(hasText, coalesce(col("_stop"), lit(0L)))
    def perTok(c: Column): Column = when(nTokens > 0, c)
    docs.select(col("doc_id"), col("text"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        nTokens.as("n_tokens"),
        stopHits.as("stop_hits"),
        perTok(stopHits.cast("double") / nTokens).as("stop_ratio"),
        perTok(coalesce(col("_chars"), lit(0L)).cast("double") / nTokens).as("avg_token_len"),
        perTok(least(nTokens.cast("double") / lit(100.0), lit(1.0)) * 0.5 +
          (stopHits.cast("double") / nTokens) * 0.5).as("quality_score"))
      .orderBy("doc_id")
  }

  /** N-gram-lexicon language identification (argmax of per-language
    * stopword hits; label column is ignored — the heuristic stands on
    * its own and is checked against the same logic in SQL). Same
    * relational shape as textQuality: one conditional-sum aggregation
    * per language in a single doc_id-partitioned pass.
    */
  def textLangId(spark: SparkSession, dir: String): DataFrame = {
    val hitAggs = langLexicon.map { case (l, ws) =>
      sum(when(col("tok").isin(ws: _*), 1L).otherwise(0L)).as(s"_h_$l")
    }
    val agg = tokenRows(spark, dir).groupBy("doc_id").agg(hitAggs.head, hitAggs.tail: _*)
    // NULL text -> NULL hits (the array form's semantics, and the
    // oracle's len() on a NULL list); tokenless text -> 0
    val hitCols = langLexicon.map { case (l, _) =>
      when(col("text").isNotNull, coalesce(col(s"_h_$l"), lit(0L))).as(s"hits_$l")
    }
    val base = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id") +: hitCols: _*)
    val pred = langLexicon.foldRight(lit("und")) { case ((l, _), els) =>
      val c = col(s"hits_$l")
      val beatsAll = langLexicon.filter(_._1 != l)
        .map(o => c >= col(s"hits_${o._1}")).reduce(_ && _)
      when(c > 0 && beatsAll, lit(l)).otherwise(els)
    }
    base.withColumn("lang_pred", pred).orderBy("doc_id")
  }

  /** GPT-2-style pre-tokenization regex (contractions, space-prefixed
    * letter runs, digit runs, punctuation runs) — the standard BPE
    * pre-split, minus lookahead so the same pattern runs identically
    * on Java regex and RE2-family engines. Whitespace is spelled as an
    * explicit class, not \s: Java's \s includes U+000B while RE2's
    * does not, and that one-char disagreement would silently skew
    * counts between engine and oracle.
    */
  val bpePattern: String =
    """'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\t\n\x0B\f\r \p{L}\p{N}]+"""

  /** BPE-ish token counting: pre-token count, distinct pre-tokens,
    * and fertility (pre-tokens per whitespace word) — the cost model
    * used to budget LLM training tokens. Pure column expressions.
    */
  def textTokensBpe(spark: SparkSession, dir: String): DataFrame = {
    val pt = regexp_extract_all(col("text"), lit(bpePattern), lit(0))
    val nWs = size(tokens(col("text")))
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(pt).cast("long").as("n_pretokens"),
        size(array_distinct(pt)).cast("long").as("n_uniq_pretokens"),
        when(nWs > 0, size(pt).cast("double") / nWs).as("fertility"))
      .orderBy("doc_id")
  }

  // ---- BPE tokenizer TRAINING --------------------------------------

  /** Merge rounds the trainer runs — fixed so the oracle can unroll
    * them as chained CTEs (same device as `ivft`'s Lloyd steps).
    */
  val BpeMergeRounds = 8

  /** End-of-word marker appended as its own symbol (the classic BPE
    * device: merges can absorb word endings, so 'low' and 'lowest'
    * stop sharing a suffix symbol). Safe as a symbol in round 0
    * because tokens are whitespace-split — no single CHARACTER is the
    * 4-char marker string. Caveat (shared with the reference Sennrich
    * et al. construction, which uses the same printable marker): a
    * corpus whose tokens contain the literal character run `</w>`
    * can, after enough merge rounds, synthesize a SYMBOL equal to the
    * marker, conflating it with end-of-word in later rounds. The
    * gated fixture's tokens contain no `<`/`>` runs and the trainer
    * runs 8 rounds, so the conflation is unreachable here; a
    * production vocabulary would swap in a non-printable sentinel
    * (e.g. U+0001) that no corpus token can contain.
    */
  val BpeEndMark = "</w>"

  /** Distributed BPE tokenizer TRAINING (the public Sennrich et al.
    * construction): learn [[BpeMergeRounds]] merge rules by repeatedly
    * (1) counting adjacent symbol pairs across the word vocabulary,
    * weighted by word frequency, (2) picking the most frequent pair
    * (count DESC, then lexicographic — deterministic in both
    * engines), and (3) merging every left-to-right occurrence of that
    * pair. Output: one row per learned rule
    * (merge_rank, sym_a, sym_b, merged, pair_n).
    *
    * Scale shape — the reason production trainers (HF tokenizers) are
    * structured this way: the corpus collapses to WORD COUNTS first
    * (one groupBy), so every round's pair count is a shuffle over the
    * VOCABULARY (~10–100 M rows at 100 TB), never the corpus; the
    * merge step is a narrow map over the same frame; the driver sees
    * exactly ONE row per round (the argmax — same discipline as the
    * Lloyd / pagerank loops). The vocabulary frame is eagerly
    * localCheckpointed per round, so round r's pair count executes ONE
    * `replace` over the previous round's materialized vocab, not the
    * whole chain.
    *
    * Engine-parity device: a word is a padded string
    * `' s1  s2  … ' ` — every symbol owns its flanking spaces, so
    * merging pair (a,b) is literal `replace(w, ' a  b ', ' ab ')`,
    * and BOTH engines' replace scans left-to-right non-overlapping
    * with resume-after-replacement — i.e. exactly greedy BPE merge
    * order, including runs like `a a a` → `aa a`. A single-space join
    * would break this (adjacent occurrences share the separator, so
    * the second one's leading space is consumed by the first match).
    * Symbols never contain spaces (tokens are whitespace-split), so
    * the encoding is unambiguous.
    */
  def bpeTrain(spark: SparkSession, dir: String,
      rounds: Int = BpeMergeRounds): DataFrame =
    bpeTrainOn(Tables.documents(spark, dir)
      .select(explode(tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt")), rounds)

  /** [[bpeTrain]] over an explicit (tok, cnt) word-count frame — the
    * spec surface for the greedy-merge and layout-independence pins.
    */
  def bpeTrainOn(wc: DataFrame, rounds: Int): DataFrame = {
    val spark = wc.sparkSession
    val chars = transform(sequence(lit(1), length(col("tok"))),
      i => col("tok").substr(i, lit(1)))
    var vocab = OpCaches.localCheckpointTracked(wc.select(
      concat(lit(" "), array_join(chars, "  "),
        lit("  " + BpeEndMark + " ")).as("w"),
      col("cnt")))
    val merges = Seq.newBuilder[(Long, String, String, String, Long)]
    var r = 0
    var exhausted = false
    while (r < rounds && !exhausted) {
      val syms = split(trim(col("w")), "  ")
      // fully-merged words (ONE symbol left) contribute no pairs; the
      // guard matters because Spark's sequence(1, 0) is the DESCENDING
      // [1, 0] — not empty like the oracle's range(1, 1) — and
      // element_at(_, 0) throws. Unreachable on the 8-round corpus
      // gate, routine for a production-size merge budget.
      val prs = when(size(syms) >= 2, transform(
        sequence(lit(1), size(syms) - 1),
        i => struct(element_at(syms, i).as("sym_a"),
          element_at(syms, i + 1).as("sym_b"))))
        .otherwise(array().cast("array<struct<sym_a:string,sym_b:string>>"))
      val top = vocab
        .select(col("cnt"), explode(prs).as("pr"))
        .groupBy(col("pr.sym_a").as("sym_a"), col("pr.sym_b").as("sym_b"))
        .agg(sum("cnt").as("pair_n"))
        .orderBy(col("pair_n").desc, col("sym_a"), col("sym_b"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, n) = (top(0).getString(0), top(0).getString(1),
          top(0).getLong(2))
        r += 1
        merges += ((r.toLong, a, b, a + b, n))
        // checkpoint the merged vocab per round (the iterative
        // self-derived-frame rule — see centroidsTrainedOn): without
        // truncation round r's pair count re-executes all r replaces
        // (O(rounds²) narrow work) on an ever-growing lineage — fine
        // at 8 rounds, quadratic at a production 32k-merge vocabulary
        vocab = OpCaches.localCheckpointTracked(vocab.withColumn("w",
          replace(col("w"), lit(s" $a  $b "), lit(s" ${a + b} "))))
      }
    }
    import spark.implicits._
    merges.result()
      .toDF("merge_rank", "sym_a", "sym_b", "merged", "pair_n")
      .orderBy("merge_rank")
  }

  /** BPE ENCODING with the learned merge table — the trainer's output
    * applied back to the corpus, composing train → encode end-to-end
    * (the `bpet` gate pins the rules; this gate pins their
    * application). Per document: every whitespace word is padded into
    * the trainer's double-space symbol encoding and the
    * [[BpeMergeRounds]] learned merges replay IN MERGE-RANK ORDER as a
    * chain of literal `replace`s — the same left-to-right greedy
    * semantics training used, so a word that appeared in training
    * encodes exactly as training left it. Emits per-doc counts:
    * `n_words`, `n_syms0` (pre-merge symbols = chars + one end-mark
    * per word) and `n_tokens` (post-merge symbols); n_syms0 − n_tokens
    * is the number of merge applications, so the pair pins the whole
    * chain, not just its length.
    *
    * Scale shape: the learned table comes from the pinned
    * [[bpeMergeTable]] stage (training is paid once per retrain,
    * priced in Bench's `_substrate` — this query times ENCODE ONLY);
    * encoding is one narrow codegen'd map over the vocabulary with NO
    * shuffle before the per-doc aggregation — at 100 TB this is the
    * tokenizer pass of a training-data pipeline, embarrassingly
    * parallel by document. NULL-text docs emit NULL counts, token-less
    * docs emit zeros (textTokens' established contract).
    */
  def bpeEncode(spark: SparkSession, dir: String,
      rounds: Int = BpeMergeRounds): DataFrame =
    bpeEncodeOn(Tables.documents(spark, dir), bpeLearnedMerges(spark, dir, rounds))
      .orderBy("doc_id")

  /** [[bpeEncode]] over an explicit (doc_id, text) frame and merge
    * list, without the output sort.
    */
  private[operators] def bpeEncodeOn(docs: DataFrame,
      merges: Seq[(String, String)]): DataFrame = {
    val words = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
    val agg = words
      .join(bpeVocabEncoded(words, merges), Seq("tok"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("_w"),
        sum((length(col("tok")) + 1).cast("long")).as("_s0"),
        sum(size(col("syms")).cast("long")).as("_nt"))
    val hasText = col("text").isNotNull
    docs.select(col("doc_id"), col("text"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(hasText, coalesce(col("_w"), lit(0L))).as("n_words"),
        when(hasText, coalesce(col("_s0"), lit(0L))).as("n_syms0"),
        when(hasText, coalesce(col("_nt"), lit(0L))).as("n_tokens"))
  }

  /** The vocabulary cache: each DISTINCT word of `words` (column
    * `tok`) with its post-merge SYMBOL ARRAY — the tokenizer-cache
    * shape every encoding consumer shares. The merge chain runs once
    * per distinct word, and word instances join their cached encoding
    * back — corpus word instances outnumber the vocabulary by orders
    * of magnitude at any scale (and a production 32k-merge chain is
    * far too expensive to replay per instance). The join side carries
    * (tok, syms) only; when the vocabulary fits, AQE turns the join
    * into a broadcast (no corpus shuffle at all) — at a 100 TB
    * vocabulary it falls back to a shuffled join, the unavoidable
    * trade of caching by word.
    */
  private[operators] def bpeVocabEncoded(words: DataFrame,
      merges: Seq[(String, String)]): DataFrame = {
    val chars = transform(sequence(lit(1), length(col("tok"))),
      i => col("tok").substr(i, lit(1)))
    var w: Column = concat(lit(" "), array_join(chars, "  "),
      lit("  " + BpeEndMark + " "))
    merges.foreach { case (a, b) =>
      w = replace(w, lit(s" $a  $b "), lit(s" ${a}$b "))
    }
    words.select("tok").distinct()
      .select(col("tok"), split(trim(w), "  ").as("syms"))
  }

  /** The learned merge table as a pinned MEMO STAGE (default merge
    * budget only): training is index-build work a deployment pays once
    * per retrain — Bench prices it inside `_substrate` exactly like
    * the PQ codebooks (`pq_cbt`), and every encoding consumer
    * (`bpenc`, the token-id emitter, the composite) reads the learned
    * rules without replaying the 8-round driver loop inside its own
    * timed query.
    */
  private[operators] def bpeMergeTable(spark: SparkSession, dir: String): DataFrame =
    DedupOps.memoStage(spark, dir, "bpe_merges")(bpeTrain(spark, dir))

  /** The learned merge table collected driver-side — the tiny
    * (≤ rounds rows) state the vocabulary encoder closes over; a
    * production deployment persists this once per training run and
    * ships it with the job. The default merge budget reads the pinned
    * [[bpeMergeTable]] stage; a non-default budget (spec fixtures)
    * trains inline.
    */
  private[graft] def bpeLearnedMerges(spark: SparkSession, dir: String,
      rounds: Int = BpeMergeRounds): Seq[(String, String)] = {
    val t = if (rounds == BpeMergeRounds) bpeMergeTable(spark, dir)
            else bpeTrain(spark, dir, rounds)
    t.orderBy("merge_rank").collect()
      .map(r => (r.getAs[String]("sym_a"), r.getAs[String]("sym_b"))).toSeq
  }

  /** TOKEN-ID SEQUENCES — the tokenizer output a training pipeline
    * actually packs: per document, the BPE symbol stream mapped to
    * integer ids. The vocabulary id law (deterministic, engine-
    * shared): alphabet symbols — the distinct single characters of
    * the corpus' tokens plus the end-of-word marker — take ids
    * 0..A−1 in binary-lexicographic order; the symbol learned by
    * merge rank r takes id A+r−1; the symbol→id map then keeps the
    * MIN id per symbol string (two merge ranks can synthesize the
    * same string — e.g. (a,bc) and (ab,c) — and the lowest id wins
    * on both engines). Emits per doc: `n_tokens` and the full id
    * sequence `token_ids` as a comma-joined string, so the hash gate
    * pins the ARRAYS, not just their lengths. NULL text → NULL
    * columns, token-less text → (0, '') — textTokens' contract.
    *
    * Scale shape: the id map is vocabulary-sized (alphabet + one row
    * per merge) and broadcast; the merge chain runs once per DISTINCT
    * word ([[bpeVocabEncoded]] — the vocab-cache shape `bpenc`
    * established); the only corpus-scale work is one posexplode and
    * one doc-keyed aggregation that reassembles the stream in
    * (word, symbol) position order. Training is read from the pinned
    * [[bpeMergeTable]] stage — this query, like `bpenc`, times
    * encode-only.
    */
  def bpeTokenIds(spark: SparkSession, dir: String): DataFrame =
    bpeTokenIdsStage(spark, dir).orderBy("doc_id")

  /** The ENCODED CORPUS as a pinned MEMO STAGE: every document's
    * (n_tokens, token_ids) under the trained tokenizer — the standing
    * frame a tokenizer deployment materializes once per retrain and
    * every downstream job reads. Before this stage existed, `tid`,
    * `tdc`, the composite and the packer each re-paid the full corpus
    * encode inside their own timed query (~60–70 s of the sf1 sweep
    * re-deriving one deterministic frame — r18 verdict finding #3);
    * now Bench prices the encode once inside `_substrate` and the
    * consumers join or order the cached rows. Subset consumers
    * (the composite's survivors) restrict it by doc_id inner join —
    * ids are a property of the TOKENIZER, so the full-corpus encode
    * restricted to any doc subset equals encoding that subset
    * directly (same merge rules, same id law, same per-word chain).
    */
  private[operators] def bpeTokenIdsStage(spark: SparkSession, dir: String): DataFrame =
    DedupOps.memoStage(spark, dir, "tok_ids")(bpeTokenIdsEncode(spark, dir))

  /** Tokenizer FERTILITY report — the standard tokenizer-quality
    * metric (how many characters one token buys, per language): per
    * lang the doc/char/token counts plus integer-scaled
    * chars-per-token (compression; low = the tokenizer fragments
    * that language) and tokens-per-doc, both as exact integral
    * divisions of exact sums (scaled ×1000 — no float ratios, so the
    * report is engine-exact). A multilingual tokenizer deployment
    * watches exactly this table: a language whose cpt collapses is
    * paying the byte-fallback tax. Reads the pinned `tok_ids` stage
    * (consumer, not builder — the encode is priced in `_substrate`)
    * joined to the documents' char counts: one broadcast-sized
    * output, one lang-keyed aggregation over doc-count rows; at
    * 100 TB the per-doc token counts ride the standing encode, so
    * this is a skinny-frame rollup, never a corpus text pass.
    * Token-less and NULL-text docs drop (n_tokens > 0 — fertility
    * over an empty token stream is undefined).
    */
  def tokenizerFertility(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(col("doc_id"), col("lang"), col("n_chars"))
      .join(bpeTokenIdsStage(spark, dir).select(col("doc_id"), col("n_tokens")),
        Seq("doc_id"))
      .filter(col("n_tokens") > 0)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars").cast("decimal(38,0)")).as("sc"),
        sum(col("n_tokens").cast("decimal(38,0)")).as("st"))
      .select(col("lang"),
        col("n_docs"),
        col("sc").cast("long").as("sum_chars"),
        col("st").cast("long").as("sum_tokens"),
        expr("(sc * 1000) div st").as("cpt_scaled"),
        expr("(st * 1000) div n_docs").as("tpd_scaled"))
      .orderBy("lang")

  /** Vocabulary-USAGE report — the other half of the tokenizer
    * dashboard beside fertility ([[tokenizerFertility]]): per
    * vocabulary entry (id + symbol under the tokenizer id law) its
    * corpus occurrence count, usage rank (count DESC, id ASC — the
    * Zipf view), and integer-scaled corpus share in parts-per-million
    * (exact integral division through a decimal product, so no long
    * overflow at corpus scale and no float ratios). UNUSED vocabulary
    * entries surface with n_uses = 0 — the undertrained-token signal
    * a tokenizer team prunes or re-trains on (a merge that never
    * fires in the corpus it was trained on is wasted vocab budget).
    *
    * Scale shape: one explode of the pinned `tok_ids` stage feeding a
    * map-side-combinable id count (the only corpus-scale work — the
    * same budget every token consumer pays), then everything is
    * vocabulary-sized: the id map joins broadcast, the total and the
    * rank window run over vocab-count rows, never the corpus.
    */
  def tokenVocabUsage(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = bpeTokenIdsStage(spark, dir)
      .filter(col("token_ids").isNotNull && col("token_ids") =!= "")
      .select(explode(split(col("token_ids"), ",")).as("idstr"))
      .groupBy(col("idstr").cast("long").as("id"))
      .agg(count(lit(1)).as("__c"))
    // (sym, id) is one-to-one under the id law (disjoint candidate
    // ranges, min per sym), so the left join keeps exactly one row
    // per vocabulary entry; counts aggregated to vocab size first,
    // so the broadcast ships a vocabulary, not a corpus
    val v = bpeIdMapFrame(spark, dir)
      .join(broadcast(counts), Seq("id"), "left")
      .select(col("id"), col("sym"),
        coalesce(col("__c"), lit(0L)).as("n_uses"))
    val tot = v.agg(sum(col("n_uses").cast("decimal(38,0)")).as("__t"))
    v.crossJoin(broadcast(tot))
      .withColumn("rnk", row_number()
        .over(Window.orderBy(col("n_uses").desc, col("id"))).cast("long"))
      .select(col("id"), col("sym"), col("n_uses"), col("rnk"),
        expr("(CAST(n_uses AS DECIMAL(38,0)) * 1000000) div __t")
          .as("share_ppm"))
      .orderBy("rnk")
  }

  /** [[bpeTokenIds]] over an explicit (doc_id, text) frame — the
    * composite's surface ([[PipelineOps]]' tdata encodes the
    * SURVIVORS, not the corpus). The id map, alphabet, and merge
    * table always derive from the FULL training corpus at `dir`: ids
    * are a property of the TOKENIZER, so the same document must get
    * the same ids whether encoded alone or inside any subset. The
    * tok→syms vocabulary cache is built from the input frame's own
    * distinct words (the smaller set).
    */
  /** Tokenizer ROUND-TRIP decode — the half a tokenizer library
    * cannot ship without: every document's BPE id sequence mapped
    * back through the INVERSE id map (id → symbol is injective: each
    * symbol string holds exactly one MIN id, unassigned candidate
    * ids are simply never emitted) and reassembled — symbols
    * concatenate in sequence order, each end-of-word mark closes a
    * word, words rejoin with single spaces. Emits per doc the
    * decoded text and the machine-checked `roundtrip` boolean:
    * decode(encode(text)) must equal the tokenizer's normalized form
    * (whitespace-split tokens rejoined) — the total-correctness
    * property of the encode/id/decode triple, pinned for EVERY
    * document by the hash gate (a single corrupted merge, id
    * collision, or mis-ordered reassembly flips a row).
    *
    * Scale shape: the inverse map is vocabulary-sized and broadcast;
    * decode is one id-explode + one doc-keyed aggregation — the same
    * budget as the encode it inverts.
    */
  def bpeDecode(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    // decode-only timing: the encoded corpus is the pinned tok_ids
    // stage (shared with tid/tdata/pksq), not a per-query re-encode
    val ids = bpeTokenIdsStage(spark, dir)
    val symOf = bpeIdMapFrame(spark, dir)
      .groupBy("id").agg(min("sym").as("sym"))
    val seq = ids
      .filter(col("token_ids").isNotNull && col("token_ids") =!= "")
      .select(col("doc_id"),
        posexplode(split(col("token_ids"), ",")).as(Seq("pos", "idstr")))
      .select(col("doc_id"), col("pos"), col("idstr").cast("long").as("id"))
      .join(broadcast(symOf), Seq("id"))
    val dec = seq.groupBy("doc_id")
      .agg(trim(replace(array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("sym")))),
        e => e.getField("sym")), ""), lit(BpeEndMark), lit(" ")))
        .as("__dec"))
    val hasText = col("text").isNotNull
    docs.join(dec, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(hasText, coalesce(col("__dec"), lit(""))).as("decoded_text"),
        when(hasText, coalesce(col("__dec"), lit("")) ===
          concat_ws(" ", tokens(col("text")))).as("roundtrip"))
      .orderBy("doc_id")
  }

  /** The (sym, id) vocabulary id map under the tokenizer id law —
    * alphabet symbols take 0..A−1 in binary-lexicographic order,
    * merge rank r takes A+r−1, MIN id per symbol string. Shared by
    * the token-id encoder, the vocabulary-usage report and the
    * decoder so the law lives once.
    */
  private[operators] def bpeIdMapFrame(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // checkpointed: the id union AND the alphabet-size count both read
    // this tiny (≈charset-sized) frame — without truncation each
    // consumer re-runs the corpus vocabulary scan behind it
    val alphaIds = OpCaches.localCheckpointTracked(bpeAlphabet(spark, dir)
      .withColumn("id", row_number().over(Window.orderBy("sym")).cast("long") - 1))
    val na = alphaIds.agg(count(lit(1)).as("__na"))
    val mergeIds = bpeMergeTable(spark, dir)
      .select(col("merged").as("sym"), col("merge_rank"))
      .crossJoin(broadcast(na))
      .select(col("sym"), (col("__na") + col("merge_rank") - 1).as("id"))
    alphaIds.select("sym", "id").unionByName(mergeIds)
      .groupBy("sym").agg(min("id").as("id"))
  }

  private def bpeTokenIdsEncode(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val merges = bpeLearnedMerges(spark, dir)
    // checkpointed skinny word instances: the vocabulary distinct and
    // the encode join BOTH read them — without cutting the lineage
    // each consumer re-scans and re-tokenizes the input (the
    // bm25/tfidf discipline; released by releaseTransients)
    val words = OpCaches.localCheckpointTracked(docs
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("wpos", "tok"))))
    val vocab = bpeVocabEncoded(words, merges)
    val idMap = bpeIdMapFrame(spark, dir)
    // the symbol→id mapping runs at VOCABULARY granularity: each
    // distinct word's symbol array becomes its id array once (explode
    // + broadcast idMap join + re-assemble in symbol order — unmapped
    // symbols drop exactly like the corpus-scale inner join did), so
    // the corpus-scale join below ships ONE row per word instance
    // carrying its id array instead of one row per SYMBOL — the
    // doc-keyed shuffle and the per-doc sort shrink by the symbols/
    // word factor (guide §2.3: aggregate before you shuffle). A word
    // whose symbols are all unmapped vanishes from vocabIds and so
    // from the join — identical to the old per-symbol inner join.
    val vocabIds = vocab
      .select(col("tok"), posexplode(col("syms")).as(Seq("spos", "sym")))
      .join(broadcast(idMap), Seq("sym"))
      .groupBy("tok")
      .agg(transform(array_sort(collect_list(struct(col("spos"), col("id")))),
        e => e.getField("id")).as("wids"))
    val ids = words
      .join(vocabIds, Seq("tok"))
      .groupBy("doc_id")
      .agg(sum(size(col("wids"))).cast("long").as("_n"),
        array_join(transform(flatten(transform(
          array_sort(collect_list(struct(col("wpos"), col("wids")))),
          e => e.getField("wids"))),
          i => i.cast("string")), ",").as("_ids"))
    val hasText = col("text").isNotNull
    docs.select(col("doc_id"), col("text"))
      .join(ids, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(hasText, coalesce(col("_n"), lit(0L))).as("n_tokens"),
        when(hasText, coalesce(col("_ids"), lit(""))).as("token_ids"))
  }

  /** The tokenizer ALPHABET — the distinct single characters of the
    * TRAINING corpus' distinct words (vocabulary-sized work) plus the
    * end-of-word marker round 0 appends. The id law gives these ids
    * 0..A−1 in binary-lexicographic order; shared by the token-id
    * encoder and the EOS-id frame so the two cannot drift.
    */
  private def bpeAlphabet(spark: SparkSession, dir: String): DataFrame = {
    // each token contributes its characters PLUS the end-of-word
    // marker inside ONE explode (one pass, no union branch): on a
    // non-empty corpus the distinct collapses the markers to the
    // identical single </w> row the trainer's round 0 appends, while
    // an EMPTY corpus yields an empty alphabet — so vocabulary-shaped
    // reports (tvu) honor the empty-input contract instead of
    // emitting a phantom 1-row vocabulary for a tokenizer that was
    // never trained
    Tables.documents(spark, dir)
      .select(explode(tokens(col("text"))).as("tok")).distinct()
      .select(explode(concat(
        transform(sequence(lit(1), length(col("tok"))),
          i => col("tok").substr(i, lit(1))),
        array(lit(BpeEndMark)))).as("sym"))
      .distinct()
  }

  /** The end-of-document separator id as a 1-row frame (`__eos`):
    * A + R, the first id PAST the vocabulary's id range (alphabet
    * symbols take 0..A−1, merge rank r takes A+r−1), so the separator
    * can never collide with a real token id at any corpus — the same
    * "one past the largest assignable id" law on both engines
    * (DuckDB: naa.na + R). A 1-row aggregate, broadcast by the
    * consumer; never collected.
    */
  private[operators] def bpeEosFrame(spark: SparkSession, dir: String): DataFrame =
    bpeAlphabet(spark, dir)
      .agg((count(lit(1)) + lit(BpeMergeRounds.toLong)).as("__eos"))

  /** Content fingerprint: hash of the normalized text — the key for
    * exact dedup at any scale (group-by on the hash is one shuffle of
    * (hash, id) pairs, never of full documents).
    */
  def textFingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), md5(lower(trim(col("text")))).as("fp"))
      .orderBy("doc_id")

  /** Winnowing parameters: word k-gram size and window width. The
    * winnowing guarantee is that any two documents sharing a run of
    * WinnowW + WinnowK − 1 consecutive tokens share at least one
    * selected fingerprint.
    */
  val WinnowK = 3
  val WinnowW = 4

  /** WINNOWING document fingerprints (Schleimer/Wilkerson/Aiken's MOSS
    * construction, the public local-fingerprinting algorithm): hash
    * every word k-gram, slide a window of [[WinnowW]] consecutive
    * hashes over each document, and select each window's minimum —
    * ties broken by the LEFTMOST position, encoded exactly by taking
    * the min of `hash · 2²⁰ + pos` (docs are bounded far below 2²⁰
    * grams; the 40-bit md5-prefix hash keeps the packed key inside
    * BIGINT in both engines). Overlapping windows select the same
    * (hash, pos) repeatedly — the density guarantee is ~2/(w+1) of
    * positions — so the selection dedups to (doc_id, fpos, fp) rows.
    *
    * This is the third fingerprinting tier: exact (`text_fp`, whole-
    * content md5) catches identical docs, `spans` counts shared
    * 8-grams corpus-wide, winnowing gives each document a SMALL
    * position-anchored sketch such that any shared token run of
    * length ≥ w+k−1 is provably caught by a fingerprint collision —
    * the plagiarism/attribution primitive.
    *
    * Plan shape: one shuffle+sort per document partition serves BOTH
    * windows (the k-gram `lead`s and the sliding min share the
    * (doc_id, pos) sort), then one distinct — per-doc work, no
    * cross-document operation anywhere, so it scales with the corpus
    * like every other narrow text pass. Docs with fewer than w
    * complete k-grams emit no rows (the guarantee's minimum unit).
    */
  def winnowFingerprints(spark: SparkSession, dir: String): DataFrame =
    winnowSelection(spark, dir).orderBy("doc_id", "fpos")

  /** The selection without the presentation sort — the (doc_id, fpos,
    * fp) frame every winnowing consumer derives from (`wfp` adds the
    * sort; the kept index, the extent report, and the probes consume
    * it mid-plan, where a global sort would only add an exchange).
    */
  /** The POSITIONED selection as a pinned MEMO STAGE (`win_sel`,
    * priced in `_substrate`) — the MOSS postings index proper:
    * fp → (doc, pos). This is the standing state a deployment keeps
    * on disk (the kept index, the extent table, and the incremental
    * re-cut all derive from it), so consumers read the pinned rows
    * instead of re-running the corpus-wide k-gram/sliding-min
    * selection per query.
    */
  /** The `win_sel` stage builder surface for the warm-up list. */
  private[operators] def winnowSelectionStage(spark: SparkSession,
      dir: String): DataFrame = winnowSelection(spark, dir)

  private def winnowSelection(spark: SparkSession, dir: String): DataFrame =
    DedupOps.memoStage(spark, dir, "win_sel") {
      winnowSelectionOn(Tables.documents(spark, dir))
    }

  /** The selection over an explicit (doc_id, text, …) frame — the
    * codegen'd window/explode form restricted to whatever docs the
    * caller passes (the incremental re-cut runs it over the TOUCHED
    * docs only). A per-row array-HOF form would re-evaluate the key
    * array per window and go quadratic on long documents.
    */
  private[operators] def winnowSelectionOn(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (k, w) = (WinnowK, WinnowW)
    val toks = docs
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
    val wl = Window.partitionBy("doc_id").orderBy("pos")
    val leads = (1 until k).map(j => lead(col("tok"), j).over(wl))
    val h40 = conv(substring(md5(concat_ws(" ", (col("tok") +: leads): _*)), 1, 10),
      16, 10).cast("long")
    // the packed key's position field is 20 bits: a document with
    // ≥ 2²⁰ k-grams would overflow pos into the hash bits, silently
    // corrupting fp/fpos decode AND the leftmost-min tie-break — fail
    // loudly instead (the monotonically_increasing_id discipline;
    // million-token documents are plausible at corpus scale)
    val keyed = toks
      .select(col("doc_id"), col("pos"),
        when(leads.last.isNotNull, h40 * lit(1048576L) + col("pos")).as("key"),
        assert_true(col("pos") < lit(1048576),
          lit("winnowing position >= 2^20: packed key would overflow — " +
            "chunk the document or widen the position field")).as("__ck"))
      .filter(col("key").isNotNull && col("__ck").isNull)
      .select(col("doc_id"), col("pos"), col("key"))
    keyed
      .withColumn("n", count(lit(1)).over(Window.partitionBy("doc_id")))
      .withColumn("wm", min(col("key")).over(wl.rowsBetween(Window.currentRow, w - 1)))
      .filter(col("pos") <= col("n") - w)
      .select(col("doc_id"), col("wm")).distinct()
      .select(col("doc_id"),
        col("wm").bitwiseAND(lit(1048575L)).as("fpos"),
        shiftright(col("wm"), 20).as("fp"))
      // PARTITION-LOCAL sort only (no global orderBy): every consumer
      // is mid-plan (`wfp` adds its own presentation sort on top), so
      // the old global sort's range exchange bought nothing — but the
      // row LOCALITY it created is load-bearing for the pinned cache
      // (columnar cache compression feeds on doc_id runs; caching the
      // raw distinct output measurably grew the block store and slowed
      // every cache reader after it). sortWithinPartitions keeps the
      // compression without the exchange.
      .sortWithinPartitions("doc_id", "fpos")
  }

  /** Attribution pairs: max docs a fingerprint may appear in before it
    * is dropped as boilerplate (the PPJoin-style stop-fingerprint
    * guard — a template fragment shared by a million pages would
    * otherwise pair them quadratically), and the min shared
    * fingerprints for a reported pair.
    */
  val WinnowMaxDf = 64
  val WinnowMinShared = 2

  /** WINNOWING-OVERLAP ATTRIBUTION — the fingerprint index's consumer
    * (MOSS's actual use): pairs of documents sharing at least
    * [[WinnowMinShared]] selected fingerprints, with the shared count.
    * By the winnowing guarantee, two documents sharing any token run
    * of length ≥ 2·(w+k−1) MUST appear here — the detection threshold
    * is a property of the construction, not of luck.
    *
    * Scale shape: one equi-join of the (doc_id, fp) selection with
    * itself, blocked BY FINGERPRINT — work is Σ df² over fingerprints,
    * and the [[WinnowMaxDf]] stop-fingerprint guard bounds every
    * block, so a boilerplate fragment cannot go quadratic (the same
    * df-pruning discipline as the PPJoin prefix filter). The
    * selection is ~2/(w+1) of gram positions per doc, so the join
    * input is a small sketch of the corpus, not the corpus.
    */
  def winnowOverlapPairs(spark: SparkSession, dir: String): DataFrame =
    winnowPairsFrom(winnowKept(spark, dir)).orderBy("doc_a", "doc_b")

  /** The fingerprint-blocked pair aggregation over an explicit kept
    * index — shared by the full attribution query and the extent
    * report's pair restriction.
    */
  private def winnowPairsFrom(kept: DataFrame): DataFrame = {
    val a = kept.select(col("fp"), col("doc_id").as("doc_a"))
    val b = kept.select(col("fp"), col("doc_id").as("doc_b"))
    a.join(b, Seq("fp"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= WinnowMinShared)
  }

  /** The df-capped (fp, doc_id) kept selection — the attribution
    * index every winnowing consumer joins (the full self-join `wsim`,
    * the incremental probe `winc`, the matched-extent report). df via
    * a window over the SAME fp partitioning the pair join needs — the
    * filter composes with the join's clustering instead of adding a
    * second fp shuffle (a broadcast of the df frame would be wrong at
    * scale: distinct fingerprints grow with the corpus). A pinned MEMO STAGE (`win_kept`, priced in
    * `_substrate`): this is the standing attribution index a
    * deployment keeps ON DISK between refreshes — the full self-join
    * (`wsim`), the incremental probes (`winc`, `wci`), and the
    * extent stage build all read the same pinned rows instead of
    * each re-running the corpus-wide selection per query.
    */
  private[graft] def winnowKept(spark: SparkSession, dir: String): DataFrame =
    DedupOps.memoStage(spark, dir, "win_kept") {
      import org.apache.spark.sql.expressions.Window
      winnowSelection(spark, dir)
        .select(col("doc_id"), col("fp")).distinct()
        .withColumn("__df", count(lit(1)).over(Window.partitionBy("fp")))
        .filter(col("__df") <= WinnowMaxDf)
        .select(col("fp"), col("doc_id"))
    }

  /** INCREMENTAL winnowing attribution — the `dinc` analog for
    * [[winnowOverlapPairs]]: only pairs TOUCHING the delta (the
    * arriving shard — the shared DedupOps delta predicate) are
    * re-derived, by probing the STANDING kept index with the delta
    * docs' fingerprints instead of self-joining the whole index.
    * Candidate work is ∝ |delta| · df (the stop-fingerprint cap bounds
    * every block, read from the STANDING index — full-corpus document
    * frequencies, exactly what a daily refresh would have on disk).
    * delta↔base pairs emit once in canonical orientation via
    * least/greatest; delta↔delta pairs come from the probe's
    * self-join half (a < b), so nothing double-counts. The oracle pins
    * probe ≡ the full `wsim` restricted to delta-touching pairs —
    * per-pair shared counts included, which holds because the kept
    * fingerprint sets are identical on both paths.
    */
  def winnowOverlapDelta(spark: SparkSession, dir: String): DataFrame = {
    val kept = winnowKept(spark, dir)
    val probe = kept.filter(DedupOps.deltaPredOn(col("doc_id")))
    val base = kept.filter(!DedupOps.deltaPredOn(col("doc_id")))
    val db = probe.select(col("fp"), col("doc_id").as("pd"))
      .join(base.select(col("fp"), col("doc_id").as("bd")), Seq("fp"))
      .select(least(col("pd"), col("bd")).as("doc_a"),
        greatest(col("pd"), col("bd")).as("doc_b"))
    val dd = probe.select(col("fp"), col("doc_id").as("doc_a"))
      .join(probe.select(col("fp"), col("doc_id").as("doc_b")), Seq("fp"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
    db.unionByName(dd)
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= WinnowMinShared)
      .orderBy("doc_a", "doc_b")
  }

  /** MOSS MATCHED-EXTENT reporting — what the attribution pairs are
    * FOR: for every flagged pair, the maximal runs of position-
    * adjacent shared fingerprints, i.e. the matched REGIONS a
    * reviewer actually reads. Matches are the kept (df-capped) shared
    * fingerprints with both documents' positions; ordered by
    * (pa, pb) per pair, a new run starts whenever either position
    * fails to advance or jumps by more than [[WinnowW]] — inside a
    * genuinely shared region the two docs select the SAME fingerprints
    * at aligned offsets (the packed key's tie-break is position-local,
    * but hash order dominates), so consecutive shared selections sit
    * ≤ w grams apart in BOTH docs and one run covers the region.
    * Emitted extents carry token spans (`*_end` = last gram position
    * + k − 1) and need ≥ 2 fingerprints (a single collision is not an
    * extent). Corollary of the winnowing guarantee, spec-pinned: a
    * shared run of ≥ 2·(w+k−1) tokens yields an extent.
    *
    * Scale shape: matches are one fp-blocked equi-join of the
    * selection against itself — the SAME Σ df² bound as the pair
    * query (df cap from the kept index, pairs restricted to the
    * flagged set) — plus one (pair)-partitioned window; per-pair match
    * counts are sketch-sized, never document-sized.
    */
  def winnowExtents(spark: SparkSession, dir: String): DataFrame =
    winnowExtentsStage(spark, dir).orderBy("doc_a", "doc_b", "ext")

  /** The CONVERGED matched-extent frame as a pinned MEMO STAGE
    * (`win_ext`, priced in `_substrate`): the kept-index self-join +
    * pair-partitioned run window executes ONCE per (session, dir) and
    * both consumers (`wext`'s report, `wct`'s span removal) read the
    * pinned rows — the r17 audit's finding #2 (each consumer was
    * re-paying the whole chain), closed with the `cluster_labels`
    * discipline (DedupOps.scala).
    */
  private[graft] def winnowExtentsStage(spark: SparkSession, dir: String): DataFrame =
    DedupOps.memoStage(spark, dir, "win_ext") {
      val kept = winnowKept(spark, dir)
      winnowExtentsFrom(
        winnowSelection(spark, dir).join(kept, Seq("fp", "doc_id"), "left_semi"),
        winnowPairsFrom(kept).select("doc_a", "doc_b"))
    }

  /** [[winnowExtents]]' core over an explicit kept selection
    * (doc_id, fpos, fp) and flagged pair frame — the spec surface for
    * the guarantee-corollary fixture (planted shared runs through
    * [[winnowSelectionOn]]).
    */
  private[graft] def winnowExtentsFrom(sel: DataFrame, pairs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (k, g) = (WinnowK, WinnowW)
    val a = sel.select(col("doc_id").as("doc_a"), col("fpos").as("pa"), col("fp"))
    val b = sel.select(col("doc_id").as("doc_b"), col("fpos").as("pb"), col("fp"))
    val m = a.join(b, Seq("fp"))
      .filter(col("doc_a") < col("doc_b"))
      .join(pairs, Seq("doc_a", "doc_b"), "left_semi")
    val wOrd = Window.partitionBy("doc_a", "doc_b").orderBy("pa", "pb")
    val runs = m
      .withColumn("ppa", lag(col("pa"), 1).over(wOrd))
      .withColumn("ppb", lag(col("pb"), 1).over(wOrd))
      .withColumn("brk", when(col("ppa").isNull ||
        col("pa") <= col("ppa") || col("pa") - col("ppa") > g ||
        col("pb") <= col("ppb") || col("pb") - col("ppb") > g, 1L).otherwise(0L))
      .withColumn("run", sum("brk").over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    runs.groupBy("doc_a", "doc_b", "run")
      .agg(min("pa").as("a_start"), max("pa").as("__ma"),
        min("pb").as("b_start"), max("pb").as("__mb"),
        count(lit(1)).as("n_fp"))
      .filter(col("n_fp") >= 2)
      .withColumn("ext", row_number().over(
        Window.partitionBy("doc_a", "doc_b").orderBy("a_start", "b_start"))
        .cast("long"))
      .select(col("doc_a"), col("doc_b"), col("ext"),
        col("a_start"), (col("__ma") + (k - 1)).as("a_end"),
        col("b_start"), (col("__mb") + (k - 1)).as("b_end"), col("n_fp"))
  }

  /** Duplicated-span REMOVAL — the Lee-et-al substring-dedup consumer
    * of the MOSS extents (Deduplicating Training Data Makes Language
    * Models Better, 2021: cut repeated substrings, keep one copy):
    * every matched extent cuts its tokens from the HIGHER doc of the
    * pair (doc_a keeps the first occurrence), so the cleaned corpus
    * carries each shared run once. Emits every document with its
    * original token count, the tokens cut (0 for untouched docs), and
    * the cleaned text — kept tokens rejoined in position order, the
    * tokenizer's normalized form, identical in both engines by the
    * shared token law. Plan: the wext extent chain once, one
    * doc_id-keyed LEFT ANTI join of the position-exploded tokens
    * against the covering extents (equi key + range residual — never
    * a cartesian), one per-doc aggregation. At 100 TB the cut table
    * is extent-sized (bounded by the df-capped index) and the token
    * stream shuffles once on doc_id.
    */
  def winnowCut(spark: SparkSession, dir: String): DataFrame = {
    val ext = winnowExtentsStage(spark, dir)
    val cuts = ext.select(col("doc_b").as("doc_id"),
      col("b_start").as("cs"), col("b_end").as("ce"))
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
    val keptToks = toks.as("t").join(cuts.as("c"),
      col("t.doc_id") === col("c.doc_id") &&
        col("t.pos") >= col("c.cs") && col("t.pos") <= col("c.ce"),
      "left_anti")
    val agg = keptToks.groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          e => e.getField("tok"))).as("cleaned_text"))
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        when(col("text").isNotNull,
          size(tokens(col("text"))).cast("long")).as("n_tokens"))
      .join(agg, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_cut"),
        coalesce(col("cleaned_text"), lit("")).as("cleaned_text"))
      .orderBy("doc_id")
  }

  /** INCREMENTAL duplicated-span removal — the `winc` consumer the
    * r17 plan called for: when a refresh shard arrives, ONLY the
    * delta-touched documents are re-cut; untouched documents' cleaned
    * text carries verbatim from the standing corpus (the `sref`
    * contract applied to span removal). Touched = every endpoint of a
    * delta-touching flagged pair, plus every arriving doc (an
    * arrival with no pairs is admitted uncut).
    *
    * The delta-touching pairs are DERIVED by the `winc` probe (delta
    * fingerprints against the standing df-capped kept index — work
    * ∝ |delta|·df, never a full self-join), their extents by the
    * shared [[winnowExtentsFrom]] chain over the touched docs'
    * selections only; base↔base extents covering a touched doc are
    * READ from the standing extent table (the pinned `win_ext` stage
    * — at 100 TB that table is on disk from the last refresh, keyed
    * by doc). The re-cut explodes ONLY touched documents' tokens.
    * The oracle pins delta cut ≡ the full `wct` restricted to the
    * touched set — per-doc counts and cleaned text included, which
    * holds because extents are per-pair (independent of other pairs)
    * and the probe's pair set is exactly the full flagged set's
    * delta-touching restriction (`winc`'s own gate).
    */
  def winnowCutDelta(spark: SparkSession, dir: String): DataFrame = {
    val kept = winnowKept(spark, dir)
    val probe = kept.filter(DedupOps.deltaPredOn(col("doc_id")))
    val base = kept.filter(!DedupOps.deltaPredOn(col("doc_id")))
    val db = probe.select(col("fp"), col("doc_id").as("pd"))
      .join(base.select(col("fp"), col("doc_id").as("bd")), Seq("fp"))
      .select(least(col("pd"), col("bd")).as("doc_a"),
        greatest(col("pd"), col("bd")).as("doc_b"))
    val dd = probe.select(col("fp"), col("doc_id").as("doc_a"))
      .join(probe.select(col("fp"), col("doc_id").as("doc_b")), Seq("fp"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
    // eagerly checkpointed skinny frames (the composite-verdict
    // discipline): each feeds several downstream branches, and a lazy
    // persist lets concurrent subtrees recompute the probe before the
    // cache fills.
    // NOTE (r20): collapsing these three into ONE union-tagged
    // checkpoint (each consumer filtering a tag column) was
    // implemented and MEASURED WORSE — wci 3.1 → 6.5 s median at
    // sf0.1/local[32], i.e. the shared pair-aggregate subtree did not
    // reliably collapse across the union branches and the probe join
    // re-ran per branch. Reverted; with the r19 attempt (re-compute
    // per consumer, also worse) this closes the "one checkpoint
    // boundary" idea for wci permanently — the three actions ARE the
    // cheapest correct shape measured to date.
    val dPairs = OpCaches.localCheckpointTracked(db.unionByName(dd)
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= WinnowMinShared)
      .select("doc_a", "doc_b"))
    val touched = OpCaches.localCheckpointTracked(
      dPairs.select(col("doc_a").as("doc_id"))
        .unionAll(dPairs.select(col("doc_b").as("doc_id")))
        .unionAll(Tables.documents(spark, dir).select("doc_id")
          .filter(DedupOps.deltaPredOn(col("doc_id"))))
        .distinct())
    // positions for the touched docs, READ from the standing postings
    // index (the pinned `win_sel` stage — fp → (doc, pos) on disk at
    // deployment scale) and df-filtered by the kept index: one
    // doc-keyed filter of standing state, work ∝ touched docs, the
    // selection never recomputes
    // checkpointed: the extent chain joins selT against itself (a and
    // b legs) — without truncation each leg re-filters the stage
    val selT = OpCaches.localCheckpointTracked(
      winnowSelection(spark, dir)
        .join(touched, Seq("doc_id"), "left_semi")
        .join(kept, Seq("fp", "doc_id"), "left_semi"))
    val deltaExt = winnowExtentsFrom(selT, dPairs)
    val standingExt = winnowExtentsStage(spark, dir)
      .filter(!DedupOps.deltaPredOn(col("doc_a")) &&
        !DedupOps.deltaPredOn(col("doc_b")))
    val cuts = deltaExt
      .select(col("doc_b").as("doc_id"),
        col("b_start").as("cs"), col("b_end").as("ce"))
      .unionByName(standingExt
        .select(col("doc_b").as("doc_id"),
          col("b_start").as("cs"), col("b_end").as("ce"))
        .join(touched, Seq("doc_id"), "left_semi"))
    val toks = Tables.documents(spark, dir)
      .join(touched, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
    val keptToks = toks.as("t").join(cuts.as("c"),
      col("t.doc_id") === col("c.doc_id") &&
        col("t.pos") >= col("c.cs") && col("t.pos") <= col("c.ce"),
      "left_anti")
    val agg = keptToks.groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          e => e.getField("tok"))).as("cleaned_text"))
    Tables.documents(spark, dir)
      .join(touched, Seq("doc_id"), "left_semi")
      .select(col("doc_id"),
        when(col("text").isNotNull,
          size(tokens(col("text"))).cast("long")).as("n_tokens"))
      .join(agg, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_cut"),
        coalesce(col("cleaned_text"), lit("")).as("cleaned_text"))
      .orderBy("doc_id")
  }

  /** Repetition quality signals (the Gopher-rules family — Rae et al.
    * 2021, §A1.1: "fraction of characters in the most common n-gram" /
    * "fraction of characters in duplicated n-grams", here over token
    * bigrams): per document, the share of bigram occurrences taken by
    * the single most frequent bigram (`top_bigram_frac`) and by all
    * bigrams occurring more than once (`dup_bigram_frac`). Boilerplate
    * and spam score high on both; the standard pre-training filter
    * thresholds them.
    *
    * Plan shape: posexplode → one `lead` window partitioned by doc_id,
    * and BOTH downstream aggregations ((doc, bigram) counts, then
    * per-doc rollup) are satisfied by that same doc_id clustering —
    * ONE shuffle total, per-group state bounded by a document's
    * distinct-bigram count, never cross-document. Fractions are one
    * long→double division each, bitwise-identical on both engines.
    * Documents with fewer than two tokens have no bigrams and drop
    * out (explode semantics), matching the oracle's WHERE.
    */
  def textRepSignals(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy("pos")
    Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
      .select(col("doc_id"), col("tok"), lead(col("tok"), 1).over(w).as("nxt"))
      .filter(col("nxt").isNotNull)
      .select(col("doc_id"), concat_ws(" ", col("tok"), col("nxt")).as("bigram"))
      .groupBy("doc_id", "bigram").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_bigrams"),
        max("c").as("top_bigram_n"),
        sum(when(col("c") > 1, col("c")).otherwise(0L)).as("dup_bigram_n"))
      .select(col("doc_id"), col("n_bigrams"), col("top_bigram_n"), col("dup_bigram_n"),
        (col("top_bigram_n").cast("double") / col("n_bigrams")).as("top_bigram_frac"),
        (col("dup_bigram_n").cast("double") / col("n_bigrams")).as("dup_bigram_frac"))
      .orderBy("doc_id")
  }

  /** Scale of the lmScore probability quantization: P ≤ 1 scales to
    * ≤ 1e12 per position, so a million-bigram document sums to ≤ 1e18
    * — inside Long.
    */
  private[graft] val LmScale = 1e12

  /** Corpus-trained bigram-LM quality score — the perplexity-filter
    * family (CCNet/Gopher use external KenLM models; with zero
    * external artifacts the corpus itself is the training set, which
    * is exactly the self-scoring used for within-corpus outlier
    * detection). Per doc: the average MLE conditional probability
    * P(w_i | w_{i-1}) = c(w_{i-1} w_i) / c(w_{i-1} ·) of its bigram
    * positions under corpus counts — fluent/templated text scores
    * high, gibberish scores near zero. Engine-exact without libm:
    * instead of summing log-probs (ln differs across libms in the
    * last ulp), each position's P is floored to a 1e12-scaled long —
    * c2/c1 is one IEEE double division both engines perform
    * identically — and the per-doc mean is an integer sum + integer
    * division. Plan: one tokenize+lead pass (checkpointed — both the
    * count branch and the position branch read it), bigram counts by
    * one (b) shuffle, first-token totals from the count table (not the
    * corpus — vocabulary-sized), stats joined back to positions on the
    * fixed 32-byte gram hash. At 100 TB the stats table is vocabulary²
    * -bounded and the big frames shuffle once each.
    */
  def lmScore(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy("pos")
    // NOTE (r20): narrowing `b`/`w1` to 16-byte binary via
    // unhex(md5(…)) — half the key bytes through the checkpoint and
    // the stats join, bijective so counts are identical — was
    // implemented and measured at sf1: min 3.90 s vs 3.17 s for this
    // form on the same host (3 runs each). No win (the hex string is
    // already a fixed-width comparison and the corpus frame is
    // doc_id-dominated), so the simpler form stays.
    val occ = OpCaches.localCheckpointTracked(
      Tables.documents(spark, dir)
        .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
        .select(col("doc_id"), col("tok"), lead(col("tok"), 1).over(w).as("nxt"))
        .filter(col("nxt").isNotNull)
        .select(col("doc_id"),
          md5(concat_ws(" ", col("tok"), col("nxt")).cast("binary")).as("b"),
          md5(col("tok").cast("binary")).as("w1")))
    // b determines w1, so grouping by both keys counts bigrams in one
    // codegen'd HashAggregate (a max(w1) carrier agg planned as a
    // SortAggregate over the full gram stream — measured and avoided);
    // c1 then comes from a window over the vocabulary-sized count
    // table, keeping this one linear chain instead of re-deriving the
    // counts for a second grouping.
    val bc = occ.groupBy("b", "w1").agg(count(lit(1)).as("c2"))
    val bs = bc
      .withColumn("c1", sum("c2").over(Window.partitionBy("w1")))
      .select(col("b"),
        floor(col("c2").cast("double") / col("c1").cast("double") * LmScale)
          .cast("long").as("ps"))
    // sum as decimal(38,0): ps ≤ 1e12 per position, so a LongType sum
    // would silently wrap past ~9.2M bigrams/doc while the DuckDB
    // oracle widens to HUGEINT — the decimal sum keeps both engines
    // exact for any document size (IntegralDivide below returns long)
    val perDoc = occ.join(bs, Seq("b"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("ps").cast("decimal(38,0)")).as("s"))
    Tables.documents(spark, dir).select("doc_id", "lang")
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(expr("s div n_bigrams"), lit(0L)).as("lm_avg_scaled"))
      .orderBy("doc_id")
  }

  /** CCNet-style per-language perplexity bucketing (Wenzek et al.
    * 2020 — the public CCNet construction): language-identify each
    * document ([[textLangId]]'s argmax law), score it with the
    * corpus-trained LM ([[lmScore]]'s integer-exact `lm_avg_scaled`),
    * then split each language into head/middle/tail TERCILES by score
    * — ntile(3) over (score DESC, doc_id): high average bigram
    * probability = low perplexity = head. The standard pretraining
    * filter keeps head+middle, emitted as `keep`. Both inputs are
    * exact integers, so the per-language order — and hence the
    * SQL-standard ntile split — is engine-exact. Plan: the langid
    * aggregation and the LM chain each scan the checkpointed token
    * stream once; the bucket is one lang-partitioned window over the
    * doc-sized join of the two. At 100 TB both inputs shuffle on
    * doc_id and the window on the handful of languages — the window
    * side is the skew risk, and the production dial is the same
    * per-language quantile SPLIT points CCNet precomputes (a tiny
    * stats table broadcast back), which this tercile window models.
    */
  def pplBuckets(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lid = textLangId(spark, dir).select(col("doc_id"), col("lang_pred"))
    val lm = lmScore(spark, dir).select(col("doc_id"), col("lm_avg_scaled"))
    val w = Window.partitionBy("lang_pred")
      .orderBy(desc("lm_avg_scaled"), asc("doc_id"))
    lid.join(lm, Seq("doc_id"))
      .withColumn("trc", ntile(3).over(w))
      .select(col("doc_id"), col("lang_pred"), col("lm_avg_scaled"),
        when(col("trc") === 1, "head").when(col("trc") === 2, "middle")
          .otherwise("tail").as("ppl_bucket"),
        (col("trc") <= 2).as("keep"))
      .orderBy("doc_id")
  }

  /** Higher-order array-function surface: transform / filter /
    * aggregate / slice / sort_array / array_contains / array_join over
    * the token array, oracle-matched against DuckDB's list functions.
    * The hot-path operators deliberately avoid HOF lambdas (explode +
    * codegen'd aggregation wins — see textTokens' rationale); this
    * query exists to pin the SEMANTIC parity of the lambda surface a
    * user writes ad-hoc queries with. Integer fold + binary-collation
    * sort keep every value engine-exact; arrays are re-joined to
    * strings so the hash gate compares scalars.
    */
  def arrayFuncs(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Tables.documents(spark, dir)
      .where(col("text").isNotNull)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(
        col("doc_id"),
        size(col("toks")).cast("long").as("n_toks"),
        array_join(slice(col("toks"), 1, 3), " ").as("first3"),
        array_join(slice(sort_array(col("toks")), 1, 3), " ").as("sorted3"),
        size(filter(col("toks"), t => length(t) > 5)).cast("long").as("n_long"),
        expr("aggregate(toks, 0L, (acc, x) -> acc + length(x))").as("total_chars"),
        array_contains(col("toks"), "data").as("has_data"))
      .orderBy("doc_id")

  /** Map/struct built-in-function surface (complement of
    * [[arrayFuncs]]): a token→length map per document exercised
    * through `map_from_arrays` / `map_keys` / `map_values` /
    * `map_filter` / `map_contains_key` / `element_at` / `map_concat` /
    * `transform_values`, plus struct build + field access — the last
    * built-in family a user writes ad-hoc queries with. DuckDB has no
    * map HOFs, so the oracle replicates every VALUE through list
    * functions over the same distinct-token set; outputs are scalars
    * only (map column order never reaches the hash). The `''`
    * sentinel key for map_concat is provably absent (tokens are
    * non-empty by construction), so the size bump is exactly +1 and
    * Spark's duplicate-key EXCEPTION policy can never fire. Map
    * semantics pinned: insertion order preserved (sorted before any
    * ordered output), map_filter/transform_values touch values not
    * keys, element_at yields NULL on a missing key.
    */
  def mapFuncs(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Tables.documents(spark, dir)
      .where(col("text").isNotNull)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("ks", array_distinct(col("toks")))
      .withColumn("m", map_from_arrays(col("ks"), transform(col("ks"), t => length(t))))
      .select(
        col("doc_id"),
        size(col("toks")).cast("long").as("n_toks"),
        size(map_keys(col("m"))).cast("long").as("n_keys"),
        expr("aggregate(map_values(m), 0L, (acc, x) -> acc + x)").as("len_sum"),
        size(map_filter(col("m"), (_, v) => v > 5)).cast("long").as("n_long_keys"),
        element_at(col("m"), "data").cast("long").as("data_len"),
        map_contains_key(col("m"), "data").as("has_data"),
        array_join(slice(array_sort(map_keys(col("m"))), 1, 3), " ").as("first3_keys"),
        size(map_concat(col("m"), map(lit(""), lit(-1)))).cast("long").as("n_concat"),
        expr("aggregate(map_values(transform_values(m, (k, v) -> v * 2 + 1)), 0L, (acc, x) -> acc + x)")
          .as("dbl_sum"),
        struct(col("doc_id").as("id"), size(col("ks")).cast("long").as("nk"))
          .getField("nk").as("struct_nk"))
      .orderBy("doc_id")

  /** Chunking geometry, shared with the oracle SQL (anti-drift). A
    * chunk k covers token positions [k·Stride, k·Stride + Size); the
    * last chunk may be short. Stride < Size ⇒ consecutive chunks
    * overlap by Size − Stride tokens (the standard training-window
    * overlap so no span is split across a boundary unseen).
    */
  val ChunkSize = 32
  val ChunkStride = 24

  /** Sliding-window document chunking — the tokenize-and-window step
    * that turns a document corpus into fixed-size training sequences
    * with overlap. One narrow explode per document (×⌈T/Stride⌉ row
    * inflation, no join, no shuffle until the output sort): chunk ids
    * come from an in-row `sequence`, the chunk text from an in-row
    * `slice` of the token array — embarrassingly parallel at any
    * corpus size, exactly what a 100 TB chunker must be. Chunks are
    * emitted as (count, md5) rather than text so the gate compares
    * compact scalars.
    */
  def docChunks(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)
    // k*Stride < T  ⟺  k ≤ (T−1) div Stride  (T ≥ 1 here)
    d.select(col("doc_id"), col("toks"),
        explode(sequence(lit(0),
          ((size(col("toks")) - 1) / lit(ChunkStride)).cast("int"))).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        slice(col("toks"), col("chunk_id") * ChunkStride + 1, lit(ChunkSize)).as("ctoks"))
      .select(col("doc_id"), col("chunk_id"),
        size(col("ctoks")).cast("long").as("n_tok"),
        md5(concat_ws(" ", col("ctoks"))).as("chunk_md5"))
      .orderBy("doc_id", "chunk_id")
  }

  /** BM25 constants, shared with the oracle SQL (anti-drift). The idf
    * factor is the RATIO form (N − df + ½)/(df + ½) — classic BM25
    * takes its ln, but ln is libm-dependent (engine-divergent in the
    * last ulp) while the ratio is pure IEEE subtract/divide, bitwise
    * identical in both engines. Per-term contributions are floored to
    * integers at 1e9 scale before summing (the [[graft.operators.GraphOps]]
    * scheme): long sums are exact and order-independent, so the score
    * is stable under any partitioning.
    */
  val Bm25Terms: Seq[String] = Seq("join", "stream", "filter", "spark")
  val Bm25K1 = 1.2
  val Bm25B = 0.75
  val Bm25TopK = 20

  /** BM25 lexical ranked retrieval over `documents` for a fixed term
    * set — the keyword-search complement of the ANN embedding path.
    * Plan: a pre-filter (`arrays_overlap`) skips documents containing
    * no query term before the explode; tf is one (doc, term) count on
    * the surviving skinny rows; df (≤ |terms| rows) and the corpus
    * stats (1 row) broadcast; the only real shuffle is the doc-keyed
    * tf⋈dl join, and the final top-k plans as TakeOrderedAndProject
    * (no global sort). At 100 TB the full text never shuffles — only
    * (doc_id, term, count) survivors do.
    */
  def bm25Search(spark: SparkSession, dir: String): DataFrame =
    bm25Joined(spark, dir)
      .withColumn("contrib",
        floor(col("idf") * (col("tf") * lit(Bm25K1 + 1.0)) / col("denom") * lit(1e9))
          .cast("long"))
      .groupBy("doc_id")
      .agg(sum("contrib").as("score_s"), count(lit(1)).as("n_terms"))
      .orderBy(desc("score_s"), col("doc_id"))
      .limit(Bm25TopK)

  /** The (doc_id, term, tf, df, dl, idf-ratio, denom) frame both BM25
    * variants score from — one tokenize/tf/df/stats pipeline, two
    * scoring heads (anti-drift).
    */
  private def bm25Joined(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
    // dl feeds both the per-doc join and the corpus stats — checkpoint
    // the skinny (doc_id, dl) rows so the text column is tokenized
    // once for it, not once per consumer
    val dl = OpCaches.localCheckpointTracked(
      docs.select(col("doc_id"), size(col("toks")).cast("long").as("dl")))
    val stats = dl.agg(
      count(lit(1)).cast("double").as("n_docs"),
      (sum("dl").cast("double") / count(lit(1))).as("avgdl"))
    // df re-aggregates tf, and a derived frame re-executes its whole
    // subtree (scan + explode + agg — twice the tokenization pass at
    // corpus scale) unless the lineage is cut: checkpoint the skinny
    // (doc, term, tf) rows once (≤ |terms| rows per doc; released by
    // releaseTransients).
    val tf = OpCaches.localCheckpointTracked(docs
      .filter(arrays_overlap(col("toks"),
        array(Bm25Terms.map(lit(_)): _*)))
      .select(col("doc_id"), explode(col("toks")).as("term"))
      .filter(col("term").isin(Bm25Terms: _*))
      .groupBy("doc_id", "term").agg(count(lit(1)).cast("double").as("tf")))
    val df = tf.groupBy("term").agg(count(lit(1)).cast("double").as("df"))
    tf.join(broadcast(df), Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
      .withColumn("denom",
        col("tf") + lit(Bm25K1) * (lit(1.0) - lit(Bm25B) +
          lit(Bm25B) * (col("dl").cast("double") / col("avgdl"))))
  }

  /** Rank-overlap gate for bm25Search's documented idf deviation: the
    * ratio form (N−df+½)/(df+½) vs ln-idf CAN order documents
    * differently on mixed-df queries — this query measures the
    * practical impact on THIS corpus instead of leaving the deviation
    * a prose caveat. The ln twin is Lucene's ln(1 + ratio), the form
    * production engines actually ship: Robertson's raw ln(ratio) goes
    * NEGATIVE for every term with df > N/2 (true for all four query
    * terms on this corpus — df ≈ 390 of 500), which INVERTS rankings
    * (fewest matches wins) and is precisely why practical BM25 adds
    * the 1. Both rankings come from the same tf/df/dl frame; the ln
    * twin quantizes each per-term contribution with floor at 1e6
    * scale before the exact long sum, which makes a rank flip from a
    * last-ulp libm divergence vanishingly unlikely — not impossible: a
    * true value within an ulp of a quantization boundary can still
    * floor to different longs on the two engines (the same accepted
    * residual risk as lm_score's 1e12 flooring and the ratio form's
    * 1e9). Output: top-20 sizes of both rankings,
    * their intersection size, and a ≥¾-overlap boolean the oracle
    * expects TRUE.
    */
  def bm25LnGate(spark: SparkSession, dir: String): DataFrame = {
    val j = bm25Joined(spark, dir)
    def top(scored: DataFrame): DataFrame =
      scored.groupBy("doc_id").agg(sum("contrib").as("s"))
        .orderBy(desc("s"), col("doc_id")).limit(Bm25TopK)
        .select(col("doc_id"))
    val ratio = top(j.withColumn("contrib",
      floor(col("idf") * (col("tf") * lit(Bm25K1 + 1.0)) / col("denom") * lit(1e9))
        .cast("long")))
    val ln = top(j.withColumn("contrib",
      floor(log(lit(1.0) + col("idf")) * (col("tf") * lit(Bm25K1 + 1.0)) / col("denom") * lit(1e6))
        .cast("long")))
    ratio.agg(count(lit(1)).as("n_ratio"))
      .crossJoin(ln.agg(count(lit(1)).as("n_ln")))
      .crossJoin(ratio.join(ln, Seq("doc_id")).agg(count(lit(1)).as("n_overlap")))
      .select(col("n_ratio"), col("n_ln"), col("n_overlap"),
        (col("n_overlap") * 4 >= col("n_ratio") * 3).as("overlap_ge_3q"))
  }
}