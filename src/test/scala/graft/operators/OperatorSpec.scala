package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkEntry

/** Per-operator semantic checks on sf0.001 (fast), complementing the
  * driver's DuckDB hash gate: every registered query must run and
  * return rows, and the dedup/similarity operators must agree with
  * each other on the planted near-duplicates.
  */
class OperatorSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.GraftSession.build("operator-spec", "4")
  val sf = "/root/testdata/sf0.001"

  test("every registered query runs and yields rows on sf0.001") {
    val empty = SparkEntry.queries.flatMap { case (name, fn) =>
      val n = fn(spark, sf).count()
      if (n == 0 && !Set("jan", "sexc", "jac",
        "mhl", "simp", "clus",
        "endup").contains(name))
        Some(name -> n)
      else None
    }
    assert(empty.isEmpty, s"queries with zero rows: $empty")
  }

  test("cand_work: every candidate stage is subquadratic, incl. the xxhash64 production path") {
    import org.apache.spark.sql.functions.{col, lit, xxhash64}
    val gates = DedupOps.candidateGates(spark, sf).collect()
    assert(gates.length === 4)
    gates.foreach { r =>
      val (algo, n, cand, maxp) =
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(maxp === n * (n - 1) / 2, s"$algo: max_pairs wrong")
      assert(r.getBoolean(4) &&
        cand * DedupOps.CandSubqFactor <= maxp,
        s"$algo: $cand candidates vs $maxp pairs — blocking lost")
    }
    // the hash-gated jaccard row prices the md5-ordered replica (the
    // oracle can't reproduce an xxhash64 prefix order); the bound must
    // hold for the PRODUCTION hash too, or the gate would be testing a
    // stand-in
    val nDocs = gates.head.getLong(1)
    val prod = DedupOps.ngramCandidates(spark, sf).count()
    DedupOps.releaseTransients(spark)
    assert(prod * DedupOps.CandSubqFactor <= nDocs * (nDocs - 1) / 2,
      s"xxhash64 PPJoin candidates not subquadratic: $prod")
  }

  test("lm_score: bigram count tracks token count; score within [0, scale]") {
    import org.apache.spark.sql.functions.col
    val lm = TextOps.lmScore(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    DedupOps.releaseTransients(spark)
    val toks = TextOps.textTokens(spark, sf).collect()
      .filter(!_.isNullAt(1)).map(r => r.getLong(0) -> r.getLong(1)).toMap
    toks.foreach { case (id, n) =>
      val (nb, score) = lm(id)
      assert(nb === math.max(n - 1, 0L),
        s"doc $id: $n tokens must yield ${n - 1} bigram positions, got $nb")
      // average of P in (0, 1]: every observed bigram has c2 >= 1, so
      // the floored scaled mean is positive whenever bigrams exist
      assert(score >= 0L && score <= 1000000000000L, s"doc $id score $score")
      if (nb > 0) assert(score > 0L, s"doc $id: positive P floored to zero")
    }
  }

  test("trained IVF beats the seed quantizer on the clustered corpus") {
    val dir = "/root/testdata/sf0.01"
    val seed = EmbeddingOps.annRecallClustered(spark, dir).collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    val trained = EmbeddingOps.annRecallTrained(spark, dir).collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    DedupOps.releaseTransients(spark)
    // training must move the dial upward at each probe setting, and
    // every trained value must clear its (higher) floor
    assert(trained("ivf_t1") >= seed("ivf_p1"),
      s"nprobe=1 recall fell with training: $trained vs $seed")
    assert(trained("ivf_t2") >= seed("ivf_p2"),
      s"nprobe=2 recall fell with training: $trained vs $seed")
    EmbeddingOps.TrainedRecallFloors.foreach { case (m, f) =>
      assert(trained(m) >= f, s"$m recall ${trained(m)} below floor $f")
    }
  }

  test("trained PQ codebook beats the seed codebook at the same bytes/vector") {
    val dir = "/root/testdata/sf0.01"
    def recallOf(df: org.apache.spark.sql.DataFrame): Double =
      df.select("recall").collect().head.getDouble(0)
    val seed = recallOf(EmbeddingOps.annRecallPq(spark, dir))
    val trainedDf = EmbeddingOps.annRecallPqTrained(spark, dir).collect().head
    DedupOps.releaseTransients(spark)
    val trained = trainedDf.getAs[Double]("recall")
    // Lloyd training must buy ADC recall, not merely preserve it —
    // the ivft trained-beats-seed contract, at the PQ tier
    assert(trained >= seed,
      s"trained-codebook ADC recall $trained fell below seed $seed")
    assert(trained >= EmbeddingOps.PqtRecallFloor,
      s"trained recall $trained below floor ${EmbeddingOps.PqtRecallFloor}")
    // training moves WHERE the entries sit, never how many bits
    // address them: the compression claim rides unchanged
    assert(trainedDf.getAs[Long]("bytes_pq") === 10L)
    // Lloyd monotonicity — the k-means objective cannot increase
    // (assignment is the argmin, the update is the L2² minimizer), so
    // the trained codebook's total quantization distortion must sit at
    // or below the seed's; a broken update breaks this before it
    // breaks recall
    val dSeed = EmbeddingOps.pqDistortion(spark, dir, trained = false)
    val dTrained = EmbeddingOps.pqDistortion(spark, dir, trained = true)
    DedupOps.releaseTransients(spark)
    assert(dTrained <= dSeed,
      s"training RAISED quantization distortion: $dTrained > $dSeed")
  }

  test("fully-trained IVF-PQ: composed recall ≥ max of the partial tiers") {
    val dir = "/root/testdata/sf0.01"
    def recallOf(df: org.apache.spark.sql.DataFrame): Double =
      df.select("recall").collect().head.getDouble(0)
    val seedSeed = recallOf(EmbeddingOps.annRecallPq(spark, dir))
    val seedCoarse = recallOf(EmbeddingOps.annRecallPqTrained(spark, dir))
    val composedDf = EmbeddingOps.annRecallPqFull(spark, dir).collect().head
    DedupOps.releaseTransients(spark)
    val composed = composedDf.getAs[Double]("recall")
    // the trained ≥ seed contract, final form: training BOTH tiers must
    // do at least as well as training either alone (measured: 0.93 vs
    // 0.84/0.77 at this SF) — a composition bug (codebook trained on
    // the wrong tier's residuals, probe against stale cells) shows up
    // here before it drags recall below the floor
    assert(composed >= math.max(seedSeed, seedCoarse),
      s"composed recall $composed below a partial tier " +
        s"(seed-codebook $seedSeed, trained-codebook $seedCoarse)")
    assert(composed >= EmbeddingOps.PqfRecallFloor,
      s"composed recall $composed below floor ${EmbeddingOps.PqfRecallFloor}")
    // both tiers trained, same 10 bytes/vector — compression unchanged
    assert(composedDf.getAs[Long]("bytes_pq") === 10L)
  }

  test("pqCodesIncremental: append-path codes ≡ full re-encode, encode work ∝ delta") {
    import org.apache.spark.sql.functions.col
    val dir = "/root/testdata/sf0.01"
    def keyed(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> (r.getLong(1), r.getLong(3))).toMap
    val append = keyed(EmbeddingOps.pqCodesIncremental(spark, dir))
    val full = keyed(EmbeddingOps.pqCodesIncrementalFull(spark, dir))
    DedupOps.releaseTransients(spark)
    // the incremental-maintenance theorem, frame-checked: encoding is
    // row-local given the standing state, so appending delta codes is
    // exactly what a full re-encode would have produced for those ids
    assert(append === full, "append-path codes diverged from the full re-encode")
    // work ∝ |delta|: every emitted id is a delta id and the row count
    // is exactly |delta| · m — the encode stage never saw a base vector
    val nDelta = graft.sources.Tables.embeddings(spark, dir)
      .filter(col("vec_id") % 5 === 0).count()
    assert(append.keys.forall(_._1 % 5 == 0), "a non-delta id was re-encoded")
    assert(append.size.toLong === nDelta * EmbeddingOps.PqSubspaces,
      s"expected ${nDelta} delta vectors x ${EmbeddingOps.PqSubspaces} codes, got ${append.size}")
  }

  test("bpeEncode: learned merges shrink symbol counts within per-word bounds") {
    val rows = TextOps.bpeEncode(spark, sf).collect().filter(!_.isNullAt(1))
    assert(rows.nonEmpty)
    var applied = 0L
    rows.foreach { r =>
      val (w, s0, nt) = (r.getLong(1), r.getLong(2), r.getLong(3))
      // every word is at least one symbol, merges only ever shrink
      assert(nt >= w, s"doc ${r.getLong(0)}: $nt tokens for $w words")
      assert(nt <= s0, s"doc ${r.getLong(0)}: tokens grew past pre-merge symbols")
      applied += s0 - nt
    }
    // the 8 learned rules must actually fire somewhere in the corpus —
    // an encoder that never matches (wrong padding, wrong order) would
    // pass the bounds above with applied == 0
    assert(applied > 0L, "no merge ever applied — encode chain is inert")
  }

  test("bpeTokenIds: id count ≡ bpeEncode token count, ids inside the vocabulary") {
    // the id stream must be the SAME symbol stream bpenc counts —
    // per-doc length equality pins that; every id must address the
    // vocabulary (alphabet + one per merge), pinning the id law's range
    val enc = TextOps.bpeEncode(spark, sf).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(3)) -1L else r.getLong(3))).toMap
    val rows = TextOps.bpeTokenIds(spark, sf).collect()
    assert(rows.nonEmpty)
    val allIds = rows.filter(!_.isNullAt(2)).flatMap(r =>
      r.getString(2).split(",").filter(_.nonEmpty).map(_.toLong))
    assert(allIds.nonEmpty, "no token ids emitted")
    val maxId = allIds.max
    rows.foreach { r =>
      val doc = r.getLong(0)
      if (r.isNullAt(1)) assert(enc(doc) === -1L, s"doc $doc: NULL drift vs bpenc")
      else {
        assert(r.getLong(1) === enc(doc), s"doc $doc: id count != bpenc n_tokens")
        val n = r.getString(2).split(",").count(_.nonEmpty)
        assert(n.toLong === r.getLong(1), s"doc $doc: token_ids length != n_tokens")
      }
    }
    // vocabulary range: ids are 0..A+rounds-1; the merge ids occupy the
    // top `rounds` slots unless a merged string collided into the
    // alphabet (min-id law) — so max id < A + rounds with A bounded by
    // the distinct corpus characters (+ end-mark)
    assert(allIds.forall(_ >= 0))
    assert(maxId < 4096, s"implausible max id $maxId for a character alphabet")
  }

  test("tokenVocabUsage: counts conserve the encoded corpus, rank a permutation") {
    val stage = TextOps.bpeTokenIds(spark, sf).collect()
    val totTok = stage.filter(!_.isNullAt(1)).map(_.getLong(1)).sum
    val usedCounts = stage
      .filter(r => !r.isNullAt(2) && r.getString(2).nonEmpty)
      .flatMap(_.getString(2).split(",").filter(_.nonEmpty).map(_.toLong))
      .groupBy(identity).map { case (id, xs) => id -> xs.length.toLong }
    val rows = TextOps.tokenVocabUsage(spark, sf).collect()
    graft.operators.DedupOps.releaseTransients(spark)
    assert(rows.nonEmpty)
    // one row per vocabulary entry — (id, sym) one-to-one
    assert(rows.map(_.getLong(0)).distinct.length === rows.length)
    assert(rows.map(_.getString(1)).distinct.length === rows.length)
    // counts ≡ the encoded corpus (zero rows included), conserved
    rows.foreach(r => assert(
      r.getLong(2) === usedCounts.getOrElse(r.getLong(0), 0L),
      s"id ${r.getLong(0)}: n_uses diverged from the encoded corpus"))
    assert(usedCounts.keySet.subsetOf(rows.map(_.getLong(0)).toSet),
      "a used id is missing from the vocabulary report")
    assert(rows.map(_.getLong(2)).sum === totTok, "n_uses conservation")
    // rank: a permutation of 1..V realizing (n_uses DESC, id ASC)
    assert(rows.map(_.getLong(3)).sorted.toSeq ===
      (1L to rows.length.toLong).toSeq)
    rows.sortBy(_.getLong(3)).sliding(2).filter(_.length == 2).foreach { w =>
      val (a, b) = (w(0), w(1))
      assert(a.getLong(2) > b.getLong(2) ||
        (a.getLong(2) == b.getLong(2) && a.getLong(0) < b.getLong(0)),
        "rank order violates (n_uses DESC, id)")
    }
    // ppm shares: the exact integral law, and they can never sum past 1e6
    rows.foreach(r =>
      assert(r.getLong(4) === r.getLong(2) * 1000000L / totTok))
    assert(rows.map(_.getLong(4)).sum <= 1000000L)
  }

  test("winnowOverlapDelta ≡ full attribution restricted to delta-touching pairs") {
    // probe-vs-index must find EXACTLY the self-join's delta-touching
    // pairs with identical shared counts — the incremental-refresh
    // theorem the winc oracle also pins, machine-checked here against
    // the live full query (both read one kept selection)
    val dir = "/root/testdata/sf0.01"
    def keyed(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val full = keyed(TextOps.winnowOverlapPairs(spark, dir))
    val probe = keyed(TextOps.winnowOverlapDelta(spark, dir))
    DedupOps.releaseTransients(spark)
    val expected = full.filter { case ((a, b), _) => a % 5 == 0 || b % 5 == 0 }
    assert(probe.nonEmpty, "delta probe found no pairs — fixture degenerate")
    assert(probe === expected,
      s"probe ${probe.size} pairs vs restricted full ${expected.size}")
  }

  test("winnowExtents: a shared run of 2(w+k-1) tokens yields a multi-fp extent") {
    // the guarantee corollary: inside a shared region both docs select
    // identical fingerprints at aligned offsets with gaps ≤ w, so a
    // region of ≥ 2(w+k−1) tokens must produce ≥2 shared selections
    // that the gaps-and-islands pass joins into ONE extent
    import spark.implicits._
    val (k, w) = (TextOps.WinnowK, TextOps.WinnowW)
    val L = 2 * (w + k - 1)
    val shared = (1 to L).map(i => s"shr$i").mkString(" ")
    val docs = Seq(
      (1L, s"alpha beta gamma delta epsilon zeta $shared tail1 tail2 tail3"),
      (2L, s"one two $shared other words entirely here now")).toDF("doc_id", "text")
    val sel = TextOps.winnowSelectionOn(docs)
    val pairs = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    val ext = TextOps.winnowExtentsFrom(sel, pairs).collect()
    assert(ext.nonEmpty, "no extent from a guarantee-length shared run")
    val best = ext.maxBy(_.getAs[Long]("n_fp"))
    assert(best.getAs[Long]("n_fp") >= 2,
      s"extent has ${best.getAs[Long]("n_fp")} fps — corollary violated")
    // the extent's spans must lie inside each doc's copy of the region
    // (fingerprints anchor inside the shared tokens; spans may extend
    // k−1 tokens past the last anchored gram)
    val (aLo, aHi) = (6L, 6L + L - 1 + (k - 1))
    val (bLo, bHi) = (2L, 2L + L - 1 + (k - 1))
    assert(best.getAs[Long]("a_start") >= aLo && best.getAs[Long]("a_end") <= aHi,
      s"extent a-span outside the planted region: $best")
    assert(best.getAs[Long]("b_start") >= bLo && best.getAs[Long]("b_end") <= bHi,
      s"extent b-span outside the planted region: $best")
    // aligned region ⇒ constant offset between the two docs' anchors
    assert(best.getAs[Long]("a_start") - best.getAs[Long]("b_start") === aLo - bLo,
      s"extent anchors not aligned: $best")
  }

  test("winnowFingerprints: the winnowing guarantee holds on every document") {
    import org.apache.spark.sql.functions.col
    val sel = TextOps.winnowFingerprints(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(sel.nonEmpty)
    val w = TextOps.WinnowW
    val grams = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"),
        org.apache.spark.sql.functions.size(TextOps.tokens(col("text"))).as("nt"))
      .collect().map(r => r.getLong(0) -> math.max(r.getInt(1) - TextOps.WinnowK + 1, 0))
      .toMap
    sel.groupBy(_._1).foreach { case (doc, rows) =>
      val ps = rows.map(_._2).sorted
      // the guarantee: every window of w consecutive grams contains a
      // selected position, i.e. selections start within the first
      // window, end within the last, and never gap by more than w
      assert(ps.head < w, s"doc $doc: first fingerprint at ${ps.head} >= $w")
      ps.sliding(2).filter(_.length == 2).foreach { pair =>
        val (a, b) = (pair(0), pair(1))
        assert(b - a <= w, s"doc $doc: gap ${b - a} > $w at $a")
      }
      assert(ps.last >= grams(doc) - w,
        s"doc $doc: tail window uncovered (last=${ps.last}, n=${grams(doc)})")
    }
    // every doc with at least one full window emits fingerprints
    val emitted = sel.map(_._1).toSet
    grams.filter(_._2 >= w).keys.foreach { d =>
      assert(emitted(d), s"doc $d has >= $w grams but no fingerprints")
    }
  }

  test("winnowOverlapPairs ≡ driver-side recomputation from the fingerprint index") {
    // complete independent recomputation (the union-find device the
    // cluster gate uses): group the wfp selection by fingerprint,
    // drop stop-fingerprints over the df cap, enumerate every pair
    // with >= MinShared shared fps — the distributed join must produce
    // EXACTLY this set with exactly these counts (sound AND complete)
    val pairs = TextOps.winnowOverlapPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs.nonEmpty)
    val selByDoc = TextOps.winnowFingerprints(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).distinct
      .groupBy(_._1).map { case (d, fs) => d -> fs.map(_._2).toSet }
    val df = selByDoc.values.toSeq.flatMap(_.toSeq).groupBy(identity)
      .map { case (f, os) => f -> os.size }
    val docs = selByDoc.keys.toSeq.sorted
    val expected = (for {
      i <- docs.indices.iterator
      j <- (i + 1) until docs.length
      a = docs(i); b = docs(j)
      shared = selByDoc(a).intersect(selByDoc(b))
        .count(f => df(f) <= TextOps.WinnowMaxDf)
      if shared >= TextOps.WinnowMinShared
    } yield (a, b) -> shared.toLong).toMap
    assert(pairs === expected,
      s"attribution diverged: ${pairs.size} pairs vs expected ${expected.size}")
    // and the df cap actually bites somewhere OR nothing exceeds it —
    // state which, so a silently-dead guard is visible in the test log
    info(s"stop-fingerprints over cap: ${df.count(_._2 > TextOps.WinnowMaxDf)}")
  }

  test("winnowing edges: below-threshold docs emit nothing, one-window docs emit one") {
    import spark.implicits._
    // the batch selection over explicit docs: fewer than k tokens →
    // no grams; fewer than w grams → no full window → no
    // fingerprints; exactly w grams → exactly one window → exactly
    // one selection; NULL text → no rows
    val docs = Seq(
      (1L, "a b"),                // 2 tokens < k
      (2L, "a b c"),              // 1 gram < w
      (3L, "a b c d e f"),        // 4 grams = w: one window
      (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = TextOps.winnowSelectionOn(docs).collect()
      .groupBy(_.getLong(0))
    assert(!out.contains(1L) && !out.contains(2L) && !out.contains(4L),
      s"sub-threshold docs emitted fingerprints: ${out.keySet}")
    val d3 = out.getOrElse(3L, Array.empty)
    assert(d3.length === 1, s"one-window doc emitted ${d3.length} fingerprints")
    val fpos = d3.head.getLong(1)
    assert(fpos >= 0 && fpos < TextOps.WinnowW,
      s"selected position $fpos outside the only window")
  }

  test("bpe train→encode end-to-end on a planted vocab: words collapse to single tokens") {
    import spark.implicits._
    // {aaa:10, abab:8, ab:5} converges in 6 merges (ab, aa, ab</w>,
    // a</w>, aaa</w>, abab</w> — hand-derivable from the greedy
    // count-then-lexicographic law), so after the 8-round budget every
    // word is ONE symbol: a doc of all three words must encode to
    // n_words=3, n_syms0=(3+1)+(4+1)+(2+1)=12, n_tokens=3
    val wc = Seq(("aaa", 10L), ("abab", 8L), ("ab", 5L)).toDF("tok", "cnt")
    val merges = TextOps.bpeTrainOn(wc, TextOps.BpeMergeRounds).collect()
      .map(r => (r.getAs[String]("sym_a"), r.getAs[String]("sym_b"))).toSeq
    val doc = Seq((1L, "aaa abab ab")).toDF("doc_id", "text")
    val row = TextOps.bpeEncodeOn(doc, merges).collect().head
    assert((row.getLong(1), row.getLong(2), row.getLong(3)) === ((3L, 12L, 3L)),
      s"planted-vocab encode diverged: $row")
  }

  test("corpus precondition: no control characters in document text") {
    // Java regex \s includes U+000B; RE2 (DuckDB) does not — tokens()
    // splits on \s+, so a control char in the corpus could make Spark
    // and the oracle tokenize differently. The corpus carries none;
    // fail loudly here rather than as an opaque oracle hash mismatch.
    import org.apache.spark.sql.functions._
    val n = graft.sources.Tables.documents(spark, sf)
      .filter(col("text").rlike("[\\x00-\\x1f]")).count()
    assert(n === 0L)
  }

  test("every query has an oracle — no rows-only queries left") {
    val keys = SparkEntry.Registry.map(_.key).toSet
    assert(SparkEntry.queries.keySet === keys)
    assert(SparkEntry.oracleSql.keySet === keys)
    assert(SparkEntry.queries.size === SparkEntry.Registry.size)
    assert(SparkEntry.oracleSql.size === SparkEntry.Registry.size)
    val blank = SparkEntry.Registry.filter(_.oracle.trim.isEmpty).map(_.key)
    assert(blank.isEmpty, s"registry rows with blank oracle SQL: $blank")
  }

  // Exact n-gram dedup blocks on lang (cheap blocking); LSH and
  // simhash see cross-lang near-dups too, so the comparisons below use
  // the lang-blocked exact pairs as a *lower bound* on what the
  // hash-based methods must find, restricted to very-high jaccard
  // where collision probability is ~1.

  private def exactPairsAbove(j: Double): Set[(Long, Long)] =
    DedupOps.dedupNgramJaccard(spark, sf)
      .filter(org.apache.spark.sql.functions.col("jaccard") >= j)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("dedup_clusters: pair endpoints co-clustered, label is the component min") {
    // sf0.01 — the smallest SF where minhash emits pairs. The cluster
    // map must close the pair graph transitively: both endpoints of
    // every pair share a label, and each label is its component's
    // minimum member id (the unique min-label fixpoint).
    val dir = "/root/testdata/sf0.01"
    val pairs = DedupOps.dedupMinhashLsh(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    val cluster = DedupOps.dedupClusters(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    pairs.foreach { case (a, b) =>
      assert(cluster(a) === cluster(b), s"pair ($a,$b) split across clusters")
    }
    cluster.groupBy(_._2).foreach { case (lbl, members) =>
      assert(lbl === members.keys.min, s"cluster $lbl label isn't its min member")
    }
    // reference fixpoint computed driver-side via union-find
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = parent.keys.map(x => x -> find(x)).toMap
    assert(cluster === expected)
  }

  test("dedupDelta: probe work scales with the delta, pairs ≡ full query filtered") {
    val dir = "/root/testdata/sf0.01"
    import org.apache.spark.sql.functions.col
    // pair-set equality: incremental probe ≡ all-pairs restricted to
    // pairs touching the delta (LSH symmetry makes these identical)
    val full = DedupOps.dedupMinhashLsh(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expected = full.filter(p => p._1 % 5 == 0 || p._2 % 5 == 0).toSet
    val got = DedupOps.dedupDelta(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === expected, "delta probe diverged from the filtered full query")
    assert(got.nonEmpty, "fixture has no delta-touching pairs")
    // probe scaling: the delta candidate set is a strict subset of the
    // full candidate set, and every candidate touches the delta — the
    // machine-checkable face of 'work ∝ |delta|, not |corpus|'
    val banded = DedupOps.bandedRows(spark, dir)
    val deltaCand = DedupOps.deltaCandidates(banded).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val fullCand = DedupOps.minhashCandidates(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    DedupOps.releaseTransients(spark)
    assert(deltaCand.subsetOf(fullCand), "delta candidates outside the full set")
    assert(deltaCand.size < fullCand.size,
      "delta probe did not shrink the candidate space")
    assert(deltaCand.forall(p => p._1 % 5 == 0 || p._2 % 5 == 0),
      "a delta candidate touches no delta doc")
  }

  test("labelsIncremental: merged labels ≡ from-scratch fixpoint, iteration at delta scale") {
    val dir = "/root/testdata/sf0.01"
    // exact frame equality: standing labels + delta mapping must land
    // on the same (id, lbl) fixpoint the full-corpus loop converges to
    val full = DedupOps.dedupClusters(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val inc = DedupOps.labelsIncremental(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(inc === full, "incremental labels diverged from the from-scratch fixpoint")
    // the refresh's ITERATIVE work runs on the contracted label graph:
    // its node count is bounded by the delta-pair endpoints (≤ 2·|dp|)
    // and is a strict fraction of the labeled corpus — the
    // machine-checkable face of 'fixpoint ∝ delta, not corpus'
    val nDeltaPairs = DedupOps.dedupDelta(spark, dir).count()
    val mapping = DedupOps.labelMapping(spark, dir).collect()
    assert(mapping.nonEmpty, "fixture has no touched components")
    assert(mapping.length <= 2 * nDeltaPairs,
      s"label graph (${mapping.length}) exceeds delta-pair endpoints (2x$nDeltaPairs)")
    assert(mapping.length < full.size,
      "label graph did not contract below the labeled corpus")
    DedupOps.releaseTransients(spark)
  }

  test("dedupKeepIncremental: re-elects only delta-touched clusters, verdicts ≡ from-scratch") {
    val dir = "/root/testdata/sf0.01"
    def key(r: org.apache.spark.sql.Row) = r.getAs[Long]("doc_id") ->
      (r.getAs[Long]("cluster"), r.getAs[Boolean]("keep"),
        r.getAs[Long]("kept_doc"), r.getAs[Long]("n_members"))
    val fromScratch = DedupOps.dedupKeep(spark, dir).collect().map(key).toMap
    val inc = DedupOps.dedupKeepIncremental(spark, dir).collect()
    assert(inc.map(key).toMap === fromScratch,
      "incremental verdicts diverged from the from-scratch chain")
    // per-refresh election work ∝ touched clusters: the re-elected rows
    // are a strict minority, every one sits in a cluster containing a
    // delta-pair node, and every untouched row rode in from standing
    val deltaNodes = DedupOps.dedupDelta(spark, dir).collect()
      .flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    val byCluster = inc.groupBy(_.getAs[Long]("cluster"))
    inc.foreach { r =>
      val touched = byCluster(r.getAs[Long]("cluster"))
        .exists(m => deltaNodes(m.getAs[Long]("doc_id")))
      assert(r.getAs[Boolean]("reelected") === touched,
        s"doc ${r.getAs[Long]("doc_id")}: reelected=${r.getAs[Boolean]("reelected")} " +
          s"but cluster touched=$touched")
    }
    val reelected = inc.count(_.getAs[Boolean]("reelected"))
    assert(reelected > 0, "fixture re-elected nothing")
    assert(reelected < inc.length / 2,
      s"re-elected $reelected of ${inc.length} rows — election did not stay at delta scale")
    // quality comes from the STANDING verdict table (scores are
    // immutable per doc); the refresh's only text-scan input is delta
    // docs ABSENT from standing state — empty on this fixture, the
    // machine-checked face of 'no corpus-scale text pass per refresh'
    assert(DedupOps.freshQualityInput(spark, dir).count() === 0,
      "refresh would re-scan text for docs the standing state already scored")
    DedupOps.releaseTransients(spark)
  }

  test("textQualityOn: explicit-frame scoring ≡ the table-bound form (the new-doc path)") {
    // the incremental refresh scores genuinely-new docs through
    // textQualityOn over a delta-filtered frame; the fixture keeps that
    // branch empty, so pin its semantics directly: scoring any subset
    // frame must agree row-for-row with the full table-bound scorer
    val dir = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, dir)
      .filter(org.apache.spark.sql.functions.col("doc_id") % 3 === 0)
      .select("doc_id", "text")
    val sub = TextOps.textQualityOn(docs).collect()
      .map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    val full = TextOps.textQuality(spark, dir).collect()
      .map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    assert(sub.nonEmpty, "empty subset fixture")
    sub.foreach { case (id, row) =>
      assert(row === full(id), s"doc $id: subset scoring diverged from full")
    }
  }

  test("bpeTrain: greedy-left merges, monotone counts, layout-independent") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // planted vocab exercising the two hard merge shapes: a RUN of the
    // chosen pair ('aaa' must merge left-greedily to [aa, a], not
    // [a, aa] or a double-merge) and ADJACENT occurrences ('abab' must
    // merge BOTH — the single-space encoding bug would drop the second)
    val wc = Seq(("aaa", 10L), ("abab", 8L), ("ab", 5L))
      .toDF("tok", "cnt")
    val m = TextOps.bpeTrainOn(wc, 3).collect()
    assert(m.length === 3)
    // round 1: (a,b) count 8*2 + 5 = 21 beats (a,a) count 10*2 = 20
    assert((m(0).getString(1), m(0).getString(2), m(0).getLong(4)) ===
      (("a", "b", 21L)), "round-1 argmax drifted")
    // round 2: (a,a) scores 2 occurrences × 10 = 20 in 'aaa' (pair
    // multiplicity is per-occurrence); the greedy-left merge must
    // yield [aa, a], which round 3's (aa,a)=10 < (ab,</w>)=13 confirms
    assert((m(1).getString(1), m(1).getString(2), m(1).getLong(4)) ===
      (("a", "a", 20L)), "run-pair multiplicity drifted")
    assert((m(2).getString(1), m(2).getString(2), m(2).getLong(4)) ===
      (("ab", "</w>", 13L)), "round-3 argmax drifted")
    // chosen-pair counts never increase round over round (a new pair
    // occurs at most as often as the merge that created it)
    val ns = m.map(_.getLong(4)).toSeq
    assert(ns === ns.sorted.reverse, s"pair counts not monotone: $ns")
    // layout independence: a different partitioning of the SAME word
    // counts must learn the SAME rules (the argmax is a total order,
    // the sums exact longs)
    val m2 = TextOps.bpeTrainOn(wc.repartition(7, col("tok")), 3).collect()
    assert(m.map(_.toSeq).toSeq === m2.map(_.toSeq).toSeq,
      "merges depend on layout")
    // and the corpus-backed query yields exactly BpeMergeRounds rules
    // at the smallest SF (rounds never exhaust on the test corpus)
    assert(TextOps.bpeTrain(spark, sf).count() ===
      TextOps.BpeMergeRounds.toLong)
  }

  test("annRecallPq: memory tier clears its floor at every SF, claims exact") {
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01").foreach { dir =>
      val r = EmbeddingOps.annRecallPq(spark, dir).collect()
      assert(r.length === 1, s"$dir: expected one gate row")
      val row = r.head
      assert(row.getAs[Boolean]("recall_ok"),
        s"$dir: recall ${row.getAs[Double]("recall")} under floor " +
          s"${row.getAs[Double]("recall_floor")}")
      // the tier's price-and-prize, pinned: 10 code bytes against the
      // raw 64 floats, 25.6x
      assert(row.getAs[Long]("bytes_pq") === 10L)
      assert(row.getAs[Long]("bytes_raw") === 256L)
      assert(row.getAs[Double]("compression") === 25.6)
      // PQ may trade recall but must stay a real searcher: strictly
      // above chance (~1/ClusterPlantedK) and above the LSH floor
      assert(row.getAs[Double]("recall") >
        EmbeddingOps.ClusterRecallFloors("lsh_bucket"),
        s"$dir: PQ under the LSH floor")
      // the two-stage tier: exact re-rank of the ADC shortlist must
      // recover raw-vector-class recall — above its own floor AND at
      // least the code-only recall (the shortlist contains ADC's
      // top-k, so the exact re-rank can only improve the pick here)
      assert(row.getAs[Boolean]("rr_ok"),
        s"$dir: re-rank recall ${row.getAs[Double]("recall_rr")} under floor")
      assert(row.getAs[Double]("recall_rr") >= row.getAs[Double]("recall"),
        s"$dir: exact re-rank lost recall vs code-only ADC")
      DedupOps.releaseTransients(spark)
    }
  }

  test("dedupKeep: one survivor per cluster, best quality wins, singletons keep") {
    val dir = "/root/testdata/sf0.01"
    val rows = DedupOps.dedupKeep(spark, dir).collect()
    val nDocs = graft.sources.Tables.documents(spark, dir).count()
    assert(rows.length.toLong === nDocs, "every document must get a verdict")
    val byCluster = rows.groupBy(_.getAs[Long]("cluster"))
    val clustered = DedupOps.dedupClusters(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    byCluster.foreach { case (c, members) =>
      val keepers = members.filter(_.getAs[Boolean]("keep"))
      assert(keepers.length === 1, s"cluster $c has ${keepers.length} keepers")
      val kept = keepers.head
      // every member redirects to the one survivor, and counts agree
      members.foreach { m =>
        assert(m.getAs[Long]("kept_doc") === kept.getAs[Long]("doc_id"))
        assert(m.getAs[Long]("n_members") === members.length.toLong)
      }
      // the survivor's quality dominates (nulls lose; ties → min id)
      def q(r: org.apache.spark.sql.Row): Double =
        if (r.isNullAt(r.fieldIndex("quality_score"))) Double.NegativeInfinity
        else r.getAs[Double]("quality_score")
      members.foreach { m =>
        assert(q(kept) >= q(m), s"cluster $c kept a lower-quality doc")
        if (q(kept) == q(m))
          assert(kept.getAs[Long]("doc_id") <= m.getAs[Long]("doc_id"))
      }
    }
    // docs outside the pair graph are singleton clusters that keep
    rows.filterNot(r => clustered.contains(r.getAs[Long]("doc_id"))).foreach { r =>
      assert(r.getAs[Boolean]("keep") && r.getAs[Long]("n_members") === 1L
        && r.getAs[Long]("cluster") === r.getAs[Long]("doc_id"))
    }
    // and the near-dup clusters actually shrink the corpus
    assert(rows.count(!_.getAs[Boolean]("keep")) > 0,
      "fixture has near-dup clusters; some docs must be dropped")
  }

  test("label propagation: O(log n) rounds on an adversarial 64-doc chain") {
    // a planted path graph 0-1-2-…-63 is the worst case for plain
    // min-label propagation (diameter rounds: label 0 travels one hop
    // per round, 63 rounds); the pointer-doubling shortcut must close
    // it logarithmically. 10 = ceil(log2 64) + slack for the
    // final no-change round.
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val n = 64L
    val fwd = (0L until n - 1).map(i => (i, i + 1)).toDF("src", "dst")
    val edges = fwd.unionAll(fwd.select(col("dst").as("src"), col("src").as("dst")))
    val (labels, rounds) = DedupOps.propagateLabels(edges)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    DedupOps.releaseTransients(spark)
    assert(got.size === n && got.values.forall(_ == 0L),
      s"chain must collapse to one cluster labeled 0, got $got")
    assert(rounds <= 10,
      s"expected O(log n) convergence on the chain, took $rounds rounds")
  }

  test("WITH RECURSIVE reachability (Spark 4 SQL) agrees with pointer-doubling labels") {
    // the dedup_clusters ORACLE uses recursive-CTE reachability in
    // DuckDB; Spark 4 now parses WITH RECURSIVE too (UNION ALL body
    // only), so an equivalent formulation can run IN-ENGINE and
    // cross-validate the scalable pointer-doubling implementation.
    // The fixture's edges are id-ascending (a DAG with finitely many
    // paths — what UNION ALL recursion needs to terminate); on it,
    // min-over-ancestors IS the component min-label. General graphs
    // stay pointer-doubling's job: its O(log n) rounds don't care
    // about edge direction or cycles.
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val fwd = ((0L until 7L).map(i => (i, i + 1)) ++ Seq((10L, 11L)))
      .toDF("src", "dst")
    val bidir = fwd.unionAll(fwd.select(col("dst").as("src"), col("src").as("dst")))
    val (labels, _) = DedupOps.propagateLabels(bidir)
    val want = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    DedupOps.releaseTransients(spark)
    fwd.createOrReplaceTempView("rcte_edges")
    bidir.select(col("src").as("id")).distinct().createOrReplaceTempView("rcte_nodes")
    val got = spark.sql(
      """WITH RECURSIVE reach(id, lbl) AS (
           SELECT id, id AS lbl FROM rcte_nodes
           UNION ALL
           SELECT e.dst AS id, r.lbl FROM rcte_edges e JOIN reach r ON e.src = r.id
         )
         SELECT id, MIN(lbl) AS lbl FROM reach GROUP BY id""")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === want, s"recursive CTE $got != pointer-doubling $want")
  }

  test("minhash-LSH: all emitted pairs verified >= 0.5, planted dups found") {
    val lsh = DedupOps.dedupMinhashLsh(spark, sf).collect()
    assert(lsh.forall(_.getDouble(2) >= 0.5), "unverified candidate leaked")
    val lshPairs = lsh.map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = exactPairsAbove(0.9)
    assert(planted.subsetOf(lshPairs),
      s"LSH missed near-certain collisions: ${planted -- lshPairs}")
  }

  test("simhash: emitted pairs within hamming bound, planted dups found") {
    val sim = DedupOps.dedupSimhashPairs(spark, sf).collect()
    assert(sim.forall(_.getLong(2) <= 12), "hamming bound violated")
    val simPairs = sim.map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = exactPairsAbove(0.9)
    assert(planted.subsetOf(simPairs),
      s"simhash missed planted near-dups: ${planted -- simPairs}")
  }

  test("brute-force ANN: 5 neighbors per query, self excluded") {
    val rows = EmbeddingOps.annBruteTopK(spark, sf).collect()
    val byQuery = rows.groupBy(_.getLong(0))
    assert(byQuery.size === EmbeddingOps.QueryCount)
    assert(byQuery.values.forall(_.length == EmbeddingOps.TopK))
    assert(rows.forall(r => r.getLong(0) != r.getLong(2)), "self in neighbors")
  }

  test("LSH-bucketed ANN: neighbors share the query's bucket; in-bucket true top-k is found") {
    import org.apache.spark.sql.functions._
    val bucketOf = graft.sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"),
        EmbeddingOps.signBucket(transform(col("embedding"), x => x.cast("double"))).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lsh = EmbeddingOps.annLshBucket(spark, sf).collect()
    assert(lsh.nonEmpty)
    val lshPairs = lsh.map(r => (r.getLong(0), r.getLong(2))).toSet
    // every returned neighbor really is in the query's bucket
    assert(lshPairs.forall { case (q, n) => bucketOf(n) == bucketOf(q) },
      "LSH returned a neighbor outside the query's bucket")
    // at most TopK per query
    assert(lsh.groupBy(_.getLong(0)).values.forall(_.length <= EmbeddingOps.TopK))
    // recall property: a global top-k neighbor that lives in the
    // query's bucket has in-bucket rank <= its global rank, so the
    // bucketed search MUST return it.
    val brute = EmbeddingOps.annBruteTopK(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val inBucketTrue = brute.filter { case (q, n) => bucketOf(n) == bucketOf(q) }
    assert(inBucketTrue.subsetOf(lshPairs),
      s"LSH missed in-bucket true neighbors: ${inBucketTrue -- lshPairs}")
  }

  test("IVF nprobe=2 dominates nprobe=1 (top-k over a candidate superset)") {
    import org.apache.spark.sql.functions._
    // probe2's candidate set is a superset of probe1's, so its k-th
    // best cosine is >= probe1's k-th best, elementwise — a theorem,
    // not a statistical expectation.
    val vecs = graft.sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    def sortedCos(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Double]] =
      df.collect().map(r => (r.getLong(0), r.getLong(2)))
        .groupBy(_._1).map { case (q, ns) =>
          q -> ns.toSeq.map { case (_, n) => cos(vecs(q), vecs(n)) }.sorted.reverse
        }
    val p1 = sortedCos(EmbeddingOps.annIvf(spark, sf))
    val p2 = sortedCos(EmbeddingOps.annIvfProbe2(spark, sf))
    for ((q, c1) <- p1; c2 = p2(q); (a, b) <- c1.zip(c2))
      assert(b >= a - 1e-12, s"probe2 worse than probe1 for query $q: $c2 vs $c1")
  }

  test("ann_recall: valid ratios, probe2 dominates probe1, brute is the denominator") {
    val rows = EmbeddingOps.annRecall(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(rows.keySet === Set("ivf_p1", "ivf_p2", "lsh_bucket"))
    val expectedDenom = EmbeddingOps.QueryCount.toLong * EmbeddingOps.TopK
    rows.foreach { case (m, (hits, denom, recall)) =>
      assert(denom === expectedDenom, s"$m denominator")
      assert(hits >= 0 && hits <= denom, s"$m hits out of range")
      assert(recall === hits.toDouble / denom, s"$m recall ratio")
    }
    // probe2 searches a candidate superset of probe1 → recall can only improve
    assert(rows("ivf_p2")._3 >= rows("ivf_p1")._3,
      s"probe2 recall below probe1: $rows")
  }

  test("ann_recall_cl: recall is in the discriminating regime, dials move it") {
    // on the planted-cluster corpus a WORKING coarse quantizer must
    // score far above chance (≈1/ClusterPlantedK): the whole point of
    // the fixture is that a broken quantizer CAN fail this gate, which
    // uniform-random vectors never let it do.
    val rows = EmbeddingOps.annRecallClustered(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getDouble(3), r.getDouble(4), r.getBoolean(5)))
      .toMap
    assert(rows.keySet === Set("ivf_p1", "ivf_p2", "lsh_bucket"))
    rows.foreach { case (m, (recall, floor, ok)) =>
      assert(ok, s"$m recall $recall below its floor $floor")
      assert(recall >= floor && recall <= 1.0, s"$m recall out of range")
      assert(floor > 1.0 / EmbeddingOps.ClusterPlantedK,
        s"$m floor must sit above chance or the gate discriminates nothing")
    }
    assert(rows("ivf_p2")._1 >= rows("ivf_p1")._1, "nprobe dial must move recall")
  }

  test("capped collect: bounded aggregate equals sliced sort on a deliberately hot group") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // one hot group (50k members) + one cold group: the MinKStrings
    // result must equal the unbounded slice(sort_array(collect_list))
    // formulation row-for-row — same multiset-min-k, bounded buffers.
    val k = 7
    val df = spark.range(50000)
      .select(lit("hot").as("g"), format_string("v%05d", (col("id") * 37) % 50000).as("s"))
      .unionAll(Seq(("cold", "z2"), ("cold", "z1"), ("cold", "z1")).toDF("g", "s"))
    val got = df.groupBy("g")
      .agg(graft.functions.BoundedAgg.minKStrings(col("s"), k).as("mk"),
        slice(sort_array(collect_list(col("s"))), 1, k).as("ref"))
      .collect().map(r => (r.getString(0), r.getSeq[String](1), r.getSeq[String](2)))
    assert(got.length === 2)
    got.foreach { case (g, mk, ref) =>
      assert(mk === ref, s"group $g: bounded $mk != reference $ref")
    }
    // duplicates preserved: the cold group's min-k carries z1 twice
    assert(got.find(_._1 == "cold").get._2 === Seq("z1", "z1", "z2"))
  }

  test("repetition signals: bigram accounting is consistent with token counts") {
    import org.apache.spark.sql.functions._
    val rep = TextOps.textRepSignals(spark, sf)
    val toks = TextOps.textTokens(spark, sf).select(col("doc_id"), col("n_tokens"))
    val joined = rep.join(toks, Seq("doc_id")).collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val nBig = r.getLong(1); val top = r.getLong(2); val dup = r.getLong(3)
      val nTok = r.getLong(r.fieldIndex("n_tokens"))
      assert(nBig === nTok - 1, s"doc ${r.getLong(0)}: bigram count")
      assert(top >= 1 && top <= nBig)
      assert(dup >= 0 && dup <= nBig)
      // the top bigram's occurrences are part of the duplicated mass
      if (top > 1) assert(dup >= top)
      assert(r.getDouble(4) === top.toDouble / nBig)
      assert(r.getDouble(5) === dup.toDouble / nBig)
    }
  }

  test("IVF centroid count is the fixed K, independent of corpus size") {
    import org.apache.spark.sql.functions._
    // The quantizer must NOT scale centroids with N (a stride does,
    // making the N x C assignment stage quadratic). The test-data
    // embeddings tables are 500 rows at EVERY sf, so comparing two sf
    // dirs never varies N — instead build a synthetic corpus 4x the
    // size (vec_ids remapped to stay unique) and require the same
    // constant K on both.
    val src = graft.sources.Tables.embeddings(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfk").toString
    val rest = src.columns.filter(_ != "vec_id").map(col).toSeq
    (0 until 4).map { i =>
      src.select((col("vec_id") + lit(i * 1000000L)).as("vec_id") +: rest: _*)
    }.reduce(_ union _)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val nSmall = src.count()
    val nLarge = spark.read.parquet(s"$dir/embeddings.parquet").count()
    assert(nLarge === nSmall * 4, "premise: the corpora must differ in size")
    assert(EmbeddingOps.ivfCentroids(spark, sf).count() ===
      EmbeddingOps.IvfCentroidK.toLong)
    assert(EmbeddingOps.ivfCentroids(spark, dir).count() ===
      EmbeddingOps.IvfCentroidK.toLong)
  }

  test("NULL-text documents keep NULL counts (array-form and oracle semantics)") {
    import org.apache.spark.sql.functions._
    // the corpus has no NULL texts, so pin the semantics on a synthetic
    // dir: NULL text -> NULL counts / 'und'; empty text -> 0 counts
    val dir = java.nio.file.Files.createTempDirectory("graft_nulltext").toString
    val src = graft.sources.Tables.documents(spark, sf)
    val rest = src.columns.filter(c => c != "doc_id" && c != "text").map(col).toSeq
    src.limit(1).select(
        (lit(900001L).as("doc_id") +: lit(null).cast("string").as("text") +: rest): _*)
      .union(src.limit(1).select(
        (lit(900002L).as("doc_id") +: lit("").as("text") +: rest): _*))
      .select(src.columns.map(col).toSeq: _*)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val q = TextOps.textQuality(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(q(900001L).isNullAt(1), "NULL text must keep NULL n_tokens")
    assert(q(900002L).getLong(1) === 0L, "empty text must count 0 tokens")
    val l = TextOps.textLangId(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(l(900001L).isNullAt(1), "NULL text must keep NULL hits")
    assert(l(900001L).getString(l(900001L).length - 1) === "und")
  }

  test("langid prediction is deterministic and in-lexicon") {
    val langs = TextOps.textLangId(spark, sf)
      .select("lang_pred").distinct().collect().map(_.getString(0)).toSet
    val allowed = TextOps.langLexicon.map(_._1).toSet + "und"
    assert(langs.subsetOf(allowed), s"unexpected langs: ${langs -- allowed}")
  }

  test("sessionize: session bounds are consistent") {
    val s = EventOps.sessionize(spark, sf).collect()
    assert(s.nonEmpty)
    assert(s.forall(r => r.getLong(2) <= r.getLong(3)), "start > end")
    assert(s.forall(r => r.getLong(4) >= 1), "empty session")
  }

  test("chunks: geometry invariants — coverage, count, and width") {
    import org.apache.spark.sql.functions._
    val ch = TextOps.docChunks(spark, sf).collect()
    val nTok = TextOps.textTokens(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byDoc = ch.groupBy(_.getLong(0))
    byDoc.foreach { case (doc, rows) =>
      val t = nTok(doc)
      // chunk ids are exactly 0..(T−1) div Stride — every token
      // position k·Stride < T starts a chunk, nothing past the end
      val ids = rows.map(_.getLong(1)).sorted
      assert(ids === (0L to (t - 1) / TextOps.ChunkStride).toArray.map(_.toLong),
        s"doc $doc: chunk ids $ids for $t tokens")
      // each chunk holds min(Size, T − k·Stride) tokens
      rows.foreach { r =>
        val expect = math.min(TextOps.ChunkSize,
          t - r.getLong(1) * TextOps.ChunkStride)
        assert(r.getLong(2) === expect, s"doc $doc chunk ${r.getLong(1)}")
      }
    }
    // overlap: stride < size ⇒ consecutive full chunks share tokens
    assert(TextOps.ChunkStride < TextOps.ChunkSize)
  }

  test("bm25: top-k is ordered, scored docs contain a query term") {
    import org.apache.spark.sql.functions._
    val top = TextOps.bm25Search(spark, sf).collect()
    assert(top.nonEmpty && top.length <= TextOps.Bm25TopK)
    val scores = top.map(_.getLong(1))
    assert(scores.sameElements(scores.sortBy(-_)), "scores not descending")
    assert(top.forall(_.getLong(2) <= TextOps.Bm25Terms.length), "n_terms bound")
    val hits = graft.sources.Tables.documents(spark, sf)
      .filter(arrays_overlap(TextOps.tokens(col("text")),
        array(TextOps.Bm25Terms.map(lit(_)): _*)))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(top.forall(r => hits(r.getLong(0))), "scored doc without any term")
  }

  test("bm25_ln: both rankings full, overlap within bounds, gate consistent") {
    val r = TextOps.bm25LnGate(spark, sf).collect()
    assert(r.length === 1)
    val (nRatio, nLn, nOv, gate) =
      (r(0).getLong(0), r(0).getLong(1), r(0).getLong(2), r(0).getBoolean(3))
    assert(nOv <= math.min(nRatio, nLn), "overlap exceeds a ranking size")
    assert(nRatio <= TextOps.Bm25TopK && nLn <= TextOps.Bm25TopK)
    assert(gate === (nOv * 4 >= nRatio * 3), "gate inconsistent with counts")
  }

  test("sk_merge: union-of-halves sketch equals from-scratch and is 5pct-accurate") {
    val r = StatOps.sketchMergeGate(spark, sf).collect()
    assert(r.length === 1)
    assert(r(0).getBoolean(1), "merged sketch != from-scratch sketch")
    assert(r(0).getBoolean(2), "merged estimate drifted past 5% of exact")
    assert(r(0).getLong(0) > 0, "exact distinct count missing")
  }

  test("skew_join: fold preserves every event and the hot key dominates") {
    import org.apache.spark.sql.functions._
    val out = StatOps.skewJoin(spark, sf).collect()
    assert(out.nonEmpty)
    // the inner join loses nothing: every user_id is a valid custkey
    val total = out.map(_.getLong(1)).sum
    val nEvents = graft.sources.Tables.events(spark, sf).count()
    assert(total === nEvents, s"join dropped events: $total != $nEvents")
    // the fold is real skew: customer 0's segment absorbs >= 50% of rows
    val hotSeg = graft.sources.Tables.customer(spark, sf)
      .filter(col("c_custkey") === 0).select("c_mktsegment")
      .head().getString(0)
    val hotN = out.find(_.getString(0) == hotSeg).map(_.getLong(1)).getOrElse(0L)
    assert(hotN * 2 >= nEvents, s"hot segment only $hotN of $nEvents")
  }

  test("theta sketch: KMV bound, dedup, determinism, estimator regime") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // the bounded aggregate itself: k smallest DISTINCT longs,
    // ascending, ≡ the unbounded built-in composition, stable under
    // repartitioning (sets of minima are merge-order-independent)
    val vals = (1L to 500L).flatMap(v => Seq(v, v, v)) // heavy duplicates
    val df = spark.createDataset(vals).toDF("v").repartition(7)
    val got = df.agg(graft.functions.BoundedAgg
        .minKDistinctLongs(col("v"), 32).as("mk"))
      .head().getSeq[Long](0)
    assert(got === (1L to 32L), s"min-k-distinct diverged: $got")
    val got2 = df.repartition(3).agg(graft.functions.BoundedAgg
        .minKDistinctLongs(col("v"), 32).as("mk"))
      .head().getSeq[Long](0)
    assert(got2 === got, "retained set not deterministic under partitioning")
    // estimator-regime accuracy, independent of SF: at k=256 the
    // per-flag sketches saturate even on sf0.001 (1000+ distinct
    // orderkeys per flag), so the KMV estimate (k−1)/θ — not the
    // exact-mode passthrough — is what's checked here. (The oracle
    // gate at sf0.01 saturates the production k=4096 the same way.)
    val k = 256
    val li = graft.sources.Tables.lineitem(spark, sf)
      .select(col("l_returnflag").as("flag"), col("l_orderkey"))
    val hashed = li.select(col("flag"), xxhash64(col("l_orderkey")).as("h"))
    val sketches = hashed.groupBy("flag")
      .agg(graft.functions.BoundedAgg.minKDistinctLongs(col("h"), k).as("hs"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    val exacts = li.distinct().groupBy("flag").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def theta(hs: Seq[Long]): Double = hs(k - 1).toDouble / 1.8446744073709552e19 + 0.5
    sketches.foreach { case (flag, hs) =>
      assert(hs.length === k, s"$flag sketch not saturated: ${hs.length}")
      val est = (k - 1).toDouble / theta(hs)
      val exact = exacts(flag).toDouble
      assert(math.abs(est - exact) <= 0.15 * exact, // k=256 RSE ≈ 6.3%
        s"$flag KMV estimate off: est=$est exact=$exact")
    }
    // intersection estimate in the sampled regime, vs the exact one
    val Seq(fa, fb) = sketches.keys.toSeq.sorted.take(2)
    val th = math.min(theta(sketches(fa)), theta(sketches(fb)))
    def under(hs: Seq[Long]) =
      hs.filter(h => h.toDouble / 1.8446744073709552e19 + 0.5 < th).toSet
    val estInter = under(sketches(fa)).intersect(under(sketches(fb))).size / th
    val exactInter = li.distinct().as("a").join(li.distinct().as("b"),
        Seq("l_orderkey"))
      .filter(col("a.flag") === fa && col("b.flag") === fb).count().toDouble
    assert(math.abs(estInter - exactInter) <= 0.25 * exactInter,
      s"KMV intersection estimate off: est=$estInter exact=$exactInter")
    // degenerate-hash guard: a retained hash of exactly Long.MinValue
    // maps to kmvNorm = 0.0; kmvTheta must clamp it to a positive
    // floor so (k−1)/θ stays finite (unclamped, k=1 yields 0/0 = NaN)
    val degen = spark.range(1)
      .select(typedLit(Array(Long.MinValue)).as("hs"))
      .select(graft.functions.BoundedAgg.kmvTheta(col("hs"), 1).as("th"),
        graft.functions.BoundedAgg.kmvEstimate(col("hs"), 1).as("est"))
      .head()
    assert(degen.getDouble(0) > 0.0, "theta not clamped above zero")
    assert(!degen.getDouble(1).isNaN && !degen.getDouble(1).isInfinite,
      s"estimate not finite under degenerate theta: ${degen.getDouble(1)}")
    // and the shipped gate rows are all-TRUE with nontrivial exacts
    val rows = StatOps.thetaSetOps(spark, sf).collect()
    assert(rows.length === 3)
    rows.foreach { r =>
      assert(r.getLong(4) > 0 && r.getLong(4) < r.getLong(5),
        s"degenerate intersection fixture: $r")
      (7 to 12).foreach(i => assert(r.getBoolean(i), s"gate $i false: $r"))
    }
  }

  test("sdd: SemDeDup blocking cuts pair work ≥3× and elects one keep per cluster") {
    val memb = EmbeddingOps.semanticMembers(spark, sf)
      .select("vec_id", "cell").collect()
    val n = memb.length.toLong
    // the scale claim, machine-checked: pair work is Σ n_cell², never
    // N²/2 — even on this adversarial fixture (8 giant near-dup
    // classes) the cell blocking must cut verified-pair work ≥3×
    val checked = memb.groupBy(_.getLong(1)).values
      .map(c => c.length.toLong * (c.length - 1) / 2).sum
    assert(checked * 3 <= n * (n - 1) / 2,
      s"cell blocking did not cut pair work: $checked of ${n * (n - 1) / 2}")
    val ver = EmbeddingOps.semanticDedup(spark, sf).collect()
    assert(ver.length.toLong === n)
    ver.groupBy(_.getAs[Long]("cluster")).foreach { case (cl, rows) =>
      assert(rows.count(_.getAs[Boolean]("keep")) === 1,
        s"cluster $cl kept ${rows.count(_.getAs[Boolean]("keep"))} members")
      // the SemDeDup election: keep the member FARTHEST from its cell
      // centroid (lowest ccos), ties to the lowest vec_id
      val elected = rows.minBy(r => (r.getAs[Double]("ccos"), r.getAs[Long]("vec_id")))
      assert(rows.forall(_.getAs[Long]("kept_vec") === elected.getAs[Long]("vec_id")))
      assert(elected.getAs[Boolean]("keep"))
      assert(rows.forall(_.getAs[Long]("n_members") === rows.length.toLong))
    }
    // dedup actually bites: the planted corpus is 8 big semantic
    // classes, so the kept set must be a small fraction of the corpus
    assert(ver.count(_.getAs[Boolean]("keep")) * 4 < ver.length,
      s"kept ${ver.count(_.getAs[Boolean]("keep"))} of ${ver.length} — dedup toothless")
    DedupOps.releaseTransients(spark)
  }

  test("sinc: delta probe ≡ driver-side recomputation of delta-touching pairs") {
    val memb = EmbeddingOps.semanticMembers(spark, sf)
      .select("vec_id", "cell", "v", "nrm").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Double](2).toArray, r.getDouble(3)))
    // index-order dot — the same accumulation sequence the engine's
    // fold runs, so the threshold comparison is on identical doubles
    def cos(a: Array[Double], na: Double, b: Array[Double], nb: Double): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s / (na * nb)
    }
    val expect = (for {
      x <- memb; y <- memb
      if x._1 < y._1 && x._2 == y._2 && (x._1 % 5 == 0 || y._1 % 5 == 0)
      if cos(x._3, x._4, y._3, y._4) >= EmbeddingOps.SemDedupTau
    } yield (x._1, y._1)).toSet
    val got = EmbeddingOps.semanticDedupDelta(spark, sf)
      .select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    DedupOps.releaseTransients(spark)
    assert(expect.nonEmpty, "fixture produced no delta-touching pairs")
    assert(got === expect,
      s"probe diverged: ${got.size} pairs vs recomputed ${expect.size} " +
        s"(missing ${(expect -- got).take(3)}, extra ${(got -- expect).take(3)})")
  }

  test("sref: incremental merge ≡ from-scratch sdd, touched clusters exactly re-elected") {
    def keyed(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
      r.getAs[Long]("vec_id") -> ((r.getAs[Long]("cell"), r.getAs[Double]("ccos"),
        r.getAs[Long]("cluster"), r.getAs[Boolean]("keep"),
        r.getAs[Long]("kept_vec"), r.getAs[Long]("n_members")))).toMap
    val full = keyed(EmbeddingOps.semanticDedup(spark, sf).collect())
    val incRows = EmbeddingOps.semanticRefresh(spark, sf).collect()
    val inc = keyed(incRows)
    assert(inc === full,
      s"incremental refresh diverged from from-scratch on ${
        (inc.keySet ++ full.keySet).count(k => inc.get(k) != full.get(k))} vec_ids")
    // reelected: uniform per cluster, true iff the cluster contains a
    // delta-pair endpoint — recomputed here from the probe's own output
    val deltaNodes = EmbeddingOps.semanticDedupDelta(spark, sf).collect()
      .flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    incRows.groupBy(_.getAs[Long]("cluster")).foreach { case (cl, rs) =>
      val flags = rs.map(_.getAs[Boolean]("reelected")).toSet
      assert(flags.size === 1, s"cluster $cl mixed reelected flags")
      val expect = rs.exists(r => deltaNodes(r.getAs[Long]("vec_id")))
      assert(flags.head === expect, s"cluster $cl reelected=${flags.head}, want $expect")
    }
    DedupOps.releaseTransients(spark)
  }

  test("tdata: the semantic stage drops exactly the embedding-duplicate survivors") {
    val pre = PipelineOps.corpusSurvivorsFrom(
      graft.sources.Tables.documents(spark, sf))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val drop = EmbeddingOps.semanticDropIds(spark, sf)
      .collect().map(_.getLong(0)).toSet
    val post = PipelineOps.trainingData(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    DedupOps.releaseTransients(spark)
    assert((pre -- drop).nonEmpty, "semantic stage dropped every survivor")
    assert(pre.intersect(drop).nonEmpty, "fixture exercises no semantic drop")
    assert(post === pre -- drop,
      s"composite survivors diverged: ${(post -- (pre -- drop)).take(3)} extra, " +
        s"${((pre -- drop) -- post).take(3)} missing")
  }

  test("wct: span removal conserves tokens and cuts exactly the covered positions") {
    // recompute the expected per-doc cut set from the extent report's
    // own output: union of [b_start, b_end] over extents where the doc
    // is the pair's higher id
    val cover = TextOps.winnowExtents(spark, sf).collect()
      .groupBy(_.getAs[Long]("doc_b"))
      .map { case (d, rs) => d -> rs.flatMap(r =>
        r.getAs[Long]("b_start") to r.getAs[Long]("b_end")).toSet }
    val rows = TextOps.winnowCut(spark, sf).collect()
    DedupOps.releaseTransients(spark)
    assert(rows.exists(_.getAs[Long]("n_cut") > 0), "fixture produced no cuts")
    rows.filter(!_.isNullAt(1)).foreach { r =>
      val d = r.getAs[Long]("doc_id")
      val expect = cover.getOrElse(d, Set.empty[Long]).size.toLong
      assert(r.getAs[Long]("n_cut") === expect,
        s"doc $d cut ${r.getAs[Long]("n_cut")} tokens, extents cover $expect")
      // the cleaned text's token count is exactly what survived
      val kept = r.getAs[String]("cleaned_text")
      val nKept = if (kept.isEmpty) 0L else kept.split(" ").length.toLong
      assert(nKept === r.getAs[Long]("n_tokens") - r.getAs[Long]("n_cut"),
        s"doc $d cleaned text carries $nKept tokens")
    }
  }

  test("wci: delta cut equals the full cut restricted to touched docs") {
    // touched = endpoints of delta-touching flagged pairs + arrivals,
    // recomputed independently from the attribution report
    val pairs = TextOps.winnowOverlapPairs(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    val touching = pairs.filter(p => p._1 % 5 == 0 || p._2 % 5 == 0)
    val arrivals = graft.sources.Tables.documents(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).filter(_ % 5 == 0)
    val touched = (touching.flatMap(p => Seq(p._1, p._2)) ++ arrivals).toSet
    val full = TextOps.winnowCut(spark, sf).collect()
      .map(r => (r.getLong(0), r.get(1), r.get(2), r.getString(3))).toSeq
    val delta = TextOps.winnowCutDelta(spark, sf).collect()
      .map(r => (r.getLong(0), r.get(1), r.get(2), r.getString(3))).toSeq
    DedupOps.releaseTransients(spark)
    // the fixture must exercise a real incremental cut: some touched
    // doc loses tokens, and some base pair stays out of the delta set
    assert(delta.exists(_._3.asInstanceOf[Long] > 0L),
      "no delta-touched doc was cut")
    assert(pairs.length > touching.length,
      "every flagged pair touches the delta — base restriction untested")
    assert(delta === full.filter(t => touched.contains(t._1)),
      "delta cut diverges from the full cut restricted to touched docs")
    // and nothing outside the touched set leaks into the delta frame
    delta.foreach(t => assert(touched.contains(t._1)))
  }

  test("ccn: terciles are balanced per language, ordered by score, keep = head+middle") {
    val rows = TextOps.pplBuckets(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getString(1)).foreach { case (lang, rs) =>
      val byBucket = rs.groupBy(_.getString(3))
      val sizes = byBucket.view.mapValues(_.length).toMap
      // the SQL-standard ntile law: bucket sizes differ by ≤1
      if (rs.length >= 3)
        assert(sizes.values.max - sizes.values.min <= 1, s"$lang skewed: $sizes")
      // score ordering: head dominates middle dominates tail (ties may
      // straddle, so the law is ≥ on the boundary)
      def scores(b: String) = byBucket.getOrElse(b, Array.empty).map(_.getLong(2))
      for ((hi, lo) <- Seq(("head", "middle"), ("middle", "tail"))
           if scores(hi).nonEmpty && scores(lo).nonEmpty)
        assert(scores(hi).min >= scores(lo).max,
          s"$lang bucket $hi not dominating $lo")
      rs.foreach(r => assert(r.getBoolean(4) === (r.getString(3) != "tail")))
    }
    // the fixture exercises more than one language partition
    assert(rows.map(_.getString(1)).distinct.length >= 2)
  }

  test("tdc: decode inverts encode on every document, and the check is not vacuous") {
    val rows = TextOps.bpeDecode(spark, sf).collect()
    DedupOps.releaseTransients(spark)
    assert(rows.nonEmpty)
    rows.filter(!_.isNullAt(1)).foreach { r =>
      assert(r.getBoolean(2), s"doc ${r.getLong(0)} failed the round trip")
      assert(r.getString(1).nonEmpty)
    }
    // decode is only well-defined if the id law is injective — two
    // symbols sharing an id would make the round trip ambiguous
    val idMap = TextOps.bpeIdMapFrame(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(idMap.nonEmpty && idMap.values.toSet.size === idMap.size,
      "id map is not injective — decode would be ambiguous")
  }

  test("ftq: held-out gates hold at this sf too, and training buys accuracy") {
    // the oracle hash-pins the rows at sf0.01; this pins the
    // DISCRIMINATING claims at a second sf so the floors aren't
    // tuned to one corpus size
    val rows = QualityOps.ftqClassifier(spark, sf).collect()
    DedupOps.releaseTransients(spark)
    val bySplit = rows.map(r => r.getString(0) -> r).toMap
    assert(bySplit.keySet === Set("train", "test"))
    for ((split, r) <- bySplit) {
      assert(r.getBoolean(7), s"$split: accuracy floor missed")
      assert(r.getBoolean(8), s"$split: does not beat the majority class")
      assert(r.getBoolean(9), s"$split: training lost accuracy vs the init")
      assert(r.getDouble(3) > r.getDouble(5),
        s"$split: acc ${r.getDouble(3)} not above base ${r.getDouble(5)}")
    }
    // the booleans must be derived, not constants: recompute from counts
    val t = bySplit("test")
    assert(t.getDouble(3) === t.getLong(2).toDouble / t.getLong(1))
  }

  test("dsir: selection law exact, ranks a permutation, target slice enriched") {
    // the oracle hash-pins the rows at sf0.01; this pins the
    // operator's PURPOSE — importance selection must over-represent
    // the target (en) slice — at a second sf, plus the integer
    // selection law the composite consumers rely on
    val rows = QualityOps.dsirSelect(spark, sf).collect()
    DedupOps.releaseTransients(spark)
    val n = rows.length.toLong
    assert(n > 0)
    assert(rows.map(_.getLong(4)).sorted.toSeq === (1L to n),
      "ranks are not a permutation of 1..n")
    val nSel = rows.count(_.getBoolean(5)).toLong
    assert(nSel === (n + 3) / 4, s"selected $nSel of $n != ceil(n/4)")
    rows.foreach { r =>
      assert(r.getBoolean(5) === (r.getLong(4) <= (n + 3) / 4),
        s"doc ${r.getLong(0)}: selected flag inconsistent with rank")
    }
    val enAll = rows.count(_.getString(1) == "en").toDouble / n
    val sel = rows.filter(_.getBoolean(5))
    val enSel = sel.count(_.getString(1) == "en").toDouble / sel.length
    assert(enSel > enAll,
      s"selection not target-enriched: en $enSel among selected vs $enAll overall")
  }

  test("pinned-stage consumer declarations stay in sync with the registry") {
    // the warm-up attribution logic (TimeQuery, Bench _substrate)
    // derives from the DedupOps.PinnedStages consumer sets; a
    // registry-key rename that forgets a row would silently
    // mis-attribute the stage build cost to the renamed query's
    // timing — fail the build instead
    val unknown = graft.operators.DedupOps.PinnedStageConsumers
      .diff(graft.SparkEntry.queries.keySet)
    assert(unknown.isEmpty,
      s"PinnedStages consumer names not in SparkEntry.queries (stale rename?): $unknown")
  }

  test("materializePinnedStages builds every PinnedStages row once, in table order") {
    // returning at all means each row's require held: after its build,
    // the stage memo holds the row's own name, so no builder memoizes
    // under a tag its row does not declare
    val timed = DedupOps.materializePinnedStages(spark, sf)
    val names = timed.map(_._1)
    assert(names === DedupOps.PinnedStages.map(_.name))
    assert(names.distinct === names, s"duplicate stage names: ${names.diff(names.distinct)}")
    timed.foreach { case (n, sec) =>
      assert(!sec.isNaN && !sec.isInfinite && sec >= 0, s"$n timed at $sec s")
    }
  }
}
