package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants for the ingest-side pipeline operators (their
  * value-level correctness is oracle-gated via SparkEntry; these pin
  * the properties the oracle can't express).
  */
class PipelineOpsSpec extends AnyFunSuite {

  lazy val spark = graft.GraftSession.build("pipeline-ops-spec", "4")
  val sf = "/root/testdata/sf0.001"

  test("epochShuffle: layout-independent permutation, re-dealt only by epoch/seed") {
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"))
    def posMap(df: org.apache.spark.sql.DataFrame, epoch: Int) =
      PipelineOps.epochShuffleOf(df, epoch, "graft:v1")
        .select("doc_id", "pos").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val n = docs.count()
    val base = posMap(docs, 0)
    // a permutation of 1..N
    assert(base.size.toLong === n)
    assert(base.values.toSeq.sorted === (1L to n).toSeq,
      "positions are not a permutation of 1..N")
    // SHARD-STABLE: radically different input layouts, same positions —
    // the property orderBy(rand(seed)) does NOT have
    assert(posMap(docs.repartition(7), 0) === base, "7-partition layout drifted")
    assert(posMap(docs.repartition(1), 0) === base, "1-partition layout drifted")
    // an epoch change re-deals into a DIFFERENT permutation
    val e1 = posMap(docs, 1)
    assert(e1.values.toSeq.sorted === (1L to n).toSeq)
    assert(e1 !== base, "epoch 1 must re-deal the order")
    // and replaying the same epoch replays the same order
    assert(posMap(docs, 1) === e1, "same epoch+seed must be deterministic")
  }

  test("piiRedact: redacted text carries no residual PII matches") {
    val rows = PipelineOps.piiRedact(spark, sf).collect()
    assert(rows.nonEmpty)
    val email = PipelineOps.EmailRe.r
    val ip = PipelineOps.Ipv4Re.r
    val phone = PipelineOps.PhoneRe.r
    rows.foreach { r =>
      val red = r.getAs[String]("redacted")
      assert(r.getAs[Long]("n_emails") >= 1, "injected email must be counted")
      assert(r.getAs[Long]("n_ips") >= 1, "injected IP must be counted")
      assert(red.contains("<EMAIL>") && red.contains("<IP>") && red.contains("<PHONE>"))
      assert(email.findFirstIn(red).isEmpty, s"residual email in: $red")
      assert(ip.findFirstIn(red).isEmpty, s"residual IP in: $red")
      assert(phone.findFirstIn(red).isEmpty, s"residual phone in: $red")
    }
  }

  test("sampleStratified: deterministic, and downsamples the dominant class") {
    val a = PipelineOps.sampleStratified(spark, sf).collect().map(_.toSeq)
    val b = PipelineOps.sampleStratified(spark, sf).collect().map(_.toSeq)
    assert(a.toSeq === b.toSeq, "sampling must be a pure function of the rows")
    val total = graft.sources.Tables.documents(spark, sf)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = a.groupBy(_(1)).map { case (l, rs) => l -> rs.size }
    val enRate = kept.getOrElse("en", 0).toDouble / total("en")
    val otherRate = (kept.collect { case (l, n) if l != "en" => n }.sum).toDouble /
      total.collect { case (l, n) if l != "en" => n }.sum
    // thresholds are 0x1a/0x100 ~ 10% and 0x80/0x100 = 50%
    assert(enRate < 0.25, s"en rate $enRate should be ~0.10")
    assert(otherRate > 0.35 && otherRate < 0.65, s"other rate $otherRate should be ~0.50")
  }

  test("splitCorpus: disjoint+exhaustive, shard-stable, seed re-deals") {
    val dir = "/root/testdata/sf0.01" // 500 docs — fractions are tight
    val docs = graft.sources.Tables.documents(spark, dir)
    val a = PipelineOps.splitCorpus(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    // exhaustive (one verdict per doc) + disjoint (a Map can't double-assign)
    assert(a.size.toLong === docs.count())
    assert(a.values.toSet.subsetOf(Set("train", "val", "test")))
    // ratios near 204/26/26 out of 256 (binomial noise at n=500)
    val frac = a.values.groupBy(identity).view.mapValues(_.size.toDouble / a.size)
    assert(frac("train") > 0.72 && frac("train") < 0.87, s"train=${frac("train")}")
    assert(frac("val") > 0.04 && frac("val") < 0.18, s"val=${frac("val")}")
    assert(frac("test") > 0.04 && frac("test") < 0.18, s"test=${frac("test")}")
    // shard-stability: the assignment is a pure function of doc_id —
    // recomputing over a repartitioned/reordered view changes nothing
    val reshuffled = PipelineOps.splitCorpus(spark, dir)
    val b = reshuffled.repartition(7).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(b === a, "split must not depend on partitioning or row order")
    // a new seed re-deals assignments without touching the ratios
    val c = PipelineOps.splitCorpus(spark, dir, seed = "graft:v2").collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(c.keySet === a.keySet)
    assert(a.count { case (k, v) => c(k) != v } > a.size / 10,
      "a different seed must reassign a substantial share")
  }

  test("sampleTemperature: data-derived softened rates, small sources up-weighted") {
    val dir = "/root/testdata/sf0.01"
    val sizes = graft.sources.Tables.documents(spark, dir)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val rows = PipelineOps.sampleTemperature(spark, dir).collect()
    val again = PipelineOps.sampleTemperature(spark, dir).collect()
    assert(rows.map(_.toSeq).toSeq === again.map(_.toSeq).toSeq,
      "membership must be a pure function of the rows")
    // emitted shares/rates must equal the driver-side reference math:
    // sqrt terms floored onto the 1e-6 grid and summed exactly (the
    // order-independent z the operator defines — see sampleTemperature)
    def sqrt6(n: Long): Double =
      math.floor(math.sqrt(n.toDouble) * 1e6)
    val z = sizes.values.toSeq.map(n => sqrt6(n).toLong).sum.toDouble
    val nTotal = sizes.values.sum.toDouble
    val byLang = rows.groupBy(_.getString(1))
    sizes.foreach { case (l, n) =>
      val share = sqrt6(n) / z
      val rate = math.min(1.0, share * 0.4 * nTotal / n)
      val kept = byLang.getOrElse(l, Array.empty)
      kept.headOption.foreach { r =>
        assert(math.abs(r.getDouble(2) - share) < 1e-12, s"$l share drift")
        assert(math.abs(r.getDouble(3) - rate) < 1e-12, s"$l rate drift")
      }
      // kept fraction tracks the derived rate (16-bit bucket noise)
      assert(math.abs(kept.size.toDouble / n - rate) < 0.15,
        s"$l kept ${kept.size} of $n vs rate $rate")
      // softened share sits between uniform and proportional
      val prop = n.toDouble / nTotal
      val unif = 1.0 / sizes.size
      assert(share >= math.min(prop, unif) - 1e-12 &&
        share <= math.max(prop, unif) + 1e-12,
        s"$l share $share outside [$prop, $unif]")
    }
    // up-weighting: strictly smaller sources never get a smaller rate
    val rate = sizes.map { case (l, n) =>
      val s = sqrt6(n) / z
      l -> math.min(1.0, s * 0.4 * nTotal / n)
    }
    for (a <- sizes.keys; b <- sizes.keys if sizes(a) < sizes(b))
      assert(rate(a) >= rate(b) - 1e-12, s"$a (smaller) rate below $b's")
  }

  test("eventsFunnel: stage populations are monotone non-increasing") {
    val stages = PipelineOps.eventsFunnel(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(stages("1_view") > 0)
    assert(stages("1_view") >= stages("2_click"))
    assert(stages("2_click") >= stages("3_purchase"))
  }

  test("decontaminate: removes the exact-match train doc, keeps the rest") {
    import spark.implicits._
    // synthetic corpus: the sf corpus has no exact train/eval dupes, so
    // build one — doc 50 is eval; doc 51 duplicates its text modulo
    // case/whitespace (the normalization must catch it); doc 52 differs
    val dir = java.nio.file.Files.createTempDirectory("graft_decon").toString
    val src = graft.sources.Tables.documents(spark, sf)
    val rest = src.columns.filter(c => c != "doc_id" && c != "text" && c != "lang")
    Seq((50L, "The quick brown fox", "en"),
        (51L, "  the QUICK brown fox ", "en"),
        (52L, "a different document", "en"))
      .toDF("doc_id", "text", "lang")
      .withColumns(rest.map(c => c -> lit(null).cast(
        src.schema(c).dataType)).toMap)
      .select(src.columns.map(col).toSeq: _*)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val kept = PipelineOps.decontaminate(spark, dir).collect().map(_.getLong(0)).toSet
    assert(kept === Set(52L), s"expected only doc 52 to survive, got $kept")
  }

  test("decontaminateNgram: shared 8-gram drops the train doc, disjoint text survives") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_decon_ng").toString
    val src = graft.sources.Tables.documents(spark, sf)
    val rest = src.columns.filter(c => c != "doc_id" && c != "text" && c != "lang")
    val gram = "alpha beta gamma delta epsilon zeta eta theta" // exactly 8 tokens
    Seq(
      (50L, s"eval doc quoting $gram here", "en"),        // eval split (id % 50 == 0)
      (51L, s"train page that embeds $gram verbatim", "en"), // shares the 8-gram -> drop
      (52L, "completely different words one two three four five six seven", "en"))
      .toDF("doc_id", "text", "lang")
      .withColumns(rest.map(c => c -> lit(null).cast(
        src.schema(c).dataType)).toMap)
      .select(src.columns.map(col).toSeq: _*)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val kept = PipelineOps.decontaminateNgram(spark, dir).collect().map(_.getLong(0)).toSet
    assert(kept === Set(52L), s"expected only doc 52 to survive, got $kept")
  }

  test("sampleSourceQuota: per-source counts capped, selection deterministic") {
    val rows = PipelineOps.sampleSourceQuota(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(rows.nonEmpty)
    val bySource = rows.groupBy(_._2)
    bySource.foreach { case (s, rs) =>
      assert(rs.length <= PipelineOps.SourceQuota, s"source $s over quota")
      assert(rs.map(_._3).toSet === (1L to rs.length).toSet, s"ranks not dense for $s")
    }
    // the quota must actually bind on this corpus (25 docs/source)
    assert(bySource.values.exists(_.length == PipelineOps.SourceQuota))
    assert(rows.toSeq === PipelineOps.sampleSourceQuota(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq)
  }

  test("packSequences: offsets are per-(lang,bucket) prefix sums and bins chunk them") {
    val rows = PipelineOps.packSequences(spark, sf).collect()
      .map(r => ((r.getString(1), r.getString(2)), r.getLong(0), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty)
    // the hash sub-stratification must actually split each language —
    // otherwise the cumsum still funnels through one partition
    assert(rows.map(_._1).distinct.length > rows.map(_._1._1).distinct.length,
      "expected multiple hash buckets per language")
    rows.groupBy(_._1).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_._2)
      var cum = 0L
      sorted.foreach { case (_, _, n, start, bin) =>
        assert(start === cum, "start_off must be the running token sum per sub-stratum")
        assert(bin === start / PipelineOps.PackBudget)
        cum += n
      }
    }
  }

  test("packedSequences: token conservation, budget bound, and tdata bin consistency") {
    // tdata row: doc_id(0) source(1) lang(2) n_tokens(3) token_ids(4)
    // bucket(5) bin(6) split(7) pos(8)
    val docs = PipelineOps.trainingData(spark, sf).collect()
      .map(r => (r.getString(2), r.getString(5), r.getLong(0),
        r.getString(4), r.getLong(3), r.getLong(6)))
    val seqRows = PipelineOps.packedSequences(spark, sf).collect()
    val seqs = seqRows
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5)))
    val eos = TextOps.bpeEosFrame(spark, sf).collect()(0).getLong(0)
    DedupOps.releaseTransients(spark)
    assert(docs.nonEmpty && seqs.nonEmpty)
    // the separator id sits past the vocabulary: no doc may carry it
    docs.foreach(d => assert(!d._4.split(",").contains(eos.toString)))
    // conservation: every survivor token ships exactly once, plus ONE
    // end-of-document separator per survivor
    val docTokens = docs.map(_._5).sum
    val seqTokens = seqs.map(_._5).sum
    assert(seqTokens === docTokens + docs.length,
      s"packed stream carries $seqTokens tokens, expected " +
        s"$docTokens doc tokens + ${docs.length} separators")
    // the ids column is the real payload: its length matches n_tokens
    seqs.foreach { case (_, _, _, _, n, ids) =>
      assert(ids.split(",").length.toLong === n)
    }
    // budget bound + stream equality, checked for BOTH the library
    // budget and a small one that forces the window CUT to fire at
    // this sf (strata here hold < 512 tokens, so without the small
    // budget the cut path would go untested)
    def checkLaw(ss: Array[(String, String, Long, Long, Long, String)],
        budget: Int, mustBind: Boolean): Unit = {
      if (mustBind) assert(ss.exists(_._5 === budget.toLong),
        s"no full window at budget $budget — the cut never fired")
      ss.groupBy(s => (s._1, s._2)).foreach { case (k, ws) =>
        val last = ws.map(_._3).max
        ws.foreach { case (_, _, seqId, _, n, _) =>
          if (seqId == last) assert(n <= budget)
          else assert(n === budget.toLong,
            s"non-tail window $seqId holds $n tokens at budget $budget")
        }
        assert(ws.map(_._3).sorted.toSeq === (0L to last))
        // concatenating the stratum's windows in seq_id order must
        // reproduce the doc_id-ordered EOS-separated document stream
        val ds = docs.filter(d => (d._1, d._2) == k)
        val stream = ds.sortBy(_._3)
          .flatMap(d => d._4.split(",").toSeq :+ eos.toString)
        assert(ws.sortBy(_._3).flatMap(_._6.split(",")).toSeq === stream.toSeq,
          s"stratum $k windows diverge from the document stream")
      }
    }
    checkLaw(seqs, PipelineOps.PackBudget, mustBind = false)
    val small = PipelineOps.packedSequences(spark, sf, 64).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5)))
    DedupOps.releaseTransients(spark)
    checkLaw(small, 64, mustBind = true)
    // ONE packing law between the composite and the artifact: tdata's
    // bin is the window index of the doc's first token in the same
    // EOS-separated stream
    docs.groupBy(d => (d._1, d._2)).foreach { case (_, ds) =>
      var off = 0L
      ds.sortBy(_._3).foreach { d =>
        assert(d._6 === off / PipelineOps.PackBudget,
          s"doc ${d._3} bin ${d._6} != stream window ${off / PipelineOps.PackBudget}")
        off += d._5 + 1
      }
    }
    // doc_starts: the attention-mask reset points — per stratum, the
    // set of (seq_id·budget + window-local start) across windows must
    // be EXACTLY the documents' stream start offsets, and each
    // doc's tdata bin window must list its own start
    val startsBySeq = seqRows.map(r => ((r.getString(0), r.getString(1),
      r.getLong(2)), r.getString(6))).toMap
    docs.groupBy(d => (d._1, d._2)).foreach { case (k, ds) =>
      var off = 0L
      val expected = scala.collection.mutable.Set.empty[Long]
      ds.sortBy(_._3).foreach { d => expected += off; off += d._5 + 1 }
      val got = startsBySeq.collect {
        case ((l, b, seqId), starts) if (l, b) == k && starts.nonEmpty =>
          starts.split(",").map(s =>
            seqId * PipelineOps.PackBudget + s.toLong).toSeq
      }.flatten.toSet
      assert(got === expected.toSet,
        s"stratum $k doc_starts diverge from the document offsets")
    }
    // whenever a stratum actually packs ≥2 documents, a mid-window
    // reset point must surface (at this tiny sf most strata hold one
    // survivor; the sf0.01 oracle gate hash-pins the multi-doc
    // windows' doc_starts values)
    if (docs.groupBy(d => (d._1, d._2)).exists(_._2.length >= 2))
      assert(seqRows.exists(r => r.getString(6).split(",").exists(s =>
        s.nonEmpty && s.toLong > 0)),
        "multi-doc stratum exists but no mid-window boundary surfaced")
  }

  test("packingEfficiency: rollup ≡ the windows it reports on; only last windows partial") {
    val win = PipelineOps.packedSequences(spark, sf).collect()
      .map(r => ((Option(r.getString(0)).orNull, r.getString(1)),
        (r.getLong(2), r.getLong(4))))  // (lang,bucket) -> (seq_id, n_tokens)
    val rep = PipelineOps.packingEfficiency(spark, sf).collect()
    DedupOps.releaseTransients(spark)
    assert(rep.nonEmpty)
    val byStratum = win.groupBy(_._1)
    val budget = PipelineOps.PackBudget.toLong
    rep.foreach { r =>
      val k = (Option(r.getString(0)).orNull, r.getString(1))
      val ws = byStratum(k).map(_._2)
      assert(r.getLong(2) === ws.length.toLong, s"$k: n_windows")
      assert(r.getLong(3) === ws.map(_._2).sum, s"$k: sum_tokens")
      assert(r.getLong(4) === ws.count(_._2 == budget).toLong, s"$k: n_full")
      assert(r.getLong(5) === ws.map(_._2).sum * 10000L / (ws.length * budget),
        s"$k: fill_scaled")
      // the packing law: only a stratum's LAST window may be partial
      val lastSeq = ws.map(_._1).max
      ws.filter(_._1 != lastSeq).foreach { case (sid, n) =>
        assert(n === budget, s"$k: non-last window $sid partial ($n tokens)")
      }
      assert(r.getLong(4) >= r.getLong(2) - 1, s"$k: n_full < n_windows - 1")
    }
    assert(rep.map(r => (Option(r.getString(0)).orNull, r.getString(1))).toSet
      === byStratum.keySet, "report strata != window strata")
  }

  test("tokenizerFertility: rollup ≡ the per-doc encode, per language") {
    val ids = graft.operators.TextOps.bpeTokenIds(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), col("n_chars")).collect()
      .map(r => (r.getLong(0), Option(r.getString(1)).orNull, r.getLong(2)))
    val rep = graft.operators.TextOps.tokenizerFertility(spark, sf).collect()
    DedupOps.releaseTransients(spark)
    assert(rep.nonEmpty)
    val exp = docs.filter(d => ids.getOrElse(d._1, 0L) > 0)
      .groupBy(_._2).map { case (lang, ds) =>
        val sc = ds.map(_._3).sum
        val st = ds.map(d => ids(d._1)).sum
        lang -> (ds.length.toLong, sc, st, sc * 1000 / st,
          st * 1000 / ds.length)
      }
    assert(rep.length === exp.size)
    rep.foreach { r =>
      val (n, sc, st, cpt, tpd) = exp(Option(r.getString(0)).orNull)
      assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5)) === ((n, sc, st, cpt, tpd)),
        s"lang ${r.getString(0)} report row diverged")
    }
  }

  test("packedSequences: doc_ids provenance — conservation against the survivor set") {
    val seqRows = PipelineOps.packedSequences(spark, sf).collect()
    val surv = PipelineOps.trainingData(spark, sf).collect()
      .map(_.getLong(0)).toSet
    DedupOps.releaseTransients(spark)
    assert(seqRows.nonEmpty && surv.nonEmpty)
    // per window: the list is distinct, ascending, and exactly n_docs long
    seqRows.foreach { r =>
      val ids = r.getString(7).split(",").map(_.toLong).toSeq
      assert(ids === ids.distinct.sorted, "window doc_ids not distinct-ascending")
      assert(ids.length.toLong === r.getLong(3),
        s"window n_docs ${r.getLong(3)} != |doc_ids| ${ids.length}")
    }
    // conservation: the union of window doc lists IS the survivor set —
    // every survivor is traceable to ≥1 window, no phantom documents
    assert(seqRows.flatMap(_.getString(7).split(",").map(_.toLong)).toSet === surv,
      "union of window doc lists != composite survivor set")
    // packing order: per stratum, seq_id-ordered doc lists concatenate
    // non-decreasingly (a doc straddling a window boundary repeats
    // adjacently; anything else would break the doc_id-order law)
    seqRows.groupBy(r => (r.getString(0), r.getString(1))).foreach { case (k, ws) =>
      val cat = ws.sortBy(_.getLong(2))
        .flatMap(_.getString(7).split(",").map(_.toLong)).toSeq
      assert(cat === cat.sorted, s"stratum $k windows out of doc_id order")
    }
  }

  test("packedSequencesDelta: exactly the touched strata's tail windows, identical to the full packing") {
    val full = PipelineOps.packedSequences(spark, sf).collect()
    val delta = PipelineOps.packedSequencesDelta(spark, sf).collect()
    val td = PipelineOps.trainingData(spark, sf).collect()
    DedupOps.releaseTransients(spark)
    val cut = graft.sources.Tables.documents(spark, sf)
      .agg(max("doc_id")).head().getLong(0) * 9 / 10
    // per stratum: survivors' (doc_id, EOS-inclusive length)
    val byStratum = td.groupBy(r => (r.getString(2), r.getString(5)))
      .map { case (k, rs) => k -> rs.map(r => (r.getLong(0), r.getLong(3) + 1)) }
    // the decomposition law: full = untouched-prefix ⊎ delta output —
    // delta must be EXACTLY the full packing's windows in strata with
    // an arrival (doc_id > cut) from the standing tail index onward
    val expected = full.filter { r =>
      val ss = byStratum((r.getString(0), r.getString(1)))
      val baselen = ss.filter(_._1 <= cut).map(_._2).sum
      ss.exists(_._1 > cut) &&
        r.getLong(2) >= baselen / PipelineOps.PackBudget
    }
    assert(delta.map(_.toString).sorted.toSeq ===
      expected.map(_.toString).sorted.toSeq,
      "incremental tail re-pack diverged from the full packing's restriction")
    // and the claim BINDS both ways on this corpus: something re-packs,
    // and most of the standing corpus does not
    assert(delta.nonEmpty, "no stratum received an arrival — fixture vacuous")
    assert(delta.length < full.length,
      "every window re-packed — the incremental claim is vacuous")
  }

  test("trainingDataFtq: the trained keep verdict gates the composite, nothing else changes") {
    val (w, theta) = QualityOps.ftqStandingModelCached(spark, sf)
    val keep = QualityOps.ftqBatchScores(spark, sf, w, theta)
      .filter(col("keep")).collect().map(_.getLong(0)).toSet
    def byId(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => r.getLong(0) -> (r.getString(1), r.getString(2),
        r.getLong(3), r.getString(4), r.getString(7))).toMap
    val base = byId(PipelineOps.trainingData(spark, sf).collect())
    val gated = byId(PipelineOps.trainingDataFtq(spark, sf).collect())
    DedupOps.releaseTransients(spark)
    // the gate is EXACTLY a semi-join on the trained keep set
    assert(gated.keySet === base.keySet.intersect(keep),
      "ftd survivor set != tdata survivors ∩ trained keep verdicts")
    // per-doc payload (source, lang, n_tokens, token_ids, split) is
    // untouched — only the survivor set (and hence bin/pos) moves
    gated.foreach { case (id, v) =>
      assert(base(id) === v, s"doc $id payload drifted through the gate")
    }
    // and the trained model actually binds on this corpus (a vacuous
    // gate would pass the two asserts above with keep ⊇ survivors)
    assert(gated.size < base.size,
      "ftq gate did not bind — spec is vacuous at this sf")
  }

  test("winsorizeByGroup: clamps into the band, passes interior values through") {
    val rows = PipelineOps.winsorizeByGroup(spark, sf).collect()
      .map(r => (r.getString(1), r.getDouble(2), r.getDouble(3)))
    val bounds = rows.groupBy(_._1)
    bounds.foreach { case (_, rs) =>
      val ws = rs.map(_._3)
      val lo = ws.min; val hi = ws.max
      rs.foreach { case (_, raw, w) =>
        assert(w >= lo && w <= hi)
        if (raw > lo && raw < hi) assert(w === raw, "interior value must pass through")
      }
    }
    assert(rows.exists { case (_, raw, w) => raw != w }, "some value must clamp")
  }

  test("mergeUpsert: updated-wins, inserts land, untouched rows pass through") {
    val base = graft.sources.Tables.orders(spark, sf)
    val merged = PipelineOps.mergeUpsert(spark, sf)
    val nBase = base.count()
    val nInserts = base.filter(col("o_orderkey") % 10 === 1).count()
    assert(merged.count() === nBase + nInserts)
    // a bumped row: price multiplied exactly once
    val k0 = base.filter(col("o_orderkey") % 10 === 0)
      .select("o_orderkey", "o_totalprice").limit(1).collect()(0)
    val got = merged.filter(col("o_orderkey") === k0.getLong(0))
      .select("o_totalprice").collect()(0).getDouble(0)
    assert(got === k0.getDouble(1) * 1.1)
    // an untouched row: byte-identical pass-through
    val k2 = base.filter(col("o_orderkey") % 10 === 2).limit(1).collect()(0)
    val same = merged.filter(col("o_orderkey") === k2.getLong(0)).collect()(0)
    assert(same.toSeq === k2.toSeq)
  }

  test("dupSpans: duplicated docs share ALL grams, unique docs none; counts bounded") {
    import spark.implicits._
    // identical text ⇒ identical gram sets ⇒ every gram has doc-freq
    // >= 2 ⇒ n_dup == n_grams; a doc sharing no 8-gram scores zero.
    val dir = java.nio.file.Files.createTempDirectory("graft_spans").toString
    val src = graft.sources.Tables.documents(spark, sf)
    val rest = src.columns.filter(c => c != "doc_id" && c != "text" && c != "lang")
    val boiler = "one two three four five six seven eight nine ten"
    Seq((1L, boiler, "en"), (2L, boiler, "en"),
        (3L, "totally different words with no shared span at all here", "en"))
      .toDF("doc_id", "text", "lang")
      .withColumns(rest.map(c => c -> lit(null).cast(
        src.schema(c).dataType)).toMap)
      .select(src.columns.map(col).toSeq: _*)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val spans = PipelineOps.dupSpans(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    // clearCaches (not releaseTransients): the temp-dir gram substrate
    // is PINNED and its memo key is this throwaway path — drop both
    DedupOps.clearCaches(spark)
    spans.values.foreach { case (n, d) =>
      assert(d >= 0 && d <= n, "n_dup must be within [0, n_grams]")
    }
    assert(spans(1L)._1 === 3L, "10 tokens carry 3 complete 8-grams")
    assert(spans(1L) === spans(2L))
    assert(spans(1L)._2 === spans(1L)._1, "exact duplicates share every gram")
    assert(spans(3L)._2 === 0L, "a unique doc shares no span")
    // on the real corpus: bounds only (its duplicates are near, not exact)
    val real = PipelineOps.dupSpans(spark, sf).collect()
    DedupOps.releaseTransients(spark)
    assert(real.forall(r => r.getLong(3) <= r.getLong(2)))
  }

  test("corpusPipeline: every survivor passes every stage's contract") {
    val out = PipelineOps.corpusPipeline(spark, sf).collect()
    DedupOps.releaseTransients(spark)
    assert(out.nonEmpty)
    val ids = out.map(_.getLong(0))
    assert(ids.distinct.length === ids.length, "duplicate doc_ids in output")
    out.foreach { r =>
      assert(r.getLong(0) % 50 != 0L, "an eval-split doc leaked into training")
      assert(r.getLong(3) >= PipelineOps.CorpusMinTokens, "quality gate violated")
    }
    val bySource = out.groupBy(_.getString(1)).view.mapValues(_.length)
    assert(bySource.values.forall(_ <= PipelineOps.SourceQuota),
      "per-source quota exceeded")
  }

  test("observedMetrics: the in-flight side-channel equals a dedicated counting pass") {
    val got = PipelineOps.observedMetrics(spark, sf).head()
    val want = graft.sources.Tables.documents(spark, sf)
      .agg(count(lit(1)).as("n_rows"),
        sum(when(length(trim(col("text"))) === 0, 1L).otherwise(0L))
          .as("n_empty"),
        min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"),
        sum(col("n_chars")).as("total_chars"))
      .head()
    assert((0 until 5).map(got.getLong) === (0 until 5).map(want.getLong),
      s"observed metrics $got diverged from the counting pass $want")
    assert(got.getLong(0) > 0, "vacuous: zero rows observed")
    // a second pass must observe cleanly too (fresh Observation per
    // call — the listener registration is not single-shot per session)
    assert(PipelineOps.observedMetrics(spark, sf).head() === got)
  }
}
