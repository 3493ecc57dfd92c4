package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Multimodal-column plumbing: opaque binary payloads + typed
  * metadata, with decode/feature-extraction as partition-batched
  * typed transforms (SURVEY.md §7.4).
  *
  * The test corpus has no real image/audio bytes, so the text column
  * stands in as the binary payload and the DECODE STEP IS A STUB —
  * a deterministic fake (clearly marked below) standing where a real
  * codec (JPEG decode, audio resample, frame sampling) would run.
  * Everything around the stub — binary schema, batch shape,
  * partition-level processing, metadata projection — is real and
  * oracle-tested where SQL-expressible.
  */
object MultimodalOps {

  /** Typed row for the decode stage. `mean_signal` is the DECODED-
    * domain feature (pixel mean for PNG, |sample| mean for PCM WAV) —
    * present only when a full real decode succeeded; None on the stub
    * path, so downstream can tell real features from placeholders.
    */
  final case class MediaBlob(doc_id: Long, payload: Array[Byte], media_kind: String)
  final case class MediaFeatures(doc_id: Long, media_kind: String,
    n_bytes: Long, width: Int, height: Int, mean_byte: Double,
    mean_signal: Option[Double], thumb_mean: Option[Double],
    frame_ts: Option[String])

  /** Thumbnail edge for the resize stage (images resize to
    * ThumbEdge×ThumbEdge by nearest neighbor; audio downsamples to
    * ThumbEdge² uniform sample points).
    */
  private[operators] val ThumbEdge = 8

  /** Uniform frame-sample count for the video stage. */
  private[operators] val FrameSamples = 4

  /** Binary metadata projection: byte length, content hash, media kind
    * — pure column expressions over the binary payload.
    */
  def mmMeta(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        col("text").cast("binary").as("payload"))
      .select(col("doc_id"),
        octet_length(col("payload")).cast("long").as("n_bytes"),
        md5(col("payload")).as("content_hash"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("media_kind"))
      .orderBy("doc_id")

  /** Partition-batched "decode": the real-world shape is
    * `mapPartitions` over a typed Dataset so a native codec is
    * initialized once per partition (not per row) and rows stream
    * through in batches. ==== STUB ====: the per-blob work below
    * fabricates deterministic pseudo-features from the payload bytes
    * instead of decoding actual media (no codec libs in this
    * environment); swap the body of `decodeOne` for a real decoder.
    */
  def mmDecodeFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val blobs = Tables.documents(spark, dir)
      .select(col("doc_id"),
        col("text").cast("binary").as("payload"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("media_kind"))
      .as[MediaBlob]
    blobs.mapPartitions { it =>
      // per-partition init of a (stub) codec would go here
      it.map(decodeOne)
    }.toDF()
      .select(col("doc_id"), col("media_kind"), col("n_bytes"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        round(col("mean_byte"), 4).as("mean_byte"),
        col("mean_signal"), col("thumb_mean"), col("frame_ts"))
      .orderBy("doc_id")
  }

  private val PngMagic: Array[Byte] =
    Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  /** PNG: signature + well-formed IHDR chunk → big-endian width/height
    * at offsets 16/20.
    */
  private def pngDims(p: Array[Byte]): Option[(Int, Int)] = {
    def beInt(off: Int): Int =
      ((p(off) & 0xff) << 24) | ((p(off + 1) & 0xff) << 16) |
        ((p(off + 2) & 0xff) << 8) | (p(off + 3) & 0xff)
    if (p.length >= 24 && p.startsWith(PngMagic) &&
        new String(p, 12, 4, "US-ASCII") == "IHDR") {
      val (w, h) = (beInt(16), beInt(20))
      if (w > 0 && h > 0) Some((w, h)) else None // reject crafted/overflowed fields
    } else None
  }

  /** JPEG: SOI marker, then walk the marker segments (each FF xx +
    * big-endian length including the length bytes; standalone markers
    * 01/D0–D9 carry no length) until a start-of-frame (SOF0 baseline /
    * SOF1 extended / SOF2 progressive), whose payload is
    * precision(1) + height(2) + width(2). Any structural violation
    * bails to None — malformed bytes must land in the stub, never
    * throw on an executor.
    */
  private def jpegDims(p: Array[Byte]): Option[(Int, Int)] = {
    val n = p.length
    var res: Option[(Int, Int)] = None
    var done = n < 4 || (p(0) & 0xff) != 0xff || (p(1) & 0xff) != 0xd8
    var i = 2
    while (!done && i + 3 < n) {
      if ((p(i) & 0xff) != 0xff) done = true // lost marker sync
      else {
        val marker = p(i + 1) & 0xff
        if (marker == 0xff) i += 1 // fill byte
        else if (marker == 0x01 || (marker >= 0xd0 && marker <= 0xd9)) i += 2
        else {
          val len = ((p(i + 2) & 0xff) << 8) | (p(i + 3) & 0xff)
          if (len < 2 || i + 2 + len > n) done = true
          else if (marker >= 0xc0 && marker <= 0xc2 && len >= 7) {
            val h = ((p(i + 5) & 0xff) << 8) | (p(i + 6) & 0xff)
            val w = ((p(i + 7) & 0xff) << 8) | (p(i + 8) & 0xff)
            if (w > 0 && h > 0) res = Some((w, h))
            done = true
          } else i += 2 + len
        }
      }
    }
    res
  }

  /** WAV: RIFF/WAVE container, chunks walked word-aligned to the
    * `fmt ` chunk → (sample_rate, channels) as the (width, height)
    * stand-ins — the honest audio analog of image dimensions.
    */
  private def wavDims(p: Array[Byte]): Option[(Int, Int)] = {
    def ascii(off: Int) = new String(p, off, 4, "US-ASCII")
    def leShort(off: Int): Int = (p(off) & 0xff) | ((p(off + 1) & 0xff) << 8)
    def leInt(off: Int): Int =
      (p(off) & 0xff) | ((p(off + 1) & 0xff) << 8) |
        ((p(off + 2) & 0xff) << 16) | ((p(off + 3) & 0xff) << 24)
    var res: Option[(Int, Int)] = None
    if (p.length >= 36 && ascii(0) == "RIFF" && ascii(8) == "WAVE") {
      var i = 12
      var done = false
      while (!done && i + 8 <= p.length) {
        val sz = leInt(i + 4)
        if (sz < 0 || i.toLong + 8 + sz > p.length) done = true
        else if (ascii(i) == "fmt " && sz >= 16) {
          val channels = leShort(i + 10)
          val rate = leInt(i + 12)
          if (channels > 0 && rate > 0) res = Some((rate, channels))
          done = true
        } else i += 8 + sz + (sz & 1) // chunks are word-aligned
      }
    }
    res
  }

  /** Uniform frame-sample plan for the video stage: FrameSamples
    * presentation timestamps (movie-timescale units) spaced evenly
    * across the mvhd duration, rendered as a CSV string. The i-th
    * stamp is floor(dur·i / K), computed as
    * (dur/K)·i + ((dur mod K)·i)/K — the same floor without the
    * dur·i overflow on 64-bit durations. This is the deterministic
    * "which frames to decode" plan a real frame extractor executes;
    * actual frame decode needs a codec, which the honest stub
    * boundary excludes.
    */
  private def frameTsOf(dur: Long): String = {
    val k = FrameSamples.toLong
    (0L until k).map(i => (dur / k) * i + (dur % k) * i / k).mkString(",")
  }

  /** MP4/ISO-BMFF: top-level boxes are 32-bit big-endian size + 4CC
    * (size 1 = 64-bit extended size follows the type); the stream
    * must open with `ftyp`. Walk to `moov`, then its children to
    * `mvhd`, and read (timescale, raw duration in timescale units).
    * [[decodeOne]] takes (timescale, whole-second duration) as the
    * (width, height) stand-ins — the honest video analog of WAV's
    * (rate, channels) — and the frame-sample plan from the same box.
    * mvhd version 0 carries 32-bit times, version 1 64-bit. Any
    * structural violation → None, never throws.
    */
  private def mp4Mvhd(p: Array[Byte]): Option[(Long, Long)] = {
    def ascii(off: Int) = new String(p, off, 4, "US-ASCII")
    def beInt(off: Int): Long =
      ((p(off) & 0xffL) << 24) | ((p(off + 1) & 0xffL) << 16) |
        ((p(off + 2) & 0xffL) << 8) | (p(off + 3) & 0xffL)
    def beLong(off: Int): Long = (beInt(off) << 32) | beInt(off + 4)
    if (p.length < 16 || ascii(4) != "ftyp") return None
    var res: Option[(Long, Long)] = None
    var i = 0L
    var done = false
    while (!done && res.isEmpty && i + 8 <= p.length) {
      var sz = beInt(i.toInt)
      var hdr = 8L
      if (sz == 1 && i + 16 <= p.length) { sz = beLong(i.toInt + 8); hdr = 16 }
      // subtraction form: a 64-bit extended size near Long.MaxValue
      // would wrap `i + sz` negative and walk the cursor off the array
      if (sz < hdr || sz > p.length - i) done = true
      else {
        if (ascii(i.toInt + 4) == "moov") {
          var j = i + hdr
          val end = i + sz
          while (res.isEmpty && j + 8 <= end) {
            val csz = beInt(j.toInt)
            if (csz < 8 || j + csz > end) { j = end }
            else {
              if (ascii(j.toInt + 4) == "mvhd" && csz >= 12) {
                val v = p(j.toInt + 8) & 0xff
                // payload after the 8-byte box header: version(1) +
                // flags(3) + ctime + mtime + timescale + duration
                val (tsOff, durOff, dur64) =
                  if (v == 1) (j + 8 + 4 + 16, j + 8 + 4 + 20, true)
                  else (j + 8 + 4 + 8, j + 8 + 4 + 12, false)
                if (durOff + (if (dur64) 8 else 4) <= j + csz) {
                  val ts = beInt(tsOff.toInt)
                  val dur = if (dur64) beLong(durOff.toInt) else beInt(durOff.toInt)
                  // all-ones duration is ISO-14496-12's "unknown"
                  // sentinel (fragmented/live files) — not a value
                  val unknown = if (dur64) dur == -1L else dur == 0xffffffffL
                  if (ts > 0 && ts <= Int.MaxValue && dur >= 0 && !unknown) {
                    val secs = dur / ts
                    if (secs <= Int.MaxValue)
                      res = Some((ts, dur))
                  }
                }
              }
              j += csz
            }
          }
          done = true // one moov per file; nothing else carries mvhd
        }
        i += sz
      }
    }
    res
  }

  /** Real frame-sample plan from the track sample tables — pure box
    * walking, no codec: moov → trak → mdia → {mdhd, minf → stbl},
    * decode `stts` (ISO 14496-12 §8.6.1.2: entry_count ×
    * (sample_count, sample_delta) run-length DTS deltas), cross-check
    * `stsz`'s sample_count when present, and emit the decoding
    * timestamps of FrameSamples evenly-spaced samples (i-th = sample
    * ⌊total·i/K⌋). Stamps are converted from the track's MEDIA
    * timescale (mdhd) to MOVIE-timescale units (⌊dts·movieTs/
    * mediaTs⌋) so the column has ONE unit contract whether this plan
    * or the uniform mvhd fallback produced it — a consumer never has
    * to re-parse the file to know what the numbers mean. The first
    * trak carrying mdhd + valid stts wins. Every arithmetic step is
    * overflow-guarded (32-bit counts × 32-bit deltas, and the
    * timescale conversion product, can exceed Long via crafted
    * tables) and every structural violation — a missing mdhd, an
    * stsz that disagrees with stts — returns None, falling back to
    * the uniform mvhd plan.
    */
  private[operators] def mp4SampleTs(p: Array[Byte], movieTs: Long): Option[String] = {
    def ascii(off: Int) = new String(p, off, 4, "US-ASCII")
    def beInt(off: Int): Long =
      ((p(off) & 0xffL) << 24) | ((p(off + 1) & 0xffL) << 16) |
        ((p(off + 2) & 0xffL) << 8) | (p(off + 3) & 0xffL)
    def beLong(off: Int): Long = (beInt(off) << 32) | beInt(off + 4)
    // iterate the child boxes of [start, end) as (type, payload, end)
    def kids(start: Long, end: Long): Iterator[(String, Long, Long)] =
      new Iterator[(String, Long, Long)] {
        private var j = start
        private var nxt: Option[(String, Long, Long)] = advance()
        private def advance(): Option[(String, Long, Long)] = {
          if (j + 8 > end) return None
          var sz = beInt(j.toInt)
          var hdr = 8L
          if (sz == 1 && j + 16 <= end) { sz = beLong(j.toInt + 8); hdr = 16 }
          // subtraction form — see mp4Mvhd's wrap note
          if (sz < hdr || sz > end - j) return None
          val out = (ascii(j.toInt + 4), j + hdr, j + sz)
          j += sz
          Some(out)
        }
        def hasNext: Boolean = nxt.isDefined
        def next(): (String, Long, Long) = {
          val v = nxt.get; nxt = advance(); v
        }
      }
    def child(start: Long, end: Long, name: String): Option[(Long, Long)] =
      kids(start, end).collectFirst { case (n, s, e) if n == name => (s, e) }
    // mdhd: version(1)+flags(3), then v0 ctime/mtime 4+4 or v1 8+8,
    // then the 32-bit media timescale
    def mdhdTimescale(ds: Long, de: Long): Option[Long] =
      child(ds, de, "mdhd").flatMap { case (hs, he) =>
        if (hs + 4 > he) None
        else {
          val v = p(hs.toInt) & 0xff
          val tsOff = if (v == 1) hs + 4 + 16 else hs + 4 + 8
          if (tsOff + 4 > he) None
          else {
            val t = beInt(tsOff.toInt)
            if (t > 0) Some(t) else None
          }
        }
      }
    def sttsPlan(s: Long, e: Long, mediaTs: Long,
                 stsz: Option[(Long, Long)]): Option[String] = {
      if (s + 8 > e) return None
      val entries = beInt(s.toInt + 4)
      if (entries < 0 || entries > (e - s - 8) / 8) return None
      var total = 0L
      var i = 0L
      while (i < entries) {
        val cnt = beInt((s + 8 + i * 8).toInt)
        if (cnt > Long.MaxValue - total) return None
        total += cnt
        i += 1
      }
      if (total <= 0) return None
      // stsz cross-check: a sample-size table that disagrees with the
      // timing table is a structural violation, not a value
      val stszOk = stsz.forall { case (zs, ze) =>
        zs + 12 <= ze && beInt(zs.toInt + 8) == total
      }
      if (!stszOk) return None
      // The stamp loop propagates failure through an `ok` flag, never
      // a `return` from inside a lambda: one wrapped value must abort
      // the WHOLE plan, and a closure `return` only works by exception
      // unwinding (gone in Scala 3, broken if the sequence ever turns
      // lazy) — the flag keeps the abort explicit and refactor-proof.
      val k = FrameSamples.toLong
      val stamps = new Array[Long](FrameSamples)
      var fi = 0L
      var ok = true
      while (ok && fi < k) {
        val idx = (total / k) * fi + (total % k) * fi / k // ⌊total·fi/k⌋
        var seen = 0L
        var dts = 0L
        var ei = 0L
        var found = false
        var out = 0L
        while (ok && !found && ei < entries) {
          val off = (s + 8 + ei * 8).toInt
          val cnt = beInt(off)
          val delta = beInt(off + 4)
          if (idx < seen + cnt) {
            // matching branch needs its own product guard: (idx−seen)
            // < cnt but both factors are 32-bit, so the product alone
            // can wrap Long — a wrapped value must fall back, never
            // leak as a plausible stamp
            val n = idx - seen
            if (n != 0 && delta != 0 &&
                delta > (Long.MaxValue - dts) / n) ok = false
            else { out = dts + n * delta; found = true }
          } else {
            if (cnt != 0 && delta != 0 &&
                delta > (Long.MaxValue - dts) / cnt) ok = false
            else { dts += cnt * delta; seen += cnt }
          }
          ei += 1
        }
        // media → movie timescale (floor); guard the product
        if (!found || (out != 0 && movieTs > Long.MaxValue / out)) ok = false
        if (ok) { stamps(fi.toInt) = out * movieTs / mediaTs; fi += 1 }
      }
      if (ok) Some(stamps.mkString(",")) else None
    }
    if (p.length < 16 || ascii(4) != "ftyp" || movieTs <= 0) return None
    for {
      (ms, me) <- child(0L, p.length.toLong, "moov")
      plan <- kids(ms, me).collect { case ("trak", ts, te) =>
        for {
          (ds, de) <- child(ts, te, "mdia")
          mts <- mdhdTimescale(ds, de)
          (fs, fe) <- child(ds, de, "minf")
          (bs, be) <- child(fs, fe, "stbl")
          (ss, se) <- child(bs, be, "stts")
          out <- sttsPlan(ss, se, mts, child(bs, be, "stsz"))
        } yield out
      }.collectFirst { case Some(v) => v }
    } yield plan
  }

  /** FULL PNG pixel decode for the common web formats — pure JVM, no
    * codec library: zlib inflate via `java.util.zip.Inflater`, then
    * per-scanline unfiltering (all five PNG filter types incl. the
    * Paeth predictor). Supported: non-interlaced, 8-bit depth, color
    * types 0 (gray) / 2 (RGB) / 4 (gray+alpha) / 6 (RGBA) — palette
    * and 16-bit images fall through to header-only parsing. Returns
    * the mean over ALL decoded channel samples (0–255 domain); any
    * structural violation (truncated IDAT, short inflate, bad filter
    * id) yields None — never throws on an executor.
    */
  /** Decode a PNG to its unfiltered raster: (w, h, channels, recon,
    * stride). Pixel (row r, col x, channel c) lives at
    * recon(r*stride + 1 + x*channels + c) — each row keeps its leading
    * filter-id byte (already applied). Both the mean and the resize
    * stage derive from this single decode.
    */
  private[operators] def pngRaster(p: Array[Byte]): Option[(Int, Int, Int, Array[Byte], Int)] = {
    if (p.length < 45 || !p.startsWith(PngMagic)) return None
    def beInt(off: Int): Int =
      ((p(off) & 0xff) << 24) | ((p(off + 1) & 0xff) << 16) |
        ((p(off + 2) & 0xff) << 8) | (p(off + 3) & 0xff)
    // chunk walk: collect IHDR fields + concatenated IDAT payloads
    var (w, h, depth, color, interlace) = (0, 0, -1, -1, -1)
    val idat = new java.io.ByteArrayOutputStream()
    var i = 8
    var ok = true
    var sawEnd = false
    while (ok && !sawEnd && i + 8 <= p.length) {
      val len = beInt(i)
      val typ = new String(p, i + 4, 4, "US-ASCII")
      if (len < 0 || i.toLong + 12 + len > p.length) ok = false
      else {
        typ match {
          case "IHDR" if len >= 13 =>
            w = beInt(i + 8); h = beInt(i + 12)
            depth = p(i + 16) & 0xff; color = p(i + 17) & 0xff
            interlace = p(i + 20) & 0xff
          case "IDAT" => idat.write(p, i + 8, len)
          case "IEND" => sawEnd = true
          case _ => ()
        }
        i += 12 + len // len + type + data + CRC (CRC not verified: lenient)
      }
    }
    val channels = color match {
      case 0 => 1; case 2 => 3; case 4 => 2; case 6 => 4; case _ => 0
    }
    if (!ok || !sawEnd || depth != 8 || channels == 0 || interlace != 0 ||
        w <= 0 || h <= 0 || w.toLong * h * channels > (64 << 20)) return None
    val rowBytes = w * channels
    val stride = 1 + rowBytes
    val raw = new Array[Byte](stride * h)
    val inf = new java.util.zip.Inflater()
    try {
      inf.setInput(idat.toByteArray)
      var off = 0
      while (off < raw.length && !inf.finished()) {
        val got = inf.inflate(raw, off, raw.length - off)
        // got == 0 without finished() is a structural violation: either a
        // truncated stream (needsInput) or an FDICT preset-dictionary stream
        // (needsDictionary) — both must bail, not spin
        if (got == 0) return None
        off += got
      }
      if (off != raw.length) return None
    } catch { case _: java.util.zip.DataFormatException => return None }
    finally inf.end()
    // unfilter in place (recon bytes replace filtered bytes row by row)
    val bpp = channels
    var r = 0
    while (r < h) {
      val ft = raw(r * stride) & 0xff
      if (ft > 4) return None
      val row = r * stride + 1
      val up = row - stride
      var x = 0
      while (x < rowBytes) {
        val a = if (x >= bpp) raw(row + x - bpp) & 0xff else 0
        val b = if (r > 0) raw(up + x) & 0xff else 0
        val c = if (r > 0 && x >= bpp) raw(up + x - bpp) & 0xff else 0
        val pred = ft match {
          case 0 => 0
          case 1 => a
          case 2 => b
          case 3 => (a + b) / 2
          case 4 => // Paeth
            val pp = a + b - c
            val (pa, pb, pc) = (math.abs(pp - a), math.abs(pp - b), math.abs(pp - c))
            if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
        }
        raw(row + x) = (((raw(row + x) & 0xff) + pred) & 0xff).toByte
        x += 1
      }
      r += 1
    }
    Some((w, h, channels, raw, stride))
  }

  /** (mean over all channel samples, ThumbEdge² nearest-neighbor
    * thumbnail mean) from one PNG decode. Both are integer channel
    * sums with a single final division — exact and order-free.
    */
  private[operators] def pngFeatures(p: Array[Byte]): Option[(Double, Double)] =
    pngRaster(p).map { case (w, h, ch, raw, stride) =>
      val rowBytes = w * ch
      var sum = 0L
      var r = 0
      while (r < h) {
        val row = r * stride + 1
        var x = 0
        while (x < rowBytes) { sum += raw(row + x) & 0xff; x += 1 }
        r += 1
      }
      val chanSum = (sy: Int, sx: Int) => {
        val base = sy * stride + 1 + sx * ch
        var s = 0; var c = 0
        while (c < ch) { s += raw(base + c) & 0xff; c += 1 }
        s
      }
      (sum.toDouble / (rowBytes.toLong * h), thumbMeanNN(w, h, ch, chanSum))
    }

  /** Nearest-neighbor ThumbEdge×ThumbEdge resize, reduced to its mean:
    * thumb pixel (ty, tx) samples source (ty*h div T, tx*w div T) —
    * the standard NN index map — and the 64 sampled pixels' channel
    * sums divide ONCE at the end, so the value is exact.
    */
  private def thumbMeanNN(w: Int, h: Int, channels: Int,
                          chanSum: (Int, Int) => Int): Double = {
    var sum = 0L
    var ty = 0
    while (ty < ThumbEdge) {
      val sy = ty * h / ThumbEdge
      var tx = 0
      while (tx < ThumbEdge) { sum += chanSum(sy, tx * w / ThumbEdge); tx += 1 }
      ty += 1
    }
    sum.toDouble / (ThumbEdge.toLong * ThumbEdge * channels)
  }

  /** FULL PCM WAV sample decode — pure JVM: walks to the `data` chunk
    * and averages |sample| normalized to [0,1] for 16-bit signed LE
    * and 8-bit unsigned PCM (audioFormat 1 only; compressed/float
    * formats fall through). None on any structural violation.
    * Returns (mean |sample|, ThumbEdge²-point uniform downsample mean)
    * from one pass over the PCM data chunk — the audio analog of the
    * image resize stage (nearest-neighbor index map k·ns div T², same
    * as the thumbnail's).
    */
  private[operators] def wavFeatures(p: Array[Byte]): Option[(Double, Double)] = {
    def ascii(off: Int) = new String(p, off, 4, "US-ASCII")
    def leShort(off: Int): Int = (p(off) & 0xff) | ((p(off + 1) & 0xff) << 8)
    def leInt(off: Int): Int =
      (p(off) & 0xff) | ((p(off + 1) & 0xff) << 8) |
        ((p(off + 2) & 0xff) << 16) | ((p(off + 3) & 0xff) << 24)
    if (p.length < 44 || ascii(0) != "RIFF" || ascii(8) != "WAVE") return None
    var (fmt, bits) = (-1, -1)
    var res: Option[(Double, Double)] = None
    var i = 12
    var done = false
    while (!done && i + 8 <= p.length) {
      val sz = leInt(i + 4)
      if (sz < 0 || i.toLong + 8 + sz > p.length) done = true
      else {
        ascii(i) match {
          case "fmt " if sz >= 16 =>
            fmt = leShort(i + 8); bits = leShort(i + 22)
          case "data" if fmt == 1 && (bits == 16 || bits == 8) && sz > 0 =>
            val points = ThumbEdge * ThumbEdge
            def sampleAbs(k: Int): Double =
              if (bits == 16) math.abs(leShort(i + 8 + 2 * k).toShort.toInt) / 32768.0
              else (p(i + 8 + k) & 0xff) / 255.0
            val ns = if (bits == 16) sz / 2 else sz
            if (ns == 0) return None
            var sum = 0.0
            var k = 0
            while (k < ns) { sum += sampleAbs(k); k += 1 }
            var down = 0.0
            var j = 0
            // j*ns in Long: a >=34M-sample chunk overflows the Int
            // product and would index negative (throw) or mis-sample
            while (j < points) { down += sampleAbs((j.toLong * ns / points).toInt); j += 1 }
            res = Some((sum / ns, down / points))
            done = true
          case _ => ()
        }
        if (!done) i += 8 + sz + (sz & 1)
      }
    }
    res
  }

  /** FULL JPEG pixel decode via the JDK's bundled ImageIO plugin
    * (java.desktop's JPEGImageReader) — still standard library, no
    * external dependency, and headless-safe (no display needed for
    * ImageIO/BufferedImage). Handles baseline and progressive
    * JFIF/EXIF streams; returns the mean over all decoded RGB channel
    * samples (0–255 domain). Decode is deterministic within a JVM —
    * the unit gate constructs its fixtures and checks round-trip
    * means, while the DuckDB oracle only ever sees the stub path (the
    * corpus carries no media bytes). Any failure yields None — never
    * throws on an executor. Returns (RGB channel mean, thumbnail mean)
    * from one decode.
    */
  private[operators] def jpegFeatures(p: Array[Byte]): Option[(Double, Double)] = {
    if (p.length < 4 || (p(0) & 0xff) != 0xff || (p(1) & 0xff) != 0xd8)
      return None
    // size-bound from the SOF header BEFORE ImageIO.read: a few-KB
    // stream can declare a multi-gigapixel frame, and the full
    // BufferedImage would be allocated before any post-decode check
    // could run (the PNG path bounds before inflating for the same
    // reason)
    val declared = jpegDims(p)
    if (declared.isEmpty ||
        declared.exists { case (w, h) => w.toLong * h > (64 << 20) })
      return None
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(p))
      if (img == null || img.getWidth <= 0 || img.getHeight <= 0 ||
          img.getWidth.toLong * img.getHeight > (64 << 20)) None
      else {
        val (w, h) = (img.getWidth, img.getHeight)
        var sum = 0L
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val px = img.getRGB(x, y)
            sum += ((px >> 16) & 0xff) + ((px >> 8) & 0xff) + (px & 0xff)
            x += 1
          }
          y += 1
        }
        val chanSum = (sy: Int, sx: Int) => {
          val px = img.getRGB(sx, sy)
          ((px >> 16) & 0xff) + ((px >> 8) & 0xff) + (px & 0xff)
        }
        Some((sum.toDouble / (w.toLong * h * 3), thumbMeanNN(w, h, 3, chanSum)))
      }
    } catch {
      // NonFatal only: swallowing OutOfMemoryError / InterruptedException
      // would mask executor OOM and break Spark task cancellation
      case scala.util.control.NonFatal(_) => None
    }
  }

  /** Real container parsing where the bytes allow it — PNG IHDR (and,
    * for the common 8-bit non-interlaced formats, a FULL pixel decode:
    * zlib inflate + all five filter types), JPEG SOF0/1/2 headers plus
    * a FULL entropy decode through the JDK's bundled ImageIO codec,
    * WAV fmt (and a FULL PCM sample decode for 8/16-bit audio), and
    * MP4/ISO-BMFF moov/mvhd (timescale + duration — the video family's
    * header parse) — all standard-library, no external codec
    * dependency. Malformed or non-media payloads fall through to the
    * ==== STUB ==== deterministic fake (the test corpus carries text
    * bytes, not media). The declared media_kind is passed through
    * untouched either way so this output always joins cleanly with
    * mmMeta on (doc_id, media_kind).
    */
  private[operators] def decodeOne(b: MediaBlob): MediaFeatures = {
    val n = b.payload.length.toLong
    val headerDims = pngDims(b.payload)
      .orElse(jpegDims(b.payload))
      .orElse(wavDims(b.payload))
    // one box walk serves both the dims stand-in and the frame plan
    val mvhd = if (headerDims.isEmpty) mp4Mvhd(b.payload) else None
    val dims = headerDims.orElse(
      mvhd.map { case (ts, dur) => (ts.toInt, (dur / ts).toInt) })
    // decode + feature-extract + resize from ONE decode per codec
    // family: (full-raster mean, nearest-neighbor thumbnail / uniform
    // downsample mean); video gets the uniform frame-sample plan
    val feats =
      if (dims.isEmpty) None
      else pngFeatures(b.payload).orElse(jpegFeatures(b.payload))
        .orElse(wavFeatures(b.payload))
    // prefer the REAL sample-table plan (stts/stsz, converted to
    // movie-timescale units); fall back to the uniform mvhd-duration
    // split when no track carries mdhd + a valid stts — either way
    // frame_ts carries ONE unit contract (movie timescale)
    val frames = mvhd.map { case (mts, dur) =>
      mp4SampleTs(b.payload, mts).getOrElse(frameTsOf(dur)) }
    val mean =
      if (n == 0) 0.0
      else b.payload.foldLeft(0L)((acc, x) => acc + (x & 0xff)).toDouble / n
    dims match {
      case Some((w, h)) =>
        MediaFeatures(b.doc_id, b.media_kind, n, width = w, height = h,
          mean_byte = mean, mean_signal = feats.map(_._1),
          thumb_mean = feats.map(_._2), frame_ts = frames)
      case None => // ==== STUB ==== pseudo-dimensions for non-media payloads
        MediaFeatures(b.doc_id, b.media_kind, n,
          width = (n % 640).toInt + 1, height = ((n * 7) % 480).toInt + 1,
          mean_byte = mean, mean_signal = None, thumb_mean = None,
          frame_ts = None)
    }
  }
}
