package graft.etl

import java.io.ByteArrayOutputStream
import java.nio.charset.{Charset, CodingErrorAction}
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import graft.etl.ReportModel.{Chart, Report}

/** S9, byte-format half: the reference's user-visible deliverable is
  * `pdf-files/relatorio-final.pdf` (save-data/save_data_pdf_report.py:
  * 480-745, ReportLab + matplotlib). No PDF library resolves in this
  * zero-egress build, so this is a minimal self-contained PDF 1.4
  * writer: uncompressed content streams, the base-14 Helvetica
  * family (no font embedding needed), WinAnsi text encoding (covers
  * the report's Portuguese accents), and vector ops (`re`/`m`/`l`)
  * for the three charts. Renders the same ReportModel as the HTML
  * writer — same title, five sections in order, three charts.
  *
  * Driver-side by design, exactly like the HTML half: the inputs are
  * the five already-reduced report aggregates.
  */
object SalesReportPdf {

  private val PageW = 595.0 // A4 portrait, points
  private val PageH = 842.0
  private val Margin = 50.0

  // Reference palette (steelblue headers, lightcoral/skyblue/green charts).
  private val Blue = (0.16, 0.50, 0.72)
  private val LightRow = (0.95, 0.96, 0.98)
  private val Coral = (0.94, 0.50, 0.50)
  private val DarkRed = (0.55, 0.0, 0.0)
  private val SkyBlue = (0.53, 0.81, 0.92)
  private val Navy = (0.0, 0.0, 0.50)
  private val Green = (0.0, 0.50, 0.0)
  private val Grey = (0.40, 0.40, 0.40)
  private val Black = (0.0, 0.0, 0.0)

  private val cp1252 = Charset.forName("windows-1252")

  private def encodeText(s: String): Array[Byte] = {
    val enc = cp1252.newEncoder()
      .onMalformedInput(CodingErrorAction.REPLACE)
      .onUnmappableCharacter(CodingErrorAction.REPLACE)
    val bb = enc.encode(java.nio.CharBuffer.wrap(s))
    val raw = new Array[Byte](bb.remaining()); bb.get(raw)
    // escape the PDF string-literal specials
    val out = new ByteArrayOutputStream(raw.length + 8)
    raw.foreach {
      case b @ ('\\' | '(' | ')') => out.write('\\'); out.write(b)
      case b => out.write(b)
    }
    out.toByteArray
  }

  /** Approximate Helvetica string width (avg glyph ≈ 0.55 em) — used
    * only for layout (column sizing, right-alignment), not rendering.
    */
  private def approxW(s: String, size: Double): Double = s.length * size * 0.55

  private def num(v: Double): String = {
    val r = math.rint(v * 100) / 100
    if (r == r.toLong) r.toLong.toString
    else String.format(java.util.Locale.ROOT, "%.2f", Double.box(r))
  }

  /** PDF numeric operands must use '.' decimals regardless of the JVM
    * default locale — a comma-decimal locale would emit `0,16 rg` and
    * corrupt every content stream. Always Locale.ROOT, never the bare
    * f-interpolator (which formats with the default locale).
    */
  private def f2(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))

  private def rgbOps(c: (Double, Double, Double), operator: String): String =
    s"${f2(c._1)} ${f2(c._2)} ${f2(c._3)} $operator "

  /** One page's content stream plus the flowing-cursor layout state. */
  private final class Painter {
    val pages = ArrayBuffer[ByteArrayOutputStream]()
    private var cur: ByteArrayOutputStream = _
    var y: Double = 0.0
    newPage()

    def newPage(): Unit = {
      cur = new ByteArrayOutputStream()
      pages += cur
      y = PageH - Margin
    }

    /** Page-break unless `h` points of vertical room remain. */
    def ensure(h: Double): Unit = if (y - h < Margin) newPage()

    def op(s: String): Unit = cur.write(s.getBytes("US-ASCII"))

    def text(x: Double, yPos: Double, size: Double, s: String,
        font: String = "F1", rgb: (Double, Double, Double) = Black): Unit = {
      op(s"BT /$font ${num(size)} Tf ${rgbOps(rgb, "rg")}${num(x)} ${num(yPos)} Td (")
      val enc = encodeText(s)
      cur.write(enc, 0, enc.length)
      op(") Tj ET\n")
    }

    def rect(x: Double, yPos: Double, w: Double, h: Double,
        fill: Option[(Double, Double, Double)],
        stroke: Option[(Double, Double, Double)] = None): Unit = {
      fill.foreach { c => op(rgbOps(c, "rg")) }
      stroke.foreach { c => op(rgbOps(c, "RG") + "0.7 w ") }
      op(s"${num(x)} ${num(yPos)} ${num(w)} ${num(h)} re ")
      op((fill, stroke) match {
        case (Some(_), Some(_)) => "B\n"
        case (Some(_), None) => "f\n"
        case _ => "S\n"
      })
    }

    def polyline(pts: Seq[(Double, Double)],
        rgb: (Double, Double, Double), width: Double): Unit = if (pts.nonEmpty) {
      op(rgbOps(rgb, "RG") + s"${num(width)} w ")
      op(s"${num(pts.head._1)} ${num(pts.head._2)} m ")
      pts.tail.foreach { case (x, yy) => op(s"${num(x)} ${num(yy)} l ") }
      op("S\n")
    }
  }

  // ---- layout ----------------------------------------------------------

  private def title(p: Painter, t: String): Unit = {
    p.ensure(40)
    p.rect(Margin, p.y - 26, PageW - 2 * Margin, 26, Some(Blue))
    val x = PageW / 2 - approxW(t, 16) / 2
    p.text(x, p.y - 19, 16, t, "F2", (1, 1, 1))
    p.y -= 38
  }

  private def heading(p: Painter, t: String): Unit = {
    p.ensure(60) // keep the heading attached to some body content
    p.rect(Margin, p.y - 17, PageW - 2 * Margin, 17, Some((0.90, 0.90, 0.98)))
    p.text(Margin + 4, p.y - 13, 12, t, "F2", Blue)
    p.y -= 26
  }

  private def paragraph(p: Painter, t: String): Unit = {
    p.ensure(14)
    p.text(Margin, p.y - 10, 9, t, "F3", Grey)
    p.y -= 18
  }

  private def table(p: Painter, headers: Seq[String], rows: Seq[Seq[String]]): Unit = {
    val size = 8.0
    val pad = 6.0
    val raw = headers.indices.map { i =>
      val longest = (headers(i) +: rows.map(r => r.lift(i).getOrElse(""))).map(_.length).max
      math.max(approxW("M" * longest, size) + 2 * pad, 50.0)
    }
    val avail = PageW - 2 * Margin
    val scale = math.min(1.0, avail / raw.sum)
    val widths = raw.map(_ * scale)
    val xs = widths.scanLeft(Margin)(_ + _)
    val rowH = 13.0
    def headerRow(): Unit = {
      p.rect(Margin, p.y - rowH, widths.sum, rowH, Some(Blue))
      headers.zipWithIndex.foreach { case (h, i) =>
        p.text(xs(i) + pad / 2, p.y - rowH + 3.5, size, h, "F2", (1, 1, 1))
      }
      p.y -= rowH
    }
    p.ensure(rowH * 3)
    headerRow()
    rows.zipWithIndex.foreach { case (r, ri) =>
      if (p.y - rowH < Margin) { p.newPage(); headerRow() } // re-head each page
      if (ri % 2 == 1) p.rect(Margin, p.y - rowH, widths.sum, rowH, Some(LightRow))
      r.zipWithIndex.foreach { case (c, i) =>
        p.text(xs(i) + pad / 2, p.y - rowH + 3.5, size, c, "F1", (0.13, 0.13, 0.13))
      }
      p.y -= rowH
    }
    p.y -= 8
  }

  private def chartTitle(p: Painter, t: String): Unit = {
    p.text(PageW / 2 - approxW(t, 10) / 2, p.y - 9, 10, t, "F2")
    p.y -= 16
  }

  /** Horizontal bars, one flowing row per datum (reference:
    * create_horizontal_bar_chart) — paginates like a table.
    */
  private def hbar(p: Painter, c: Chart): Unit = {
    p.ensure(60)
    chartTitle(p, c.title)
    val max = math.max(c.data.map(_._2).maxOption.getOrElse(1.0), 1e-9)
    val labelX = Margin + 170
    val barMax = PageW - Margin - labelX - 60
    val barH = 10.0; val gap = 4.0
    c.data.foreach { case (label, v) =>
      p.ensure(barH + gap)
      val w = math.max(1.0, barMax * v / max)
      p.text(labelX - 6 - approxW(label, 7), p.y - barH + 1.5, 7, label)
      p.rect(labelX, p.y - barH, w, barH, Some(Coral), Some(DarkRed))
      p.text(labelX + w + 4, p.y - barH + 1.5, 7, ReportModel.fmt(v), "F1", Grey)
      p.y -= barH + gap
    }
    p.y -= 10
  }

  /** Vertical bars, fixed-height block (reference: create_bar_chart). */
  private def vbar(p: Painter, c: Chart): Unit = {
    val blockH = 170.0
    p.ensure(blockH + 30)
    chartTitle(p, c.title)
    val max = math.max(c.data.map(_._2).maxOption.getOrElse(1.0), 1e-9)
    val base = p.y - blockH + 16
    val bw = (PageW - 2 * Margin - 40) / math.max(c.data.size, 1)
    c.data.zipWithIndex.foreach { case ((label, v), i) =>
      val h = math.max(1.0, (blockH - 40) * v / max)
      val x = Margin + 20 + i * bw
      p.rect(x, base, bw - 10, h, Some(SkyBlue), Some(Navy))
      p.text(x + (bw - 10) / 2 - approxW(ReportModel.fmt(v), 7) / 2, base + h + 3, 7,
        ReportModel.fmt(v), "F1", Grey)
      p.text(x + (bw - 10) / 2 - approxW(label, 7) / 2, base - 10, 7, label)
    }
    p.y -= blockH + 8
  }

  /** Line chart, fixed-height block (reference: create_line_chart). */
  private def lineChart(p: Painter, c: Chart): Unit = {
    val blockH = 170.0
    p.ensure(blockH + 30)
    chartTitle(p, c.title)
    val max = math.max(c.data.map(_._2).maxOption.getOrElse(1.0), 1e-9)
    val base = p.y - blockH + 16
    val left = Margin + 10
    val step = (PageW - 2 * Margin - 30) / math.max(c.data.size - 1, 1)
    val pts = c.data.zipWithIndex.map { case ((_, v), i) =>
      (left + i * step, base + (blockH - 40) * v / max)
    }
    p.polyline(pts, Green, 1.5)
    pts.foreach { case (x, yy) => p.rect(x - 1.5, yy - 1.5, 3, 3, Some(Green)) }
    if (c.data.size <= 24) pts.zip(c.data).foreach { case ((x, _), (label, _)) =>
      p.text(x - approxW(label, 6) / 2, base - 10, 6, label)
    }
    p.y -= blockH + 8
  }

  private def layout(r: Report): Seq[Array[Byte]] = {
    val p = new Painter
    title(p, r.title)
    r.sections.foreach { s =>
      heading(p, s.title)
      paragraph(p, s.summary)
      table(p, s.headers, s.rows)
      s.chart.foreach {
        case c if c.kind == "hbar" => hbar(p, c)
        case c if c.kind == "vbar" => vbar(p, c)
        case c => lineChart(p, c)
      }
      p.y -= 6
    }
    p.pages.map(_.toByteArray).toSeq
  }

  // ---- PDF assembly ----------------------------------------------------

  /** Renders the report model to complete PDF 1.4 bytes. */
  def render(r: Report): Array[Byte] = {
    val contents = layout(r)
    val n = contents.size
    // object plan: 1 catalog, 2 pages, 3-5 fonts, then (page, stream) pairs
    val firstPage = 6
    val out = new ByteArrayOutputStream()
    val offsets = ArrayBuffer[Int]()
    def ascii(s: String): Unit = out.write(s.getBytes("US-ASCII"))
    def obj(body: String): Unit = {
      offsets += out.size()
      ascii(s"${offsets.size} 0 obj\n$body\nendobj\n")
    }
    def streamObj(data: Array[Byte]): Unit = {
      offsets += out.size()
      ascii(s"${offsets.size} 0 obj\n<< /Length ${data.length} >>\nstream\n")
      out.write(data, 0, data.length)
      ascii("\nendstream\nendobj\n")
    }
    ascii("%PDF-1.4\n%")
    // binary-comment marker bytes (>127 so tools treat the file as binary)
    out.write(Array(0xE2, 0xE3, 0xCF, 0xD3).map(_.toByte), 0, 4)
    ascii("\n")
    obj("<< /Type /Catalog /Pages 2 0 R >>")
    val kids = (0 until n).map(i => s"${firstPage + 2 * i} 0 R").mkString(" ")
    obj(s"<< /Type /Pages /Kids [$kids] /Count $n >>")
    def font(name: String): String =
      s"<< /Type /Font /Subtype /Type1 /BaseFont /$name /Encoding /WinAnsiEncoding >>"
    obj(font("Helvetica"))
    obj(font("Helvetica-Bold"))
    obj(font("Helvetica-Oblique"))
    contents.zipWithIndex.foreach { case (data, i) =>
      obj(s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 ${num(PageW)} ${num(PageH)}]" +
        " /Resources << /Font << /F1 3 0 R /F2 4 0 R /F3 5 0 R >> >>" +
        s" /Contents ${firstPage + 2 * i + 1} 0 R >>")
      streamObj(data)
    }
    val xrefPos = out.size()
    ascii(s"xref\n0 ${offsets.size + 1}\n")
    ascii("0000000000 65535 f \n")
    offsets.foreach(o =>
      ascii(String.format(java.util.Locale.ROOT, "%010d 00000 n \n", Integer.valueOf(o))))
    ascii(s"trailer\n<< /Size ${offsets.size + 1} /Root 1 0 R >>\nstartxref\n$xrefPos\n%%EOF\n")
    out.toByteArray
  }

  /** Renders and writes `relatorio-final.pdf` (the reference artifact
    * name: save-data/save_data_pdf_report.py writes
    * pdf-files/relatorio-final.pdf) under outDir.
    */
  def write(r: Report, outDir: String): Unit = {
    Files.createDirectories(Paths.get(outDir))
    Files.write(Paths.get(s"$outDir/relatorio-final.pdf"), render(r))
  }
}
