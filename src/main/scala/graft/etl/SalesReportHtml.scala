package graft.etl

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.etl.ReportModel.{Chart, Report}

/** S9, visual half: the reference renders a PDF sales report —
  * title, five sections (heading + summary paragraph + styled table)
  * and three charts (save-data/save_data_pdf_report.py:480-745:
  * horizontal bars for ticket médio, vertical bars for top-5, a line
  * for vendas por período) via matplotlib + ReportLab. This engine
  * renders the same inventory as a self-contained HTML document with
  * inline SVG charts — zero native/graphics dependencies, same
  * information architecture, diffable in CI. (The byte-format PDF
  * twin is SalesReportPdf; both render the one ReportModel.)
  *
  * Rendering is driver-side BY DESIGN: the inputs are the five
  * report aggregates (tens of rows — already reduced by distributed
  * queries); presentation of a small summary is not a distributed
  * problem at any corpus scale.
  */
object SalesReportHtml {

  private def esc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  private def fmt(v: Double): String = ReportModel.fmt(v)

  private def table(headers: Seq[String], rows: Seq[Seq[String]]): String = {
    val head = headers.map(h => s"<th>${esc(h)}</th>").mkString
    val body = rows.map { r =>
      "<tr>" + r.map(v => s"<td>${esc(v)}</td>").mkString + "</tr>"
    }.mkString("\n")
    s"<table><thead><tr>$head</tr></thead><tbody>\n$body\n</tbody></table>"
  }

  /** Horizontal bar chart (reference: create_horizontal_bar_chart). */
  private def hbarSvg(data: Seq[(String, Double)], title: String): String = {
    val w = 640; val barH = 18; val gap = 6; val left = 180
    val h = data.size * (barH + gap) + 40
    val max = math.max(data.map(_._2).maxOption.getOrElse(1.0), 1e-9)
    val bars = data.zipWithIndex.map { case ((label, v), i) =>
      val y = 30 + i * (barH + gap)
      val bw = math.max(1.0, (w - left - 90) * v / max)
      s"""<text x="${left - 6}" y="${y + 13}" text-anchor="end" class="lbl">${esc(label)}</text>""" +
        s"""<rect x="$left" y="$y" width="${bw.toInt}" height="$barH" class="hbar"/>""" +
        s"""<text x="${left + bw.toInt + 4}" y="${y + 13}" class="val">${fmt(v)}</text>"""
    }.mkString("\n")
    s"""<svg class="chart hbar-chart" viewBox="0 0 $w $h" role="img"><title>${esc(title)}</title>
       <text x="${w / 2}" y="16" text-anchor="middle" class="ttl">${esc(title)}</text>
       $bars</svg>"""
  }

  /** Vertical bar chart (reference: create_bar_chart). */
  private def barSvg(data: Seq[(String, Double)], title: String): String = {
    val w = 640; val h = 300; val bottom = 60; val top = 30
    val max = math.max(data.map(_._2).maxOption.getOrElse(1.0), 1e-9)
    val bw = (w - 60) / math.max(data.size, 1)
    val bars = data.zipWithIndex.map { case ((label, v), i) =>
      val bh = math.max(1.0, (h - top - bottom) * v / max)
      val x = 40 + i * bw
      val y = h - bottom - bh
      s"""<rect x="$x" y="${y.toInt}" width="${bw - 8}" height="${bh.toInt}" class="vbar"/>""" +
        s"""<text x="${x + (bw - 8) / 2}" y="${y.toInt - 4}" text-anchor="middle" class="val">${fmt(v)}</text>""" +
        s"""<text x="${x + (bw - 8) / 2}" y="${h - bottom + 14}" text-anchor="middle" class="lbl">${esc(label)}</text>"""
    }.mkString("\n")
    s"""<svg class="chart bar-chart" viewBox="0 0 $w $h" role="img"><title>${esc(title)}</title>
       <text x="${w / 2}" y="16" text-anchor="middle" class="ttl">${esc(title)}</text>
       $bars</svg>"""
  }

  /** Line chart (reference: create_line_chart). */
  private def lineSvg(data: Seq[(String, Double)], title: String): String = {
    val w = 640; val h = 300; val bottom = 60; val top = 30; val left = 50
    val max = math.max(data.map(_._2).maxOption.getOrElse(1.0), 1e-9)
    val step = (w - left - 20).toDouble / math.max(data.size - 1, 1)
    val pts = data.zipWithIndex.map { case ((_, v), i) =>
      (left + i * step, h - bottom - (h - top - bottom) * v / max)
    }
    val poly = pts.map { case (x, y) => f"$x%.1f,$y%.1f" }.mkString(" ")
    val marks = pts.zip(data).map { case ((x, y), (label, _)) =>
      f"""<circle cx="$x%.1f" cy="$y%.1f" r="3" class="pt"/>""" +
        (if (data.size <= 24)
          f"""<text x="$x%.1f" y="${h - bottom + 14}" text-anchor="middle" class="lbl">${esc(label)}</text>"""
        else "")
    }.mkString("\n")
    s"""<svg class="chart line-chart" viewBox="0 0 $w $h" role="img"><title>${esc(title)}</title>
       <text x="${w / 2}" y="16" text-anchor="middle" class="ttl">${esc(title)}</text>
       <polyline points="$poly" class="line"/>
       $marks</svg>"""
  }

  private def chartSvg(c: Chart): String = c.kind match {
    case "hbar" => hbarSvg(c.data, c.title)
    case "vbar" => barSvg(c.data, c.title)
    case "line" => lineSvg(c.data, c.title)
  }

  /** Renders the report model as a self-contained HTML document. */
  def render(r: Report): String = {
    val body = r.sections.map { s =>
      val tbl = table(s.headers, s.rows)
      val chart = s.chart.map(chartSvg).getOrElse("")
      s"""<section><h2>${esc(s.title)}</h2><p class="summary">${esc(s.summary)}</p>$tbl$chart</section>"""
    }.mkString("\n")
    s"""<!DOCTYPE html>
<html lang="pt-BR"><head><meta charset="utf-8"><title>${esc(r.title)}</title>
<style>
body{font-family:sans-serif;margin:24px;color:#222}
h1{background:#2980b9;color:#fff;padding:8px;text-align:center}
h2{color:#2980b9;background:#e6e6fa;padding:4px}
p.summary{color:#666;font-style:italic}
table{border-collapse:collapse;margin:8px 0}
th{background:#2980b9;color:#fff;padding:4px 10px}
td{border:1px solid #ccc;padding:3px 10px}
tr:nth-child(even){background:#f4f6fa}
svg.chart{max-width:640px;display:block;margin:10px 0}
svg .ttl{font-size:13px;font-weight:bold}
svg .lbl{font-size:9px}
svg .val{font-size:9px;fill:#444}
svg .hbar{fill:#f08080;stroke:#8b0000;fill-opacity:.8}
svg .vbar{fill:#87ceeb;stroke:#000080;fill-opacity:.7}
svg .line{fill:none;stroke:green;stroke-width:2}
svg .pt{fill:green}
</style></head><body>
<h1>${esc(r.title)}</h1>
$body
</body></html>"""
  }

  /** Renders and writes `relatorio_vendas.html` under outDir. */
  def write(r: Report, outDir: String): Unit = {
    Files.createDirectories(Paths.get(outDir))
    Files.write(Paths.get(s"$outDir/relatorio_vendas.html"),
      render(r).getBytes(StandardCharsets.UTF_8))
  }
}
