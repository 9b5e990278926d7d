package perfbench

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.{ZipEntry, ZipFile, ZipOutputStream}

/** The benchmark's own minimal .xlsx codec: it writes the generated
  * release workbooks (numbers as numeric cells, text as inline strings)
  * and reads back the exported workbook for the export check. */
object XlsxFile {

  type Sheet = Seq[Seq[Any]] // cells: String, Double, Int, or null for a gap

  def write(path: String, sheets: Seq[(String, Sheet)]): Unit = {
    val zos = new ZipOutputStream(new BufferedOutputStream(new FileOutputStream(path)), UTF_8)
    def part(name: String, body: String): Unit = {
      zos.putNextEntry(new ZipEntry(name))
      zos.write(body.getBytes(UTF_8))
      zos.closeEntry()
    }
    val head = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>"""
    val n = sheets.size
    try {
      part("[Content_Types].xml", head +
        """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
        """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
        """<Default Extension="xml" ContentType="application/xml"/>""" +
        """<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>""" +
        (1 to n).map(i => s"""<Override PartName="/xl/worksheets/sheet$i.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>""").mkString +
        "</Types>")
      part("_rels/.rels", head +
        """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
        """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>""" +
        "</Relationships>")
      part("xl/workbook.xml", head +
        """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets>""" +
        sheets.zipWithIndex.map { case ((name, _), i) =>
          s"""<sheet name="${esc(name)}" sheetId="${i + 1}" r:id="rId${i + 1}"/>""" }.mkString +
        "</sheets></workbook>")
      part("xl/_rels/workbook.xml.rels", head +
        """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
        (1 to n).map(i => s"""<Relationship Id="rId$i" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet$i.xml"/>""").mkString +
        "</Relationships>")
      sheets.zipWithIndex.foreach { case ((_, rows), i) =>
        val sb = new StringBuilder(head)
        sb ++= """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>"""
        rows.zipWithIndex.foreach { case (row, r) =>
          sb ++= s"""<row r="${r + 1}">"""
          row.zipWithIndex.foreach { case (v, c) =>
            val ref = colRef(c) + (r + 1)
            v match {
              case null => ()
              case d: Double => sb ++= s"""<c r="$ref"><v>$d</v></c>"""
              case k: Int => sb ++= s"""<c r="$ref"><v>$k</v></c>"""
              case s: String if s.isEmpty => ()
              case s => sb ++= s"""<c r="$ref" t="inlineStr"><is><t>${esc(s.toString)}</t></is></c>"""
            }
          }
          sb ++= "</row>"
        }
        sb ++= "</sheetData></worksheet>"
        part(s"xl/worksheets/sheet${i + 1}.xml", sb.toString)
      }
    } finally zos.close()
  }

  private def esc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;").replace("\"", "&quot;")

  private def unesc(s: String): String =
    s.replace("&lt;", "<").replace("&gt;", ">").replace("&quot;", "\"")
      .replace("&apos;", "'").replace("&amp;", "&")

  private def colRef(i: Int): String =
    if (i < 26) ('A' + i).toChar.toString else colRef(i / 26 - 1) + ('A' + i % 26).toChar

  private def colIndex(ref: String): Int =
    ref.takeWhile(_.isLetter).foldLeft(0)((acc, ch) => acc * 26 + (ch - 'A' + 1)) - 1

  private val SheetTag = """<sheet [^>]*name="([^"]*)"""".r
  private val RowTag = """(?s)<row[^>]*>(.*?)</row>""".r
  private val Cell = """(?s)<c r="([A-Z]+)\d+"[^>]*?(?:/>|>(.*?)</c>)""".r
  private val Value = """(?s)<(?:v|t)[^>]*>(.*?)</(?:v|t)>""".r

  /** Read every sheet as dense string rows; for inline-string and numeric
    * cells (what writers without a shared-string table emit). Sheets are
    * matched to names by position, as written by a single-pass writer. */
  def read(path: String): Seq[(String, Vector[Vector[String]])] = {
    val zf = new ZipFile(path)
    def text(name: String): String = new String(zf.getInputStream(zf.getEntry(name)).readAllBytes(), UTF_8)
    try {
      val names = SheetTag.findAllMatchIn(text("xl/workbook.xml")).map(m => unesc(m.group(1))).toVector
      names.zipWithIndex.map { case (name, i) =>
        val rows = RowTag.findAllMatchIn(text(s"xl/worksheets/sheet${i + 1}.xml")).map { rm =>
          val cells = Cell.findAllMatchIn(rm.group(1)).map { cm =>
            val v = Option(cm.group(2)).flatMap(b => Value.findFirstMatchIn(b)).map(x => unesc(x.group(1)))
            colIndex(cm.group(1)) -> v.getOrElse("")
          }.toMap
          val width = if (cells.isEmpty) 0 else cells.keys.max + 1
          Vector.tabulate(width)(c => cells.getOrElse(c, ""))
        }.toVector
        name -> rows
      }
    } finally zf.close()
  }
}
