package graftbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.{ZipEntry, ZipInputStream, ZipOutputStream}

import scala.collection.mutable

/** The benchmark's own minimal xlsx codec, independent of the engine's
  * `graft.sources.Xlsx`, so a change to the engine's writer cannot change
  * the benchmark's inputs. The writer stores text in a shared-string
  * table and numbers as numeric cells, as spreadsheet programs do, and
  * pins every zip entry time, so equal sheets give byte-identical files.
  * The reader handles both shared and inline strings.
  */
object Workbook {

  /** A cell is a `String` (text) or a `BigDecimal` / `Long` (number). */
  type Sheet = Seq[Seq[Any]]

  private val EntryTime = 315576000000L // 1980-01-02, the zip epoch

  def write(sheets: Seq[(String, Sheet)]): Array[Byte] = {
    val shared = mutable.LinkedHashMap.empty[String, Int]
    def sharedIndex(s: String): Int = shared.getOrElseUpdate(s, shared.size)
    val sheetXml = sheets.map { case (_, rows) =>
      val sb = new StringBuilder(
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""")
      rows.zipWithIndex.foreach { case (cells, r) =>
        sb.append(s"""<row r="${r + 1}">""")
        cells.zipWithIndex.foreach {
          case (null, _) => ()
          case (s: String, c) =>
            sb.append(s"""<c r="${colName(c)}${r + 1}" t="s"><v>${sharedIndex(s)}</v></c>""")
          case (n, c) =>
            val v = n match {
              case d: BigDecimal => d.bigDecimal.toPlainString
              case other => other.toString
            }
            sb.append(s"""<c r="${colName(c)}${r + 1}"><v>$v</v></c>""")
        }
        sb.append("</row>")
      }
      sb.append("</sheetData></worksheet>").toString
    }
    val n = sheets.size
    val parts = Seq(
      "[Content_Types].xml" ->
        ("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
        """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
        """<Default Extension="xml" ContentType="application/xml"/>""" +
        """<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>""" +
        """<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>""" +
        (1 to n).map(i => s"""<Override PartName="/xl/worksheets/sheet$i.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>""").mkString +
        "</Types>"),
      "_rels/.rels" ->
        ("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
        """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>""" +
        "</Relationships>"),
      "xl/workbook.xml" ->
        ("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets>""" +
        sheets.zipWithIndex.map { case ((name, _), i) =>
          s"""<sheet name="${escape(name)}" sheetId="${i + 1}" r:id="rId${i + 1}"/>"""
        }.mkString + "</sheets></workbook>"),
      "xl/_rels/workbook.xml.rels" ->
        ("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
        (1 to n).map(i => s"""<Relationship Id="rId$i" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet$i.xml"/>""").mkString +
        s"""<Relationship Id="rId${n + 1}" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/sharedStrings" Target="sharedStrings.xml"/>""" +
        "</Relationships>")
    ) ++ sheetXml.zipWithIndex.map { case (x, i) =>
      s"xl/worksheets/sheet${i + 1}.xml" -> x
    } :+ ("xl/sharedStrings.xml" ->
      ("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
      s"""<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="${shared.size}" uniqueCount="${shared.size}">""" +
      shared.keys.map(s => s"""<si><t xml:space="preserve">${escape(s)}</t></si>""").mkString +
      "</sst>"))
    val bytes = new ByteArrayOutputStream()
    val zip = new ZipOutputStream(bytes)
    parts.foreach { case (name, content) =>
      val e = new ZipEntry(name)
      e.setTime(EntryTime)
      zip.putNextEntry(e)
      zip.write(content.getBytes(UTF_8))
      zip.closeEntry()
    }
    zip.close()
    bytes.toByteArray
  }

  /** Sheet name → rows of cell strings (null for an empty cell). */
  def read(bytes: Array[Byte]): Map[String, Vector[Vector[String]]] = {
    val entries = mutable.Map.empty[String, String]
    val zip = new ZipInputStream(new java.io.ByteArrayInputStream(bytes))
    var e = zip.getNextEntry
    while (e != null) {
      entries(e.getName) = new String(zip.readAllBytes(), UTF_8)
      e = zip.getNextEntry
    }
    zip.close()
    val shared = entries.get("xl/sharedStrings.xml").toVector.flatMap(x =>
      """(?s)<si>(.*?)</si>""".r.findAllMatchIn(x).map(m =>
        textRuns(m.group(1))))
    val rels = entries.get("xl/_rels/workbook.xml.rels").toVector.flatMap(x =>
      """<Relationship [^>]*?Id="([^"]+)"[^>]*?Target="([^"]+)"""".r
        .findAllMatchIn(x).map(m => m.group(1) -> m.group(2))).toMap
    val sheetRe = """<sheet [^>]*?name="([^"]+)"[^>]*?r:id="([^"]+)"""".r
    sheetRe.findAllMatchIn(entries("xl/workbook.xml")).map { m =>
      val target = rels(m.group(2)).stripPrefix("/").stripPrefix("xl/")
      unescape(m.group(1)) -> parseSheet(entries(s"xl/$target"), shared)
    }.toMap
  }

  private val CellRe =
    """(?s)<c r="([A-Z]+)(\d+)"([^>]*?)(?:/>|>(.*?)</c>)""".r

  private def parseSheet(xml: String,
                         shared: Vector[String]): Vector[Vector[String]] = {
    val cells = CellRe.findAllMatchIn(xml).map { m =>
      val body = Option(m.group(4)).getOrElse("")
      val v = """(?s)<v>(.*?)</v>""".r.findFirstMatchIn(body).map(_.group(1))
      val value =
        if (m.group(3).contains("t=\"s\"")) v.map(i => shared(i.trim.toInt))
        else if (m.group(3).contains("t=\"inlineStr\"")) Some(textRuns(body))
        else v.map(unescape)
      (m.group(2).toInt - 1, colIndex(m.group(1)), value.orNull)
    }.toVector
    if (cells.isEmpty) Vector.empty
    else {
      val nRows = cells.map(_._1).max + 1
      val nCols = cells.map(_._2).max + 1
      val grid = Array.fill(nRows, nCols)(null: String)
      cells.foreach { case (r, c, v) => grid(r)(c) = v }
      grid.map(_.toVector).toVector
    }
  }

  private def textRuns(x: String): String =
    """(?s)<t[^>]*>(.*?)</t>""".r.findAllMatchIn(x)
      .map(m => unescape(m.group(1))).mkString

  private def colIndex(ref: String): Int =
    ref.foldLeft(0)((acc, ch) => acc * 26 + (ch - 'A' + 1)) - 1

  private def colName(idx: Int): String =
    if (idx < 26) ('A' + idx).toChar.toString
    else colName(idx / 26 - 1) + ('A' + idx % 26).toChar

  private def escape(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      .replace("\"", "&quot;")

  private def unescape(s: String): String =
    s.replace("&lt;", "<").replace("&gt;", ">").replace("&quot;", "\"")
      .replace("&apos;", "'").replace("&amp;", "&")
}
