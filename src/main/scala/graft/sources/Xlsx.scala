package graft.sources

import java.io.{BufferedInputStream, FileOutputStream}
import java.nio.charset.StandardCharsets
import java.util.zip.{ZipEntry, ZipFile, ZipOutputStream}

import scala.collection.mutable

import javax.xml.stream.{XMLInputFactory, XMLStreamConstants}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, get, lit, max, size}
import org.apache.spark.sql.types._

/** Dependency-free xlsx reader/writer (S1/S12 — the reference's only I/O
  * format, /root/reference/app.py:67,155-167). An .xlsx file is a zip of
  * XML parts; this parses them with the JDK's StAX — no external library,
  * per the offline-build constraint (build.sbt).
  *
  * Deliberately driver-side, like the reference (one workbook per
  * micro-batch, bounded by [[Xlsx.MaxRows]]): a workbook is the *batch
  * envelope*, not the big-data store — the heavy lifting happens after
  * `toDataFrame`. At 100 TB the landing format would be parquet and this
  * module is bypassed entirely; the writer guards its `collect()` and
  * documents sheet-sharding as the scale path.
  *
  * All cell values are surfaced as raw strings (the reference reads with
  * `header=None` and coerces types downstream; our operators cast
  * explicitly — SURVEY.md §1.3).
  */
object Xlsx {

  /** Excel's hard sheet capacity; also our collect() guard. */
  val MaxRows: Int = 1048576

  /** Read all sheets (or just `wanted`): name → dense row-major cells
    * (null = empty cell), in workbook sheet order. Restricting to one
    * sheet skips the XML parse of every other worksheet — what the
    * distributed many-workbook scan wants.
    */
  def read(path: String, wanted: Option[String] = None)
      : Seq[(String, Vector[Vector[String]])] = {
    val zip = new ZipFile(path)
    try {
      def entryBytes(name: String): Option[Array[Byte]] =
        Option(zip.getEntry(name)).map { e =>
          val in = new BufferedInputStream(zip.getInputStream(e))
          try in.readAllBytes() finally in.close()
        }

      val rels = entryBytes("xl/_rels/workbook.xml.rels")
        .map(parseRels).getOrElse(Map.empty)
      val sheets = entryBytes("xl/workbook.xml")
        .map(parseWorkbook).getOrElse(Vector.empty)
        .filter { case (name, _) => wanted.forall(_ == name) }
      lazy val shared = entryBytes("xl/sharedStrings.xml")
        .map(parseSharedStrings).getOrElse(Vector.empty)

      sheets.flatMap { case (name, rid) =>
        rels.get(rid).map { target =>
          val t = if (target.startsWith("/")) target.drop(1)
                  else s"xl/$target"
          name -> entryBytes(t).map(b => parseSheet(b, shared))
            .getOrElse(Vector.empty)
        }
      }
    } finally zip.close()
  }

  /** Read as DataFrames, one [[toFrame]] per sheet. */
  def readSheets(spark: SparkSession, path: String): Map[String, DataFrame] =
    read(path).map { case (name, rows) => name -> toFrame(spark, rows) }.toMap

  /** One parsed sheet as a local frame: `_row_idx` (0-based sheet row) +
    * `_c0.._cN` string columns — the shape
    * [[graft.operators.Relational.promoteHeader]] consumes.
    */
  def toFrame(spark: SparkSession, rows: Vector[Vector[String]]): DataFrame = {
    val width = if (rows.isEmpty) 0 else rows.map(_.length).max
    val schema = StructType(
      StructField("_row_idx", LongType, nullable = false) +:
      (0 until width).map(i => StructField(s"_c$i", StringType)))
    val data = new java.util.ArrayList[Row](rows.length)
    rows.zipWithIndex.foreach { case (r, i) =>
      data.add(Row.fromSeq(i.toLong +: (0 until width).map(j =>
        if (j < r.length) r(j) else null)))
    }
    spark.createDataFrame(data, schema)
  }

  /** Distributed multi-workbook scan — the S1 scale path when the landing
    * zone holds MANY workbooks rather than one big one (each workbook is
    * already bounded by Excel's own [[MaxRows]]): the file list is
    * distributed and each executor parses its workbooks locally with the
    * same StAX codec, so ingest parallelism scales with file count and
    * nothing but the path list touches the driver. Paths must be visible
    * from executors (shared/distributed filesystem — true wherever a real
    * cluster would land uploads).
    *
    * Output: `_source` (path), `_row_idx` within its workbook, and
    * `_c0.._c{width-1}` raw strings — the same shape `promoteHeader`
    * consumes, plus provenance.
    *
    * Deliberately lenient: a workbook missing `sheet` contributes zero
    * rows rather than failing the whole many-file scan (XlsxSpec pins
    * this); validate sheet names upstream if absence means
    * misconfiguration rather than heterogeneity.
    */
  def readSheetAcrossWorkbooks(spark: SparkSession, paths: Seq[String],
                               sheet: String, width: Int): DataFrame = {
    val schema = StructType(
      StructField("_source", StringType, nullable = false) +:
      StructField("_row_idx", LongType, nullable = false) +:
      (0 until width).map(i => StructField(s"_c$i", StringType)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    import spark.implicits._
    spark.createDataset(paths)
      .repartition(math.max(1, math.min(paths.size, 64)))
      .mapPartitions { it =>
        it.flatMap { p =>
          read(p, wanted = Some(sheet)).headOption.map(_._2)
            .getOrElse(Vector.empty)
            .zipWithIndex.map { case (r, i) =>
              Row.fromSeq(p +: (i.toLong +: (0 until width).map(j =>
                if (j < r.length) r(j) else null)))
            }
        }
      }(enc)
  }

  /** One-pass auto-width twin of [[readSheetAcrossWorkbooks]]: parses
    * each workbook's sheet ONCE into a persisted variable-width cells
    * frame, derives the batch-wide sheet width from those SAME parsed
    * rows (max cell count — so the ADVICE-r7 "a later, wider workbook
    * must widen the scan" guarantee holds by construction, no separate
    * probe parse), then projects the array into `_c0.._cN` columns.
    * The previous two-pass shape (a distributed per-(path, sheet)
    * width probe followed by a second full `readSheetAcrossWorkbooks`
    * parse) read every workbook twice per micro-batch and halved
    * landing-stream throughput.
    *
    * Returns the projected frame and a cleanup thunk that releases the
    * cached parse — call it when the batch is done with the sheet.
    */
  def readSheetAcrossWorkbooksAuto(spark: SparkSession, paths: Seq[String],
                                   sheet: String)
      : (DataFrame, () => Unit) = {
    import spark.implicits._
    val raw = spark.createDataset(paths)
      .repartition(math.max(1, math.min(paths.size, 64)))
      .flatMap { p =>
        read(p, wanted = Some(sheet)).headOption.map(_._2)
          .getOrElse(Vector.empty)
          .zipWithIndex.map { case (r, i) => (p, i.toLong, r) }
      }
      .toDF("_source", "_row_idx", "_cells")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Materializes the parse into the cache; every later projection —
    // including the per-file filters the caller runs — reads the cache.
    val width = math.max(1, raw
      .agg(coalesce(max(size(col("_cells"))), lit(0))).head().getInt(0))
    val out = raw.select(
      col("_source") +: col("_row_idx") +:
        // get() (not getItem): a narrower workbook's short row must pad
        // with nulls, not throw under ANSI array-index semantics.
        (0 until width).map(j =>
          get(col("_cells"), lit(j)).as(s"_c$j")): _*)
    (out, () => { raw.unpersist(blocking = false); () })
  }

  /** Write DataFrames as one xlsx, one sheet each, headers from column
    * names (the reference's `to_excel(index=False)`, app.py:159-161).
    * Collects on the driver — guarded by [[MaxRows]]; shard sheets before
    * calling this at larger sizes.
    */
  def write(path: String, sheets: Seq[(String, DataFrame)]): Unit =
    writeParts(path, sheetParts(sheets))

  // thunks: each sheet is collected only when its zip entry is being
  // written, so driver peak memory is one sheet (the collected rows; the
  // Seq conversion streams), not the sum of all sheets
  private def sheetParts(sheets: Seq[(String, DataFrame)])
      : Seq[(String, Seq[String], () => Iterator[Seq[Any]])] =
    sheets.map { case (name, df) =>
      (name, df.columns.toSeq, () => df.collect().iterator.map(_.toSeq))
    }

  /** Size-aware S12 export (SURVEY §7.4.8's "sharded sinks when inputs
    * exceed driver memory ... swap in without API change"): the small
    * sheets (bounded aggregates — category summaries, top-spender rows)
    * always land in the single workbook at `path`; the one INPUT-SIZED
    * sheet `big` lands there too while it stays within `shardThreshold`
    * rows, and above it switches to the executor-side [[writeSharded]]
    * writer (shards beside the workbook, in
    * `<path minus .xlsx>_<sheet>_shards/`), returning the shard paths —
    * [[mergeShards]] reassembles one deliverable when required. One
    * bounded `limit(threshold+1).collect()` both decides and, at or
    * under the threshold, supplies the rows written; above it those
    * rows are dropped, so driver memory stays bounded by threshold+1
    * rows and the big sheet's full contents only ever exist
    * executor-side.
    */
  def writeAuto(path: String, small: Seq[(String, DataFrame)],
                big: (String, DataFrame),
                shardThreshold: Long = DefaultShardThreshold)
      : Seq[String] = {
    val (bigName, bigDf) = big
    // A threshold at/above Int.MaxValue would wrap the Int limit despite
    // the Long-typed knob; at that magnitude the answer is always "not
    // over", so the whole sheet is collected, as the writer does anyway.
    val head =
      if (shardThreshold < Int.MaxValue.toLong)
        bigDf.limit((shardThreshold + 1).toInt).collect()
      else bigDf.collect()
    if (head.length <= shardThreshold) {
      writeParts(path, sheetParts(small) :+
        ((bigName, bigDf.columns.toSeq, () => head.iterator.map(_.toSeq))))
      Seq.empty
    } else {
      write(path, small)
      val dir = path.stripSuffix(".xlsx") + s"_${bigName}_shards"
      writeSharded(bigDf, dir, bigName)
    }
  }

  /** Default [[writeAuto]] cutover: well under Excel's [[MaxRows]] and a
    * bounded driver collect (~200k rows of the 14-column merged detail ≈
    * low hundreds of MB) — above it, a single-workbook export is both a
    * driver-memory risk and within 5× of the sheet cap.
    */
  val DefaultShardThreshold: Long = 200000L

  /** Executor-side sharded export — the S12 scale path when one workbook
    * can no longer hold (or one driver can no longer collect) the result:
    * every partition writes its own single-sheet workbook shard with the
    * shared header, executor-locally, and only the shard paths return to
    * the driver. Pair with `repartitionByRange` upstream when shard order
    * must follow a sort key. Each shard stays under Excel's own
    * [[MaxRows]].
    */
  def writeSharded(df: DataFrame, dir: String,
                   sheet: String = "Data"): Seq[String] = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    val header = df.columns.toSeq
    df.rdd.mapPartitionsWithIndex { (i, it) =>
      if (it.isEmpty) Iterator.empty
      else {
        val rows = it.map(_.toSeq).toVector
        require(rows.length + 1 <= MaxRows,
          s"shard $i exceeds $MaxRows rows; repartition finer")
        val path = s"$dir/part-${"%05d".format(i)}.xlsx"
        writeParts(path, Seq((sheet, header, () => rows.iterator)))
        Iterator.single(path)
      }
    }.collect().toSeq.sorted
  }

  /** Merge [[writeSharded]] shards back into ONE workbook — the
    * post-export step when a single deliverable file is required after an
    * executor-side sharded write. Shard rows stream through the writer's
    * iterator thunk, so driver peak memory is one parsed shard (each
    * already bounded by [[MaxRows]]), never the union; the writer's own
    * capacity guard still enforces Excel's sheet limit on the merged
    * total. The first shard's header row is kept; later shards' header
    * rows are dropped ([[writeSharded]] stamps every shard with the same
    * header). Shards merge in the order given — pass [[writeSharded]]'s
    * returned (sorted) paths to preserve partition order.
    *
    * A shard missing the wanted sheet (or its header) fails the merge
    * loudly — unlike [[readSheetAcrossWorkbooks]]'s deliberate leniency,
    * a merge that silently dropped a shard's rows would hand back a
    * short deliverable with no signal. Cell typing: [[read]] surfaces
    * every cell as a raw string (the module-wide contract), so merged
    * cells re-encode as string-typed — identical values, but numeric
    * cells from the shards become text cells in the merged file; run
    * the export's own typed write instead if Excel-native numeric cells
    * matter downstream.
    */
  def mergeShards(shardPaths: Seq[String], outPath: String,
                  sheet: String = "Data"): Unit = {
    require(shardPaths.nonEmpty, "no shards to merge")
    def sheetRows(p: String): Vector[Vector[String]] = {
      val rows = read(p, wanted = Some(sheet)).headOption.map(_._2)
        .getOrElse(Vector.empty)
      require(rows.nonEmpty,
        s"shard $p has no '$sheet' sheet (or it is empty) — refusing to " +
          "merge a short deliverable")
      rows
    }
    val header = sheetRows(shardPaths.head).head
    writeParts(outPath, Seq((sheet, header,
      () => shardPaths.iterator.flatMap(p => sheetRows(p).drop(1)))))
  }

  private def writeParts(path: String,
      sheets: Seq[(String, Seq[String], () => Iterator[Seq[Any]])]): Unit = {
    val out = new ZipOutputStream(new FileOutputStream(path))
    try {
      def put(name: String, content: String): Unit = {
        out.putNextEntry(new ZipEntry(name))
        out.write(content.getBytes(StandardCharsets.UTF_8))
        out.closeEntry()
      }
      val n = sheets.length
      put("[Content_Types].xml",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
        """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
        """<Default Extension="xml" ContentType="application/xml"/>""" +
        """<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>""" +
        (1 to n).map(i =>
          s"""<Override PartName="/xl/worksheets/sheet$i.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>"""
        ).mkString + "</Types>")
      put("_rels/.rels",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
        """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>""" +
        "</Relationships>")
      put("xl/workbook.xml",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets>""" +
        sheets.zipWithIndex.map { case ((name, _, _), i) =>
          s"""<sheet name="${escape(name)}" sheetId="${i + 1}" r:id="rId${i + 1}"/>"""
        }.mkString + "</sheets></workbook>")
      put("xl/_rels/workbook.xml.rels",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
        (1 to n).map(i =>
          s"""<Relationship Id="rId$i" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet$i.xml"/>"""
        ).mkString + "</Relationships>")

      // Sheet XML streams row-by-row straight into the zip entry (a
      // bounded per-row buffer, flushed per row) — the whole worksheet
      // is never resident, which is what lets mergeShards honestly claim
      // one-shard peak memory.
      sheets.zipWithIndex.foreach { case ((_, header, rows), i) =>
        out.putNextEntry(new ZipEntry(s"xl/worksheets/sheet${i + 1}.xml"))
        def emit(s: String): Unit = out.write(s.getBytes(StandardCharsets.UTF_8))
        emit("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""")
        emit("""<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""")
        val sb = new StringBuilder
        def rowXml(idx: Int, cells: Seq[Any]): Unit = {
          sb.setLength(0)
          sb.append(s"""<row r="${idx + 1}">""")
          cells.zipWithIndex.foreach { case (v, j) =>
            val ref = s"${colName(j)}${idx + 1}"
            v match {
              case null => ()
              case num @ (_: Int | _: Long | _: Double | _: Float |
                          _: Short | _: Byte | _: java.math.BigDecimal) =>
                sb.append(s"""<c r="$ref"><v>$num</v></c>""")
              case other =>
                sb.append(s"""<c r="$ref" t="inlineStr"><is><t xml:space="preserve">${escape(other.toString)}</t></is></c>""")
            }
          }
          sb.append("</row>")
          emit(sb.toString)
        }
        rowXml(0, header)
        var k = 0
        rows().foreach { r =>
          k += 1
          require(k + 1 <= MaxRows,
            s"sheet ${i + 1} exceeds $MaxRows rows; shard sheets instead")
          rowXml(k, r)
        }
        emit("</sheetData></worksheet>")
        out.closeEntry()
      }
    } finally out.close()
  }

  // ---- XML parsing ------------------------------------------------------

  private def reader(bytes: Array[Byte]) = {
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    f.createXMLStreamReader(new java.io.ByteArrayInputStream(bytes))
  }

  /** sharedStrings.xml: each &lt;si&gt; contributes the concatenation of
    * its &lt;t&gt; runs (plain + rich text).
    */
  private def parseSharedStrings(bytes: Array[Byte]): Vector[String] = {
    val r = reader(bytes)
    val out = Vector.newBuilder[String]
    var cur: StringBuilder = null
    var inT = false
    while (r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          r.getLocalName match {
            case "si" => cur = new StringBuilder
            case "t" if cur != null => inT = true
            case _ => ()
          }
        case XMLStreamConstants.CHARACTERS if inT =>
          cur.append(r.getText)
        case XMLStreamConstants.END_ELEMENT =>
          r.getLocalName match {
            case "t" => inT = false
            case "si" => out += cur.toString; cur = null
            case _ => ()
          }
        case _ => ()
      }
    }
    r.close()
    out.result()
  }

  private def parseRels(bytes: Array[Byte]): Map[String, String] = {
    val r = reader(bytes)
    val out = Map.newBuilder[String, String]
    while (r.hasNext) {
      if (r.next() == XMLStreamConstants.START_ELEMENT &&
          r.getLocalName == "Relationship")
        out += (r.getAttributeValue(null, "Id") ->
                r.getAttributeValue(null, "Target"))
    }
    r.close()
    out.result()
  }

  /** workbook.xml: (sheet name, r:id) in document order. */
  private def parseWorkbook(bytes: Array[Byte]): Vector[(String, String)] = {
    val r = reader(bytes)
    val out = Vector.newBuilder[(String, String)]
    while (r.hasNext) {
      if (r.next() == XMLStreamConstants.START_ELEMENT &&
          r.getLocalName == "sheet") {
        val name = r.getAttributeValue(null, "name")
        var rid: String = null
        var i = 0
        while (i < r.getAttributeCount) {
          if (r.getAttributeLocalName(i) == "id") rid = r.getAttributeValue(i)
          i += 1
        }
        out += (name -> rid)
      }
    }
    r.close()
    out.result()
  }

  /** One worksheet: dense rows (empty rows preserved as empty vectors,
    * like pandas' used-range read); cells placed by their `r` reference.
    */
  private def parseSheet(bytes: Array[Byte],
                         shared: Vector[String]): Vector[Vector[String]] = {
    val r = reader(bytes)
    val rows = mutable.Map[Int, mutable.Map[Int, String]]()
    var maxRow = -1
    var curRow = -1
    var curCol = -1
    var cellType: String = null
    var inV = false
    var inIsT = false
    val text = new StringBuilder
    // Inline strings (<is>) may carry multiple rich-text runs
    // (<r><t>..</t></r>…): runs accumulate here and the cell is set once
    // at </c>, mirroring parseSharedStrings' run concatenation.
    val inlineBuf = new StringBuilder
    var sawInline = false
    while (r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          r.getLocalName match {
            case "row" =>
              curRow = Option(r.getAttributeValue(null, "r"))
                .map(_.toInt - 1).getOrElse(curRow + 1)
              maxRow = math.max(maxRow, curRow)
              curCol = -1   // unreferenced cells restart at column 0 per row
            case "c" =>
              val ref = r.getAttributeValue(null, "r")
              curCol = if (ref != null) colIndex(ref) else curCol + 1
              cellType = r.getAttributeValue(null, "t")
              inlineBuf.setLength(0)
              sawInline = false
            case "v" => inV = true; text.setLength(0)
            case "t" => inIsT = true; text.setLength(0)
            case _ => ()
          }
        case XMLStreamConstants.CHARACTERS if inV || inIsT =>
          text.append(r.getText)
        case XMLStreamConstants.END_ELEMENT =>
          r.getLocalName match {
            case "v" =>
              inV = false
              val raw = text.toString
              val value = cellType match {
                case "s" => shared.lift(raw.trim.toInt).orNull
                case "b" => if (raw.trim == "1") "True" else "False"
                case _ => raw
              }
              setCell(rows, curRow, curCol, value)
            case "t" if inIsT =>
              inIsT = false
              if (cellType == "inlineStr") {
                inlineBuf.append(text)
                sawInline = true
              }
            case "c" =>
              if (sawInline)
                setCell(rows, curRow, curCol, inlineBuf.toString)
            case _ => ()
          }
        case _ => ()
      }
    }
    r.close()
    val width = rows.values.flatMap(_.keys).maxOption.map(_ + 1).getOrElse(0)
    (0 to maxRow).map { i =>
      val m = rows.getOrElse(i, mutable.Map.empty)
      (0 until width).map(j => m.getOrElse(j, null)).toVector
    }.toVector
  }

  private def setCell(rows: mutable.Map[Int, mutable.Map[Int, String]],
                      row: Int, colIdx: Int, v: String): Unit =
    rows.getOrElseUpdate(row, mutable.Map.empty)(colIdx) = v

  /** "BC12" → 0-based column index 54. */
  private def colIndex(ref: String): Int = {
    var acc = 0
    var i = 0
    while (i < ref.length && ref.charAt(i).isLetter) {
      acc = acc * 26 + (ref.charAt(i).toUpper - 'A' + 1)
      i += 1
    }
    acc - 1
  }

  /** 0-based column index → "A".."Z","AA".. */
  private def colName(idx: Int): String = {
    var i = idx + 1
    val sb = new StringBuilder
    while (i > 0) {
      val rem = (i - 1) % 26
      sb.insert(0, ('A' + rem).toChar)
      i = (i - 1) / 26
    }
    sb.toString
  }

  private def escape(s: String): String =
    s.flatMap {
      case '&' => "&amp;"
      case '<' => "&lt;"
      case '>' => "&gt;"
      case '"' => "&quot;"
      case c => c.toString
    }
}
