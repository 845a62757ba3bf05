package graft

import java.nio.file.{Files, Paths}
import java.time.LocalDateTime

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Relational
import graft.sources.Xlsx
import graft.state.StateStore

/** One micro-batch outcome (the reference's render/download payload,
  * /root/reference/app.py:169-174).
  */
case class BatchResult(
    uploadId: Long,
    summary: DataFrame,      // category_totals_summary: rank table
    topSpenders: DataFrame,  // one row per category
    merged: DataFrame,       // 14-column joined detail
    nested: DataFrame,       // per-customer category detail (A4)
    nChanges: Long)          // address-change rows captured this batch

/** One workbook parsed on the driver: its file name and the raw rows of
  * the three required sheets (header row first, null = empty cell).
  */
private[graft] final case class ParsedUpload(
    filename: String,
    transactions: Vector[Vector[String]],
    customers: Vector[Vector[String]],
    products: Vector[Vector[String]])

/** The end-to-end micro-batch pipeline — the Spark-native equivalent of
  * the reference's `upload_file` flow (/root/reference/app.py:58-182):
  * xlsx ingest → sheet validation → customer parse → CDC + upsert →
  * upload metadata → header promotion → joins → aggregates → ranked
  * outputs → 3-sheet xlsx export.
  *
  * This is the reference-parity path: amounts are float64 with banker's
  * rounding, duplicate customers inflate the m:m join, repeat uploads
  * re-toggle addresses — all deliberately preserved (SURVEY.md §7.4).
  * The GoldenPipelineSpec asserts the reference's golden values on its
  * own sample workbook.
  */
class Pipeline(spark: SparkSession, stateDir: String, processedDir: String,
               shardThreshold: Long = Xlsx.DefaultShardThreshold) {

  val store = new StateStore(spark, stateDir)
  Files.createDirectories(Paths.get(processedDir))

  val RequiredSheets = Set("Transactions", "Customers", "Products")

  /** S3: the reference accepts only .xlsx uploads (app.py:55-56). */
  def allowedFile(filename: String): Boolean =
    filename.toLowerCase.endsWith(".xlsx")

  /** Run one workbook as a micro-batch against persistent state: the
    * one-file case of [[runUploads]].
    *
    * @param timestamp the upload's ISO timestamp (app.py:78 — computed
    *                  once, shared by all its change rows; F9)
    */
  def runBatch(workbookPath: String,
               timestamp: String = LocalDateTime.now().toString)
      : BatchResult =
    runUploads(Seq(workbookPath), Seq(timestamp)).head

  /** The upload engine: N workbooks as one micro-batch against
    * persistent state, in the given order. Each workbook is parsed and
    * checked on the driver first (S2/S3 — a failure throws before any
    * state is touched), then ONE state application covers all N
    * ([[graft.state.StateStore.applyUploads]], equal to applying them
    * one after another), and each file renders its own export.
    *
    * @param timestamps one ISO timestamp per workbook, stamped on its
    *                   uploads row and its change rows (F9)
    */
  def runUploads(paths: Seq[String], timestamps: Seq[String])
      : Seq[BatchResult] =
    runUploads(paths.map(parse), timestamps, _ => ())

  /** S3 + S1 + S2 for one workbook, on the driver (bounded by
    * `Xlsx.MaxRows`): the parsed sheets the rest of the upload reads,
    * so row counts and header promotion run no jobs. Throws when the
    * file is not an xlsx, cannot be read, or lacks a required sheet or
    * a header row.
    */
  private[graft] def parse(path: String): ParsedUpload = {
    val filename = Paths.get(path).getFileName.toString
    require(allowedFile(filename), s"not an xlsx: $filename")
    val sheets = Xlsx.read(path).toMap
    require(RequiredSheets.subsetOf(sheets.keySet),          // S2
      "File must contain Transactions, Customers, and Products sheets.")
    val Seq(tx, cust, prod) =
      Seq("Transactions", "Customers", "Products").map(sheets)
    require(tx.nonEmpty && cust.nonEmpty && prod.nonEmpty,
      "Transactions, Customers and Products sheets need a header row.")
    ParsedUpload(filename, tx, cust, prod)
  }

  /** [[runUploads]] on workbooks already parsed by [[parse]] — the entry
    * of the landing streams, which parse first so that one bad file is
    * rejected alone. `applied` runs once the state application has
    * committed and before any render: the streams record their ledger
    * there, so a crash replays state only in that gap.
    */
  private[graft] def runUploads(books: Seq[ParsedUpload],
                                timestamps: Seq[String],
                                applied: Seq[Long] => Unit)
      : Seq[BatchResult] = {
    require(books.nonEmpty && books.size == timestamps.size,
      "one timestamp per workbook")
    // A5 + S6 + J3 + S7 + S8: per-sheet data row counts (minus header),
    // dense upload ids, CDC capture + last-wins upsert, for all files.
    val applications = store.applyUploads(
      books.zip(timestamps).map { case (b, ts) =>
        (b.filename, ts, b.transactions.length - 1L,
          b.customers.length - 1L, b.products.length - 1L) },
      parsedCustomers(customerLines(books), Seq("_upload_seq", "_row_idx")))
    applied(applications.map(_._1))
    books.lazyZip(applications).map { case (b, (uploadId, nChanges)) =>
      renderBatch(parsedCustomers(customerLines(Seq(b)), Seq("_row_idx")),
        promoted(b.transactions), promoted(b.products), uploadId, nChanges)
    }
  }

  /** P1-P9: skip each sheet's header row, parse the packed records, keep
    * file order.
    */
  private def parsedCustomers(lines: DataFrame, keep: Seq[String])
      : DataFrame =
    Relational.parseCustomers(lines.where(col("_row_idx") > 0), "_c0",
      passthrough = keep)

  /** Every workbook's Customers column as ONE local frame of
    * (`_upload_seq`, `_row_idx`, `_c0`), so the state plan has the same
    * shape for any number of files. The schema is fixed: a sheet whose
    * rows hold no cell still has a `_c0` column (all null).
    */
  private def customerLines(books: Seq[ParsedUpload]): DataFrame =
    spark.createDataFrame(
      books.zipWithIndex.flatMap { case (b, i) =>
        b.customers.zipWithIndex.map { case (r, idx) =>
          Row(i, idx.toLong, r.headOption.orNull) }
      }.asJava,
      StructType(Seq(StructField("_upload_seq", IntegerType, nullable = false),
        StructField("_row_idx", LongType, nullable = false),
        StructField("_c0", StringType))))

  /** P10-P11 on a sheet's driver-held rows: the first row names the
    * columns (lowercased; an empty cell gives `_c$i`), the rest are data.
    */
  private[graft] def promoted(rows: Vector[Vector[String]]): DataFrame = {
    val df = Xlsx.toFrame(spark, rows)
    df.where(col("_row_idx") > 0).select(
      df.columns.toSeq.tail.zipWithIndex.map { case (c, i) =>
        col(c).as(Relational.headerName(rows.head.lift(i).orNull, i))
      } :+ col("_row_idx"): _*)
  }

  /** The stateless tail of a micro-batch — joins, aggregates, ranked
    * outputs, xlsx export — for a file whose STATE effects (upload
    * metadata, CDC, upsert) were already applied by [[runUploads]].
    *
    * @param transactions header-promoted sheet carrying `_row_idx`
    * @param products header-promoted sheet carrying `_row_idx`
    */
  private def renderBatch(parsed: DataFrame, transactions: DataFrame,
                          products: DataFrame, uploadId: Long,
                          nChanges: Long): BatchResult = {
    // The batch's own (possibly duplicated) customer view joins the
    // analytics — not the deduped state table (app.py:132 uses the
    // parsed frame; SURVEY.md §7.4.2).
    val customersBatch = parsed.withColumnRenamed("_row_idx", "_cust_idx")

    // J1 + J2 + P12. Row order mirrors pandas merge output (left row
    // order, then right occurrence order) via the carried indices.
    val merged = Relational.castAmount(
        Relational.enrich(transactions.withColumnRenamed("_row_idx", "_tx_idx"),
          products.drop("_row_idx"), customersBatch))
      .orderBy("_tx_idx", "_cust_idx")
      .select("transaction_id", "customer_id", "transaction_date",
        "product_code", "amount", "payment_type", "product_name", "category",
        "unit_price", "name", "email", "dob", "address", "created_date")

    // A1 → A2/W1 + A3 + A4. The parity path uses the literal W1 window
    // form: its input is one row per customer (bounded by the workbook).
    // The scale path is the SparkEntry flagship default and is
    // equality-tested against this form in RelationalSpec.
    //
    // `merged` feeds the totals and the export, `categoryTotals` the
    // summary and top sheets, so both are cached — for this call only:
    // a long-lived ingestion service must not accumulate persisted
    // frames per batch, so both are released before returning, and
    // synchronously, so no block removal overlaps the next request. The
    // totals are one row per (customer, name, category), bounded by the
    // workbook, and the W1 window sorts them in one task anyway: cached
    // as one partition, the summary's and top sheet's exchanges become
    // local. The bounded summary and top sheets are collected once each
    // and returned as local frames; `merged` and `nested` re-derive
    // lazily when read after the call.
    val level = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    merged.persist(level)
    val categoryTotals =
      Relational.categoryTotals(merged).coalesce(1).persist(level)
    try {
      def collected(df: DataFrame): DataFrame =
        spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*),
          df.schema)
      val summary = collected(Relational.summaryRankedWindow(categoryTotals))
      val top = collected(
        Relational.topSpenders(categoryTotals).orderBy("category"))

      // S12: 3-sheet export, rows ordered as rendered (SURVEY.md §7.4.5).
      // Size-aware (SURVEY §7.4.8): the bounded summary/top sheets always
      // land in the single workbook; the input-sized MergedData sheet
      // switches to the executor-side sharded writer past shardThreshold
      // rows, so a large upload never collects its detail on the driver.
      Xlsx.writeAuto(s"$processedDir/processed_$uploadId.xlsx",
        Seq("CategoryTotalsSummary" -> summary, "TopSpenders" -> top),
        "MergedData" -> merged,
        shardThreshold)

      BatchResult(uploadId, summary, top, merged,
        Relational.nestDetails(categoryTotals), nChanges)
    } finally {
      merged.unpersist(blocking = true)
      categoryTotals.unpersist(blocking = true)
    }
  }
}
