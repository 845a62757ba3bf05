package graft

import java.nio.file.{Files, Paths}
import java.time.LocalDateTime

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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

  /** Run one workbook as a micro-batch against persistent state.
    *
    * @param timestamp one ISO timestamp per batch (app.py:78 — computed
    *                  once, shared by all change rows; F9)
    */
  def runBatch(workbookPath: String,
               timestamp: String = LocalDateTime.now().toString)
      : BatchResult = {
    val filename = Paths.get(workbookPath).getFileName.toString
    require(allowedFile(filename), s"not an xlsx: $filename")

    // The workbook is parsed on the driver (bounded by Xlsx.MaxRows), so
    // the sheet row counts and the header promotion read the held rows
    // instead of running jobs over them.
    val sheets = Xlsx.read(workbookPath).toMap
    require(RequiredSheets.subsetOf(sheets.keySet),          // S2
      "File must contain Transactions, Customers, and Products sheets.")
    val Seq(tx, cust, prod) =
      Seq("Transactions", "Customers", "Products").map(sheets)
    val (transactions, products) = (promoted(tx), promoted(prod))

    // P1-P9: skip header row, parse packed records, keep file order.
    val parsed = Relational.parseCustomers(
        Xlsx.toFrame(spark, cust).where(col("_row_idx") > 0), "_c0",
        passthrough = Seq("_row_idx"))
    // A5 + S6 + J3 + S7 + S8: per-sheet data row counts (minus header),
    // dense upload id, CDC capture + last-wins upsert.
    val Seq((uploadId, nChanges)) = store.applyUploads(
      Seq((filename, tx.length - 1L, cust.length - 1L, prod.length - 1L)),
      parsed.withColumn("_upload_seq", lit(0)), timestamp)
    renderBatch(parsed, transactions, products, uploadId, nChanges)
  }

  /** P10-P11 on a sheet's driver-held rows: the same relation as
    * `Relational.promoteHeader(Xlsx.toFrame(spark, rows))`, with the
    * names read from the first held row instead of by two jobs.
    */
  private def promoted(rows: Vector[Vector[String]]): DataFrame = {
    require(rows.nonEmpty, "sheet has no header row")
    val df = Xlsx.toFrame(spark, rows)
    df.where(col("_row_idx") > 0).select(
      df.columns.toSeq.tail.zipWithIndex.map { case (c, i) =>
        col(c).as(Relational.headerName(rows.head.lift(i).orNull, i))
      } :+ col("_row_idx"): _*)
  }

  /** The stateless tail of a micro-batch — joins, aggregates, ranked
    * outputs, xlsx export — for a file whose STATE effects (upload
    * metadata, CDC, upsert) were already applied, possibly as part of a
    * whole-micro-batch set-based application
    * ([[graft.state.StateStore.applyUploads]]).
    *
    * @param transactions header-promoted sheet carrying `_row_idx`
    * @param products header-promoted sheet carrying `_row_idx`
    */
  private[graft] def renderBatch(parsed: DataFrame, transactions: DataFrame,
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
