package graft.state

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.Tables

/** Persistent state for the micro-batch pipeline — the Spark-native
  * re-expression of the reference's SQLite layer
  * (/root/reference/app.py:20-52): `uploads` run metadata (S5/S6),
  * `customers` keyed upsert dimension (S7), `address_changes` CDC log
  * (S8), and the ordered audit scans (S10/S11).
  *
  * The reference's per-row `SELECT` + `INSERT OR REPLACE` loop
  * (app.py:110-123) is replaced by *set-based* plans with identical
  * semantics (SURVEY.md J3/S7): one window + one join per batch instead
  * of 2N point statements.
  *
  * Storage goes through the pluggable [[StateBackend]] (default:
  * [[ParquetSwapBackend]] — write-to-temp + atomic directory swap). On
  * an object store / multi-writer deployment a transactional table
  * format's MERGE drops into that interface; the operator semantics
  * here do not change.
  *
  * Concurrency/scale notes:
  *  - upload ids and change ids are dense driver-side sequences — the
  *    reference's AUTOINCREMENT contract (app.py:89). Single-writer by
  *    design, exactly like the reference.
  */
class StateStore(spark: SparkSession, dir: String,
                 backend0: Option[StateBackend] = None) {

  private val root = Paths.get(dir)
  Files.createDirectories(root)
  private val backend: StateBackend =
    backend0.getOrElse(new ParquetSwapBackend(spark, root))
  backend.recoverAll()

  def customers: DataFrame =
    backend.read("customers", Tables.customersSchema)
  def uploads: DataFrame =
    backend.read("uploads", Tables.uploadsSchema)
  def addressChanges: DataFrame =
    backend.read("address_changes", Tables.addressChangesSchema)

  /** S10: uploads audit listing, newest first (app.py:193-197). */
  def uploadsOrdered: DataFrame =
    uploads.orderBy(desc("timestamp"), desc("id"))

  /** S11: address-change audit listing, newest first (app.py:199-203). */
  def addressChangesOrdered: DataFrame =
    addressChanges.orderBy(desc("change_timestamp"), desc("id"))

  /** S6: append upload metadata; returns the dense autoincrement id
    * (driver-side single-writer sequence — NOT
    * `monotonically_increasing_id`, which is neither dense nor stable).
    */
  def recordUpload(filename: String, timestamp: String, txRows: Long,
                   custRows: Long, prodRows: Long): Long =
    recordUploads(Seq((filename, timestamp, txRows, custRows, prodRows))).head

  /** S6 batched: append N upload rows in ONE write with dense ids in
    * sequence order — the multi-workbook form of [[recordUpload]].
    * [[applyUploads]] appends its own rows; this is the metadata-only
    * entry.
    *
    * @param metas (filename, timestamp, txRows, custRows, prodRows) in
    *              file order
    * @return the allocated dense ids, in the same order
    */
  def recordUploads(metas: Seq[(String, String, Long, Long, Long)])
      : Seq[Long] = {
    val base = uploads.agg(coalesce(max("id"), lit(0L))).head().getLong(0)
    val ids = metas.indices.map(base + _ + 1L)
    appendUploads(metas, ids)
    ids
  }

  private def appendUploads(metas: Seq[(String, String, Long, Long, Long)],
                            ids: Seq[Long]): Unit =
    if (metas.nonEmpty)
      backend.append("uploads", spark.createDataFrame(
        scala.jdk.CollectionConverters.SeqHasAsJava(
          metas.zip(ids).map { case ((fn, ts, t, c, p), id) =>
            Row(id, fn, ts, t, c, p) }).asJava,
        Tables.uploadsSchema))

  /** Content-digest ingest ledger (idempotent re-ingest twin — see
    * [[graft.model.Tables.uploadDigestsSchema]]).
    */
  def uploadDigests: DataFrame =
    backend.read("upload_digests", Tables.uploadDigestsSchema)

  /** Records a micro-batch's ingested content digests in ONE backend
    * append, AFTER the batch's state effects commit, so a crash between
    * the two replays the batch (at-least-once) rather than silently
    * dropping it. The single write is what makes the
    * digest-gated landing's at-least-once claim hold: the landing sink
    * overwrites its per-batch dir on replay, so a per-file digest loop
    * that crashes midway would anti-join out the recorded files on
    * replay and rewrite the batch dir WITHOUT their documents. With one
    * append the ledger update is all-or-nothing relative to the batch
    * replay — either no digest committed (full reprocess) or all (full
    * skip).
    *
    * @param entries (digest, uploadId, filename, timestamp) per file
    */
  def recordUploadDigests(
      entries: Seq[(String, Long, String, String)]): Unit = {
    if (entries.isEmpty) return
    val rows = entries.map { case (dg, id, fn, ts) => Row(dg, id, fn, ts) }
    // coalesce(1): the append must land as ONE part-file so the batch's
    // ledger update is a single rename at job commit — a multi-part
    // LocalRelation write commits file-by-file, and a crash mid-commit
    // would surface a PARTIAL digest set, reopening the replay window
    // this method exists to close (round-12 ADVICE). The frame is a
    // micro-batch's worth of 4-column rows; one partition is its
    // natural shape.
    backend.append("upload_digests", spark.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava,
      Tables.uploadDigestsSchema).coalesce(1))
  }

  /** One state application for N uploads (S6 + J3 + S7 + S8,
    * app.py:86-123): allocates the uploads' dense ids, captures their
    * address changes, upserts the customers and only then appends the
    * N upload rows. [[graft.Pipeline.runUploads]] calls it once per
    * micro-batch. Each file's uploads row and change rows carry that
    * file's own timestamp, so the N-file application equals applying
    * the files one after another.
    *
    * Because the upload rows commit last, a crash anywhere before them
    * leaves no upload row for the attempt, and the at-least-once replay
    * allocates the SAME ids again; the attempt's change rows are then
    * orphans (an upload id at or above the new ids) that the replay
    * absorbs instead of double-logging. A crash after the customers
    * swap but before the upload rows replays against the upserted
    * state; cross-table atomicity beyond this needs a transactional
    * table format (a [[StateBackend]] drop-in).
    *
    * @param files (filename, timestamp, txRows, custRows, prodRows) in
    *              file order
    * @param batch parsed customer rows carrying `_upload_seq` (0-based
    *              index into `files`) and `_row_idx`
    * @return (upload id, change-row count) per file, in file order
    */
  def applyUploads(files: Seq[(String, String, Long, Long, Long)],
                   batch: DataFrame): Seq[(Long, Long)] = {
    val (ids, changes) = applyBatch(batch, files.map(_._2),
      maxUpload => files.indices.map(maxUpload + _ + 1L))
    appendUploads(files, ids)
    ids.map(id => id -> changes(id))
  }

  /** J3 + S7 + S8 (app.py:110-123) for one file under a caller-allocated
    * upload id: the one-file case of [[applyCustomerBatchMulti]].
    *
    * @param batch parsed customer rows carrying `_row_idx` (file order)
    * @return number of change rows captured
    */
  def applyCustomerBatch(batch: DataFrame, timestamp: String,
                         uploadId: Long): Long =
    applyCustomerBatchMulti(batch.withColumn("_upload_seq", lit(0)),
      timestamp, Seq(uploadId))(uploadId)

  /** J3 + S7 + S8 for N files under caller-allocated upload ids (no
    * upload rows are written — see [[applyUploads]]).
    *
    * @param batch parsed customer rows carrying `_upload_seq` (0-based
    *              file index within the batch) and `_row_idx`
    * @param uploadIds upload id per `_upload_seq`, in file order
    * @return change-row count per upload id (0 for files with none)
    */
  def applyCustomerBatchMulti(batch: DataFrame, timestamp: String,
                              uploadIds: Seq[Long]): Map[Long, Long] =
    applyBatch(batch, uploadIds.map(_ => timestamp), _ => uploadIds)._2

  /** CDC against *mutating intra-batch state* plus last-writer-wins
    * upsert, set-based, across N files concatenated in file order.
    *
    * For the k-th occurrence of a customer in (file, row) order, the
    * "old" address is the (k-1)-th occurrence's address, or the stored
    * state for k=1 — `coalesce(lag(address), stored)` over one window
    * per customer. File k's first occurrence thus lags to file k−1's
    * last one, exactly the state a sequential per-file application
    * would have seen, so the N-file form equals folding the one-file
    * form over the files (StateStoreSpec asserts it). A change row is
    * emitted whenever old exists and differs, so repeat uploads of a
    * file with intra-batch duplicates re-toggle addresses every time (4
    * changes then 8 per repeat on the reference sample — deliberately
    * non-idempotent, SURVEY.md §7.4.3). The same window marks each
    * customer's last occurrence (`lead IS NULL`), the upsert winner,
    * which carries its own file's upload id; each change row carries
    * its own file's timestamp.
    *
    * That window frame is the only batch-sized materialization: it is
    * persisted for the call, and the change count, the change append
    * and the upsert all read it. Change ids stay dense in (file, row)
    * order. One query reads the current max upload id, max change id
    * and max change upload id; `uploadIdsFor` turns the first into the
    * batch's ids, and a change row at or above the lowest of them is an
    * orphan of a crashed attempt under the same ids (see
    * [[applyUploads]]), removed before the new rows are appended.
    *
    * @return the upload ids and the change-row count per upload id
    */
  private def applyBatch(batch: DataFrame, timestamps: Seq[String],
                         uploadIdsFor: Long => Seq[Long])
      : (Seq[Long], Map[Long, Long]) = {
    val noId = lit(null).cast("long")
    val maxes = uploads.select(col("id").as("u"), noId.as("c"), noId.as("cu"))
      .unionByName(addressChanges.select(noId.as("u"), col("id").as("c"),
        col("upload_id").as("cu")))
      .select(Seq("u", "c", "cu").map(c => coalesce(max(c), lit(0L))): _*)
      .head()
    val uploadIds = uploadIdsFor(maxes.getLong(0))
    require(uploadIds.nonEmpty && uploadIds.size == timestamps.size,
      "applyBatch: one timestamp per upload")
    val maxChangeId =
      if (maxes.getLong(2) < uploadIds.min) maxes.getLong(1)
      else {
        backend.rewrite("address_changes",
          addressChanges.where(col("upload_id") < uploadIds.min))
        addressChanges.agg(coalesce(max("id"), lit(0L))).head().getLong(0)
      }

    def bySeq(values: Seq[Any]) =
      element_at(array(values.map(lit): _*), col("_upload_seq") + 1)
    val occ = Window.partitionBy("customer_id")
      .orderBy("_upload_seq", "_row_idx")
    val stored = customers.select(col("customer_id"),
      col("address").as("_stored_address"))
    val occurrences = batch
      .join(stored, Seq("customer_id"), "left")
      .withColumn("_old",
        coalesce(lag("address", 1).over(occ), col("_stored_address")))
      .withColumn("_last", lead("_row_idx", 1).over(occ).isNull)
      .withColumn("upload_id", bySeq(uploadIds).cast("long"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // The change rows are a batch's trickle: as one partition, the
      // count and the file-order id window need no exchange.
      val changes = occurrences
        .where(col("_old").isNotNull && col("_old") =!= col("address"))
        .coalesce(1)
      val counts = changes.groupBy("upload_id").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      if (counts.nonEmpty)
        backend.append("address_changes", changes
          .withColumn("id", (lit(maxChangeId) + row_number().over(
            Window.orderBy("_upload_seq", "_row_idx"))).cast("long"))
          .select(col("id"), col("customer_id"),
            col("_old").as("old_address"), col("address").as("new_address"),
            bySeq(timestamps).as("change_timestamp"), col("upload_id")))

      val lastWins = occurrences.where(col("_last"))
        .select("customer_id", "name", "email", "dob", "address",
          "created_date", "upload_id")
      backend.rewrite("customers", customers
        .join(broadcast(lastWins.select("customer_id")), Seq("customer_id"),
          "left_anti")
        .unionByName(lastWins))
      (uploadIds, uploadIds.map(id => id -> counts.getOrElse(id, 0L)).toMap)
    } finally occurrences.unpersist(blocking = true)
  }
}
