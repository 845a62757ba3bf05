package graft.state

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.Tables
import graft.operators.EventOps

/** Persistent state for the micro-batch pipeline — the Spark-native
  * re-expression of the reference's SQLite layer
  * (/root/reference/app.py:20-52): `uploads` run metadata (S5/S6),
  * `customers` keyed upsert dimension (S7), `address_changes` CDC log
  * (S8), and the ordered audit scans (S10/S11).
  *
  * The reference's per-row `SELECT` + `INSERT OR REPLACE` loop
  * (app.py:110-123) is replaced by *set-based* plans with identical
  * semantics (SURVEY.md J3/S7): one J3 window
  * ([[graft.operators.EventOps.ChangeWindow]]) + one join per batch
  * instead of 2N point statements. [[applyUploads]] is the one write of
  * uploads, customers and address changes; [[recordUploadDigests]] is
  * the only other write.
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
    * address changes, upserts the customers and only then appends the N
    * upload rows. [[graft.Pipeline.runUploads]] calls it once per
    * micro-batch.
    *
    * The CDC is [[graft.operators.EventOps.ChangeWindow]] over one
    * window per customer in (file, row) order, against *mutating
    * intra-batch state*: file k's first occurrence of a customer lags to
    * file k−1's last one, exactly the state a sequential per-file
    * application would have seen, so the N-file application equals
    * applying the files one after another (StateStoreSpec asserts it).
    * A change row is emitted whenever the old address exists and
    * differs, so repeat uploads of a file with intra-batch duplicates
    * re-toggle addresses every time (4 changes then 8 per repeat on the
    * reference sample — deliberately non-idempotent, SURVEY.md §7.4.3).
    * The same window marks each customer's last occurrence (`lead IS
    * NULL`), the last-writer-wins upsert winner, which carries its own
    * file's upload id; each uploads row and change row carries its own
    * file's timestamp.
    *
    * That window frame is the only batch-sized materialization: it is
    * persisted for the call, and the change count, the change append
    * and the upsert all read it. Change ids stay dense in (file, row)
    * order. One query reads the current max upload id, max change id
    * and max change upload id.
    *
    * Because the upload rows commit last, a crash anywhere before them
    * leaves no upload row for the attempt, and the at-least-once replay
    * allocates the SAME ids again; the attempt's change rows are then
    * orphans (an upload id at or above the new ids) that the replay
    * removes before appending its own instead of double-logging. A
    * crash after the customers swap but before the upload rows replays
    * against the upserted state; cross-table atomicity beyond this needs
    * a transactional table format (a [[StateBackend]] drop-in).
    *
    * @param files (filename, timestamp, txRows, custRows, prodRows) in
    *              file order
    * @param batch parsed customer rows carrying `_upload_seq` (0-based
    *              index into `files`) and `_row_idx`
    * @return (upload id, change-row count) per file, in file order
    */
  def applyUploads(files: Seq[(String, String, Long, Long, Long)],
                   batch: DataFrame): Seq[(Long, Long)] = {
    require(files.nonEmpty, "applyUploads: no files")
    val noId = lit(null).cast("long")
    val maxes = uploads.select(col("id").as("u"), noId.as("c"), noId.as("cu"))
      .unionByName(addressChanges.select(noId.as("u"), col("id").as("c"),
        col("upload_id").as("cu")))
      .select(Seq("u", "c", "cu").map(c => coalesce(max(c), lit(0L))): _*)
      .head()
    val ids = files.indices.map(maxes.getLong(0) + _ + 1L)
    val maxChangeId =
      if (maxes.getLong(2) < ids.head) maxes.getLong(1)
      else {
        backend.rewrite("address_changes",
          addressChanges.where(col("upload_id") < ids.head))
        addressChanges.agg(coalesce(max("id"), lit(0L))).head().getLong(0)
      }

    def bySeq(values: Seq[Any]) =
      element_at(array(values.map(lit): _*), col("_upload_seq") + 1)
    val cdc = EventOps.ChangeWindow("customer_id", "address",
      Seq(col("_upload_seq"), col("_row_idx")))
    val occurrences = cdc.withOld(batch, customers)
      .withColumn("_last", lead("_row_idx", 1).over(cdc.spec).isNull)
      .withColumn("upload_id", bySeq(ids).cast("long"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val counts = try {
      // The change rows are a batch's trickle: as one partition, the
      // count and the file-order id window need no exchange.
      val changes = occurrences.where(cdc.changed).coalesce(1)
      val counts = changes.groupBy("upload_id").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      if (counts.nonEmpty)
        backend.append("address_changes", changes
          .withColumn("id", (lit(maxChangeId) + row_number().over(
            Window.orderBy("_upload_seq", "_row_idx"))).cast("long"))
          .select(col("id"), col("customer_id"),
            col("_old").as("old_address"), col("address").as("new_address"),
            bySeq(files.map(_._2)).as("change_timestamp"),
            col("upload_id")))

      val lastWins = occurrences.where(col("_last"))
        .select("customer_id", "name", "email", "dob", "address",
          "created_date", "upload_id")
      backend.rewrite("customers", customers
        .join(broadcast(lastWins.select("customer_id")), Seq("customer_id"),
          "left_anti")
        .unionByName(lastWins))
      counts
    } finally occurrences.unpersist(blocking = true)

    backend.append("uploads", spark.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(
        files.zip(ids).map { case ((fn, ts, t, c, p), id) =>
          Row(id, fn, ts, t, c, p) }).asJava,
      Tables.uploadsSchema))
    ids.map(id => id -> counts.getOrElse(id, 0L))
  }
}
