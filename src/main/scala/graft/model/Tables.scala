package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Table registry over the driver-provided parquet star schema
  * (`/root/testdata/sf*`; see TESTDATA.md) plus the engine's own state
  * tables (reference: SQLite DDL at /root/reference/app.py:20-52).
  *
  * Scale note: all reads are plain `spark.read.parquet` — Catalyst gets
  * full pushdown/pruning freedom; no rows are cached or collected here.
  * Only each table's schema is memoized, per session ([[parquet]]).
  */
object Tables {

  /** Star-schema + extension tables generated by the driver. */
  val testTables: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    parquet(spark, s"$sfDir/$name.parquet")

  /** Parquet schemas by (session, table path). Inferring a schema runs a
    * footer-reading Spark job on every read; with the schema handed back,
    * a read only lists the directory on the driver and runs no job.
    * Assumes the files under a path do not change within a session (as
    * the other per-session memos do); a new session infers again.
    */
  private[graft] val parquetSchemas = new graft.SessionMemo[StructType]()

  /** `spark.read.parquet(path)`, with the schema inferred by the first
    * read of `path` in this session and passed back on every later read:
    * the same relation with the same schema, so plans do not change. For
    * the input tables and the engine's own memoized temp tables; a path a
    * caller hands in (whose files may change) keeps plain inference.
    */
  private[graft] def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(parquetSchemas.get(spark, path)((s, p) =>
      s.read.parquet(p).schema)).parquet(path)

  // ---- Reference-shape state tables (app.py:20-52) -------------------------

  /** `customers` dimension: last-writer-wins upsert target (app.py:30-41). */
  val customersSchema: StructType = StructType(Seq(
    StructField("customer_id", StringType, nullable = false),
    StructField("name", StringType),
    StructField("email", StringType),
    StructField("dob", StringType),
    StructField("address", StringType),
    StructField("created_date", StringType),
    StructField("upload_id", LongType)))

  /** `address_changes` CDC log (app.py:42-52). */
  val addressChangesSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("customer_id", StringType),
    StructField("old_address", StringType),
    StructField("new_address", StringType),
    StructField("change_timestamp", StringType),
    StructField("upload_id", LongType)))

  /** Content-digest ingest ledger — NOT a reference table: the
    * reference re-processes a re-uploaded file unconditionally
    * (app.py:63-117, replay non-idempotence the golden tests preserve).
    * This ledger backs the OPPOSITE production contract,
    * [[graft.streaming.StreamingPipeline.workbookStreamIdempotent]]:
    * one row per distinct workbook CONTENT ever ingested, keyed by the
    * md5 of the file bytes, so a byte-identical re-upload (any path,
    * any name) is skipped set-based before it can touch state.
    */
  val uploadDigestsSchema: StructType = StructType(Seq(
    StructField("digest", StringType, nullable = false),
    StructField("upload_id", LongType),
    StructField("filename", StringType),
    StructField("timestamp", StringType)))

  /** `uploads` run-metadata table (app.py:20-29). */
  val uploadsSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("filename", StringType),
    StructField("timestamp", StringType),
    StructField("transactions_rows", LongType),
    StructField("customers_rows", LongType),
    StructField("products_rows", LongType)))
}
