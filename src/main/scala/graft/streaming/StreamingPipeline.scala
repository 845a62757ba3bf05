package graft.streaming

import java.nio.file.{Files, Paths, StandardOpenOption}
import java.time.LocalDateTime

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types._

import graft.{ParsedUpload, Pipeline}

/** Streaming mode (SURVEY.md §2.8): the reference's upload loop *is* a
  * micro-batch stream — each workbook is one batch against persistent
  * state. Two streaming surfaces:
  *
  *  1. [[eventStream]]/[[windowedCounts]]: a real Structured Streaming
  *     source over event files with watermarked event-time tumbling
  *     windows — the incremental form of
  *     [[graft.operators.EventOps.tumblingCounts]] (same plan shape;
  *     state store bounded by the watermark).
  *  2. [[workbookStream]] / [[workbookStreamIdempotent]]: a file source
  *     over a landing directory of workbooks, with `foreachBatch`
  *     running each micro-batch's workbooks through ONE
  *     [[graft.Pipeline.runUploads]] — upsert + CDC exactly as in batch
  *     mode, one state application per micro-batch (state lives in
  *     parquet tables, queryable at rest, so `mapGroupsWithState` is
  *     deliberately not used — SURVEY.md §2.8).
  *     A workbook that fails its parse or sheet checks is logged and
  *     left out; the rest of the micro-batch lands and the stream keeps
  *     serving.
  */
object StreamingPipeline {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Files per micro-batch of the file-source streams: bounds what one
    * trigger reads (for the workbook streams, the parsed workbooks the
    * driver holds at once).
    */
  private val MaxFilesPerTrigger = 16

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** Unbounded event source: parquet files landing in `sourceDir`. */
  def eventStream(spark: SparkSession, sourceDir: String): DataFrame =
    spark.readStream
      .schema(eventSchema)
      .option("maxFilesPerTrigger", MaxFilesPerTrigger)
      .parquet(sourceDir)

  /** Watermarked tumbling-window aggregate — works on both streaming and
    * batch frames. Late events beyond `lateness` are dropped and window
    * state is evicted past the watermark, so state size is O(windows in
    * flight), not O(stream length).
    */
  def windowedCounts(events: DataFrame, width: String = "1 hour",
                     lateness: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), width), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           round(sum(col("value").cast("decimal(18,4)")), 2)
             .cast("double").as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
              col("n_events"), col("total_value"))

  /** Watermarked gap-based session windows via native `session_window` —
    * the incremental form of [[graft.operators.EventOps.sessionize]]
    * (same gap semantics): sessions merge as events arrive and emit once
    * the watermark passes session end + gap, so state is O(open
    * sessions), not O(stream length).
    */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes",
                    lateness: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"),
              col("session_window.end").as("session_end"),
              col("user_id"), col("n_events"))

  /** Watermarked stream-stream interval join — the two-unbounded-inputs
    * shape none of the other streaming operators cover: every `clicks`
    * event joins the same user's `views` events that happened within
    * `[view.ts, view.ts + within]` (click attribution). Both sides carry
    * a watermark and the join condition carries an explicit event-time
    * range, which is exactly what lets Spark bound the join state: a
    * buffered view row is evicted once the click-side watermark passes
    * `view.ts + within`, so state is O(events in the attribution window),
    * not O(stream length). Works identically on batch frames (the
    * equivalence StreamingSpec asserts).
    */
  def intervalJoin(views: DataFrame, clicks: DataFrame,
                   within: String = "1 hour",
                   lateness: String = "2 hours"): DataFrame = {
    val l = views.withWatermark("ts", lateness).alias("l")
    val r = clicks.withWatermark("ts", lateness).alias("r")
    l.join(r, expr(
        s"l.user_id = r.user_id AND r.ts >= l.ts AND " +
          s"r.ts <= l.ts + INTERVAL $within"))
      .select(col("l.event_id").as("view_id"),
        col("r.event_id").as("click_id"),
        col("l.user_id").as("user_id"),
        col("l.ts").as("view_ts"), col("r.ts").as("click_ts"))
  }

  /** Streaming exact dedup with *custom keyed state*
    * (`flatMapGroupsWithState`): the first document per content
    * fingerprint ever seen on the stream passes; every later copy — in
    * the same micro-batch or any future one — is dropped. State per key
    * is one boolean in the checkpointed state store, so memory is
    * O(distinct fingerprints), the canonical streaming-ingest dedup for
    * a training-data pipeline.
    *
    * Input must carry (doc_id, fingerprint) — see
    * [[graft.operators.TextOps.fingerprint]].
    */
  def streamingExactDedup(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // Null ids/fingerprints are dropped: a null key cannot dedup, and the
    // primitive Long decoder would otherwise kill the streaming query on
    // one bad record.
    val typed: Dataset[(Long, String)] = docs
      .select(col("doc_id").cast("long"), col("fingerprint").cast("string"))
      .where(col("doc_id").isNotNull && col("fingerprint").isNotNull)
      .as[(Long, String)]
    typed
      .groupByKey(_._2)
      .flatMapGroupsWithState[Boolean, (Long, String)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (fp: String, rows: Iterator[(Long, String)],
         state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            // min doc_id within the batch = deterministic representative
            Iterator(rows.minBy(_._1))
          }
      }
      .toDF("doc_id", "fingerprint")
  }

  /** Streaming incremental ingest dedup: the online form of
    * [[graft.operators.Scale.bloomIncrementalDedup]], composed with
    * [[streamingExactDedup]]. Each micro-batch is pre-screened
    * executor-side by the codegen'd bloom membership probe
    * ([[graft.functions.BloomMightContain]]) over the STATIC corpus
    * fingerprint index — built once here, before the streaming query
    * starts, the once-per-corpus-version job; probable hits are
    * re-checked with an exact stream-static anti-join, so a false
    * positive can never drop a genuinely-new doc; survivors then pass
    * through the keyed-state exact dedup so within-stream copies across
    * micro-batches are dropped too. Docs already in the corpus never
    * reach the state store, which is what keeps state O(new distinct
    * fingerprints) instead of O(all fingerprints ever streamed).
    *
    * Input must carry (doc_id, fingerprint); `corpusFps` a `fingerprint`
    * column.
    */
  def streamingCorpusDedup(stream: DataFrame, corpusFps: DataFrame,
                           expectedItems: Long = 1L << 20,
                           fpp: Double = 0.01): DataFrame = {
    val bf = corpusFps.stat.bloomFilter("fingerprint", expectedItems, fpp)
    // Null fingerprints route to the candidate path (coalesce), where the
    // anti-join keeps them — then streamingExactDedup drops them under
    // its null-key rule, matching the batch path's grouping of nulls.
    val maybeKnown = coalesce(
      graft.functions.BloomMightContain.mightContain(bf, col("fingerprint")),
      lit(true))
    val surelyNew = stream.where(!maybeKnown)
    val candidates = stream.where(maybeKnown)
      .join(corpusFps.select("fingerprint").distinct(),
        Seq("fingerprint"), "left_anti")
    streamingExactDedup(
      surelyNew.select("doc_id", "fingerprint")
        .unionByName(candidates.select("doc_id", "fingerprint")))
  }

  /** Incrementally maintained inverted index over a document stream: each
    * micro-batch's local index merges into a parquet-backed state index
    * via [[graft.operators.TextOps.invertedIndexMerge]] — the index of
    * everything streamed so far WITHOUT a rebuild (the mergeable-summary
    * law; batches of a file stream are disjoint document sets, which is
    * exactly the merge's precondition). The state swap is
    * write-stage-then-move so a crash mid-batch leaves the previous
    * index intact (the checkpoint then replays the batch). The spec
    * asserts the maintained index equals the one-shot batch index over
    * the full corpus after multiple batches.
    */
  def corpusIndexStream(spark: SparkSession, srcDir: String,
                        stateDir: String, maxPostings: Int = 5)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING").parquet(srcDir)
    stream.writeStream.outputMode("append")
      .option("checkpointLocation", s"$stateDir/ckpt")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], batchId: Long) =>
        mergeIndexBatch(spark, stateDir, batch.toDF(), batchId,
          maxPostings)
      }
      .start()
  }

  /** One micro-batch's index maintenance — exposed for direct testing of
    * the recovery/idempotence contract (the stream above is just this
    * per batch). Protocol:
    *  1. recover: a crash between the swap's two moves leaves `index`
    *     absent but `index_old` present — restore it (review: the
    *     original delete-then-move had a window that lost the whole
    *     accumulated index);
    *  2. skip replays: foreachBatch is at-least-once and the merge's
    *     disjointness precondition makes a double-apply double-count —
    *     a committed-batch marker INSIDE the index directory travels
    *     atomically with the data it describes, so an already-merged
    *     batch id is a no-op;
    *  3. swap: write staged index (+ marker), move `index` aside to
    *     `index_old`, move stage in, drop `index_old` — every
    *     intermediate state leaves a complete index recoverable.
    */
  private[graft] def mergeIndexBatch(spark: SparkSession,
                                         stateDir: String,
                                         batch: DataFrame,
                                         batchId: Long,
                                         maxPostings: Int): Unit = {
    import java.nio.file.{Files, Paths, Path}
    def rmTree(p: Path): Unit =
      if (Files.exists(p))
        Files.walk(p).sorted(java.util.Comparator.reverseOrder())
          .forEach(f => Files.delete(f))
    val idxPath = Paths.get(s"$stateDir/index")
    val oldPath = Paths.get(s"$stateDir/index_old")
    if (!Files.exists(idxPath) && Files.exists(oldPath))
      Files.move(oldPath, idxPath)
    rmTree(oldPath)
    val marker = idxPath.resolve("_COMMITTED_BATCH")
    val committed: Long =
      if (Files.exists(marker)) Files.readString(marker).trim.toLong
      else -1L
    if (batchId > committed) {
      val bidx =
        graft.operators.TextOps.invertedIndex(batch, maxPostings)
      val merged =
        if (Files.exists(idxPath))
          graft.operators.TextOps.invertedIndexMerge(
            spark.read.parquet(idxPath.toString), bidx, maxPostings)
        else bidx
      val stage = Paths.get(s"$stateDir/index_stage")
      rmTree(stage)
      merged.write.mode("overwrite").parquet(stage.toString)
      Files.writeString(stage.resolve("_COMMITTED_BATCH"),
        batchId.toString)
      if (Files.exists(idxPath)) Files.move(idxPath, oldPath)
      Files.move(stage, idxPath)
      rmTree(oldPath)
    }
  }

  /** Streaming NEAR-duplicate votes: the online form of
    * [[graft.operators.Dedup.simhashPairs]]' banded search. Each incoming
    * document gets a per-row 64-bit SimHash ([[graft.operators
    * .TextOps.simhash]] — a column expression, no aggregation, so it is
    * legal on an unbounded stream), banded into four 16-bit chunks; the
    * keyed state per (band, chunk) bucket is the set of full signatures
    * seen in that bucket. Output: FOUR vote rows per document —
    * `is_dup_vote` is true when the bucket already held a signature
    * within `maxHamming`. A document is a near-duplicate iff ANY of its
    * votes is true; that OR is a plain batch-local groupBy for the
    * consumer (each doc's four votes land in its own micro-batch), kept
    * out of this operator so the stateful stage remains single-op.
    *
    * Pigeonhole gives the same guarantee as the batch path: a pair
    * within Hamming ≤ 3 shares at least one intact 16-bit chunk, so its
    * later member always gets a true vote. State is O(bucket occupancy)
    * per key; intra-batch order is made deterministic by processing each
    * bucket's rows in doc_id order.
    *
    * `stateTtl` bounds the keyed state for a long-running deployment:
    * when set (e.g. `Some("24 hours")`), a bucket untouched for the TTL
    * is evicted via `GroupStateTimeout.ProcessingTimeTimeout`, so state
    * is O(buckets active within one TTL window) instead of growing with
    * the whole stream's signature population. The trade is explicit:
    * a duplicate arriving more than one TTL after its twin's bucket was
    * last touched is no longer flagged (the dedup horizon), and because
    * eviction keys off processing-time batch timestamps, a replay of the
    * same files on a different wall clock can evict at different batch
    * boundaries. The default (`None`, NoTimeout) keeps the exact
    * replay-deterministic contract the spec pins: output depends only on
    * the data and its batch partitioning, never on the clock.
    */
  def streamingSimhashVotes(docs: DataFrame, maxHamming: Int = 3,
                            stateTtl: Option[String] = None): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sig = docs
      .select(col("doc_id").cast("long"),
        graft.operators.TextOps.simhash(col("text")).as("sig"))
      .where(col("doc_id").isNotNull && col("sig").isNotNull)
    val banded = sig.select(col("doc_id"), col("sig"),
        explode(array((0 until 4).map(b =>
          concat_ws(":", lit(b),
            shiftright(col("sig"), 16 * b).bitwiseAND(0xFFFFL))): _*))
          .as("bucket"))
      .as[(Long, Long, String)]
    val timeoutConf = stateTtl match {
      case Some(_) => GroupStateTimeout.ProcessingTimeTimeout()
      case None    => GroupStateTimeout.NoTimeout()
    }
    banded
      .groupByKey(_._3)
      .flatMapGroupsWithState[Array[Long], (Long, Boolean)](
        OutputMode.Append(), timeoutConf) {
        (_: String, rows: Iterator[(Long, Long, String)],
         state: GroupState[Array[Long]]) =>
          if (state.hasTimedOut) {
            // TTL expired with no new rows for this bucket: evict. (A key
            // with data in the same batch is invoked with the data and
            // hasTimedOut=false, so an in-flight bucket is never dropped.)
            state.remove()
            Iterator.empty
          } else {
            // Buffer-backed: per-signature append is amortized O(1) (an
            // immutable :+ would copy the whole bucket per new signature).
            val seen = scala.collection.mutable.ArrayBuffer.from(
              state.getOption.getOrElse(Array.empty[Long]))
            val out = rows.toSeq.sortBy(_._1).map { case (id, s, _) =>
              val dup = seen.exists(p =>
                java.lang.Long.bitCount(p ^ s) <= maxHamming)
              if (!seen.contains(s)) seen += s
              (id, dup)
            }
            state.update(seen.toArray)
            // Sliding TTL: each touch re-arms the eviction clock.
            stateTtl.foreach(state.setTimeoutDuration)
            out.iterator
          }
      }
      .toDF("doc_id", "is_dup_vote")
  }

  /** The binaryFile landing scan of the file-landing streams: every file
    * under `landingDir` matching `glob` (S3 for workbooks — the glob is
    * case-insensitive like the batch path's extension check), at most
    * `maxFilesPerTrigger` files per micro-batch when given.
    */
  private def landedFiles(spark: SparkSession, landingDir: String,
                          glob: String, maxFilesPerTrigger: Option[Int])
      : DataFrame = {
    val reader = spark.readStream
      .format("binaryFile")
      .option("pathGlobFilter", glob)
      .schema(StructType(Seq(
        StructField("path", StringType),
        StructField("modificationTime", TimestampType),
        StructField("length", LongType),
        StructField("content", BinaryType))))
    maxFilesPerTrigger.fold(reader)(reader.option("maxFilesPerTrigger", _))
      .load(landingDir)
  }

  private def landedWorkbooks(spark: SparkSession, landingDir: String)
      : DataFrame =
    landedFiles(spark, landingDir, "*.[xX][lL][sS][xX]",
      Some(MaxFilesPerTrigger))

  /** The session a workbook micro-batch runs on: the stream's own clone
    * of the caller's session (`batch.sparkSession`), set to evaluate
    * expressions interpreted. With codegen, an upload plus its audit
    * read uses ~97 distinct generated classes, more than Spark's codegen
    * cache keeps (100 entries in 4 segments of ~25), so every warm
    * upload recompiled classes that an earlier upload had compiled: 114
    * compilations (87 distinct classes) per graftbench interactive
    * upload, 114 for the third upload of StreamingSpec's
    * reference-shaped workbook. `NO_CODEGEN` also turns whole-stage
    * codegen off (`CollapseCodegenStages` checks the factory mode), so a
    * warm upload compiles none. A micro-batch's input is at most 16
    * driver-held workbooks of at most `Xlsx.MaxRows` rows per sheet; at
    * 50× graftbench's workbook (100k transactions, 20k customers, 4
    * cores) a warm upload was no slower interpreted (median 13.9 s
    * against 14.4 s with codegen, which still compiled ~105 classes per
    * upload), so no size switches back to codegen. The clone belongs to
    * the stream: the caller's session keeps its mode.
    */
  private def interpreted(batch: DataFrame): SparkSession = {
    val session = batch.sparkSession
    session.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    session
  }

  /** Parses and checks each landed workbook on the driver
    * ([[graft.Pipeline.parse]]), in the given order. A file that fails —
    * not a readable workbook, a required sheet or header row missing —
    * is logged with its reason and left out: the reference rejects that
    * one upload and keeps serving (app.py:68-71), where a throw out of
    * `foreachBatch` would end the query and fail every restart on the
    * same file.
    */
  private def parseLanded(pipeline: Pipeline, raws: Seq[String])
      : Seq[(String, ParsedUpload)] =
    raws.flatMap { raw =>
      Try(pipeline.parse(raw.stripPrefix("file:"))) match {
        case Success(book) => Some(raw -> book)
        case Failure(e) =>
          log.warn(s"rejected upload $raw: ${e.getMessage}")
          None
      }
    }

  /** The reference's upload flow as a stream: watch a landing directory
    * for workbooks (at most 16 per micro-batch), parse and check them
    * all, then run the good ones, in path order, through ONE
    * [[graft.Pipeline.runUploads]] — one state application for the whole
    * micro-batch, one export per file. Each file is stamped with its own
    * `LocalDateTime.now()`, taken in path order, so the audit order
    * `timestamp DESC, id DESC` stays id order.
    *
    * Each micro-batch runs interpreted on the stream's cloned session
    * ([[interpreted]]): with codegen a warm upload recompiled ~114
    * generated classes that Spark's 100-entry codegen cache had already
    * evicted; interpreted it compiles none. Direct
    * [[graft.Pipeline]] callers keep their own session's mode.
    *
    * Delivery: `foreachBatch` is at-least-once (a failed micro-batch
    * replays whole), and an upload is deliberately non-idempotent
    * (reference semantics), so a path ledger records every file the
    * stream has taken, landed or rejected, in ONE append right after the
    * micro-batch's state application commits and before its renders. A
    * replayed batch skips the recorded files; a crash double-applies
    * state only between the uploads append and the ledger append, and a
    * crash during rendering loses that micro-batch's exports (the
    * reference's DB writes, app.py:109-123, also precede its export,
    * app.py:155-167).
    * The ledger lives INSIDE the checkpoint directory, sharing its
    * lifecycle: deleting the checkpoint to reprocess the landing dir
    * resets the ledger with it. Workbooks must land by atomic rename: a
    * file is read as soon as it is listed, and a half-written one is
    * rejected like any malformed workbook.
    */
  def workbookStream(spark: SparkSession, landingDir: String,
                     stateDir: String, processedDir: String,
                     checkpointDir: String,
                     shardThreshold: Long =
                       graft.sources.Xlsx.DefaultShardThreshold)
      : StreamingQuery =
    landedWorkbooks(spark, landingDir).select("path").writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val pipeline = new Pipeline(interpreted(batch), stateDir,
          processedDir, shardThreshold)
        val ledger = Paths.get(checkpointDir, "processed_paths.txt")
        val done: Set[String] =
          if (Files.exists(ledger)) Files.readAllLines(ledger).asScala.toSet
          else Set.empty
        // Path order, sorted on the driver: the listing is one
        // micro-batch's file names, so a distributed sort only adds jobs.
        val raws = batch.select("path").collect().map(_.getString(0))
          .sorted.filterNot(done).toSeq
        def record(paths: Seq[String]): Unit =
          if (paths.nonEmpty)
            Files.writeString(ledger, paths.map(_ + "\n").mkString,
              StandardOpenOption.CREATE, StandardOpenOption.APPEND)
        val books = parseLanded(pipeline, raws).map(_._2)
        if (books.isEmpty) record(raws)  // all rejected: no state to apply
        else pipeline.runUploads(books,
          books.map(_ => LocalDateTime.now().toString), _ => record(raws))
        ()
      }
      .start()

  /** Idempotent re-ingest twin of [[workbookStream]] — the production
    * landing contract the reference deliberately lacks. The reference
    * re-processes a re-uploaded workbook unconditionally (its replay
    * non-idempotence is load-bearing and preserved by the golden
    * pipeline tests); a production landing zone needs the opposite:
    * ingesting the SAME BYTES twice must be a no-op, whatever the file
    * is named and whichever micro-batch it arrives in.
    *
    * Mechanism: the md5 of each file's content is computed executor-side
    * from the binaryFile scan, the micro-batch's digests are anti-joined
    * set-based against the persistent `upload_digests` state ledger (the
    * S9 point-lookup→set-join rule applied to S6's metadata — the
    * incrementalDedup pattern on ingest), in-batch duplicates collapse
    * to their first path in path order, and the surviving files run
    * through ONE [[graft.Pipeline.runUploads]], as in [[workbookStream]].
    * Their digests are recorded in ONE append
    * ([[graft.state.StateStore.recordUploadDigests]]) right after the
    * state application commits and before the renders: a crash before it
    * replays the files (at-least-once into an idempotent gate) rather
    * than dropping them.
    * A survivor that fails its parse or sheet checks is logged and gets
    * no digest. A path ledger is unnecessary — a checkpoint-replayed
    * path carries identical bytes, so the digest gate subsumes it — and
    * a CHANGED file at a previously seen path correctly re-ingests (new
    * digest), which the path ledger got wrong.
    *
    * The driver collects only (path, digest) pairs for one micro-batch's
    * surviving files — the same bounded listing envelope as
    * [[workbookStream]]; content bytes stay executor-side.
    *
    * Like [[workbookStream]], each micro-batch runs interpreted on the
    * stream's cloned session ([[interpreted]]), so a warm upload compiles
    * no generated class instead of recompiling ~114.
    *
    * @param timestampFor upload timestamp per filename — injectable so
    *                     deterministic harnesses (the
    *                     `audit_ingest_idempotent` oracle) can replay
    *                     it; production default is wall-clock now.
    */
  def workbookStreamIdempotent(spark: SparkSession, landingDir: String,
                               stateDir: String, processedDir: String,
                               checkpointDir: String,
                               shardThreshold: Long =
                                 graft.sources.Xlsx.DefaultShardThreshold,
                               timestampFor: String => String = _ =>
                                 LocalDateTime.now().toString)
      : StreamingQuery =
    landedWorkbooks(spark, landingDir)
      .select(col("path"), md5(col("content")).as("digest"))
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val pipeline = new Pipeline(interpreted(batch), stateDir,
          processedDir, shardThreshold)
        val seenInBatch = scala.collection.mutable.HashSet.empty[String]
        val survivors = batch
          .join(pipeline.store.uploadDigests.select("digest"),
            Seq("digest"), "left_anti")
          .select("path", "digest")
          .collect() // bounded: one micro-batch's file listing
          .map(r => r.getString(0) -> r.getString(1))
          .sortBy(_._1)
          .filter { case (_, dg) => seenInBatch.add(dg) }
        val digestOf = survivors.toMap
        val books = parseLanded(pipeline, survivors.map(_._1).toSeq)
        if (books.nonEmpty) {
          val stamps = books.map { case (_, b) => timestampFor(b.filename) }
          pipeline.runUploads(books.map(_._2), stamps, ids =>
            pipeline.store.recordUploadDigests(
              books.lazyZip(stamps).lazyZip(ids).map {
                case ((raw, b), ts, id) => (digestOf(raw), id, b.filename, ts)
              }))
        }
        ()
      }
      .start()

  /** Digest-gated idempotent document landing — the JSONL/CSV twin of
    * [[workbookStreamIdempotent]] (VERDICT r10 item 5): a re-delivered
    * shard (same bytes, any name, any micro-batch) must be a no-op.
    * [[jsonlLandingStream]] alone is replay-safe only per batch-id; a
    * RE-DELIVERED shard arrives as a new file and double-ingests.
    *
    * Mechanism, shared with the workbook gate: the landing scan is
    * binaryFile → md5(content) executor-side; each micro-batch's
    * digests anti-join set-based against the persistent
    * `upload_digests` ledger (the same [[graft.state.StateStore]]
    * table); in-batch duplicates collapse to their first path in path
    * order; survivors are parsed with the explicit document schema and
    * split good/quarantine into per-batch dirs (overwrite — a replayed
    * batch rewrites only itself); digests are recorded AFTER the sink
    * writes commit, in ONE atomic ledger append for the whole batch
    * ([[graft.state.StateStore.recordUploadDigests]]), so a crash at
    * any point either replays the full shard set into the idempotent
    * gate (no digest committed) or skips it whole (all committed) —
    * never a partial record that would let the replayed overwrite drop
    * recorded files' documents.
    *
    * The driver collects only (path, digest) for one micro-batch's
    * surviving files — the bounded listing envelope; shard bytes stay
    * executor-side.
    *
    * @param format "jsonl" or "csv" — selects the parse and its
    *               corrupt-record surface (both schemas are the
    *               document table's).
    */
  def documentLandingStreamIdempotent(
      spark: SparkSession, landingDir: String, goodDir: String,
      quarantineDir: String, checkpointDir: String, ledgerDir: String,
      format: String = "jsonl",
      timestampFor: String => String = _ =>
        java.time.LocalDateTime.now().toString): StreamingQuery = {
    import graft.sources.{Csv, Jsonl}
    require(format == "jsonl" || format == "csv",
      s"unknown landing format: $format")
    val files = landedFiles(spark, landingDir,
        if (format == "jsonl") "*.jsonl" else "*.csv", None)
      .select(col("path"), md5(col("content")).as("digest"))
    files.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val store = new graft.state.StateStore(spark, ledgerDir)
        val fresh = batch
          .join(store.uploadDigests.select("digest"),
            Seq("digest"), "left_anti")
          .select("path", "digest").orderBy("path")
          .collect() // bounded: one micro-batch's file listing
        val seenInBatch = scala.collection.mutable.HashSet.empty[String]
        val survivors = fresh.filter(r => seenInBatch.add(r.getString(1)))
        if (survivors.nonEmpty) {
          val paths = survivors.map(_.getString(0)).toSeq
          val corrupt = if (format == "jsonl") Jsonl.CorruptCol
            else Csv.CorruptCol
          val reader = spark.read
            .schema(if (format == "jsonl") Jsonl.docSchema
              else Csv.docSchema)
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", corrupt)
          val landed = (if (format == "jsonl") reader.json(paths: _*)
            else reader.csv(paths: _*))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try {
            landed.where(col(corrupt).isNull)
              .select("doc_id", "lang", "n_chars", "source", "text")
              .write.mode("overwrite").parquet(s"$goodDir/batch_$batchId")
            landed.where(col(corrupt).isNotNull)
              .select(col(corrupt).as("value"))
              .write.mode("overwrite")
              .text(s"$quarantineDir/batch_$batchId")
          } finally landed.unpersist(blocking = false)
          // ONE atomic ledger append for the whole batch (not a
          // per-file loop): the good sink above overwrites
          // good/batch_<id> on replay, so a partially-recorded digest
          // set would skip the recorded files and rewrite the batch dir
          // without their documents. All-or-nothing keeps at-least-once.
          store.recordUploadDigests(survivors.toSeq.map { r =>
            val fn = java.nio.file.Paths.get(
              r.getString(0).stripPrefix("file:")).getFileName.toString
            (r.getString(1), batchId, fn, timestampFor(fn))
          })
        }
      }
      .start()
  }

  /** Streaming JSONL landing with a dead-letter quarantine: an unbounded
    * file source over a landing directory of JSON-lines corpus files
    * ([[graft.sources.Jsonl]] — explicit schema, PERMISSIVE), split per
    * micro-batch into parsed documents (parquet, the corpus feed) and
    * quarantined raw lines (text — re-parseable after an upstream fix).
    * One source cannot drive two streaming sinks without re-reading it,
    * so the split is a `foreachBatch` with the batch cached across the
    * two writes.
    *
    * Replay safety: `foreachBatch` is at-least-once, so each batch
    * writes to its own `batch_<id>` subdirectory with `overwrite` — a
    * replayed batch overwrites its own output and nothing else (the
    * simpler cousin of [[mergeIndexBatch]]'s marker protocol; here
    * outputs are per-batch files, not a merged accumulator, so directory
    * identity alone gives idempotence). Consumers read
    * `goodDir/batch_*` as one partitioned dataset.
    *
    * Scale: the landing scan is line-splittable and schema-pinned (no
    * inference pass per batch); the split is two column-pruned
    * projections of one cached scan; quarantine volume is observable per
    * batch from the written text files — the streaming twin of
    * [[graft.sources.Jsonl.landingStats]]'s visibility contract.
    */
  def jsonlLandingStream(spark: SparkSession, landingDir: String,
                         goodDir: String, quarantineDir: String,
                         checkpointDir: String): StreamingQuery = {
    import graft.sources.Jsonl
    val stream = spark.readStream
      .schema(Jsonl.docSchema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", Jsonl.CorruptCol)
      .json(landingDir)
    stream.writeStream.outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row],
                       batchId: Long) =>
        val landed = batch.persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          landed.where(col(Jsonl.CorruptCol).isNull)
            .select("doc_id", "lang", "n_chars", "source", "text")
            .write.mode("overwrite").parquet(s"$goodDir/batch_$batchId")
          landed.where(col(Jsonl.CorruptCol).isNotNull)
            .select(col(Jsonl.CorruptCol).as("value"))
            .write.mode("overwrite").text(s"$quarantineDir/batch_$batchId")
        } finally landed.unpersist(blocking = false)
      }
      .start()
  }
}
