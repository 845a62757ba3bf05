package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types._

import graft.Pipeline

/** Streaming mode (SURVEY.md §2.8): the reference's upload loop *is* a
  * micro-batch stream — each workbook is one batch against persistent
  * state. Two streaming surfaces:
  *
  *  1. [[eventStream]]/[[windowedCounts]]: a real Structured Streaming
  *     source over event files with watermarked event-time tumbling
  *     windows — the incremental form of
  *     [[graft.operators.EventOps.tumblingCounts]] (same plan shape;
  *     state store bounded by the watermark).
  *  2. [[workbookStream]]: a file source over a landing directory of
  *     workbooks, with `foreachBatch` driving the stateful
  *     [[graft.Pipeline]] per file — upsert + CDC exactly as in batch
  *     mode (state lives in parquet tables, queryable at rest, so
  *     `mapGroupsWithState` is deliberately not used — SURVEY.md §2.8).
  */
object StreamingPipeline {

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** Unbounded event source: parquet files landing in `sourceDir`. */
  def eventStream(spark: SparkSession, sourceDir: String): DataFrame =
    spark.readStream
      .schema(eventSchema)
      .option("maxFilesPerTrigger", 16)   // bounded per micro-batch
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

  // The former two-pass width probe (a separate distributed parse per
  // (path × sheet) before the real scan) is gone: widths now derive
  // inside [[graft.sources.Xlsx.readSheetAcrossWorkbooksAuto]] from the
  // same cached parse the scan projects, keeping the ADVICE-r7
  // every-workbook-widens guarantee at half the parse cost.

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

  /** The reference's upload flow as a stream: watch a landing directory
    * for workbooks, run each through the stateful batch pipeline.
    *
    * Delivery: `foreachBatch` is at-least-once (a failed micro-batch
    * replays whole), and runBatch is deliberately non-idempotent
    * (reference semantics) — so a per-file ledger narrows any replay to
    * the single file that was in flight at the crash: completed files
    * are skipped on the retried batch. The ledger lives INSIDE the
    * checkpoint directory, sharing its lifecycle: deleting the
    * checkpoint to reprocess the landing dir resets the ledger with it.
    * The glob is case-insensitive like the batch path's extension check.
    */
  def workbookStream(spark: SparkSession, landingDir: String,
                     stateDir: String, processedDir: String,
                     checkpointDir: String,
                     shardThreshold: Long =
                       graft.sources.Xlsx.DefaultShardThreshold)
      : StreamingQuery = {
    val files = spark.readStream
      .format("binaryFile")
      .option("pathGlobFilter", "*.[xX][lL][sS][xX]")  // S3: ext filter
      .schema(StructType(Seq(
        StructField("path", StringType),
        StructField("modificationTime", TimestampType),
        StructField("length", LongType),
        StructField("content", BinaryType))))
      .load(landingDir)
      .select("path", "modificationTime")
    files.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val pipeline =
          new Pipeline(spark, stateDir, processedDir, shardThreshold)
        val ledger =
          java.nio.file.Paths.get(checkpointDir, "processed_paths.txt")
        val done: Set[String] =
          if (java.nio.file.Files.exists(ledger))
            scala.jdk.CollectionConverters.ListHasAsScala(
              java.nio.file.Files.readAllLines(ledger)).asScala.toSet
          else Set.empty
        // Path order, sorted on the driver: the listing is one
        // micro-batch's file names, so a distributed sort only adds jobs.
        val raws = batch.select("path").collect().map(_.getString(0)).sorted
        raws.foreach { raw =>
          if (!done.contains(raw)) {
            pipeline.runBatch(raw.stripPrefix("file:"))
            java.nio.file.Files.writeString(ledger, raw + "\n",
              java.nio.file.StandardOpenOption.CREATE,
              java.nio.file.StandardOpenOption.APPEND)
          }
        }
      }
      .start()
  }

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
    * to their first path in path order, and only surviving files run the
    * batch pipeline. Each survivor's digest is recorded AFTER its state
    * effects commit: a crash between the two replays the file
    * (at-least-once into an idempotent gate) rather than dropping it.
    * A path ledger is unnecessary — a checkpoint-replayed path carries
    * identical bytes, so the digest gate subsumes it — and a CHANGED
    * file at a previously seen path correctly re-ingests (new digest),
    * which the path ledger got wrong.
    *
    * The driver collects only (path, digest) pairs for one micro-batch's
    * surviving files — the same bounded listing envelope as
    * [[workbookStream]]; content bytes stay executor-side.
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
                                 java.time.LocalDateTime.now().toString)
      : StreamingQuery = {
    val files = spark.readStream
      .format("binaryFile")
      .option("pathGlobFilter", "*.[xX][lL][sS][xX]")  // S3: ext filter
      .schema(StructType(Seq(
        StructField("path", StringType),
        StructField("modificationTime", TimestampType),
        StructField("length", LongType),
        StructField("content", BinaryType))))
      .load(landingDir)
      .select(col("path"), md5(col("content")).as("digest"))
    files.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val pipeline =
          new Pipeline(spark, stateDir, processedDir, shardThreshold)
        val fresh = batch
          .join(pipeline.store.uploadDigests.select("digest"),
            Seq("digest"), "left_anti")
          .select("path", "digest").orderBy("path")
          .collect() // bounded: one micro-batch's file listing
        val seenInBatch = scala.collection.mutable.HashSet.empty[String]
        fresh.foreach { r =>
          val (raw, dg) = (r.getString(0), r.getString(1))
          if (seenInBatch.add(dg)) {
            val fn = java.nio.file.Paths.get(
              raw.stripPrefix("file:")).getFileName.toString
            val ts = timestampFor(fn)
            val res = pipeline.runBatch(raw.stripPrefix("file:"), ts)
            pipeline.store.recordUploadDigest(dg, res.uploadId, fn, ts)
          }
        }
      }
      .start()
  }

  /** The fully set-based landing stream: ONE distributed parse per sheet
    * across the micro-batch's workbooks (executors parse workbooks in
    * parallel, `_source` carries provenance) **and ONE state application
    * per micro-batch** — the CDC lag-chain ordered by (file, row) across
    * the whole batch, one customers swap, then upload metadata for all N
    * files appended in one write
    * ([[graft.state.StateStore.applyUploads]], provably equivalent to
    * the sequential per-file fold). The remaining per-file work is the
    * stateless render/export tail, which reads only its own file's rows.
    * This removes the N-swap serialization of the per-file
    * [[workbookStream]] (Bench reports both).
    *
    * Semantics deltas vs the sequential forms, both inherent to batch
    * application and documented here as the contract:
    *  - all files in a micro-batch share one batch timestamp (the
    *    reference stamps per upload; change ordering is still total via
    *    dense ids);
    *  - S2 validation is up-front for the whole batch: one malformed
    *    workbook fails the micro-batch before ANY state is touched
    *    (the sequential form would commit the files sorted before it).
    *    At-least-once replay then retries the whole batch.
    *
    * Width safety (ADVICE r7): sheet widths derive from EVERY workbook
    * in the batch — the one-pass
    * [[graft.sources.Xlsx.readSheetAcrossWorkbooksAuto]] scan takes the
    * max cell count over the same cached parse it projects, so a later,
    * wider workbook widens the scan by construction.
    */
  def workbookStreamSetBased(spark: SparkSession, landingDir: String,
                             stateDir: String, processedDir: String,
                             checkpointDir: String,
                             shardThreshold: Long =
                               graft.sources.Xlsx.DefaultShardThreshold)
      : StreamingQuery = {
    val files = spark.readStream
      .format("binaryFile")
      .option("pathGlobFilter", "*.[xX][lL][sS][xX]")
      .schema(StructType(Seq(
        StructField("path", StringType),
        StructField("modificationTime", TimestampType),
        StructField("length", LongType),
        StructField("content", BinaryType))))
      .load(landingDir)
      .select("path", "modificationTime")
    val sheetsWanted = Seq("Transactions", "Customers", "Products")
    files.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val pipeline =
          new Pipeline(spark, stateDir, processedDir, shardThreshold)
        val ledger =
          java.nio.file.Paths.get(checkpointDir, "processed_paths.txt")
        val done: Set[String] =
          if (java.nio.file.Files.exists(ledger))
            scala.jdk.CollectionConverters.ListHasAsScala(
              java.nio.file.Files.readAllLines(ledger)).asScala.toSet
          else Set.empty
        val raws = batch.select("path").collect().map(_.getString(0))
          .sorted.filterNot(done.contains)
        if (raws.nonEmpty) {
          val paths = raws.map(_.stripPrefix("file:")).toSeq
          // ONE distributed scan per sheet; widths derive from the same
          // parsed rows (ADVICE r7 guarantee without a second parse).
          val parsedAuto = sheetsWanted.map { s =>
            s -> graft.sources.Xlsx
              .readSheetAcrossWorkbooksAuto(spark, paths, s)
          }.toMap
          val parsed = parsedAuto.view.mapValues(_._1).toMap
          try {
            // Per-file data row counts (incl. header) from the shared
            // parse — one aggregate per sheet for the whole batch.
            val counts: Map[String, Map[String, Long]] =
              sheetsWanted.map { s =>
                s -> parsed(s).groupBy("_source").count().collect()
                  .map(r => r.getString(0) -> r.getLong(1)).toMap
              }.toMap
            // S2 up-front for every file: state stays untouched if any
            // workbook is malformed.
            for (p <- paths; s <- sheetsWanted)
              require(counts(s).getOrElse(p, 0L) > 0,
                s"File must contain Transactions, Customers, and " +
                  s"Products sheets. ($p: $s missing or empty)")
            val timestamp = java.time.LocalDateTime.now().toString
            val metas = paths.map { p =>
              (java.nio.file.Paths.get(p).getFileName.toString,
                counts("Transactions")(p) - 1, counts("Customers")(p) - 1,
                counts("Products")(p) - 1)
            }
            val seqDf = broadcast(spark.createDataFrame(
              scala.jdk.CollectionConverters.SeqHasAsJava(
                paths.zipWithIndex.map { case (p, i) =>
                  org.apache.spark.sql.Row(p, i) }).asJava,
              StructType(Seq(StructField("_source", StringType),
                StructField("_upload_seq", IntegerType)))))
            val parsedCust = graft.operators.Relational.parseCustomers(
                parsed("Customers").where(col("_row_idx") > 0), "_c0",
                passthrough = Seq("_row_idx", "_source"))
              .join(seqDf, Seq("_source"))
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            try {
              val applied = pipeline.store.applyUploads(metas,
                parsedCust.drop("_source"), timestamp)
              raws.zip(paths).zip(applied).foreach {
                case ((raw, p), (uploadId, nChanges)) =>
                def sheet(s: String) = graft.operators.Relational
                  .promoteHeader(parsed(s).where(col("_source") === p)
                    .drop("_source"))
                pipeline.renderBatch(
                  parsedCust.where(col("_source") === p)
                    .drop("_source", "_upload_seq"),
                  sheet("Transactions"), sheet("Products"),
                  uploadId, nChanges)
                java.nio.file.Files.writeString(ledger, raw + "\n",
                  java.nio.file.StandardOpenOption.CREATE,
                  java.nio.file.StandardOpenOption.APPEND)
              }
            } finally parsedCust.unpersist(blocking = false)
          } finally parsedAuto.values.foreach(_._2())
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
    val files = spark.readStream
      .format("binaryFile")
      .option("pathGlobFilter",
        if (format == "jsonl") "*.jsonl" else "*.csv")
      .schema(StructType(Seq(
        StructField("path", StringType),
        StructField("modificationTime", TimestampType),
        StructField("length", LongType),
        StructField("content", BinaryType))))
      .load(landingDir)
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
