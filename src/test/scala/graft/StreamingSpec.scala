package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingPipeline

class StreamingSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def ts(min: Int) = new Timestamp(1700000000000L + min * 60000L)

  test("watermarked windowed aggregate over a file-source stream") {
    val dir = Files.createTempDirectory("graft_stream").toString
    val src = s"$dir/src"
    Files.createDirectories(java.nio.file.Paths.get(src))

    // batch 1 lands before the stream starts
    Seq((1L, ts(0), 7L, "click", 1.0), (2L, ts(5), 7L, "click", 2.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("append").parquet(src)

    val q = StreamingPipeline.windowedCounts(
        StreamingPipeline.eventStream(spark, src),
        width = "1 hour", lateness = "30 minutes")
      .writeStream.format("memory").queryName("win_counts")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      // batch 2 lands mid-stream (same + next hour)
      Seq((3L, ts(10), 8L, "view", 5.0), (4L, ts(70), 8L, "view", 7.0))
        .toDF("event_id", "ts", "user_id", "event_type", "value")
        .write.mode("append").parquet(src)
      q.processAllAvailable()

      val rows = spark.table("win_counts")
        .orderBy("window_start", "event_type").collect()
        .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("n_events"),
                   r.getAs[Double]("total_value")))
      assert(rows.toSeq === Seq(("click", 2L, 3.0), ("view", 1L, 5.0),
                                ("view", 1L, 7.0)))
    } finally q.stop()
  }

  test("session_window stream matches the batch sessionize gap semantics") {
    val dir = Files.createTempDirectory("graft_sess").toString
    val src = s"$dir/src"
    Files.createDirectories(java.nio.file.Paths.get(src))

    // user 7: events at 0,5 then a >30min gap then 90 → two sessions;
    // user 8: one session
    Seq((1L, ts(0), 7L, "click", 1.0), (2L, ts(5), 7L, "click", 1.0),
        (3L, ts(90), 7L, "view", 1.0), (4L, ts(2), 8L, "view", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("append").parquet(src)

    val q = StreamingPipeline.sessionCounts(
        StreamingPipeline.eventStream(spark, src))
      .writeStream.format("memory").queryName("sess_counts")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val got = spark.table("sess_counts")
        .orderBy("user_id", "session_start").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_events")))
      assert(got.toSeq === Seq((7L, 2L), (7L, 1L), (8L, 1L)))

      // batch operator agrees on the same events
      val batch = graft.operators.EventOps.sessionize(
        spark.read.parquet(src)).orderBy("user_id", "session_id").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_events")))
      assert(batch.toSeq === got.toSeq)
    } finally q.stop()
  }

  test("stream-stream interval join attributes clicks to in-window views " +
       "and matches the batch join") {
    val dir = Files.createTempDirectory("graft_ssj").toString
    val viewsDir = s"$dir/views"
    val clicksDir = s"$dir/clicks"
    Files.createDirectories(java.nio.file.Paths.get(viewsDir))
    Files.createDirectories(java.nio.file.Paths.get(clicksDir))

    // user 7: view at t0; clicks at t10 (attributed) and t120 (outside
    // the 1h window). user 8: click with no preceding view → unmatched.
    val views = Seq((1L, ts(0), 7L, "view", 1.0))
    val clicks = Seq((2L, ts(10), 7L, "click", 1.0),
                     (3L, ts(120), 7L, "click", 1.0),
                     (4L, ts(5), 8L, "click", 1.0))
    views.toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("append").parquet(viewsDir)
    clicks.toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("append").parquet(clicksDir)

    val q = StreamingPipeline.intervalJoin(
        StreamingPipeline.eventStream(spark, viewsDir),
        StreamingPipeline.eventStream(spark, clicksDir))
      .writeStream.format("memory").queryName("attrib")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("attrib").collect()
        .map(r => (r.getAs[Long]("view_id"), r.getAs[Long]("click_id")))
      assert(got.toSeq === Seq((1L, 2L)))

      // the same operator over the static frames agrees
      val batch = StreamingPipeline.intervalJoin(
          spark.read.parquet(viewsDir), spark.read.parquet(clicksDir))
        .collect().map(r => (r.getAs[Long]("view_id"),
                             r.getAs[Long]("click_id")))
      assert(batch.toSeq === got.toSeq)
    } finally q.stop()
  }

  test("streamingExactDedup drops repeats across micro-batches via keyed state") {
    val dir = Files.createTempDirectory("graft_sdedup").toString
    val src = s"$dir/src"
    Files.createDirectories(java.nio.file.Paths.get(src))

    Seq((1L, "fp-a"), (2L, "fp-b"), (3L, "fp-a"))   // intra-batch dup
      .toDF("doc_id", "fingerprint")
      .write.mode("append").parquet(src)

    val stream = spark.readStream
      .schema("doc_id LONG, fingerprint STRING")
      .parquet(src)
    val q = graft.streaming.StreamingPipeline.streamingExactDedup(stream)
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append")
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    try {
      q.processAllAvailable()
      // cross-batch dups of fp-a/fp-b must be dropped; fp-c passes
      Seq((4L, "fp-a"), (5L, "fp-c"), (6L, "fp-b"))
        .toDF("doc_id", "fingerprint")
        .write.mode("append").parquet(src)
      q.processAllAvailable()
      val got = spark.table("dedup_out").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got === Set((1L, "fp-a"), (2L, "fp-b"), (5L, "fp-c")))
    } finally q.stop()
  }

  test("streamingCorpusDedup drops corpus-known and within-stream dups") {
    val dir = Files.createTempDirectory("graft_scorpus").toString
    val src = s"$dir/src"
    Files.createDirectories(java.nio.file.Paths.get(src))

    val corpus = Seq("fp-a", "fp-b").toDF("fingerprint")

    Seq((1L, "fp-a"), (2L, "fp-c"))       // a: known → drop; c: new → keep
      .toDF("doc_id", "fingerprint")
      .write.mode("append").parquet(src)

    val stream = spark.readStream
      .schema("doc_id LONG, fingerprint STRING")
      .parquet(src)
    val q = graft.streaming.StreamingPipeline
      .streamingCorpusDedup(stream, corpus)
      .writeStream.format("memory").queryName("corpus_dedup_out")
      .outputMode("append")
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    try {
      q.processAllAvailable()
      // c again: within-stream dup → drop; b: corpus-known → drop;
      // d: new → keep
      Seq((3L, "fp-c"), (4L, "fp-b"), (5L, "fp-d"))
        .toDF("doc_id", "fingerprint")
        .write.mode("append").parquet(src)
      q.processAllAvailable()
      val got = spark.table("corpus_dedup_out").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got === Set((2L, "fp-c"), (5L, "fp-d")))
    } finally q.stop()
  }

  test("corpusIndexStream: the incrementally merged index equals the " +
       "one-shot batch index after multiple micro-batches") {
    import graft.operators.TextOps
    val dir = Files.createTempDirectory("graft_sidx").toString
    val src = s"$dir/src"
    Files.createDirectories(java.nio.file.Paths.get(src))
    val b1 = Seq((0L, "a b a"), (1L, "b b b c"), (2L, "a"))
    val b2 = Seq((3L, "a c c"), (4L, "b a a a"), (5L, "c"))
    b1.toDF("doc_id", "text").write.mode("append").parquet(src)
    val q = graft.streaming.StreamingPipeline.corpusIndexStream(
      spark, src, s"$dir/state", maxPostings = 2)
    try {
      q.processAllAvailable()
      b2.toDF("doc_id", "text").write.mode("append").parquet(src)
      q.processAllAvailable()
    } finally q.stop()
    val maintained = spark.read.parquet(s"$dir/state/index")
      .orderBy("term").collect().map(_.toSeq)
    val oneShot = TextOps.invertedIndex(
        (b1 ++ b2).toDF("doc_id", "text"), maxPostings = 2)
      .orderBy("term").collect().map(_.toSeq)
    assert(maintained.toSeq === oneShot.toSeq)
  }

  test("mergeIndexBatch: replayed batch ids are no-ops, and the " +
       "mid-swap crash state recovers without loss") {
    import graft.operators.TextOps
    import graft.streaming.StreamingPipeline.mergeIndexBatch
    val dir = Files.createTempDirectory("graft_sidx2").toString
    val b1 = Seq((0L, "a b a"), (1L, "b c")).toDF("doc_id", "text")
    val b2 = Seq((2L, "a c c")).toDF("doc_id", "text")
    def snapshot(): Seq[Seq[Any]] = spark.read.parquet(s"$dir/index")
      .orderBy("term").collect().map(_.toSeq).toSeq
    mergeIndexBatch(spark, dir, b1, 0L, 2)
    val after1 = snapshot()
    // at-least-once replay of the SAME batch id must not double-count
    mergeIndexBatch(spark, dir, b1, 0L, 2)
    assert(snapshot() === after1)
    // simulate a crash between the swap's moves: index gone, old present
    java.nio.file.Files.move(
      java.nio.file.Paths.get(s"$dir/index"),
      java.nio.file.Paths.get(s"$dir/index_old"))
    mergeIndexBatch(spark, dir, b2, 1L, 2)
    val expected = TextOps.invertedIndex(b1.unionAll(b2), maxPostings = 2)
      .orderBy("term").collect().map(_.toSeq).toSeq
    assert(snapshot() === expected)
  }

  test("streamingSimhashVotes flags cross-batch near-dups, passes fresh docs") {
    val dir = Files.createTempDirectory("graft_snear").toString
    val src = s"$dir/src"
    Files.createDirectories(java.nio.file.Paths.get(src))

    val base = "the quick brown fox jumps over the lazy dog while the " +
      "cat sleeps on the warm mat near the door in the hall tonight"
    Seq((1L, base)).toDF("doc_id", "text")
      .write.mode("append").parquet(src)

    val stream = spark.readStream
      .schema("doc_id LONG, text STRING")
      .parquet(src)
    val q = graft.streaming.StreamingPipeline.streamingSimhashVotes(stream)
      .writeStream.format("memory").queryName("near_votes")
      .outputMode("append")
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    try {
      q.processAllAvailable()
      // batch 2: a duplicate of doc 1 (Hamming 0 — every band bucket
      // matches, so all four votes must fire; a one-token edit would
      // move SimHash by > maxHamming on a doc this size, same as the
      // batch spec's concession) and a fresh unrelated doc
      Seq((2L, base),
          (3L, "completely different text about columnar query engines " +
               "with vectorized execution and adaptive planning"))
        .toDF("doc_id", "text")
        .write.mode("append").parquet(src)
      q.processAllAvailable()
      val votes = spark.table("near_votes").collect()
        .map(r => (r.getLong(0), r.getBoolean(1))).toSeq
      val byDoc = votes.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      assert(byDoc(1L).size === 4 && !byDoc(1L).exists(identity)) // first
      assert(byDoc(2L).size === 4 && byDoc(2L).forall(identity),
        s"doc 2 votes: ${byDoc(2L)}")     // duplicate: all 4 votes true
      assert(!byDoc(3L).exists(identity))  // unrelated: all votes false
    } finally q.stop()
  }

  test("streamingSimhashVotes TTL evicts idle buckets, within-TTL dups still vote") {
    val dir = Files.createTempDirectory("graft_sttl").toString
    val src = s"$dir/src"
    Files.createDirectories(java.nio.file.Paths.get(src))

    val base = "the quick brown fox jumps over the lazy dog while the " +
      "cat sleeps on the warm mat near the door in the hall tonight"
    Seq((1L, base)).toDF("doc_id", "text")
      .write.mode("append").parquet(src)

    val stream = spark.readStream
      .schema("doc_id LONG, text STRING")
      .parquet(src)
    // With ProcessingTimeTimeout, Spark keeps scheduling no-data batches
    // to fire pending timeouts, so the stream never quiesces and
    // processAllAvailable would block forever — this test polls the sink
    // with a deadline instead, and uses an explicit trigger (as a real
    // TTL deployment would) so the timeout batches tick at a bounded
    // rate rather than back-to-back.
    val q = graft.streaming.StreamingPipeline
      .streamingSimhashVotes(stream, stateTtl = Some("2 seconds"))
      .writeStream.format("memory").queryName("ttl_votes")
      .outputMode("append")
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger
        .ProcessingTime("250 milliseconds"))
      .start()
    try {
      def votesOf(id: Long): Seq[Boolean] = spark.table("ttl_votes")
        .collect().filter(_.getLong(0) == id).map(_.getBoolean(1)).toSeq
      def awaitVotes(id: Long, deadlineMs: Long = 60000): Seq[Boolean] = {
        val deadline = System.currentTimeMillis + deadlineMs
        while (votesOf(id).size < 4 &&
               System.currentTimeMillis < deadline) Thread.sleep(200)
        votesOf(id)
      }
      assert(awaitVotes(1L).size === 4)

      // a duplicate landing well within the TTL must still vote true on
      // all four bands (each touch re-arms the bucket's clock)
      Seq((2L, base)).toDF("doc_id", "text")
        .write.mode("append").parquet(src)
      val v2 = awaitVotes(2L)
      assert(v2.size === 4 && v2.forall(identity), s"doc 2 votes: $v2")

      // idle past the TTL: the timeout batches evict all four base
      // buckets — observed via the state operator's row count
      def stateRows: Long = Option(q.lastProgress).toSeq
        .flatMap(_.stateOperators.toSeq).map(_.numRowsTotal).sum
      val deadline = System.currentTimeMillis + 60000
      while (stateRows != 0L && System.currentTimeMillis < deadline)
        Thread.sleep(250)
      assert(stateRows === 0L,
        s"expected empty state after TTL eviction, got $stateRows rows")

      // past the dedup horizon, a copy of the evicted doc is NOT flagged
      Seq((3L, base)).toDF("doc_id", "text")
        .write.mode("append").parquet(src)
      val v3 = awaitVotes(3L)
      assert(v3.size === 4 && !v3.exists(identity), s"doc 3 votes: $v3")
    } finally q.stop()
  }

  /** Lands a copy of `src` in `$dir/landing` under `name` by atomic
    * rename — the landing protocol of the workbook streams, which read a
    * file as soon as it is listed.
    */
  private def land(dir: String, src: String, name: String): Unit = {
    val staged = java.nio.file.Paths.get(dir, "staging", name)
    Files.createDirectories(staged.getParent)
    Files.copy(java.nio.file.Paths.get(src), staged)
    Files.createDirectories(java.nio.file.Paths.get(dir, "landing"))
    Files.move(staged, java.nio.file.Paths.get(dir, "landing", name),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Both workbook streams, by name, started on the test session from
    * (landing, state, processed, checkpoint) dirs.
    */
  private val workbookStreams: Seq[(String, (String, String, String,
      String) => org.apache.spark.sql.streaming.StreamingQuery)] = Seq(
    "workbookStream" -> (StreamingPipeline.workbookStream(spark, _, _, _,
      _)),
    "workbookStreamIdempotent" -> (StreamingPipeline
      .workbookStreamIdempotent(spark, _, _, _, _)))

  test("workbook streams compile no generated class once warm") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val factoryMode = "spark.sql.codegen.factoryMode"
    val callerMode = spark.conf.getOption(factoryMode)
    for ((name, start) <- workbookStreams) {
      val dir = Files.createTempDirectory("graft_wbwarm").toString
      for (i <- 1 to 3)
        TestWorkbooks.referenceShaped(s"$dir/wb$i.xlsx", seed = i)
      Files.createDirectories(java.nio.file.Paths.get(dir, "landing"))
      val q = start(s"$dir/landing", s"$dir/state", s"$dir/processed",
        s"$dir/ckpt")
      def upload(i: Int): Unit = {
        land(dir, s"$dir/wb$i.xlsx", s"Txn_$i.xlsx")
        q.processAllAvailable()
      }
      try {
        upload(1)
        upload(2)
        val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        upload(3)
        val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount -
          before
        assert(compiled <= 2L, s"$name: a warm upload compiled $compiled " +
          "generated classes")
        assert(new graft.state.StateStore(spark, s"$dir/state").uploads
          .count() === 3L, name)
      } finally q.stop()
    }
    assert(spark.conf.getOption(factoryMode) === callerMode)
  }

  test("an interpreted workbook stream and codegen runBatch land the same " +
       "state and exports") {
    import graft.sources.Xlsx
    val dir = Files.createTempDirectory("graft_wbmodes").toString
    // More customers each time (new ids) and more repeats (moved
    // addresses), so each upload inserts, updates and logs changes.
    for (i <- 1 to 3)
      TestWorkbooks.referenceShaped(s"$dir/wb$i.xlsx", seed = i,
        nCustomers = 40 + 10 * i, repeats = 2 * i + 2)
    Files.createDirectories(java.nio.file.Paths.get(dir, "landing"))
    val q = StreamingPipeline.workbookStream(spark, s"$dir/landing",
      s"$dir/stream_state", s"$dir/stream_out", s"$dir/ckpt")
    try for (i <- 1 to 3) {
      land(dir, s"$dir/wb$i.xlsx", s"Txn_$i.xlsx")
      q.processAllAvailable()
    } finally q.stop()
    val streamed = new graft.state.StateStore(spark, s"$dir/stream_state")
    val stamps = streamed.uploads.orderBy("id").select("timestamp")
      .collect().map(_.getString(0)).toSeq
    assert(stamps.size === 3)

    // The same workbooks, uploads and timestamps through runBatch on the
    // test session, whose codegen is on.
    val pipeline = new Pipeline(spark, s"$dir/batch_state", s"$dir/batch_out")
    for (i <- 1 to 3) {
      Files.copy(java.nio.file.Paths.get(s"$dir/wb$i.xlsx"),
        java.nio.file.Paths.get(dir, s"Txn_$i.xlsx"))
      pipeline.runBatch(s"$dir/Txn_$i.xlsx", stamps(i - 1))
    }
    def rows(df: org.apache.spark.sql.DataFrame, key: String) =
      df.orderBy(key).collect().map(_.toSeq).toSeq
    for ((table, read, key) <- Seq[(String,
        graft.state.StateStore => org.apache.spark.sql.DataFrame, String)](
        ("customers", _.customers, "customer_id"),
        ("uploads", _.uploads, "id"),
        ("address_changes", _.addressChanges, "id")))
      assert(rows(read(streamed), key) === rows(read(pipeline.store), key),
        table)
    assert(pipeline.store.addressChanges.count() > 0L)
    for (id <- 1 to 3) {
      val streamedBook = Xlsx.read(s"$dir/stream_out/processed_$id.xlsx")
      assert(streamedBook.map(_._1) ===
        Seq("CategoryTotalsSummary", "TopSpenders", "MergedData"))
      assert(streamedBook ===
        Xlsx.read(s"$dir/batch_out/processed_$id.xlsx"), s"upload $id")
    }
  }

  test("workbook landing stream drives the stateful pipeline via foreachBatch") {
    val dir = Files.createTempDirectory("graft_wbstream").toString
    val shape = TestWorkbooks.referenceShaped(s"$dir/wb.xlsx")
    land(dir, s"$dir/wb.xlsx", "Txn_Details.xlsx")

    val q = StreamingPipeline.workbookStream(spark, s"$dir/landing",
      s"$dir/state", s"$dir/processed", s"$dir/ckpt")
    try {
      q.processAllAvailable()
      val store = new graft.state.StateStore(spark, s"$dir/state")
      assert(store.uploads.count() === 1L)
      val up = store.uploads.head()
      assert((up.getAs[Long]("transactions_rows"),
              up.getAs[Long]("customers_rows"),
              up.getAs[Long]("products_rows")) ===
        ((shape.txRows, shape.custRows, shape.prodRows)))
      assert(store.customers.count() === shape.customers)
      assert(store.addressChanges.count() === shape.repeats)
      // restart-safety: nothing reprocessed on an empty trigger
      q.processAllAvailable()
      assert(store.uploads.count() === 1L)
    } finally q.stop()
  }

  test("idempotent workbook stream: identical bytes skip (any name, any " +
       "micro-batch); new content re-ingests") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_wbidem").toString
    val shape = TestWorkbooks.referenceShaped(s"$dir/wb.xlsx")
    land(dir, s"$dir/wb.xlsx", "Txn_Details.xlsx")
    // byte-identical copy under a DIFFERENT name, same micro-batch
    land(dir, s"$dir/wb.xlsx", "Txn_Details_copy.xlsx")

    val q = StreamingPipeline.workbookStreamIdempotent(spark,
      s"$dir/landing", s"$dir/state", s"$dir/processed", s"$dir/ckpt")
    val store = new graft.state.StateStore(spark, s"$dir/state")
    try {
      q.processAllAvailable()
      // two landed files, ONE state delta: in-batch digest collapse
      assert(store.uploads.count() === 1L)
      assert(store.uploadDigests.count() === 1L)
      assert(store.addressChanges.count() === shape.repeats)

      // byte-identical re-upload in a LATER micro-batch, third name:
      // the persistent ledger (not the in-batch set) must skip it
      land(dir, s"$dir/wb.xlsx", "Txn_Details_again.xlsx")
      q.processAllAvailable()
      assert(store.uploads.count() === 1L)
      assert(store.addressChanges.count() === shape.repeats)

      // genuinely NEW content must pass the digest gate
      val tx = Seq(("TXN1", "C1", "45000", "P1", "10.0", "Cash"))
        .toDF("transaction_id", "customer_id", "transaction_date",
          "product_code", "amount", "payment_type")
      val cust = Seq(Tuple1("{C1_New Name_n@x_1990-01-01_Addr 1_1.5}"))
        .toDF("customer_id-name-email-dob-address-created-date")
      val prod = Seq(("P1", "Prod 1", "Cat1", "10"))
        .toDF("product_code", "product_name", "category", "unit_price")
      graft.sources.Xlsx.write(s"$dir/v2.xlsx",
        Seq("Transactions" -> tx, "Customers" -> cust,
          "Products" -> prod))
      land(dir, s"$dir/v2.xlsx", "Txn_Details_v2.xlsx")
      q.processAllAvailable()
      assert(store.uploads.count() === 2L)
      assert(store.uploadDigests.count() === 2L)
    } finally q.stop()
  }

  test("idempotent document landing (jsonl + csv): same-bytes " +
       "re-delivery skips (any name, any micro-batch); new content " +
       "re-ingests") {
    for (format <- Seq("jsonl", "csv")) {
      val dir = Files.createTempDirectory(s"graft_docidem_$format")
        .toString
      val landing = s"$dir/landing"
      Files.createDirectories(java.nio.file.Paths.get(landing))
      def line(id: Long, text: String): String =
        if (format == "jsonl")
          s"""{"doc_id":$id,"lang":"en","n_chars":${text.length},""" +
            s""""source":"web","text":"$text"}"""
        else s"""$id,en,${text.length},web,$text"""
      Files.writeString(
        java.nio.file.Paths.get(s"$landing/shard_a.$format"),
        line(1, "alpha doc") + "\n" + line(2, "beta doc") + "\n")
      // byte-identical copy under another name, same micro-batch
      Files.copy(java.nio.file.Paths.get(s"$landing/shard_a.$format"),
        java.nio.file.Paths.get(s"$landing/shard_a_dup.$format"))
      val q = StreamingPipeline.documentLandingStreamIdempotent(spark,
        landing, s"$dir/good", s"$dir/quarantine", s"$dir/ckpt",
        s"$dir/ledger", format)
      val store = new graft.state.StateStore(spark, s"$dir/ledger")
      try {
        q.processAllAvailable()
        assert(store.uploadDigests.count() === 1L, s"[$format] in-batch")
        assert(spark.read.parquet(s"$dir/good/batch_*").count() === 2L,
          s"[$format] first ingest")

        // byte-identical re-delivery in a LATER micro-batch: the
        // persistent ledger (not the in-batch set) must skip it
        Files.copy(java.nio.file.Paths.get(s"$landing/shard_a.$format"),
          java.nio.file.Paths.get(s"$landing/shard_a_again.$format"))
        q.processAllAvailable()
        assert(store.uploadDigests.count() === 1L,
          s"[$format] cross-batch skip")
        assert(spark.read.parquet(s"$dir/good/batch_*").count() === 2L,
          s"[$format] no double ingest")

        // genuinely new content passes the gate
        Files.writeString(
          java.nio.file.Paths.get(s"$landing/shard_b.$format"),
          line(3, "gamma doc") + "\n")
        q.processAllAvailable()
        assert(store.uploadDigests.count() === 2L, s"[$format] new bytes")
        assert(spark.read.parquet(s"$dir/good/batch_*").count() === 3L,
          s"[$format] third doc landed")
      } finally q.stop()
    }
  }

  test("gated landing under schema evolution: a generation-2 JSONL " +
       "shard (extra quality_tier field) lands CLEAN through the v1 " +
       "stream - additive evolution never breaks the deployed landing - " +
       "and its re-delivery still no-ops; a gen-2 CSV shard quarantines " +
       "whole (positional format, the documented generation-key rule)") {
    val dir = Files.createTempDirectory("graft_docev").toString
    val landing = s"$dir/landing"
    Files.createDirectories(java.nio.file.Paths.get(landing))
    // gen1 + gen2 JSONL shards
    Files.writeString(java.nio.file.Paths.get(s"$landing/g1.jsonl"),
      """{"doc_id":1,"lang":"en","n_chars":9,"source":"web","text":"alpha doc"}""" + "\n")
    Files.writeString(java.nio.file.Paths.get(s"$landing/g2.jsonl"),
      """{"doc_id":2,"lang":"en","n_chars":8,"source":"web","text":"beta doc","quality_tier":"high"}""" + "\n")
    val q = StreamingPipeline.documentLandingStreamIdempotent(spark,
      landing, s"$dir/good", s"$dir/quarantine", s"$dir/ckpt",
      s"$dir/ledger", "jsonl")
    val store = new graft.state.StateStore(spark, s"$dir/ledger")
    try {
      q.processAllAvailable()
      // both shards ingested clean: the v1 schema ignores the unknown
      // key (JSON self-describes fields), nothing quarantines
      assert(store.uploadDigests.count() === 2L)
      assert(spark.read.parquet(s"$dir/good/batch_*").count() === 2L)
      assert(!Files.exists(java.nio.file.Paths.get(s"$dir/quarantine"))
        || spark.read.text(s"$dir/quarantine/batch_*").count() === 0L)
      // the digest gate is byte-level, so the evolved shard's
      // re-delivery no-ops exactly like a v1 shard's
      Files.copy(java.nio.file.Paths.get(s"$landing/g2.jsonl"),
        java.nio.file.Paths.get(s"$landing/g2_again.jsonl"))
      q.processAllAvailable()
      assert(store.uploadDigests.count() === 2L)
      assert(spark.read.parquet(s"$dir/good/batch_*").count() === 2L)
    } finally q.stop()

    // CSV: a 6-field gen-2 row under the 5-field v1 schema is extra
    // tokens -> quarantined, visibly - the stream never silently drops
    // or mis-parses an evolved positional shard; evolved CSV landings
    // must go through their own generation directory (Csv.readEvolved).
    val dirC = Files.createTempDirectory("graft_docev_csv").toString
    val landingC = s"$dirC/landing"
    Files.createDirectories(java.nio.file.Paths.get(landingC))
    Files.writeString(java.nio.file.Paths.get(s"$landingC/g2.csv"),
      "2,en,8,web,beta doc,high\n")
    val qc = StreamingPipeline.documentLandingStreamIdempotent(spark,
      landingC, s"$dirC/good", s"$dirC/quarantine", s"$dirC/ckpt",
      s"$dirC/ledger", "csv")
    try {
      qc.processAllAvailable()
      assert(spark.read.text(s"$dirC/quarantine/batch_*").count() === 1L)
    } finally qc.stop()
  }

  test("workbook stream defaults to the sharded MergedData export past " +
       "the row threshold; mergeShards reassembles one deliverable") {
    val dir = Files.createTempDirectory("graft_wbshard").toString
    val shape = TestWorkbooks.referenceShaped(s"$dir/wb.xlsx")
    land(dir, s"$dir/wb.xlsx", "Txn_Details.xlsx")

    // Threshold 100 << the workbook's merged rows: the streaming path
    // must activate the executor-side sharded writer on its own.
    assert(shape.mergedRows > 100L)
    val q = StreamingPipeline.workbookStream(spark, s"$dir/landing",
      s"$dir/state", s"$dir/processed", s"$dir/ckpt",
      shardThreshold = 100L)
    try q.processAllAvailable() finally q.stop()

    val wb = s"$dir/processed/processed_1.xlsx"
    assert(Files.exists(java.nio.file.Paths.get(wb)))
    // The single workbook carries ONLY the bounded sheets…
    val sheets = graft.sources.Xlsx.read(wb).map(_._1)
    assert(sheets.toSet === Set("CategoryTotalsSummary", "TopSpenders"))
    // …and the input-sized sheet landed as executor-written shards.
    val shardDir = s"$dir/processed/processed_1_MergedData_shards"
    val shards = new java.io.File(shardDir).listFiles()
      .map(_.toString).filter(_.endsWith(".xlsx")).sorted.toSeq
    assert(shards.nonEmpty)
    val shardRows = shards.map(p =>
      graft.sources.Xlsx.read(p, wanted = Some("MergedData"))
        .head._2.length - 1L).sum
    assert(shardRows === shape.mergedRows)  // no header

    // mergeShards: one deliverable, header once, all rows, in order.
    val mergedPath = s"$dir/processed/merged_all.xlsx"
    graft.sources.Xlsx.mergeShards(shards, mergedPath, "MergedData")
    val rows = graft.sources.Xlsx.read(mergedPath,
      wanted = Some("MergedData")).head._2
    assert(rows.length - 1L === shape.mergedRows)
    assert(rows.head.count(_ == "transaction_id") === 1)
  }

  test("workbook stream: two workbooks in one micro-batch land in path " +
       "order, incl. k-then-2k toggles and per-file timestamps") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft_wbstream_s").toString
    val shape = TestWorkbooks.referenceShaped(s"$dir/wb.xlsx")
    // Two copies of the SAME workbook in one micro-batch: the second
    // copy re-toggles against the first's last occurrences (k then 2k
    // change rows — the reference's non-idempotent repeat semantics).
    land(dir, s"$dir/wb.xlsx", "a_Txn_Details.xlsx")
    land(dir, s"$dir/wb.xlsx", "b_Txn_Details.xlsx")

    val q = StreamingPipeline.workbookStream(spark, s"$dir/landing",
      s"$dir/state", s"$dir/processed", s"$dir/ckpt")
    try {
      q.processAllAvailable()
      // both files arrived in one micro-batch
      assert(q.recentProgress.map(_.numInputRows).filter(_ > 0).toSeq ===
        Seq(2L))
      val store = new graft.state.StateStore(spark, s"$dir/state")
      assert(store.customers.count() === shape.customers)
      assert(store.addressChanges.count() === 3 * shape.repeats)
      assert(store.addressChanges.where(col("upload_id") === 1L)
        .count() === shape.repeats)
      assert(store.addressChanges.where(col("upload_id") === 2L)
        .count() === 2 * shape.repeats)
      // one timestamp per file, taken in path order: the audit order
      // (timestamp DESC, id DESC) is id order, and each file's change
      // rows carry its own upload's timestamp
      val ups = store.uploadsOrdered.collect().map(r =>
        (r.getAs[Long]("id"), r.getAs[String]("filename"),
         r.getAs[String]("timestamp"))).toSeq
      assert(ups.map(t => (t._1, t._2)) ===
        Seq((2L, "b_Txn_Details.xlsx"), (1L, "a_Txn_Details.xlsx")))
      val stamped = store.addressChanges
        .select("upload_id", "change_timestamp").distinct().collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(stamped === ups.map(t => t._1 -> t._3).toMap)
      // per-file exports still render: one processed workbook per upload
      assert(java.nio.file.Files.list(
        java.nio.file.Paths.get(s"$dir/processed")).count() === 2L)
      // restart-safety: nothing reprocessed on an empty trigger
      q.processAllAvailable()
      assert(store.uploads.count() === 2L)
      assert(store.addressChanges.count() === 3 * shape.repeats)
    } finally q.stop()
  }

  test("workbook stream survives a full restart: the ledger makes " +
       "at-least-once redelivery a no-op, new files still land") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft_wbstream_r").toString
    val shape = TestWorkbooks.referenceShaped(s"$dir/wb.xlsx")
    land(dir, s"$dir/wb.xlsx", "a_Txn_Details.xlsx")

    def start() = StreamingPipeline.workbookStream(spark, s"$dir/landing",
      s"$dir/state", s"$dir/processed", s"$dir/ckpt")
    val q1 = start()
    try { q1.processAllAvailable() } finally q1.stop()
    val store = new graft.state.StateStore(spark, s"$dir/state")
    assert(store.uploads.count() === 1L)
    assert(store.addressChanges.count() === shape.repeats)

    // A NEW query instance over the same checkpoint + ledger: the file
    // source may redeliver the already-committed file (at-least-once);
    // the ledger must swallow it — no duplicate upload, no re-toggle.
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(store.uploads.count() === 1L)
      assert(store.addressChanges.count() === shape.repeats)
      // and a genuinely new file still lands, sequenced after the first
      land(dir, s"$dir/wb.xlsx", "b_Txn_Details.xlsx")
      q2.processAllAvailable()
      assert(store.uploads.count() === 2L)
      assert(store.addressChanges.count() === 3 * shape.repeats)
      assert(store.addressChanges.where(col("upload_id") === 2L)
        .count() === 2 * shape.repeats)
    } finally q2.stop()
  }

  test("a malformed workbook is rejected alone: the rest of its " +
       "micro-batch lands and the workbook streams keep serving") {
    import spark.implicits._
    for ((name, start) <- workbookStreams) {
      val dir = Files.createTempDirectory("graft_wbbad").toString
      val shape = TestWorkbooks.referenceShaped(s"$dir/good.xlsx")
      TestWorkbooks.referenceShaped(s"$dir/later.xlsx", seed = 8)
      // one workbook without its Products sheet, one with a blank
      // Customers sheet, one that is no workbook
      TestWorkbooks.editSheet(s"$dir/good.xlsx",
        s"$dir/blank_customers.xlsx", 2)(TestWorkbooks.withRows())
      graft.sources.Xlsx.write(s"$dir/no_products.xlsx", Seq(
        "Transactions" -> Seq(("T1", "C1")).toDF("transaction_id",
          "customer_id"),
        "Customers" -> Seq(Tuple1("{C1_A_a@x_1990_1 St_1.5}"))
          .toDF("customer_id-name-email-dob-address-created-date")))
      Files.writeString(java.nio.file.Paths.get(s"$dir/broken.xlsx"),
        "not a zip")
      land(dir, s"$dir/good.xlsx", "a_good.xlsx")
      land(dir, s"$dir/no_products.xlsx", "b_no_products.xlsx")
      land(dir, s"$dir/broken.xlsx", "c_broken.xlsx")
      land(dir, s"$dir/blank_customers.xlsx", "c_blank_customers.xlsx")

      val q = start(s"$dir/landing", s"$dir/state", s"$dir/processed",
        s"$dir/ckpt")
      val store = new graft.state.StateStore(spark, s"$dir/state")
      def files = store.uploadsOrdered.select("filename").as[String]
        .collect().toSeq
      try {
        q.processAllAvailable()
        assert(q.recentProgress.map(_.numInputRows).filter(_ > 0).toSeq ===
          Seq(4L), name)
        assert(files === Seq("a_good.xlsx"), name)
        assert(store.addressChanges.count() === shape.repeats, name)
        assert(store.customers.count() === shape.customers, name)

        land(dir, s"$dir/later.xlsx", "e_later.xlsx")
        q.processAllAvailable()
        assert(q.isActive, name)
        assert(files === Seq("e_later.xlsx", "a_good.xlsx"), name)
        assert(java.nio.file.Files.list(
          java.nio.file.Paths.get(s"$dir/processed")).count() === 2L, name)
        if (name == "workbookStreamIdempotent")
          assert(store.uploadDigests.count() === 2L, name)
      } finally q.stop()
    }
  }

  test("jsonlLandingStream splits micro-batches into parsed parquet and " +
       "a raw-line quarantine, per-batch idempotent layout") {
    import org.apache.spark.sql.functions._
    import graft.sources.Jsonl
    val dir = Files.createTempDirectory("graft_jsonl_stream").toString
    val landing = s"$dir/landing"
    Files.createDirectories(java.nio.file.Paths.get(landing))
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")

    // The file source watches the flat landing dir, so each wave is
    // staged then its part files moved in under unique names (the
    // usual atomic-rename landing protocol).
    def land(df: org.apache.spark.sql.DataFrame, wave: String): Unit = {
      val stage = s"$dir/stage_$wave"
      Jsonl.writeLines(df, stage)
      val parts = java.nio.file.Files.list(java.nio.file.Paths.get(stage))
      try parts.filter(_.getFileName.toString.startsWith("part-"))
        .forEach(f => java.nio.file.Files.move(f,
          java.nio.file.Paths.get(
            s"$landing/${wave}_${f.getFileName.toString}.json")))
      finally parts.close()
    }

    // Wave 1: clean half of the corpus.
    land(Jsonl.renderLines(docs.where(col("doc_id") % 2 === 0)), "w1")
    val q = StreamingPipeline.jsonlLandingStream(spark, landing,
      s"$dir/good", s"$dir/quarantine", s"$dir/ckpt")
    try {
      q.processAllAvailable()
      // Wave 2: the other half, every doc_id%7==0 line corrupted.
      land(Jsonl.renderLines(docs.where(col("doc_id") % 2 === 1),
        corruptMod = 7), "w2")
      q.processAllAvailable()

      val good = spark.read.parquet(s"$dir/good/batch_*")
      val expectedGood = docs.where(col("doc_id") % 2 === 0 ||
        col("doc_id") % 7 =!= 0)
        .select("doc_id", "lang", "n_chars", "source", "text")
      assert(good.exceptAll(expectedGood).count() === 0)
      assert(expectedGood.exceptAll(
        good.select("doc_id", "lang", "n_chars", "source", "text"))
        .count() === 0)
      val quarantined = spark.read.text(s"$dir/quarantine/batch_*")
      assert(quarantined.count() ===
        docs.where(col("doc_id") % 2 === 1 && col("doc_id") % 7 === 0)
          .count())
      // Raw quarantined lines are strict JSON-object prefixes.
      assert(quarantined
        .where(!col("value").startsWith("{") || col("value").endsWith("}"))
        .count() === 0)
    } finally q.stop()
  }
}
