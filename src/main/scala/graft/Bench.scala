package graft

/** Per-round benchmark: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line. Results are materialized
  * through the `noop` sink so Catalyst cannot prune the projection/
  * expression work a bare `.count()` would let it skip (VERDICT r1 §wrong.2).
  */
object Bench {
  /** Layout version of the JSON line; unversioned lines (BENCH_r14.json
    * and earlier) are version 1. Version 2 marks each stream row with its
    * run count (`runs`: the row is the min of that many cold runs) and
    * is the first whose workbook stream row runs its micro-batches
    * interpreted (see `StreamingPipeline.workbookStream`). Version 3 adds
    * `first_sec`: per query, the first of its two cold runs. Per-session
    * memoized setup (memo builds, table schemas) lands in the first run
    * of the first query that needs it, so `first_sec` keeps that cost
    * visible while `queries` (the min) shows the steady state.
    */
  private val SchemaVersion = 3

  /** Cold runs per stream row; the row reports their minimum. */
  private val StreamRuns = 2

  // --- Ambient-load instrumentation (VERDICT r10 item 7) -------------
  // Three rounds running, driver bench snapshots have needed manual idle
  // re-runs to be trusted (r8–r10 each caught +40–50% uniform drift from
  // ambient machine load). Record the machine state around the run so a
  // snapshot is classifiable WITHOUT a re-measure: 1-min loadavg before/
  // after, and over the whole run the kernel-time share (%sy — the
  // measurement-protocol's own kernel-storm diagnostic) and the busy-CPU
  // share NOT attributable to this JVM (other processes competing).
  // Linux-only by design; every reader degrades to -1 off-Linux.

  private def loadavg1m(): Double =
    try java.nio.file.Files
      .readString(java.nio.file.Paths.get("/proc/loadavg"))
      .trim.split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** /proc/stat first line: (user+nice, system+irq+softirq, idle+iowait,
    * total) jiffies aggregated over all CPUs.
    */
  private def cpuJiffies(): Option[(Long, Long, Long, Long)] =
    try {
      val f = java.nio.file.Files
        .readAllLines(java.nio.file.Paths.get("/proc/stat"))
        .get(0).trim.split("\\s+").drop(1).map(_.toLong)
      // user nice system idle iowait irq softirq steal ...
      val usr = f(0) + f(1)
      val sys = f(2) + f.lift(5).getOrElse(0L) + f.lift(6).getOrElse(0L)
      val idle = f(3) + f.lift(4).getOrElse(0L)
      Some((usr, sys, idle, f.take(8).sum))
    } catch { case _: Throwable => None }

  /** Cumulative utime+stime jiffies of this BENCH INVOCATION's process
    * subtree: this JVM and every live descendant of it, plus the parent
    * process's OWN jiffies (the sbt launcher when run via `sbt runMain`
    * — whose compile/IO time is part of the invocation, not "another
    * process"). A self-only reading (the r11 form) mis-attributed the
    * launcher's burn to `other_busy_pct`; rooting the whole tree at the
    * PARENT (the r12 form) over-corrected — it counted every sibling
    * the launcher shell spawned (a gate, another sbt task) as
    * bench-self, silently deflating other_busy_pct and defeating the
    * honesty flag (round-12 ADVICE). Exited children's jiffies are lost
    * to the delta — same caveat as always.
    */
  private def subtreeJiffies(): Option[Long] =
    try {
      val proc = java.nio.file.Paths.get("/proc")
      // pid → (ppid, utime+stime), one pass over /proc/[0-9]+/stat
      val stats = scala.collection.mutable.HashMap.empty[Long, (Long, Long)]
      val ls = java.nio.file.Files.list(proc)
      try {
        val it = ls.iterator()
        while (it.hasNext) {
          val p = it.next()
          val name = p.getFileName.toString
          if (name.forall(_.isDigit)) {
            try {
              val s = java.nio.file.Files.readString(p.resolve("stat"))
              val rest = s.substring(s.lastIndexOf(')') + 2).split("\\s+")
              // rest: field 3 (state) onward; ppid=4, utime=14, stime=15
              stats(name.toLong) =
                (rest(1).toLong, rest(11).toLong + rest(12).toLong)
            } catch { case _: Throwable => () } // raced exit
          }
        }
      } finally ls.close()
      val self = ProcessHandle.current().pid()
      // membership = ppid chain reaches SELF (memoized per pid) — the
      // parent contributes only its own jiffies below, never its other
      // descendants.
      val memo = scala.collection.mutable.HashMap.empty[Long, Boolean]
      def inTree(pid: Long): Boolean =
        if (pid == self) true
        else memo.getOrElseUpdate(pid, stats.get(pid) match {
          case Some((ppid, _)) if ppid >= 1 && ppid != pid => inTree(ppid)
          case _ => false
        })
      val subtree = stats.iterator.collect {
        case (pid, (_, j)) if inTree(pid) => j
      }.sum
      val parentOwn = stats.get(self) match {
        case Some((ppid, _)) if ppid > 1 =>
          stats.get(ppid).map(_._2).getOrElse(0L)
        case _ => 0L
      }
      Some(subtree + parentOwn)
    } catch { case _: Throwable => None }

  /** The loadavg threshold for "the box is busy with something else":
    * 1/8 of the cores (4 on the 32-core measurement box — the
    * historically documented value), never below 1. Shared by the
    * settle gate and the ambient flag.
    */
  private def loadThreshold(): Double =
    math.max(1.0, Runtime.getRuntime.availableProcessors() / 8.0)

  /** Settle gate (VERDICT r11 item 4): four consecutive driver bench
    * snapshots were ambient-stamped because the verify gate that ran
    * minutes earlier was still draining in the 1-min loadavg when the
    * timed loop started. Instead of merely CLASSIFYING the noise,
    * wait it out: poll the 1-min loadavg until it drops under the
    * core-scaled threshold, up to a bounded budget (default 600 s,
    * override SPARK_GRAFT_SETTLE_MAX_SEC; 0 disables). On timeout the
    * run proceeds and the ambient flag tells the story exactly as
    * before. Returns (waitedSec, settled).
    *
    * Round-13 tightening (VERDICT r12 item 1): the r12 driver snapshot
    * passed the gate at loadavg 3.95 against the 4.0 ambient threshold
    * — i.e. ~4 cores still draining when the clock started — and its
    * per-query figures read up to 4× the same-day idle runs. The gate
    * now TARGETS the stricter cores/16 (2.0 on the 32-core box) within
    * the same bounded budget; `settled` keeps its cores/8 meaning (the
    * ambient classification is unchanged), so a run that reaches 3.0
    * but not 1.9 still stamps settled=true — it just waited as long as
    * the budget allowed trying to get all the way down.
    */
  private def settleGate(): (Double, Boolean) = {
    val maxSec = sys.env.getOrElse("SPARK_GRAFT_SETTLE_MAX_SEC", "600")
      .toDouble
    val thr = loadThreshold()
    val strict = math.max(1.0,
      Runtime.getRuntime.availableProcessors() / 16.0)
    val t0 = System.nanoTime()
    var l = loadavg1m()
    // loadavg < 0 means /proc is unreadable (off-Linux) — skip the gate.
    while (l >= strict && (System.nanoTime() - t0) / 1e9 < maxSec) {
      System.err.println(
        f"[bench] settle gate: loadavg $l%.2f >= $strict%.1f, waiting...")
      Thread.sleep(10000L)
      l = loadavg1m()
    }
    ((System.nanoTime() - t0) / 1e9, l < thr || l < 0)
  }

  def main(args: Array[String]): Unit = {
    val (settleWaitSec, settled) = settleGate()
    val loadStart = loadavg1m()
    val cpuStart = cpuJiffies()
    val selfStart = subtreeJiffies()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkEntry.localSession().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Eager scratch-listener install (round-14 ADVICE): the first sliced
    // query's first slice must count like every other.
    graft.operators.Scratch.install(spark)
    // Per-query total shuffle-write bytes, read from the Scratch
    // counter installed above — exact in local mode (one JVM sees every
    // task). Feeds SCALING.md's cluster-shape projection (measured bytes
    // → per-executor shuffle at 100 TB).
    val shuffleByQuery =
      scala.collection.mutable.LinkedHashMap.empty[String, Long]
    val firstByQuery =
      scala.collection.mutable.LinkedHashMap.empty[String, Double]
    // Session warmup (codegen/JIT/file-listing) so the first timed query
    // isn't charged the cold-start; then min-of-2 per query to damp
    // machine noise at these sub-10s scales.
    try SparkEntry.queries("flagship_rank")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    // A query that throws must NOT contribute a timing: an analysis
    // failure completes in ~0.05 s and would read as a 10× speedup
    // (VERDICT r6 §wrong.2 — BENCH_r06 reported exactly that). Failures
    // return None and are reported in a separate "failed" list, and the
    // process exits non-zero so the driver's rc reflects the breakage.
    def timeOnce(name: String,
                 fn: (org.apache.spark.sql.SparkSession, String) =>
                     org.apache.spark.sql.DataFrame): Option[Double] = {
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        Some((System.nanoTime() - t0) / 1e9)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        None
      }
    }
    // Cold-cache before EVERY timed run, not just per query pair: some
    // operators persist frames internally (two-phase rank totals, near-dup
    // shingle sets), and a second run hitting the first's InMemoryRelation
    // would time only the tail of the plan — an unfair min-of-2.
    def timeCold(name: String,
                 fn: (org.apache.spark.sql.SparkSession, String) =>
                     org.apache.spark.sql.DataFrame): Option[Double] = {
      spark.catalog.clearCache()
      System.gc()
      // the full GC above IS a reclaim — restart the scratch-GC gate so
      // prior queries' shuffle bytes don't fire a redundant GC inside
      // the next timed run (see Scratch.noteReclaim)
      graft.operators.Scratch.noteReclaim(spark)
      timeOnce(name, fn)
    }
    // Optional comma-separated filter for quick single-query experiments.
    val only = SparkEntry.onlyFilter()
    val attempts = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
        // min-of-2, but only over runs that succeeded; one failure marks
        // the query failed (a flaky query is not a benchmarkable one).
        val shuffleBefore =
          graft.operators.Scratch.shuffleBytesWritten(spark)
        val timed =
          for (a <- timeCold(name, fn); b <- timeCold(name, fn)) yield {
            firstByQuery(name) = a
            math.min(a, b)
          }
        // both cold runs shuffle identically → halve the accumulated
        // delta for the per-run figure (bus drained first so no
        // stage-completed event is missed or mis-attributed)
        if (timed.isDefined)
          shuffleByQuery(name) = (graft.operators.Scratch
            .shuffleBytesWritten(spark) - shuffleBefore) / 2
        name -> timed
      }
    val results = attempts.collect { case (n, Some(t)) => n -> t }
    val failed = attempts.collect { case (n, None) => n }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.map(_._2).sum
    // Streaming-ingest throughput: N synthetic 3-sheet workbooks through
    // the foreachBatch landing stream (the reference's upload loop end to
    // end — xlsx parse, CDC, upsert, export), reported as tx rows/s in a
    // "stream" field of the same JSON object so the driver's single-line
    // parse is unaffected. Skipped only under a query filter (the
    // SPARK_GRAFT_ONLY fast path times batch queries alone).
    var streamFailed = false
    val streamJson = if (only.isDefined) "" else {
      try {
        val nWb = sys.env.getOrElse("SPARK_GRAFT_STREAM_WB", "6").toInt
        val txPerWb = 2000
        val dir = java.nio.file.Files.createTempDirectory("graft_sbench")
        val landing = dir.resolve("landing")
        java.nio.file.Files.createDirectories(landing)
        import spark.implicits._
        for (w <- 0 until nWb) {
          val rnd = new scala.util.Random(w)
          val tx = (1 to txPerWb).map(i => (s"TXN${w}_$i",
              s"C${rnd.nextInt(500)}", (45000 + rnd.nextInt(300)).toString,
              s"P${rnd.nextInt(8)}", (rnd.nextInt(100000) / 100.0).toString,
              "Cash"))
            .toDF("transaction_id", "customer_id", "transaction_date",
              "product_code", "amount", "payment_type")
          val cust = (0 until 500)
            .map(i => s"{C${i}_Name ${i}_n$i@x_1990-01-01_Addr $w-${i}_43899.5}")
            .map(Tuple1(_))
            .toDF("customer_id-name-email-dob-address-created-date")
          val prod = (0 until 8).map(i =>
              (s"P$i", s"Prod $i", s"Cat${i % 4}", "10"))
            .toDF("product_code", "product_name", "category", "unit_price")
          graft.sources.Xlsx.write(s"$landing/wb_$w.xlsx",
            Seq("Transactions" -> tx, "Customers" -> cust,
              "Products" -> prod))
        }
        val rows = nWb.toLong * txPerWb
        // Round 14 (VERDICT r13 item 5): stream rows are now MIN-OF-2
        // like the batch queries — the single-run figures swung 2–3×
        // run-to-run on identical code (r12: 19.1 s, r13: 64.7 s for
        // the since-removed batched-parse stream), which made every
        // stream delta unreadable.
        // Each run is cold: fresh state/processed/checkpoint dirs (the
        // checkpoint is what makes a re-run a no-op, so it must not be
        // shared) and the same clearCache+GC reset the batch timer uses.
        // Methodology change, documented in OPTIMIZATION_r14.md with
        // the prior single-run numbers kept alongside; each stream row
        // carries its run count ("runs") and the line a schema_version.
        val secSeq = (1 to StreamRuns).map { k =>
          spark.catalog.clearCache()
          System.gc()
          graft.operators.Scratch.noteReclaim(spark)
          val t0 = System.nanoTime()
          val q = graft.streaming.StreamingPipeline.workbookStream(spark,
            landing.toString, dir.resolve(s"state_$k").toString,
            dir.resolve(s"processed_$k").toString,
            dir.resolve(s"ckpt_$k").toString)
          q.processAllAvailable()
          q.stop()
          (System.nanoTime() - t0) / 1e9
        }.min
        // JSONL landing-stream throughput: the sf corpus exported as
        // JSON lines (doc_id%53 corruption planted) streamed through the
        // parsed/dead-letter split — the LLM-corpus twin of the workbook
        // ingest lines. Export happens before the clock starts; the
        // timed span is the landing scan + both sink writes.
        val jDocs = graft.model.Tables.load(spark, sfDir, "documents")
        val jLanding = dir.resolve("jsonl_landing").toString
        graft.sources.Jsonl.writeLines(
          graft.sources.Jsonl.renderLines(jDocs, corruptMod = 53), jLanding)
        val nDocs = jDocs.count()
        // min-of-2, cold dirs per run (same contract as the workbook stream)
        val secJsonl = (1 to StreamRuns).map { k =>
          spark.catalog.clearCache()
          System.gc()
          graft.operators.Scratch.noteReclaim(spark)
          val tj = System.nanoTime()
          val jq = graft.streaming.StreamingPipeline.jsonlLandingStream(
            spark, jLanding, dir.resolve(s"jsonl_good_$k").toString,
            dir.resolve(s"jsonl_quarantine_$k").toString,
            dir.resolve(s"jsonl_ckpt_$k").toString)
          jq.processAllAvailable()
          jq.stop()
          (System.nanoTime() - tj) / 1e9
        }.min
        // The digest-gated landing over the same export: prices the
        // idempotence gate's overhead (binaryFile digest scan +
        // ledger anti-join + ledger append) against the plain landing
        // stream above. The export dir's part files carry no .jsonl
        // extension, so they are re-linked under one.
        val gLanding = dir.resolve("jsonl_gated_landing")
        java.nio.file.Files.createDirectories(gLanding)
        val parts = java.nio.file.Files.list(
          java.nio.file.Paths.get(jLanding))
        try {
          val it = parts.iterator()
          var i = 0
          while (it.hasNext) {
            val p = it.next()
            if (p.getFileName.toString.startsWith("part-")) {
              java.nio.file.Files.copy(p,
                gLanding.resolve(s"shard_$i.jsonl"))
              i += 1
            }
          }
        } finally parts.close()
        val secGated = (1 to StreamRuns).map { k =>
          spark.catalog.clearCache()
          System.gc()
          graft.operators.Scratch.noteReclaim(spark)
          val tg = System.nanoTime()
          val gq = graft.streaming.StreamingPipeline
            .documentLandingStreamIdempotent(spark, gLanding.toString,
              dir.resolve(s"jsonl_gated_good_$k").toString,
              dir.resolve(s"jsonl_gated_quarantine_$k").toString,
              dir.resolve(s"jsonl_gated_ckpt_$k").toString,
              dir.resolve(s"jsonl_gated_ledger_$k").toString, "jsonl")
          gq.processAllAvailable()
          gq.stop()
          (System.nanoTime() - tg) / 1e9
        }.min
        s""","stream":{"workbooks":$nWb,"tx_rows":$rows,"sec":$secSeq,""" +
          s""""rows_per_sec":${rows / secSeq},"runs":$StreamRuns},""" +
          s""""stream_jsonl":{"docs":$nDocs,"sec":$secJsonl,""" +
          s""""docs_per_sec":${nDocs / secJsonl},"runs":$StreamRuns},""" +
          s""""stream_jsonl_gated":{"docs":$nDocs,"sec":$secGated,""" +
          s""""docs_per_sec":${nDocs / secGated},"runs":$StreamRuns}"""
      } catch { case e: Throwable =>
        // Same failure-honesty contract as the queries: a broken
        // streaming pipeline must not silently vanish from the output
        // (ADVICE r7) — it joins the failed list and flips the exit code.
        System.err.println(s"[bench] stream ingest failed: ${e.getMessage}")
        streamFailed = true
        ""
      }
    }
    val failedAll = failed ++ (if (streamFailed) Seq("stream_ingest") else Nil)
    val failedAllJson = failedAll.map("\"" + _ + "\"").mkString("[", ",", "]")
    val shuffleJson =
      shuffleByQuery.map { case (k, v) => "\"" + k + "\":" + v }
        .mkString(""","shuffle_bytes":{""", ",", "}")
    val firstJson =
      firstByQuery.map { case (k, v) => "\"" + k + "\":" + v }
        .mkString(""","first_sec":{""", ",", "}")
    // Ambient classification: sys_pct > 0.15 (the -Xmx100g kernel-storm
    // signature measured ~0.87; an idle protocol-conformant run measures
    // ~0.02–0.05), other_busy_pct > 0.10 (a process OUTSIDE this bench's
    // subtree burned >10% of the box during our window — r10's drift run
    // would trip this), or the box already loaded when the timed loop
    // started (1-min loadavg over cores/8 — the settle gate should have
    // prevented this unless it timed out). Thresholds documented in
    // README §measurement.
    val loadEnd = loadavg1m()
    val (sysPct, otherBusyPct) = (cpuStart, cpuJiffies()) match {
      case (Some((u0, s0, i0, t0)), Some((u1, s1, i1, t1)))
          if t1 > t0 =>
        val totalD = (t1 - t0).toDouble
        val busyD = (u1 - u0) + (s1 - s0)
        val selfD = (for (a <- selfStart; b <- subtreeJiffies())
          yield (b - a).toDouble).getOrElse(0.0)
        (math.max(0.0, (s1 - s0) / totalD),
          math.max(0.0, (busyD - selfD) / totalD))
      case _ => (-1.0, -1.0)
    }
    val ambient = sysPct > 0.15 || otherBusyPct > 0.10 ||
      (loadStart > loadThreshold())
    val loadJson =
      s""","load":{"loadavg_start":$loadStart,"loadavg_end":$loadEnd,""" +
      s""""sys_pct":$sysPct,"other_busy_pct":$otherBusyPct,""" +
      s""""settle_wait_sec":$settleWaitSec,"settled":$settled,""" +
      s""""ambient":$ambient}"""
    val json =
      s"""{"metric":"total","schema_version":$SchemaVersion,""" +
      s""""value":$total,"unit":"sec","queries":$qs,""" +
      s""""failed":$failedAllJson,"sf":"$sfDir"$streamJson$shuffleJson""" +
      firstJson + loadJson + "}"
    // The full line is ~2.5 KB and has historically been truncated by the
    // driver's tail window mid-object (VERDICT r3 §8, r5 §4, r6 §6). A
    // compact summary object — small enough that any tail window holds it
    // whole — is printed FIRST (before any more sbt/shutdown noise can
    // scroll a head window past it) AND LAST (so a last-line tail parse
    // sees complete JSON); the full per-query map lives in bench_out.json.
    val summary =
      s"""{"metric":"total","schema_version":$SchemaVersion,""" +
      s""""value":$total,"unit":"sec","n":${results.size},""" +
      s""""failed":$failedAllJson,"sf":"$sfDir","ambient":$ambient,""" +
      s""""detail":"bench_out.json"}"""
    // Stdout gets drowned in sbt log noise; also write the line to a file
    // the driver can parse reliably, and echo it on stderr as the very
    // last lines so a tail-reader finds it either way. The raw JSON is
    // printed AFTER spark.stop() so no shutdown logging can land below
    // it: a last-line tail parse must see the bare JSON object.
    val outPath = java.nio.file.Paths.get("bench_out.json").toAbsolutePath
    java.nio.file.Files.writeString(outPath, json + "\n")
    println(summary)
    System.err.println(summary)
    System.out.flush()
    spark.stop()
    System.err.println(s"BENCH_JSON_FILE=$outPath")
    System.err.println(json)
    System.err.println(summary)
    println(s"BENCH_JSON_FILE=$outPath")
    println(json)
    println(summary)
    System.out.flush()
    if (failedAll.nonEmpty) sys.exit(1)
  }
}
