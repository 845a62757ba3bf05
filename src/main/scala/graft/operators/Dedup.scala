package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for an LLM training-data pipeline, from exact
  * to fuzzy. Every near-dup path is *bucketed* (LSH banding): candidate
  * pairs are generated by an equi-join on band keys — a shuffle join on a
  * compact key, never an all-pairs cross join — so the plans survive a
  * 100 TB corpus (candidate count scales with true-duplicate density, not
  * n²).
  */
object Dedup {

  /** Exact dedup by normalized-content fingerprint: one hash-aggregate,
    * deterministic representative (min doc_id). The groupBy key is the
    * md5, not the full text, so the shuffle carries 32-byte keys rather
    * than documents.
    */
  def exactDedup(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      .select(TextOps.fingerprint(col(textCol)).as("fingerprint"),
              col("doc_id"))
      .groupBy("fingerprint")
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"))

  /** Prefix-fingerprint dedup: groups documents sharing the first `k`
    * normalized characters — a cheap near-dup screen (the synthetic corpus
    * plants prefix-sharing duplicates).
    */
  def prefixDedup(docs: DataFrame, k: Int = 64,
                  textCol: String = "text"): DataFrame =
    docs
      .select(md5(substring(lower(col(textCol)), 1, k)).as("fingerprint"),
              col("doc_id"))
      .groupBy("fingerprint")
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"))

  /** Keep-rule dedup: within each near-dup group (prefix fingerprint),
    * keep the *highest-quality* representative — here longest text,
    * tiebroken by doc_id — instead of an arbitrary one. The usual LLM
    * training-data policy ("keep longest / best-scored copy").
    */
  def dedupKeepLongest(docs: DataFrame, prefix: Int = 64,
                       textCol: String = "text"): DataFrame = {
    val keyed = docs.select(
      md5(substring(lower(col(textCol)), 1, prefix)).as("fingerprint"),
      col("doc_id"), length(col(textCol)).as("n_chars"))
    val grp = org.apache.spark.sql.expressions.Window
      .partitionBy("fingerprint")
    keyed
      .withColumn("_rn", row_number().over(
        grp.orderBy(desc("n_chars"), asc("doc_id"))))
      .withColumn("n_copies", count(lit(1)).over(grp))
      .where(col("_rn") === 1)
      .select("fingerprint", "doc_id", "n_chars", "n_copies")
  }

  /** Incremental (cross-corpus) dedup — the production shape at 100 TB:
    * an incoming batch is deduped AGAINST the already-curated corpus
    * without touching the corpus rows themselves. The existing side
    * reduces to its distinct fingerprint set (32-byte md5 keys — at
    * cluster scale this is the pre-materialized fingerprint index table,
    * not a rescan of the corpus text); the incoming side drops every doc
    * whose fingerprint already exists (left-anti join — broadcast when
    * the index fits, shuffle-on-32-byte-keys otherwise) and then keeps
    * one representative per NEW fingerprint (min doc_id), so the output
    * is exactly the rows a curation pipeline appends to the corpus.
    *
    * `key` defaults to the exact-content fingerprint; pass e.g.
    * `TextOps.prefixFingerprint` semantics (md5 of the first k chars) for
    * the near-dup screen variant.
    */
  def incrementalDedup(incoming: DataFrame, existing: DataFrame,
                       key: Column => Column = TextOps.fingerprint,
                       textCol: String = "text"): DataFrame = {
    def fp(df: DataFrame) =
      df.select(key(col(textCol)).as("fingerprint"), col("doc_id"))
    fp(incoming)
      .join(fp(existing).select("fingerprint").distinct(),
        Seq("fingerprint"), "left_anti")
      .groupBy("fingerprint")
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
  }

  /** Cross-snapshot corpus reconciliation — the diff an incremental crawl
    * pipeline runs between two corpus versions before re-curating: which
    * documents were added, removed, changed in content, or carried over
    * unchanged. Each side projects to (doc_id, md5(text)) BEFORE the
    * join, so the one full-outer hash join (partitioned by doc_id) moves
    * two 32-byte digests per document, never the documents themselves —
    * at 100 TB the diff shuffles ~64 B × N, and with both snapshots
    * bucketed by doc_id (the natural layout for versioned corpus tables)
    * it plans shuffle-free. Null texts normalize to the empty-string
    * digest so a null-vs-null carry-over reads `unchanged`, not
    * spuriously `added`/`removed`.
    */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame,
                   textCol: String = "text"): DataFrame = {
    def fp(df: DataFrame, as: String) =
      df.select(col("doc_id"),
        md5(coalesce(col(textCol), lit(""))).as(as))
    fp(oldSnap, "fp_old")
      .join(fp(newSnap, "fp_new"), Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("fp_old").isNull, lit("added"))
          .when(col("fp_new").isNull, lit("removed"))
          .when(col("fp_old") =!= col("fp_new"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"))
  }

  /** (doc_id [, extras], gram) rows: `n`-token shingles of the lowercased
    * whitespace tokens — the single tokenize/shingle front every
    * gram-based operator (MinHash signatures, LSH pairs, Jaccard
    * blocking, decontamination) resolves through, so the gram definition
    * (lowercasing, separator, window count) cannot drift between them.
    *
    * Built per-document LOCALLY inside whole-stage codegen: grams come
    * from [[graft.functions.TokenNgrams]] (one O(bytes) pass emitting
    * byte-range substrings) and only then explode — no shuffle, no HOF
    * lambda interpretation, no per-gram concatenation. Measured at
    * sf0.1/local[32] this is wall-clock parity with the
    * posexplode+window-lead form it replaces (local shuffles of small
    * data are nearly free), but it removes that form's shuffle+sort of
    * the corpus's FULL TOKEN STREAM — the dominant cost at cluster
    * scale, and one with no cross-document dependency to justify it.
    * Downstream per-doc aggregations also now combine map-side before
    * their shuffle instead of riding the window's pre-partitioning. (A
    * `transform`/`slice` HOF build was also tried: it avoids the
    * shuffle but evaluates its lambdas interpreted, outside codegen —
    * measured ~3× slower than either.) `pos` (with `keepPos`) is the
    * gram's 0-based starting token index, identical to the window
    * form's posexplode index.
    */
  private def tokenGrams(docs: DataFrame, n: Int, textCol: String,
                         extras: Seq[(String, Column)] = Nil,
                         keepPos: Boolean = false): DataFrame = {
    val grams = graft.functions.TokenNgrams(lower(col(textCol)), n)
    val extraCols = extras.map { case (name, _) => col(name) }
    val posCols = if (keepPos) Seq(col("pos")) else Nil
    docs
      .select(Seq(col("doc_id")) ++
        extras.map { case (name, c) => c.as(name) } :+
        posexplode(grams).as(Seq("pos", "gram")): _*)
      .select(Seq(col("doc_id")) ++ extraCols ++ posCols :+
        col("gram"): _*)
  }

  /** MinHash signatures: `bands` independent md5-slice minima over the
    * word-trigram shingle set. Output: (doc_id, sig_0..sig_{bands-1}).
    */
  /** Per-band signature: minimum of the k-th 8-hex-char (32-bit) slice of
    * each shingle's md5. One md5 per shingle total — the 128-bit digest is
    * sliced into `bands` ≤ 4 independent band hashes (fixed-width lowercase
    * hex, so lexicographic min == numeric min). Portable: the DuckDB
    * oracle computes `substr(md5(s), k*8+1, 8)` identically.
    */
  private def sliceMinAggs(bands: Int): Seq[org.apache.spark.sql.Column] = {
    require(bands >= 1 && bands <= 4, "md5 yields at most 4 32-bit slices")
    (0 until bands).map(k =>
      min(substring(col("_h"), k * 8 + 1, 8)).as(s"sig_$k"))
  }

  def minhashSignatures(docs: DataFrame, bands: Int = 4,
                        textCol: String = "text"): DataFrame = {
    // Shingles via [[tokenGrams]] (shuffle-free local gram build), then
    // one codegen'd md5 + min-agg — the doc_id hash-aggregate is the
    // signature job's ONLY shuffle. Docs with fewer than 3 tokens are
    // re-attached with null signatures (same contract as the oracle
    // formulation).
    val hashed = tokenGrams(docs, 3, textCol)
      .select(col("doc_id"), md5(col("gram")).as("_h"))
    val aggs = sliceMinAggs(bands)
    val sigs = hashed.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
    docs.select(col("doc_id")).join(sigs, Seq("doc_id"), "left")
  }

  /** MinHash-LSH near-duplicate pairs with exact Jaccard verification.
    *
    * Plan shape (the 100 TB path):
    *  1. signatures → long form (doc_id, band, sig) — narrow,
    *  2. self-equi-join on (band, sig) → candidate pairs (shuffle on the
    *     band key; no cross join anywhere),
    *  3. join candidates back to shingle sets, exact Jaccard via
    *     `array_intersect`, filter ≥ `threshold`.
    *
    * Jaccard is an integer-ratio single IEEE division — bit-deterministic.
    */
  def nearDupPairs(docs: DataFrame, bands: Int = 4, threshold: Double = 0.5,
                   textCol: String = "text",
                   maxBucket: Int = MaxBandBucket): DataFrame = {
    val combined = sigSets(docs, bands, textCol)
    val longForm = bandLong(combined, bands)
    // candidate generation through the shared bucket cap (see
    // [[MaxBandBucket]]): the r=1 recall-max banding is precisely the
    // form universal-shingle skew hits hardest
    val cand = bandCandidates(longForm, maxBucket)
    verifyJaccard(cand, combined, combined, "doc_a", "doc_b", threshold)
  }

  /** [[nearDupPairs]] with CLASSIC b×r banding: the 4 slice minima
    * regroup into `4 / rowsPerBand` bands of `rowsPerBand` concatenated
    * minima each, and a candidate needs ALL rows of some band to agree.
    * Candidate probability at Jaccard s goes from 1−(1−s)⁴ (r=1: high
    * recall, flat s-curve, false candidates from any one colliding
    * slice) to 1−(1−s^r)^b — the steeper s-curve that suppresses
    * low-similarity candidates BEFORE the exact-Jaccard verify, which is
    * what bounds verify cost when the corpus grows 100×: band-key
    * equality now implies r simultaneous minima collisions, so the
    * candidate count tracks the true-duplicate density more tightly.
    * The verify step is unchanged (exact Jaccard ≥ threshold), so the
    * output is a SUBSET of [[nearDupPairs]]' at identical precision —
    * recall is the banding trade, chosen by `rowsPerBand`. Same oracle
    * portability: band keys are concatenations of md5-slice minima.
    *
    * MODE CONTRACT (re-derived round 11 on the post-function-word-fix
    * ladder, SCALING.md batch 19): classic r=2 is the DEFAULT from
    * ~500 k docs up — on corpora with real function-word collisions it
    * costs ~6× less candidate shuffle than r=1 recall-max (sf100:
    * 3.50 vs 21.80 GB, 217.6 vs 795.9 s) for ≤ 0.6% fewer verified
    * pairs. r=1 stays the registry/oracle parameterization at test
    * SFs, where recall is the point. From ~5 M docs prefer the SLICED
    * execution ([[nearDupPairsBandedSliced]]) — it wins wall outright
    * there, not just scratch (104.6 vs 217.6 s at sf100).
    */
  def nearDupPairsBanded(docs: DataFrame, rowsPerBand: Int = 2,
                         threshold: Double = 0.5,
                         textCol: String = "text"): DataFrame = {
    val combined = sigSets(docs, 4, textCol)
    val longForm = bandedLongForm(combined, rowsPerBand)
    val cand = bandCandidates(longForm)
    verifyJaccard(cand, combined, combined, "doc_a", "doc_b", threshold)
  }

  /** The b×r-banded (doc_id, band, sig) long form shared by
    * [[nearDupPairsBanded]] and [[nearDupPairsBandedSliced]].
    */
  private def bandedLongForm(combined: DataFrame,
                             rowsPerBand: Int): DataFrame = {
    require(rowsPerBand >= 1 && 4 % rowsPerBand == 0,
      "rowsPerBand must divide the 4 md5 slices")
    val nBands = 4 / rowsPerBand
    combined.select(col("doc_id"), explode(array(
        (0 until nBands).map(k => struct(lit(k).as("band"),
          concat((0 until rowsPerBand).map(j =>
            col(s"sig_${k * rowsPerBand + j}")): _*).as("sig"))): _*
      )).as("b"))
      .select(col("doc_id"), col("b.band"), col("b.sig"))
      .where(col("sig").isNotNull)
  }

  /** Distinct candidate pairs from a (doc_id, band, sig) frame via the
    * band equi-join — never a cross join.
    */
  /** Band-bucket size cap shared by every banded candidate generator:
    * (band, sig) buckets larger than this are DROPPED before the
    * self-join. A bucket's pair contribution is n·(n−1)/2, and the one
    * input that legitimately produces huge buckets is a UNIVERSAL
    * shingle (a run of function words — "a a the" — present corpus-wide)
    * winning the min-hash for a corpus-fraction of documents: that
    * bucket then grows linearly with the corpus and its candidate count
    * QUADRATICALLY, while carrying no duplicate signal (a band collision
    * shared by 10k documents is a stopword artifact). Measured on the
    * round-10 ladder the moment the amplifier started preserving
    * function words like real text does: the r=1 hot bucket grew 71 →
    * 668 from sf1 → sf10 (projecting ~2.2 B candidate pairs from ONE
    * bucket at sf1000) while the r=2 banded forms stayed flat (11 → 17).
    * The recall cost is bounded and small: a true pair in a dropped
    * bucket still collides in each OTHER band with probability ≥ s per
    * band (r=1, bands=4, s ≥ 0.5 ⇒ miss probability ≤ (1−s)³ ≤ 12.5%,
    * only for hot-bucket members). Test-SF buckets are far below the
    * cap, so oracle outputs are unchanged — the cap is the degrade-
    * gracefully contract, exactly like the wedge family's degree cap.
    */
  val MaxBandBucket: Int = 4096

  /** Drops over-cap (band, sig) buckets from a banding long form. The
    * size aggregate and the semi-join key on (band, sig) — the same
    * partitioning the candidate self-join needs, so the cap rides the
    * exchange the join pays anyway.
    */
  private def capBuckets(longForm: DataFrame, maxBucket: Int): DataFrame =
    longForm.join(
      longForm.groupBy("band", "sig").agg(count(lit(1)).as("_n"))
        .where(col("_n") <= maxBucket).select("band", "sig"),
      Seq("band", "sig"))

  /** [[capBuckets]] for the incremental (two-sided) candidate joins:
    * the cap decision is made on the COMBINED batch+index bucket size —
    * the same population a full rebuild over the union would count — and
    * applied to both sides, so the delta path's candidate generation is
    * gated exactly like the rebuild it replaces (round-12 ADVICE: the
    * uncapped cross join reintroduced the quadratic universal-shingle
    * blowup, and a bucket over the cap only in the union diverged from
    * the `incremental_edges` oracle contract).
    */
  private def capBucketsUnion(aLong: DataFrame, bLong: DataFrame,
                              maxBucket: Int = MaxBandBucket)
      : (DataFrame, DataFrame) = {
    val ok = aLong.select("band", "sig")
      .unionAll(bLong.select("band", "sig"))
      .groupBy("band", "sig").agg(count(lit(1)).as("_n"))
      .where(col("_n") <= maxBucket).select("band", "sig")
      // The capped sides feed up to three candidate joins per caller
      // (within-batch a/b + cross) — uncached, each join re-ran this
      // union aggregate and its index re-scan (round 13). Narrow
      // (band, sig) rows bounded by the distinct-bucket count (~bands ×
      // union docs), the same magnitude the index scan already pays.
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (aLong.join(ok, Seq("band", "sig")), bLong.join(ok, Seq("band", "sig")))
  }

  private def bandCandidates(longForm: DataFrame,
                             maxBucket: Int = MaxBandBucket): DataFrame = {
    val capped = capBuckets(longForm, maxBucket)
    capped.as("a").join(capped.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** [[nearDupPairsBanded]] in K bounded-scratch SEQUENTIAL slices —
    * originally the execution mode for the corpus size where the
    * one-shot job's overlapping shuffles (band self-join + distinct +
    * two verify joins, all live at once) exceed a node's spill scratch
    * (SCALING.md sixth decade: ~19 GB at 5 M docs → ~10× that at 50 M,
    * over this box's free disk). The round-11 mode sweep (batch 19)
    * found it is ALSO the fastest mode from ~5 M docs even when
    * scratch is not the binding constraint: the bucketed table pays
    * one build and every per-slice verify join then reads the corpus
    * side shuffle- and sort-free, where the one-shot form re-sorts the
    * corpus inside its verify joins (sf100: 104.6 s sliced K=8 vs
    * 217.6 s one-shot r=2, identical output). Below ~1 M docs the
    * K-slice fixed overhead dominates — use [[nearDupPairsBanded]].
    *
    * Protocol:
    *  1. The signature+shingle-set frame materializes BUCKETED by
    *     doc_id (64 buckets, sorted) into a temp catalog table — so
    *     every per-slice verify join reads the corpus side shuffle-free
    *     and sort-free; only slice-sized candidate frames ever shuffle
    *     again. The build itself runs in `buildSlices` sequential
    *     doc_id strides (appends to the same bucketed table) because at
    *     50 M docs the collect_set aggregate's sort-based fallback
    *     spills ~the whole projected gram stream in one shot.
    *  2. Band keys split by `pmod(xxhash64(band, sig), slices)`: slice i
    *     self-joins ONLY its band-key range, verifies its candidates
    *     against the bucketed sets, and writes verified pairs to its own
    *     `workDir/pairs/slice_i` parquet. Each slice is its own action,
    *     so its shuffle files are reclaimable as it completes (an
    *     explicit GC nudges the ContextCleaner); slices run ≤ P at a
    *     time through a bounded pool (default 2,
    *     `SPARK_GRAFT_SLICE_PARALLELISM`; guide §2.6) — peak scratch is
    *     ~P/K of the one-shot job's.
    *  3. The union reads back with a `distinct()` — a pair whose two
    *     colliding band keys hash to different slices is verified twice
    *     with bit-identical Jaccard (deterministic arithmetic), so
    *     distinct restores exactly the one-shot relation. DedupSpec pins
    *     `sliced(K) ≡ one-shot` on real data.
    *
    * The result parquet under `workDir/pairs` is the durable output;
    * the temp table is dropped before returning.
    */
  def nearDupPairsBandedSliced(docs: DataFrame, workDir: String,
                               slices: Int = 8, rowsPerBand: Int = 2,
                               threshold: Double = 0.5,
                               textCol: String = "text",
                               buildSlices: Int = 1): DataFrame = {
    require(slices >= 1, "slices must be >= 1")
    require(buildSlices >= 1, "buildSlices must be >= 1")
    val spark = docs.sparkSession
    val tbl = "graft_sigsets_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    // The signature build itself is the first scratch hog at the 50 M-doc
    // decade: collect_set exceeds the object-hash-aggregate key budget in
    // every task, the partial aggregate falls back to SORT-based, and the
    // sort spills ~the whole projected gram stream (~60 GB measured at
    // sf1000 — more than this box's free disk). `buildSlices` = B bounds
    // it the same way `slices` bounds the join scratch: B sequential
    // doc_id-strided builds, each spilling ~1/B, appended into the one
    // bucketed table (groupBy doc_id is disjoint across strides, so the
    // union IS the one-shot frame — pinned in DedupSpec).
    for (j <- 0 until buildSlices) {
      val part =
        if (buildSlices == 1) docs
        else docs.where(pmod(col("doc_id"), lit(buildSlices)) === j)
      buildSigSets(part, 4, textCol)
        .write.mode(if (j == 0) "errorifexists" else "append")
        .bucketBy(64, "doc_id").sortBy("doc_id")
        .format("parquet").saveAsTable(tbl)
      Scratch.gcIfPressured(spark)  // reclaim this build stride's shuffle/spill files
    }
    try {
      val sets = spark.table(tbl)
      val longForm = bandedLongForm(sets, rowsPerBand)
      val pairsDir = s"$workDir/pairs"
      // Round 14 (VERDICT r13 item 8, guide §2.6 overlap independent
      // jobs): the K slice jobs are independent until the final union,
      // but run sequentially they serialize K jobs' fixed cost AND each
      // job's straggler tail leaves the cores idle. Submit them through
      // a bounded pool (SPARK_GRAFT_SLICE_PARALLELISM, default 2) so
      // the next slice's tasks back-fill freed executors; each slice
      // writes its OWN subdirectory (concurrent writers never share a
      // commit) and the read-back union + distinct is order-blind, so
      // the relation is unchanged (DedupSpec pins sliced ≡ one-shot).
      // The scratch bound the mode exists for becomes ~P/K of the
      // one-shot job's — still a hard bound, now explicitly
      // P-parameterized for the decade where 1/K is the budget (set
      // the env to 1 to restore strict sequential slicing).
      val par = math.min(slices, math.max(1,
        sys.env.get("SPARK_GRAFT_SLICE_PARALLELISM")
          .flatMap(s => scala.util.Try(s.toInt).toOption).getOrElse(2)))
      // Fail fast: the first failing slice cancels the slices' job group
      // (and its later jobs), queued slices skip, and the pool drains
      // before the table is dropped. No interrupt: an interrupted
      // `runJob` returns before its job ends.
      val sc = spark.sparkContext
      val group = s"graft_slices_$tbl"
      val failed = new java.util.concurrent.atomic.AtomicBoolean(false)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(par)
      // Each slice returns the schema it wrote (None if skipped), so the
      // read-back infers none.
      val done = new java.util.concurrent.ExecutorCompletionService[
        Option[org.apache.spark.sql.types.StructType]](pool)
      val written = try {
        for (i <- 0 until slices) done.submit { () =>
          sc.setJobGroup(group, s"near-dup slice $i", interruptOnCancel = true)
          try if (failed.get) None else {
            val slice = longForm.where(
              pmod(xxhash64(col("band"), col("sig")), lit(slices)) === i)
            val pairs = verifyJaccard(bandCandidates(slice), sets, sets,
                "doc_a", "doc_b", threshold)
            pairs.write.mode("overwrite").parquet(s"$pairsDir/slice_$i")
            Scratch.gcIfPressured(spark)  // reclaim this slice's shuffles
            Some(pairs.schema)
          } finally sc.clearJobGroup()
        }
        try (0 until slices).flatMap(_ => done.take().get())
        catch { case e: java.util.concurrent.ExecutionException =>
          failed.set(true)
          sc.cancelJobGroupAndFutureJobs(group)
          pool.shutdown()
          pool.awaitTermination(Long.MaxValue,
            java.util.concurrent.TimeUnit.NANOSECONDS)
          throw e.getCause
        }
      } finally pool.shutdown()
      spark.read.schema(written.head)
        .parquet((0 until slices).map(i => s"$pairsDir/slice_$i"): _*)
        .distinct()
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  /** Cross-corpus near-dup pairs — the incremental counterpart of
    * [[nearDupPairs]] and the fuzzy counterpart of [[incrementalDedup]]:
    * an incoming batch's MinHash bands are equi-joined against the
    * existing corpus' bands (at cluster scale the corpus side is the
    * signature index materialized once per corpus version by
    * [[nearDupPairs]]' first pass, not a rescan of corpus text), and each
    * candidate is verified with exact Jaccard. Output: one row per
    * (inc_id, ex_id) near-dup pair ≥ `threshold`; the dedup endpoint is
    * an anti-join of the batch against `inc_id` (compose like
    * [[decontaminate]] does).
    */
  def incrementalNearDupPairs(incoming: DataFrame, existing: DataFrame,
                              bands: Int = 4, threshold: Double = 0.5,
                              textCol: String = "text"): DataFrame =
    incrementalNearDupPairsFromIndex(incoming,
      sigSets(existing, bands, textCol), bands, threshold, textCol)

  /** The corpus-side signature index (doc_id, band minima, distinct
    * shingle-hash set) as a FIRST-CLASS artifact: at cluster scale this
    * is materialized to parquet once per corpus version, and every
    * incremental batch joins against the table instead of re-scanning
    * corpus text — the contract [[incrementalNearDupPairs]]' scaladoc
    * promises, now a callable build step
    * ([[incrementalNearDupPairsFromIndex]] consumes it).
    */
  def buildSignatureIndex(docs: DataFrame, bands: Int = 4,
                          textCol: String = "text"): DataFrame =
    buildSigSets(docs, bands, textCol)

  /** [[incrementalNearDupPairs]] with the existing side fed from a
    * materialized [[buildSignatureIndex]] table: the timed path builds
    * bands for the BATCH only — cost ∝ batch (+ the index scan), not a
    * corpus re-derivation. Same candidates, same verify, same rows.
    */
  def incrementalNearDupPairsFromIndex(incoming: DataFrame,
                                       exIndex: DataFrame, bands: Int = 4,
                                       threshold: Double = 0.5,
                                       textCol: String = "text")
      : DataFrame = {
    val inc = sigSets(incoming, bands, textCol)
    val (incC, exC) =
      capBucketsUnion(bandLong(inc, bands), bandLong(exIndex, bands))
    val cand = incC.as("a")
      .join(exC.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig"))
      .select(col("a.doc_id").as("inc_id"), col("b.doc_id").as("ex_id"))
      .distinct()
    verifyJaccard(cand, inc, exIndex, "inc_id", "ex_id", threshold)
  }

  /** Edge-table DELTA for an appended batch (VERDICT r11 item 6): the
    * new edges a full rebuild over `existing ∪ incoming` would add —
    * batch-internal pairs (the banded self-join over the batch's
    * signatures; band signatures are document-local, so this finds
    * exactly the full run's batch×batch pairs) plus batch-vs-corpus
    * pairs (the banded equi-join against the materialized signature
    * index), normalized to the edge table's doc_a < doc_b orientation.
    * `existingEdges ∪ delta` therefore EQUALS the full rebuild on the
    * union snapshot — the `incremental_edges` oracle checks exactly
    * that, hash-for-hash, and DedupSpec pins the frame equality. The
    * band-bucket cap [[MaxBandBucket]] (4096) is applied on the
    * COMBINED batch+index bucket size ([[capBucketsUnion]]) for BOTH
    * the within-batch and cross candidate joins — exactly the bucket
    * population the union rebuild counts, so a universal-shingle bucket
    * crossing the cap only in the union is dropped here too, and the
    * quadratic candidate blowup the cap exists to prevent cannot
    * re-enter through the delta path (round-12 ADVICE; the repo's own
    * hot-bucket ladder — 71 → 668 per decade — put the uncapped form in
    * reach of the cap around sf100). The one remaining divergence is
    * RETRACTION: edges already in `existingEdges` from a bucket that
    * crosses the cap only after the append are never removed (delta
    * maintenance is append-only), so `existing ∪ delta` is then a
    * superset of the full rebuild — a degrade-gracefully superset of
    * recall, never a correctness loss for dedup consumers.
    *
    * Scale: delta cost ∝ batch — the corpus side enters only through
    * the index scan and the narrow band equi-join; corpus TEXT is never
    * re-read (ScaleProbe's `edges-delta` kind measures the ladder).
    */
  def updatePairGraphDelta(incoming: DataFrame, exIndex: DataFrame,
                           bands: Int = 4, threshold: Double = 0.5,
                           textCol: String = "text"): DataFrame = {
    val inc = sigSets(incoming, bands, textCol)
    // ONE combined-size cap decision shared by both candidate joins —
    // the union rebuild's bucket population, so within-batch and cross
    // candidates are gated identically to the full run.
    val (incC, exC) =
      capBucketsUnion(bandLong(inc, bands), bandLong(exIndex, bands))
    val withinCand = incC.as("a").join(incC.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val within = verifyJaccard(withinCand, inc, inc, "doc_a", "doc_b",
        threshold)
      .select(col("doc_a"), col("doc_b"))
    val crossCand = incC.as("a").join(exC.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig"))
      .select(col("a.doc_id").as("inc_id"), col("b.doc_id").as("ex_id"))
      .distinct()
    val cross = verifyJaccard(crossCand, inc, exIndex, "inc_id", "ex_id",
        threshold)
      .select(least(col("inc_id"), col("ex_id")).as("doc_a"),
        greatest(col("inc_id"), col("ex_id")).as("doc_b"))
    within.unionAll(cross)
  }

  /** The maintained edge table: existing edges + the batch delta. Feed
    * the result back through [[writePairGraph]] to advance the corpus
    * version; the wedge/cluster consumers are unchanged.
    */
  def updatePairGraph(existingEdges: DataFrame, incoming: DataFrame,
                      exIndex: DataFrame, bands: Int = 4,
                      threshold: Double = 0.5,
                      textCol: String = "text"): DataFrame =
    existingEdges.select(col("doc_a"), col("doc_b"))
      .unionAll(updatePairGraphDelta(incoming, exIndex, bands, threshold,
        textCol))

  /** Touched-cluster relabel after a delta append: recompute labels ONLY
    * for clusters an incoming batch connects to (plus the batch itself);
    * every untouched cluster keeps its label row untouched. Exactly
    * equal to a full [[connectedComponents]] over the union snapshot
    * (labels are component minima; merging is driven solely by delta
    * edges, and old edges never cross old cluster boundaries — so the
    * induced-subgraph recompute sees every vertex whose label can
    * change). DedupSpec pins the equality.
    *
    * Scale: the relabel's CC runs over |touched clusters| + |batch|
    * vertices — duplicate-density-sized, not corpus-sized; the three
    * supporting joins are narrow key joins.
    *
    * @param oldLabels (doc_id, cluster) for the existing corpus
    * @param existingEdges the corpus edge table
    * @param deltaEdges [[updatePairGraphDelta]]'s output
    * @param incomingVertices (doc_id) of the appended batch
    */
  def relabelTouched(oldLabels: DataFrame, existingEdges: DataFrame,
                     deltaEdges: DataFrame,
                     incomingVertices: DataFrame): DataFrame = {
    // Both multi-consumed inputs are EAGERLY materialized with their
    // lineage truncated: deltaEdges is referenced 4× below (touched
    // vertices ×2, induced union, output) and typically carries the
    // whole delta pair search as lineage — uncheckpointed, every
    // reference would re-run it (measured 47 s vs 9 s on the sf0.1
    // registry row); labels are referenced 3×. Both frames are narrow
    // and bounded (edge- and vertex-count-sized).
    val delta = deltaEdges.select(col("doc_a"), col("doc_b"))
      .localCheckpoint()
    val labels = oldLabels.select(col("doc_id"), col("cluster"))
      .localCheckpoint()
    val touchedV = delta.select(col("doc_a").as("doc_id"))
      .unionAll(delta.select(col("doc_b").as("doc_id"))).distinct()
    val touchedC = labels.join(touchedV, Seq("doc_id"))
      .select("cluster").distinct()
    val affectedOld = labels.join(broadcast(touchedC), Seq("cluster"))
      .select("doc_id")
    // Also truncated: the CC below runs O(diameter) rounds of jobs, and
    // every job would otherwise re-evaluate this frame's join lineage
    // (including the broadcast(touchedC) subquery) from scratch.
    val affected = affectedOld
      .unionAll(incomingVertices.join(touchedV, Seq("doc_id"))
        .select("doc_id"))
      .distinct()
      .localCheckpoint()
    // Induced edges: old edges inside touched clusters (old edges never
    // cross clusters, so filtering ONE endpoint suffices) + the delta.
    val subEdges = existingEdges
      .join(affected.withColumnRenamed("doc_id", "doc_a"), Seq("doc_a"))
      .select(col("doc_a"), col("doc_b"))
      .unionAll(delta)
    // Warm-start the relabel from the OLD labels: an affected old
    // vertex re-enters at its old cluster id (its old component's
    // minimum — already the converged label for every intra-cluster
    // path), a batch vertex at its own doc_id. The min-label fixpoint
    // from this init is the same min-reachable relation (see
    // [[connectedComponentsFrom]]) but converges in the cluster-MERGE
    // diameter — the rounds that propagate minima WITHIN old clusters
    // are already done, and at 100 TB corpus-version cluster diameters
    // dwarf the delta's merge depth.
    val init = affected.join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster"), col("doc_id")).as("cluster"))
    val relabeled = connectedComponentsFrom(subEdges, init)
    val untouchedOld = labels
      .join(broadcast(touchedC), Seq("cluster"), "left_anti")
      .select(col("doc_id"), col("cluster"))
    val untouchedNewSingletons = incomingVertices
      .join(touchedV, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("cluster"))
    untouchedOld
      .unionAll(untouchedNewSingletons)
      .unionAll(relabeled.select(col("doc_id"), col("cluster")))
  }

  /** (doc_id, sig_0..sig_{bands-1}, sh): band minima plus the distinct
    * shingle-hash set, built in ONE tokenize → window-lead → aggregate
    * pass — a single doc_id-partitioned shuffle computes both the
    * signatures (min md5 slices) and the set (collect_set — order-free,
    * which Jaccard's intersect/size don't care about). The set collects
    * 8-byte xxhash64 values, not gram text and not the md5 hex strings
    * the signatures slice: Jaccard needs only equality, so the shuffle,
    * the persisted frame and the verify joins carry primitive long
    * arrays — ~4× fewer bytes than 32-char hex strings, the difference
    * between fitting and exhausting single-node shuffle scratch at the
    * fifth measured decade (SCALING.md sf100: the md5-string form wrote
    * >76 GB of shuffle; this form fits). The oracle counts gram text —
    * identical values since distinct-hash count == distinct-gram count
    * for a collision-free hash, and the exact-text oracle compare is
    * precisely the check that would surface a collision. Persisted: it
    * feeds the band explode and the verify side(s); on a cluster-scale
    * corpus this is the frame you materialize to parquet once per corpus
    * version. Session-cached until the caller clears it — invoke
    * `spark.catalog.clearCache()` after materializing when calling in a
    * loop (Bench/Verify do).
    */
  private def sigSets(docs: DataFrame, bands: Int,
                      textCol: String): DataFrame =
    buildSigSets(docs, bands, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** [[sigSets]] without the session cache — for callers that
    * materialize the frame themselves (the sliced pair mode writes it
    * straight to a bucketed table; double-caching it would defeat the
    * bounded-scratch point).
    */
  private def buildSigSets(docs: DataFrame, bands: Int,
                           textCol: String): DataFrame = {
    val grams = tokenGrams(docs, 3, textCol)
      .withColumn("_h", md5(col("gram")))
    val aggs = sliceMinAggs(bands) :+
      collect_set(xxhash64(col("gram"))).as("sh")
    grams.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** (doc_id, band, sig) long form of [[sigSets]]' band columns — the
    * compact key frame the candidate equi-joins shuffle on.
    */
  private def bandLong(combined: DataFrame, bands: Int): DataFrame =
    combined.select(col("doc_id"), explode(array(
      (0 until bands).map(k => struct(lit(k).as("band"),
                                      col(s"sig_$k").as("sig"))): _*
    )).as("b")).select(col("doc_id"), col("b.band"), col("b.sig"))

  /** Exact-Jaccard verification of a candidate pair frame: re-attach the
    * two shingle-hash sets, one `array_intersect` per pair, filter ≥
    * `threshold`.
    *
    * Deliberately NOT a shingle-level join for the intersection: common
    * shingles ("the a of") are shared by hundreds of docs, so a join
    * keyed on the shingle explodes quadratically in shingle frequency;
    * per-candidate-pair `array_intersect` is bounded by the (LSH-pruned)
    * candidate count instead.
    */
  private def verifyJaccard(cand: DataFrame, setsA: DataFrame,
                            setsB: DataFrame, aCol: String, bCol: String,
                            threshold: Double): DataFrame = {
    val inter = size(array_intersect(col("sa.sh"), col("sb.sh")))
    cand
      .join(setsA.select(col("doc_id"), col("sh")).as("sa"),
        col(aCol) === col("sa.doc_id"))
      .join(setsB.select(col("doc_id"), col("sh")).as("sb"),
        col(bCol) === col("sb.doc_id"))
      .withColumn("jaccard", inter.cast("double") /
        (size(col("sa.sh")) + size(col("sb.sh")) - inter))
      .where(col("jaccard") >= threshold)
      .select(col(aCol), col(bCol), col("jaccard"))
  }

  /** Asymmetric CONTAINMENT over the near-dup candidate graph: for every
    * LSH candidate pair, |A∩B| / |A| and |A∩B| / |B| — the quote /
    * subset-detection signal symmetric Jaccard misses (a short document
    * wholly embedded in a long one has low Jaccard but containment ≈ 1
    * on the short side; pipelines drop the contained copy, not both).
    * Emits pairs where EITHER direction reaches `threshold`, with both
    * directions and the Jaccard reported.
    *
    * Scale: identical shape to [[nearDupPairs]] — candidates from the
    * band equi-join, per-pair `array_intersect` verify bounded by the
    * candidate count, never all-pairs. Containment recall inherits the
    * banding's Jaccard s-curve (a contained-but-tiny fragment of a huge
    * doc has low Jaccard and may not band-collide; a df-capped blocking
    * key — [[winnowPairs]] — is the recall-guaranteed alternative when
    * fragment detection must be exhaustive).
    */
  def containmentPairs(docs: DataFrame, bands: Int = 4,
                       threshold: Double = 0.8,
                       textCol: String = "text"): DataFrame = {
    val combined = sigSets(docs, bands, textCol)
    val longForm = bandLong(combined, bands)
    val cand = longForm.as("a").join(longForm.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val inter = size(array_intersect(col("sa.sh"), col("sb.sh")))
    cand
      .join(combined.select(col("doc_id"), col("sh")).as("sa"),
        col("doc_a") === col("sa.doc_id"))
      .join(combined.select(col("doc_id"), col("sh")).as("sb"),
        col("doc_b") === col("sb.doc_id"))
      .withColumn("_i", inter)
      .withColumn("containment_a",
        col("_i").cast("double") / size(col("sa.sh")))
      .withColumn("containment_b",
        col("_i").cast("double") / size(col("sb.sh")))
      .withColumn("jaccard", col("_i").cast("double") /
        (size(col("sa.sh")) + size(col("sb.sh")) - col("_i")))
      .where(col("containment_a") >= threshold ||
             col("containment_b") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("containment_a"),
        col("containment_b"), col("jaccard"))
  }

  /** Direct n-gram Jaccard near-duplicate pairs via rare-gram blocking —
    * the deterministic counterpart of [[nearDupPairs]]' probabilistic LSH
    * banding, over `n`-token shingles. Candidate pairs are documents
    * sharing at least one *rare* n-gram (document frequency in
    * [2, `maxDf`]); each candidate is then verified with the exact
    * Jaccard of the full distinct-gram sets.
    *
    * `n` defaults to 6 for the same reason [[contaminationOverlap]]
    * defaults to 8: long grams are near-unique, so document frequencies
    * concentrate at 1–2 and the blocking join's fan-out stays ~1 per
    * gram. Short grams (3) make DF dense on small-vocabulary corpora and
    * flood the verifier with false candidates — measured as a 78 s →
    * ~1 s collapse on the sf0.1 corpus when n went 3 → 6. The similarity
    * is *defined* on the same n-gram vocabulary, which also tightens the
    * blocking guarantee: a pair with 6-gram Jaccard ≥ 0.5 shares many
    * 6-grams by definition, so it is missed only if every shared gram is
    * boilerplate with df > `maxDf`.
    *
    * Plan shape (the 100 TB path):
    *  1. one tokenize → shingle → hash pass, aggregated straight into
    *     per-doc distinct gram-hash SETS (8-byte keys, never gram
    *     text) — the one gram-stream exchange; the frame persists
    *     because the gram-DF aggregate, the blocking self-join and
    *     both verify sides all consume it (each re-deriving the long
    *     form as a narrow explode of the cached arrays),
    *  2. gram-DF aggregate, keep grams with 2 ≤ df ≤ `maxDf` (df = 1
    *     cannot produce a pair; df > maxDf caps per-gram join fan-out at
    *     maxDf², which is what keeps the blocking join off the quadratic
    *     common-gram cliff [[nearDupPairs]]' scaladoc warns about),
    *  3. self-equi-join on the rare gram hash → candidates,
    *  4. exact Jaccard over collect_set gram sets, filter ≥ `threshold`.
    *
    * Recall contract: exact for every pair sharing ≥ 1 rare gram; pairs
    * whose every shared gram has df > `maxDf` (pure template text) are
    * the known, documented miss — the trade that bounds worst-case cost.
    */
  def jaccardNgramPairs(docs: DataFrame, n: Int = 6,
                        threshold: Double = 0.5,
                        maxDf: Int = 10, textCol: String = "text"): DataFrame = {
    // 8-byte xxhash64 gram keys (key-width rule): Jaccard needs only
    // equality, so joins and arrays carry longs, never gram text. The
    // per-doc distinct-gram SETS are the frame that persists: ONE
    // doc_id-keyed exchange (collect_set dedups map-side) builds them,
    // and the blocking long form re-derives as a NARROW explode of the
    // cached arrays — the former long-form `distinct()` shuffled the
    // whole gram stream a second time for the same rows (round 13,
    // guide §2.4: explode(collect_set) ≡ distinct, minus an exchange).
    val sets = tokenGrams(docs, n, textCol)
      .select(col("doc_id"), xxhash64(col("gram")).as("g"))
      .groupBy("doc_id").agg(collect_set(col("g")).as("gs"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val grams = sets.select(col("doc_id"), explode(col("gs")).as("g"))

    val rareGrams = grams.groupBy("g").agg(count(lit(1)).as("_df"))
      .where(col("_df") >= 2 && col("_df") <= maxDf)
      .select("g")
    val blocked = grams.join(rareGrams, Seq("g"))
    val cand = blocked.as("a").join(blocked.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()

    val inter = size(array_intersect(col("sa.gs"), col("sb.gs")))
    cand
      .join(sets.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sets.as("sb"), col("doc_b") === col("sb.doc_id"))
      .withColumn("jaccard", inter.cast("double") /
        (size(col("sa.gs")) + size(col("sb.gs")) - inter))
      .where(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Sketch-quality evaluation for the MinHash estimator: every
    * rare-shingle-blocked candidate pair carries its EXACT 3-gram
    * Jaccard next to the k=4 MinHash estimate (matching signature
    * components / 4) and the absolute error — the measurement that says
    * whether a banding threshold can be trusted before a 100 TB run
    * commits to it. Same blocking/plan shape as [[jaccardNgramPairs]]
    * (candidates from a df-capped equi-join, never all pairs); the
    * estimate and the exact value come from the SAME shingle space so
    * the error column is meaningful.
    */
  def minhashEstimateEval(docs: DataFrame, maxDf: Int = 10,
                          threshold: Double = 0.2,
                          textCol: String = "text"): DataFrame = {
    // Per-doc set first, blocking long form as a narrow explode of the
    // cached arrays — one gram-stream exchange instead of two (same
    // rewrite as [[jaccardNgramPairs]], round 13).
    // Exact sets via collect_set + array_intersect. The alternative
    // (re-deriving intersections through a candidate × grams_a ×
    // grams_b join) was measured and REJECTED: it wins slightly at
    // sf0.1 (6.9 vs 8.4 s) but loses 4× at sf1 (55 vs 14 s) — the
    // pair×gram row inflation grows with candidate count where the
    // array form ships each doc's set once per incident pair.
    // The k=4 MinHash signature rides the SAME aggregate (round 14,
    // guide §2.4/§6): the estimate is defined on the same 3-gram
    // shingle space as the exact sets, so the md5-slice minima are
    // just four more aggregate columns over the one gram stream —
    // where the former separate [[minhashSignatures]] call re-scanned
    // the corpus text, re-tokenized, and paid its own doc_id exchange
    // plus a localCheckpoint barrier (driver-measured 7.6 s; VERDICT
    // r13 item 3). min over gram OCCURRENCES equals min over the
    // distinct grams (min is duplicate-blind), and every candidate doc
    // has ≥ 1 gram, so the signature columns are never null where a
    // pair exists — identical rows out.
    val sigAggs = sliceMinAggs(4) :+ collect_set(col("g")).as("gs")
    val sets = tokenGrams(docs, 3, textCol)
      .select(col("doc_id"), xxhash64(col("gram")).as("g"),
        md5(col("gram")).as("_h"))
      .groupBy("doc_id").agg(sigAggs.head, sigAggs.tail: _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val grams = sets.select(col("doc_id"), explode(col("gs")).as("g"))
    val rare = grams.groupBy("g").agg(count(lit(1)).as("_df"))
      .where(col("_df") >= 2 && col("_df") <= maxDf)
      .select("g")
    val blocked = grams.join(rare, Seq("g"))
    val cand = blocked.as("a").join(blocked.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val inter = size(array_intersect(col("sa.gs"), col("sb.gs")))
    val matches = (0 until 4).map(k =>
      when(col(s"sa.sig_$k") === col(s"sb.sig_$k"), 1).otherwise(0))
      .reduce(_ + _)
    cand
      .join(sets.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sets.as("sb"), col("doc_b") === col("sb.doc_id"))
      .withColumn("jaccard", inter.cast("double") /
        (size(col("sa.gs")) + size(col("sb.gs")) - inter))
      .where(col("jaccard") >= threshold)
      .withColumn("n_match", matches.cast("long"))
      .withColumn("est", col("n_match").cast("double") / 4)
      .withColumn("abs_err", abs(col("jaccard") - col("est")))
      .select(col("doc_a"), col("doc_b"), col("jaccard"), col("n_match"),
        col("est"), col("abs_err"))
  }

  /** Candidate near-dup pairs from winnowing signatures
    * ([[graft.operators.TextOps.winnowFingerprints]]): documents sharing
    * at least `minShared` distinct selected fingerprints, with the share
    * count. The winnowing guarantee makes this a recall-safe blocking
    * step for substring-level duplication — any pair sharing a run of
    * `gram + w − 1` bytes shares at least one fingerprint — at ~2/(w+1)
    * of the full k-gram index's size. Fingerprints occurring in more
    * than `maxDf` documents (boilerplate) are dropped before the
    * self-join — the same rare-band capping as [[jaccardNgramPairs]], so
    * per-fingerprint fan-out is bounded by maxDf² however large the
    * corpus grows.
    */
  def winnowPairs(docs: DataFrame, minShared: Int = 2, maxDf: Int = 10,
                  gram: Int = 8, w: Int = 4): DataFrame = {
    // Persisted like jaccardNgramPairs' gram index: the signature frame
    // feeds the df filter AND both self-join sides — unpersisted, the
    // whole winnowing scan would run 3× (4 corpus scans measured).
    val fps = TextOps.winnowFingerprints(docs, gram, w)
      .select(col("doc_id"), col("fp")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rare = fps.groupBy("fp").agg(count(lit(1)).as("_df"))
      .where(col("_df") >= 2 && col("_df") <= maxDf)
      .select("fp")
    val blocked = fps.join(rare, Seq("fp"))
    blocked.as("a").join(blocked.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
      .orderBy("doc_a", "doc_b")
  }

  /** PageRank over an undirected pair graph (e.g. the near-dup pair
    * output) in FIXED-POINT integer arithmetic — the centrality signal
    * that ranks which member of a duplicate neighborhood is the "hub"
    * copy (most-connected boilerplate) versus a leaf. Scores are
    * maintained as BIGINT units of 1/`scale`: p0 = scale/N, and each of
    * `iters` rounds computes
    * `p'(u) = (15·scale)/(100·N) + (85·Σ_{v→u} p(v)/deg(v))/100`
    * with every division a positive floor division — so the result is
    * bit-identical on any engine and any partitioning (no float sums
    * anywhere; the tiny mass lost to flooring is deterministic too).
    *
    * Scale: the edge+degree frame is persisted once (narrow columns);
    * each round is one join + one sum shuffle keyed on vertex — the
    * standard BSP PageRank, `iters` bounded. The vertex count N is the
    * one scalar crossing the driver (a count, like the planner's table
    * statistics). `pairs` rows must be unique (doc_a < doc_b), which the
    * pair generators guarantee.
    *
    * Returns (doc_id, pr_fp, pr): the fixed-point score, and the
    * readable double (one exact-integer division). Vertices are the
    * documents appearing in `pairs` — isolated docs all share the
    * baseline score and are omitted.
    */
  def pageRank(pairs: DataFrame, iters: Int = 4,
               scale: Long = 1000000000000L): DataFrame = {
    // Materialize the (possibly expensive) pair pipeline ONCE behind the
    // degree-annotated edge frame: it feeds the vertex count, the p0
    // seed, and every BSP round's join. An EAGER localCheckpoint (not a
    // persist) also truncates the lineage, so the final plan references
    // a checkpoint scan per round instead of re-nesting the whole pair
    // pipeline iters times. The bounded rounds then chain LAZILY —
    // iters is small and fixed, so an iters-deep lineage over the
    // checkpointed frame is ONE job with the minimal join+agg shuffle
    // per round, instead of a persist+count barrier per round (which
    // cost a full extra job each and dominated the wall-clock at small
    // SF). A cluster deployment swaps this for a reliable checkpoint()
    // dir — local checkpoint blocks don't survive executor loss.
    val adj = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionAll(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .withColumn("d", count(lit(1)).over(Window.partitionBy("src")))
      .localCheckpoint()
    val n = adj.select("src").distinct().count()
    if (n == 0) {
      return pairs.sparkSession.emptyDataFrame
        .select(lit(0L).as("doc_id"), lit(0L).as("pr_fp"),
          lit(0.0).as("pr")).limit(0)
    }
    val base = 15L * scale / (100L * n)
    var p = adj.select(col("src").as("v")).distinct()
      .select(col("v"), lit(scale / n).as("p"))
    for (_ <- 0 until iters) {
      p = adj.join(p, adj("src") === p("v"))
        .select(col("dst"), expr("p div d").as("c"))
        .groupBy(col("dst").as("v"))
        .agg(sum("c").as("inflow"))
        .select(col("v"),
          (lit(base) + expr("(85 * inflow) div 100")).as("p"))
    }
    p.select(col("v").as("doc_id"), col("p").as("pr_fp"),
        (col("p").cast("double") / scale).as("pr"))
      .orderBy(desc("pr_fp"), col("doc_id"))
  }

  /** Synchronous label propagation over the near-dup pair graph —
    * community detection where connected components are too coarse
    * (a bridge edge merges two dense duplicate groups into one
    * component; LPA keeps them separate communities). Deterministic on
    * purpose: every vertex simultaneously adopts the most frequent
    * label among its neighbors, ties broken by MINIMUM label — the
    * argmax is a per-vertex partitioned `row_number`, so there is no
    * nondeterministic `max_by` and no unpartitioned anything. Classic
    * LPA can oscillate, so the contract is a FIXED round count (like
    * [[pageRank]]'s fixed Lloyd-style iterations), replayed round-for-
    * round by the oracle. Rounds chain lazily over the once-
    * checkpointed edge frame — `iters` is small and fixed, so this is
    * one job with a join+agg+window per round.
    */
  def labelPropagation(pairs: DataFrame, iters: Int = 4): DataFrame = {
    val sym = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionAll(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .distinct()
      .localCheckpoint()
    var labels = sym.select(col("src").as("v")).distinct()
      .select(col("v"), col("v").as("label"))
    // Exactly ONE reference to the previous round's labels per round:
    // a keep-own-label-on-no-neighbors fallback (labels left-join pick)
    // would reference it twice, and under lazy chaining the round-1
    // frame is then re-derived 2^iters times (measured 23 s at sf1 for
    // 4 rounds vs 6 s with the single-reference form). The fallback is
    // dead code anyway: sym is symmetric, so EVERY vertex appears as a
    // dst and the per-round argmax covers the full vertex set.
    for (_ <- 0 until iters) {
      val counts = sym.join(labels, sym("src") === labels("v"))
        .groupBy(col("dst"), col("label")).agg(count(lit(1)).as("c"))
      val w = Window.partitionBy("dst").orderBy(desc("c"), asc("label"))
      labels = counts.withColumn("_rn", row_number().over(w))
        .where(col("_rn") === 1)
        .select(col("dst").as("v"), col("label"))
    }
    labels.select(col("v").as("doc_id"), col("label").as("community"))
  }

  /** Exact edit distance over an ALREADY-BLOCKED candidate pair list:
    * joins each (doc_a, doc_b) pair back to its texts and scores
    * character-level Levenshtein, plus a fixed-point normalized distance
    * (dist·10^6 floor-divided by the longer length) for thresholding.
    * This is the expensive verify step fuzzy matching runs LAST — the
    * O(len²) distance is computed only for pairs a cheap blocker (LSH,
    * SimHash, winnowing) already surfaced, never all-pairs.
    *
    * Scale: the pair list is tiny relative to the corpus, so both text
    * joins broadcast the pairs against the document scan; the distance
    * itself is a codegen'd expression.
    */
  def editDistancePairs(pairs: DataFrame, docs: DataFrame): DataFrame = {
    val p = broadcast(pairs.select(col("doc_a"), col("doc_b")))
    val ta = docs.select(col("doc_id").as("doc_a"), col("text").as("_ta"))
    val tb = docs.select(col("doc_id").as("doc_b"), col("text").as("_tb"))
    p.join(ta, "doc_a").join(tb, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("_ta"), col("_tb")).cast("long").as("edit_distance"),
        // greatest(…, 1): two empty texts are distance 0 and must not
        // trip ANSI division-by-zero in the normalizer
        greatest(length(col("_ta")), length(col("_tb")), lit(1)).cast("long")
          .as("_maxlen"))
      .select(col("doc_a"), col("doc_b"), col("edit_distance"),
        expr("(edit_distance * 1000000) div _maxlen").as("norm_fp"))
      .orderBy("doc_a", "doc_b")
  }

  /** Triangle enumeration over an undirected pair graph (doc_a < doc_b
    * rows, as every pair generator emits): lists each 3-clique once as
    * (doc_a < doc_b < doc_c). In a near-dup graph, triangles separate
    * tight mutual-duplicate cores from chains of borderline pairs —
    * clustering-coefficient style evidence that a neighborhood really is
    * one template, which is exactly when collapsing to one representative
    * is safe.
    *
    * Algorithm: the standard ordered wedge join — wedges (a<b)⋈(b<c)
    * closed against the edge list on (a, c). Because every edge is kept
    * only in its a<b orientation, each triangle is generated exactly once.
    *
    * Scale guard: the per-vertex wedge fan-out on the join vertex b is
    * indeg(b)·outdeg(b), and a pair source WITHOUT a df-cap (SimHash
    * banding) lets a giant boilerplate cluster of size m contribute ~m
    * edges to one vertex — Σdeg² blowup at 100 TB even though the edge
    * list itself is linear in duplicate density. So the graph is
    * degree-capped FIRST, deterministically: each vertex keeps its
    * `maxDegree` smallest-id neighbors in each orientation (row_number
    * per doc_a ordered by doc_b, and per doc_b ordered by doc_a), which
    * bounds per-vertex fan-out by maxDegree² regardless of skew. The
    * default cap (256) exceeds any degree the pair generators produce at
    * test SFs — measured max ordered degree at sf0.01 is 40 — so results
    * are exact there; at 100 TB the operator degrades gracefully to
    * "triangles over the degree-capped graph" instead of an unbounded
    * shuffle. The cap is part of the operator contract and the SQL oracle
    * replays it. Two window shuffles + two equi-join shuffles, no
    * symmetrization.
    */
  def triangles(pairs: DataFrame, maxDegree: Int = 256): DataFrame =
    triangleSet(pairs, maxDegree).orderBy("doc_a", "doc_b", "doc_c")

  /** The unsorted triangle enumeration [[triangles]] and
    * [[trianglesBounded]] share — the wedge join itself, no terminal
    * order.
    */
  private def triangleSet(pairs: DataFrame, maxDegree: Int): DataFrame = {
    // The capped edge frame comes from the SHARED memo
    // ([[cappedPairGraph]]) — reclaimable via [[clearWedgeCache]], and
    // one cached copy per (pairs, cap) across the whole wedge family
    // instead of a private persist this enumeration would leak.
    val e = cappedPairGraph(pairs, maxDegree)
    val ab = e.select(col("doc_a").as("a"), col("doc_b").as("b"))
    val bc = e.select(col("doc_a").as("b"), col("doc_b").as("c"))
    val ac = e.select(col("doc_a").as("a"), col("doc_b").as("c"))
    ab.join(bc, "b")
      .join(ac, Seq("a", "c"))
      .select(col("a").as("doc_a"), col("b").as("doc_b"),
        col("c").as("doc_c"))
  }

  /** [[triangles]] with a BOUNDED terminal — the registry/production
    * form (VERDICT r10 item 3). The unbounded enumerate form ends in a
    * total order over the triangle set, which is output-sized and grows
    * superlinearly in duplicate density (sf0.1 already enumerates
    * 4.9 M rows; 100× the edges → ~500 M-row global sort). Here the
    * terminal is `ORDER BY … LIMIT cap` — planned as
    * TakeOrderedAndProject, every partition holding ≤ cap rows and the
    * driver merging ≤ cap — plus the TOTAL triangle count stamped on
    * every row via a one-row broadcast (the no-silent-caps rule: a
    * reader always sees how much the cap dropped). The triangle SET is
    * memoized+persisted (round-11 ADVICE: the count pass and the top-k
    * pass consume the same wedge join — without the persist both
    * re-paid its two join shuffles), so the second consumer reads
    * cached triangle rows; reclaim via [[clearWedgeCache]]. Per-vertex
    * totals live in the aggregate twin [[triangleCounts]]; the full
    * enumeration stays available as [[triangles]].
    */
  def trianglesBounded(pairs: DataFrame, cap: Int = 10000,
                       maxDegree: Int = 256): DataFrame = {
    val tri = triangleSetPersisted(pairs, maxDegree)
    val n = tri.agg(count(lit(1)).as("n_triangles"))
    tri.orderBy("doc_a", "doc_b", "doc_c").limit(cap)
      .crossJoin(broadcast(n))
  }

  /** Memoized PERSISTED triangle set per (session, pair frame, cap) —
    * the shared-join contract for terminals that consume the
    * enumeration more than once ([[trianglesBounded]]'s count + top-k).
    * Same memo discipline as [[cappedPairGraph]] (session-scoped key,
    * stopped-session eviction, collision unpersist), same reclaim
    * ([[clearWedgeCache]]).
    */
  private val triSetCache =
    new java.util.concurrent.ConcurrentHashMap[
      (Int, Int, Int), (DataFrame, DataFrame)]()

  private def triangleSetPersisted(pairs: DataFrame,
                                   maxDegree: Int): DataFrame = {
    triSetCache.entrySet().removeIf { e =>
      e.getValue._1.sparkSession.sparkContext.isStopped
    }
    val key = (System.identityHashCode(pairs.sparkSession),
      pairs.semanticHash(), maxDegree)
    // Atomic per-key compute (round-12 ADVICE): the get-then-put form
    // raced on concurrent first computation — the losing thread's put
    // unpersisted the frame the winner had just returned to its caller,
    // forcing silent recomputation mid-consumption. Under compute() only
    // one frame is ever created and cached per key; a genuine
    // semanticHash collision still replaces (and unpersists) the evicted
    // entry, but inside the same atomic section.
    triSetCache.compute(key, (_, prev) =>
      if (prev != null && (prev._1.sparkSession eq pairs.sparkSession) &&
          prev._1.sameSemantics(pairs)) {
        // A session-wide `catalog.clearCache()` (the bench's cold-cache
        // reset, a test's teardown) unpersists the memoized frame
        // WITHOUT evicting the memo — every later consumer then
        // re-computes the triangle join once per reference (round 13:
        // the second min-of-2 run paid the wedge join 2×). Re-arm the
        // persist on the same frame; the next action re-materializes it
        // once.
        if (prev._2.storageLevel ==
            org.apache.spark.storage.StorageLevel.NONE)
          prev._2.persist(
            org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        prev
      } else {
        if (prev != null) prev._2.unpersist()
        (pairs, triangleSet(pairs, maxDegree)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      })._2
  }

  /** The wedge family's 100-TB input contract, as code: materialize the
    * near-duplicate pair graph ONCE (narrow (doc_a, doc_b) longs —
    * ~16 bytes/edge, so even sf1000's 2.5 M-edge graph is ~60 MB of
    * parquet) and run every graph operator from the persisted table.
    * The SCALING.md cluster-shape projection prices the alternative:
    * feeding the wedge operators corpus-derived pair LINEAGE re-pays the
    * banded candidate search per operator per run — 140-175 shuffle
    * bytes per corpus byte at 100 TB, the family's fall-over resource —
    * while the edge table amortizes it to once per corpus version.
    * [[triangles]]/[[triangleCounts]]/[[clusteringCoefficient]]/
    * [[kCore]]/[[degreeHistogram]] all take the edge FRAME, so the
    * contract is purely about what you hand them: `readPairGraph(...)`,
    * not `simhashPairs(corpus)`. DedupSpec pins write->read->operate
    * parity against the corpus-fed form; ScaleProbe's `wedge` kind
    * measures the family from the persisted table at ladder scale.
    */
  def writePairGraph(pairs: DataFrame, path: String): Unit =
    pairs.select(col("doc_a"), col("doc_b"))
      .write.mode("overwrite").parquet(path)

  /** Reads a [[writePairGraph]]-materialized edge table. */
  def readPairGraph(spark: org.apache.spark.sql.SparkSession,
                    path: String): DataFrame =
    spark.read.parquet(path)

  /** Aggregate twin of [[triangles]]: per-vertex triangle participation
    * counts over the same degree-capped graph — the local
    * clustering-coefficient numerator, and the form of the triangle
    * computation that SURVIVES scale. The unbounded enumerate form ends
    * in a total order over the triangle set, which grows superlinearly
    * in duplicate density (sf0.1 already enumerates 4.9M rows; 100× the
    * edges → ~500M-row terminal sort — the scale-killer node the
    * round-7 audit flagged; since round 11 the REGISTRY enumerate row
    * is [[trianglesBounded]], whose terminal is a cap-bounded top-k,
    * and this unbounded sort survives only as the code-level variant).
    * Here each closed wedge (a,b,c) is exploded
    * to its three member vertices and hash-aggregated, so the widest
    * thing after the join is a (vertex, count) frame bounded by the
    * vertex set — the terminal `orderBy(doc_id)` sorts |V| rows, linear
    * in input, not |triangles|. Same cap contract as [[triangles]]; the
    * SQL oracle replays it with a 3-arm UNION ALL + GROUP BY.
    */
  def triangleCounts(pairs: DataFrame, maxDegree: Int = 256): DataFrame =
    vertexTriangles(cappedPairGraph(pairs, maxDegree))
      .orderBy("doc_id")

  /** The shared degree-capped edge frame ([[triangles]]' cap contract):
    * each vertex keeps its `maxDegree` smallest-id neighbors per
    * orientation. Persisted AND memoized on (input semantics, cap):
    * every consumer joins it ≥ 2×, and a session running several wedge
    * operators over the SAME pair frame (triangle counts + clustering
    * coefficient is the normal pairing) reuses ONE cached copy instead
    * of caching an independent frame per call — the double-cache the
    * round-8 advisor flagged. Reclaim via [[clearWedgeCache]].
    */
  private val wedgeCache =
    new java.util.concurrent.ConcurrentHashMap[
      (Int, Int, Int), (DataFrame, DataFrame)]()

  private[graft] def cappedPairGraph(pairs: DataFrame,
                                     maxDegree: Int): DataFrame = {
    // Entries belonging to stopped sessions are dead weight (their
    // persisted blocks are gone with the session) — evict on every
    // access so the map cannot grow across session lifetimes.
    wedgeCache.entrySet().removeIf { e =>
      e.getValue._1.sparkSession.sparkContext.isStopped
    }
    // The session's identity is part of the key, so two sessions with
    // the same plan never overwrite each other's cached frame.
    val key = (System.identityHashCode(pairs.sparkSession),
      pairs.semanticHash(), maxDegree)
    // Atomic per-key compute — same race fix as [[triangleSetPersisted]]
    // (round-12 ADVICE): never unpersist a frame another thread just
    // returned; collisions still evict-and-unpersist, atomically.
    wedgeCache.compute(key, (_, prev) =>
      if (prev != null && (prev._1.sparkSession eq pairs.sparkSession) &&
          prev._1.sameSemantics(pairs)) {
        // Re-arm a persist cleared by `catalog.clearCache()` — same
        // rationale as [[triangleSetPersisted]]: the capped frame is
        // consumed ≥ 3× per wedge operator (ab/bc/ac), and a memo hit
        // on an unpersisted frame re-paid the two cap windows per
        // reference (round 13).
        if (prev._2.storageLevel ==
            org.apache.spark.storage.StorageLevel.NONE)
          prev._2.persist(
            org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        prev
      } else {
        if (prev != null) prev._2.unpersist()
        val wa = Window.partitionBy("doc_a").orderBy("doc_b")
        val wb = Window.partitionBy("doc_b").orderBy("doc_a")
        (pairs, pairs.select(col("doc_a"), col("doc_b"))
          .withColumn("_ra", row_number().over(wa))
          .withColumn("_rb", row_number().over(wb))
          .where(col("_ra") <= maxDegree && col("_rb") <= maxDegree)
          .select(col("doc_a"), col("doc_b"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      })._2
  }

  /** Unpersists and forgets every memoized degree-capped edge frame —
    * the caller-clears contract for the wedge family's shared cache.
    */
  def clearWedgeCache(): Unit = {
    wedgeCache.values().forEach(v => { v._2.unpersist(); () })
    wedgeCache.clear()
    triSetCache.values().forEach(v => { v._2.unpersist(); () })
    triSetCache.clear()
  }

  /** Per-vertex triangle counts over an already-capped edge frame. */
  private def vertexTriangles(e: DataFrame): DataFrame = {
    val ab = e.select(col("doc_a").as("a"), col("doc_b").as("b"))
    val bc = e.select(col("doc_a").as("b"), col("doc_b").as("c"))
    val ac = e.select(col("doc_a").as("a"), col("doc_b").as("c"))
    ab.join(bc, "b")
      .join(ac, Seq("a", "c"))
      // explode-then-count: partial (map-side) aggregation absorbs the
      // 3× row inflation before the one shuffle on doc_id
      .select(explode(array(col("a"), col("b"), col("c"))).as("doc_id"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** Local clustering coefficient per vertex of the (degree-capped) pair
    * graph: cc(v) = 2·tri(v) / (deg(v)·(deg(v)−1)) — the "how clique-like
    * is this duplicate neighborhood" signal that separates tight
    * boilerplate cliques (cc → 1) from hub-and-spoke template graphs
    * (cc → 0), the refinement on top of [[kCore]]'s density cut.
    * Degrees and triangles are measured on the SAME capped graph, so
    * the ratio is internally consistent under the cap contract; both
    * are integer counts and the coefficient is one IEEE division —
    * portable. Vertices with degree < 2 close no wedge: cc = 0.
    *
    * Scale: the capped frame bounds wedge fan-out (maxDegree²); degrees
    * are one map-side-combined aggregate over the edge list; the final
    * frame is vertex-sized. No output-sized sort anywhere.
    */
  def clusteringCoefficient(pairs: DataFrame,
                            maxDegree: Int = 256): DataFrame = {
    val e = cappedPairGraph(pairs, maxDegree)
    val deg = e.select(col("doc_a").as("doc_id"))
      .unionAll(e.select(col("doc_b").as("doc_id")))
      .groupBy("doc_id").agg(count(lit(1)).as("degree"))
    deg.join(vertexTriangles(e), Seq("doc_id"), "left")
      .select(col("doc_id"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        when(col("degree") < 2, lit(0.0))
          .otherwise((coalesce(col("n_triangles"), lit(0L)) * 2L)
            .cast("double") /
            (col("degree") * (col("degree") - 1L)).cast("double"))
          .as("clustering_coeff"))
      .orderBy("doc_id")
  }

  /** Degree distribution of the (uncapped) pair graph: how many
    * vertices have each duplicate-neighbor count — THE first diagnostic
    * read off a near-dup graph, and the measurement that justifies (or
    * re-tunes) the wedge family's 256 cap: the histogram's tail says
    * directly how many vertices the cap touches. Uncapped on purpose —
    * a degree profile computed on the capped graph couldn't see the
    * skew it exists to detect.
    *
    * Scale: two map-side-combined hash aggregates over the narrow edge
    * list (degree per vertex, then count per degree); the result is
    * ≤ max-degree rows. No window, no join, no sort beyond the
    * histogram-sized terminal orderBy.
    */
  def degreeHistogram(pairs: DataFrame): DataFrame =
    pairs.select(col("doc_a").as("doc_id"))
      .unionAll(pairs.select(col("doc_b").as("doc_id")))
      .groupBy("doc_id").agg(count(lit(1)).as("degree"))
      .groupBy("degree").agg(count(lit(1)).as("n_vertices"))
      .orderBy("degree")

  /** k-core decomposition of the near-duplicate pair graph: iteratively
    * peel vertices of degree < k until a fixpoint; what survives is the
    * maximal subgraph where every vertex keeps ≥ k neighbors — the
    * "dense duplication community" detector (a 2-core separates genuine
    * duplicate clusters from incidental one-off pair hits, the same
    * reason search-spam pipelines run it on link graphs).
    *
    * Each peel round is one degree aggregate + a semi-join of the edge
    * frame against surviving vertices — narrow (src, dst) long pairs,
    * partial-agg'd map-side, no driver data traffic (the driver sees
    * only per-round edge counts). Round count is bounded by the graph's
    * degeneracy ordering depth, tiny for near-dup graphs; like
    * [[connectedComponents]], the loop fails loudly rather than return a
    * non-fixpoint, and the edge lineage is truncated up front with an
    * eager `localCheckpoint` plus per-round persists so plan depth stays
    * flat regardless of rounds.
    *
    * @return one row per surviving vertex: (doc_id, core_degree) where
    *         core_degree is the vertex's degree WITHIN the k-core
    */
  def kCore(pairs: DataFrame, k: Int = 2, maxRounds: Int = 12): DataFrame = {
    val sym = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionAll(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .distinct()
      .localCheckpoint()
    // DELTA peeling, not edge-set rewriting: the naive loop re-joins and
    // re-persists the full edge frame every round (measured 40 s at sf1
    // for 510 peeled edges across 7 rounds — O(rounds·E) shuffled). Here
    // the edge set is materialized ONCE; state is the vertex-sized degree
    // table, and each round subtracts the degree contributions of just-
    // removed vertices via a broadcast join against the (peel-front-
    // sized) removal set. Per-round cost: one cached-edge scan + a
    // vertex-sized aggregate — O(E) scanned, nothing re-shuffled. Each
    // edge endpoint is removed at most once, so every edge's delta is
    // applied exactly once per direction and the surviving degrees ARE
    // the within-core degrees. The broadcast hint assumes peel fronts ≪
    // executor memory — guaranteed for near-dup graphs (fronts are the
    // sparse periphery); a graph with huge fronts would drop the hint.
    var deg = sym.groupBy("src").agg(count(lit(1)).as("deg"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // ONE job per round (round 14, VERDICT r13 item 7 BSP fixed costs):
    // the former loop paid a removal-probe count AND a materialization
    // count per round; this aggregate materializes the round's cache
    // fully (full scan, like the CC loop's count) AND returns the
    // below-k population that decides the next round — the probe job
    // is gone. Peel budget semantics unchanged: up to `maxRounds`
    // peels, and a graph whose peel depth is exactly maxRounds still
    // converges (the former `<=` loop bound's contract — its final
    // iteration was exactly this free fixpoint check).
    def materializeAndCountBelowK(df: DataFrame): Long =
      df.agg(coalesce(sum(when(col("deg") < k, 1L).otherwise(0L)),
        lit(0L))).first().getLong(0)
    var round = 0
    var below = materializeAndCountBelowK(deg)
    while (below > 0L && round < maxRounds) {
      val removed = deg.where(col("deg") < k).select(col("src").as("_rv"))
      val delta = sym.join(broadcast(removed), col("src") === col("_rv"))
        .groupBy(col("dst").as("src")).agg(count(lit(1)).as("_d"))
      val step = deg.where(col("deg") >= k)
        .join(delta, Seq("src"), "left")
        .select(col("src"),
          (col("deg") - coalesce(col("_d"), lit(0L))).as("deg"))
      val next =
        if ((round + 1) % 4 == 0) step.localCheckpoint()
        else step.persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      below = materializeAndCountBelowK(next)
      val prev = deg
      deg = next
      prev.unpersist()
      round += 1
    }
    require(below == 0L,
      s"kCore did not reach a fixpoint in $maxRounds rounds — raise " +
        "maxRounds for this graph (peel depth exceeds the budget)")
    deg.select(col("src").as("doc_id"), col("deg").as("core_degree"))
  }

  /** Connected components over a near-duplicate pair graph: every document
    * gets a `cluster` id = the minimum doc_id reachable through pair edges
    * (singletons cluster to themselves). This is the step a training-data
    * pipeline runs after pair generation — pairs alone don't say which
    * copies to drop; the cluster's canonical representative does.
    *
    * Algorithm: iterative min-label propagation (labels start at doc_id;
    * each round every vertex takes the min of its own label and its
    * neighbors' labels) — the standard BSP connected-components loop,
    * converging in graph-diameter rounds. Near-dup components are
    * tiny-diameter by construction (duplicate groups), so the loop is
    * O(few) shuffles of (vertex, label) pairs; each round persists its
    * label frame and drops the previous one, keeping lineage flat. The
    * driver sees only the per-round changed-count, never data.
    *
    * Lineage truncation is real, not advisory: the edge frame is an
    * EAGER `localCheckpoint` (so no round's printed plan re-nests the
    * possibly-huge pair-generation lineage — before this, each round's
    * plan embedded another full copy of the LSH pipeline and the audit's
    * Exchange table was led 10× by printed-lineage artifacts), and every
    * `checkpointEvery` rounds the label frame is checkpointed too, so
    * plan depth is bounded by `checkpointEvery` regardless of how many
    * rounds the diameter needs (asserted in DedupSpec on a path graph).
    * A cluster deployment swaps these for reliable `checkpoint()` dirs —
    * local checkpoint blocks don't survive executor loss.
    *
    * @param edges (doc_a, doc_b) undirected pair edges
    * @param vertices one row per doc_id (docs absent from `edges` become
    *                 singleton clusters)
    * @param checkpointEvery truncate the label lineage every K rounds
    *                        (0 disables; plan depth then grows with
    *                        rounds — only for diagnostics)
    */
  def connectedComponents(edges: DataFrame, vertices: DataFrame,
                          maxIters: Int = 20,
                          checkpointEvery: Int = 4): DataFrame =
    connectedComponentsFrom(edges,
      vertices.select(col("doc_id"), col("doc_id").as("cluster")),
      maxIters, checkpointEvery)

  /** [[connectedComponents]] warm-started from caller-supplied initial
    * labels. Contract: the fixpoint of min-label propagation from init
    * L0 labels every vertex with min over its component of L0 — so any
    * L0 with (a) L0(v) ≤ v and (b) L0(v) = doc_id of some vertex in
    * v's component yields EXACTLY the min-reachable-doc_id relation,
    * in fewer rounds when L0 already encodes partial components. The
    * motivating caller is [[relabelTouched]]: old vertices re-enter
    * with their old cluster label (the old component's minimum — both
    * conditions hold since old components are subsets of new ones), so
    * propagation inside old clusters is already converged at round 0
    * and the loop pays only the cluster-MERGE diameter driven by delta
    * edges, not the full component diameter (round 13; DedupSpec pins
    * warm ≡ cold on merge topologies).
    *
    * @param initLabels one (doc_id, cluster) row per vertex
    */
  def connectedComponentsFrom(edges: DataFrame, initLabels: DataFrame,
                              maxIters: Int = 20,
                              checkpointEvery: Int = 4): DataFrame = {
    // Eagerly checkpointed: every propagation round joins against the
    // edge set, and `edges` may carry an arbitrarily expensive lineage
    // (e.g. the whole MinHash-LSH pair search) — without materialization
    // each round would re-derive it, and without lineage TRUNCATION each
    // round's printed plan would re-nest it. Narrow (src, dst) pairs.
    val sym = edges.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionAll(edges.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .localCheckpoint()
    var labels = initLabels.select(col("doc_id"), col("cluster"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIters) {
      val nbrMin = sym.join(labels, sym("src") === labels("doc_id"))
        .groupBy(col("dst").as("doc_id")).agg(min("cluster").as("nbr"))
      val step = labels.as("l")
        .join(nbrMin.as("n"), Seq("doc_id"), "left")
        .select(col("doc_id"), col("cluster").as("old"),
          least(col("cluster"), coalesce(col("nbr"), col("cluster")))
            .as("cluster"))
      // Periodic EAGER local checkpoint truncates the logical plan (a
      // persist caches data but keeps the plan, so depth would still
      // grow one round per round); off-cycle rounds persist as before.
      val next =
        if (checkpointEvery > 0 && (iter + 1) % checkpointEvery == 0)
          step.localCheckpoint()
        else step.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // Min-labels only ever decrease, so strict < counts every change.
      // count() (not isEmpty) deliberately: it fully materializes `next`
      // into its cache before the previous round's frame is dropped —
      // a take-1 probe would leave most partitions uncached and each
      // later round would recompute the whole unpersisted label chain.
      converged = next.where(col("cluster") < col("old")).count() == 0L
      val prev = labels
      labels = next.select("doc_id", "cluster")
      prev.unpersist()
      iter += 1
    }
    // A silent non-converged return would hand back labels that violate
    // the documented min-reachable contract (and the keep-rule downstream
    // would then keep several copies of one cluster) — fail loudly; near-
    // dup graphs have tiny diameters, so hitting this means the edge set
    // is not the duplicate graph this operator is for.
    require(converged,
      s"connectedComponents did not converge in $maxIters rounds — " +
        "component diameter exceeds maxIters; raise it for this graph")
    labels
  }

  /** Connected components via alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond") — the O(log n)-round scale path that removes
    * [[connectedComponents]]' O(diameter) round count, for graphs whose
    * components are NOT guaranteed tiny-diameter (the min-label loop's
    * documented limitation). Same contract: every vertex labeled with
    * the minimum doc_id reachable through pair edges, singletons label
    * themselves.
    *
    * Each round is two groupBy-min + join-back passes over a narrow
    * (u, v) long-pair frame:
    *  - large-star: every node links its strictly-larger neighbors to
    *    the minimum of its closed neighborhood,
    *  - small-star: every node links its ≤-neighbors (and itself) to
    *    the minimum of that set.
    * The edge set converges to a union of stars centered at component
    * minima. Each round ends in an EAGER `localCheckpoint`, not a
    * persist: one star round references its input ~20 times (two
    * symmetrizations × two closed-neighborhood aggregates × join-backs),
    * so without lineage truncation the logical plan grows ~20× per
    * round and the analyzer dies around round 7 (measured: a 2^31-char
    * plan string) — persist caches data but keeps the plan. A cluster
    * deployment replaces this with a reliable `checkpoint()` dir, since
    * local checkpoints don't survive executor loss. Fixed point is an
    * empty set difference, checked with one `except` pair per round.
    */
  def connectedComponentsStar(edges: DataFrame, vertices: DataFrame,
                              maxIters: Int = 30): DataFrame = {
    // Closed-neighborhood minimum per node, over a both-directions edge
    // frame; grouping key rides into the agg so min(N(u) ∪ {u}) is one
    // hash aggregate.
    def mins(e: DataFrame): DataFrame =
      e.groupBy("u").agg(least(min("v"), col("u")).as("m"))
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
      sym.join(mins(sym), Seq("u"))
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .unionAll(mins(sym).select(col("u"), col("m").as("v")))
        .where(col("u") =!= col("v"))
        .distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      val toSmaller = e.select(greatest("u", "v").as("u"),
        least("u", "v").as("v"))
      toSmaller.join(mins(toSmaller), Seq("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .unionAll(mins(toSmaller).select(col("u"), col("m").as("v")))
        .where(col("u") =!= col("v"))
        .distinct()
    }
    var e = edges
      .select(col("doc_a").as("u"), col("doc_b").as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint()
    var iter = 0
    var converged = e.isEmpty
    while (!converged && iter < maxIters) {
      // Eager local checkpoint: materializes the round AND truncates the
      // logical plan (see scaladoc). Old rounds' blocks are dropped by
      // the context cleaner once unreferenced — ≤ maxIters narrow
      // long-pair frames in flight.
      val next = smallStar(largeStar(e)).localCheckpoint()
      converged = next.exceptAll(e).isEmpty && e.exceptAll(next).isEmpty
      e = next
      iter += 1
    }
    require(converged,
      s"connectedComponentsStar did not converge in $maxIters rounds")
    // Converged edges form stars (leaf > root): orient big → small and
    // read each leaf's root; roots and isolated vertices label themselves.
    val lbl = e.select(greatest("u", "v").as("doc_id"),
        least("u", "v").as("cluster"))
      .groupBy("doc_id").agg(min("cluster").as("cluster"))
    vertices.select(col("doc_id"))
      .join(lbl, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster"), col("doc_id")).as("cluster"))
  }

  /** The dedup endpoint: given [[connectedComponents]] labels, keep ONE
    * representative per duplicate cluster — longest text wins, doc_id
    * ascending tiebreak (the usual "keep the best copy" LLM training-data
    * policy). The window partitions by cluster id, so no cluster's group
    * exceeds its duplicate-group size — skew-safe.
    */
  def keepClusterRepresentatives(docs: DataFrame, clusters: DataFrame,
                                 textCol: String = "text"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster").orderBy(desc("n_chars"), asc("doc_id"))
    docs.select(col("doc_id"), length(col(textCol)).as("n_chars"))
      .join(clusters, Seq("doc_id"))
      .withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1)
      .select(col("cluster"), col("doc_id"), col("n_chars"))
  }

  /** Quality-aware cluster representative selection: per near-dup
    * cluster keep the document that maximizes an externally supplied
    * score (ties broken by lowest doc_id) — the "keep the BEST copy,
    * not the longest" variant of [[keepClusterRepresentatives]] that
    * curation pipelines prefer once a quality model exists. `scored`
    * is any (doc_id, scoreCol) frame, e.g.
    * [[graft.operators.TextOps.qualityScore]].
    *
    * Scale: identical shape to the longest-text form — one equi-join
    * on doc_id, one cluster-partitioned window argmax; no global sort,
    * no row inflation.
    */
  def keepByScore(scored: DataFrame, clusters: DataFrame,
                  scoreCol: String = "quality_score"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster").orderBy(desc(scoreCol), asc("doc_id"))
    scored.select(col("doc_id"), col(scoreCol))
      .join(clusters, Seq("doc_id"))
      .withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1)
      .select(col("cluster"), col("doc_id"), col(scoreCol))
  }

  /** Benchmark decontamination: n-gram overlap between the corpus and a
    * holdout set (rows where `holdout` is true — in production, the
    * benchmark/eval documents). Output: one row per (corpus doc, holdout
    * doc) pair sharing at least one n-gram, with the shared-distinct-gram
    * count — the standard "drop training docs that leak eval data" signal.
    *
    * Plan shape: one doc_id-partitioned window pass builds the distinct
    * gram sets (md5-hashed to 32-byte keys — the join never carries gram
    * text), then corpus⋈holdout equi-join on the gram hash. Long n-grams
    * (default 8) are near-unique, so per-gram join fan-out stays ~1; the
    * holdout side is the small side and broadcastable at corpus scale.
    */
  def contaminationOverlap(docs: DataFrame, holdout: Column, n: Int = 8,
                           textCol: String = "text"): DataFrame = {
    // Persisted: the corpus and holdout sides of the overlap join are
    // disjoint filters of this frame, and the tokenize → gram → hash →
    // distinct pass is the dominant cost — without the persist each
    // join side would recompute it (the both-sides-of-a-join pattern the
    // other pair searches persist against). Caller clears the session
    // cache after materializing (Bench/Verify do). Gram keys are 8-byte
    // xxhash64 longs, not md5 hex — this frame crosses a distinct
    // exchange, a persist, and the overlap join (the key-width rule;
    // n_shared counts gram-set intersections, which any collision-free
    // key preserves, and the md5-keyed oracle replay is the collision
    // check).
    val grams = tokenGrams(docs, n, textCol, Seq("_h" -> holdout))
      .select(col("doc_id"), col("_h"), xxhash64(col("gram")).as("g"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val corpus = grams.where(!col("_h")).select(col("doc_id"), col("g"))
    val hold = grams.where(col("_h"))
      .select(col("doc_id").as("holdout_id"), col("g"))
    corpus.join(hold, Seq("g"))
      .groupBy("doc_id", "holdout_id")
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Decontamination endpoint over [[contaminationOverlap]]: drop every
    * corpus doc sharing ≥ `minShared` distinct `n`-grams with ANY holdout
    * doc, and return the surviving corpus rows — the frame a training run
    * reads after the eval-leak scan. The overlap scan reduces to a small
    * flagged-doc set (contaminated docs only) that anti-joins back
    * against the corpus, so the expensive gram join happens once and the
    * final pass is a key-only anti-join.
    */
  def decontaminate(docs: DataFrame, holdout: Column, n: Int = 8,
                    minShared: Int = 1, textCol: String = "text"): DataFrame = {
    val flagged = contaminationOverlap(docs, holdout, n, textCol)
      .where(col("n_shared") >= minShared)
      .select("doc_id").distinct()
    docs.where(!holdout).join(flagged, Seq("doc_id"), "left_anti")
  }

  /** [[contaminationOverlap]] in K bounded-scratch GRAM-HASH slices —
    * the third curation-chain member to inherit the sliced execution
    * mode (after [[duplicateSpansSliced]] and
    * [[graft.operators.TextOps.lmScoreSliced]]), and for the same
    * measured reason: the one-shot form's distinct-gram exchange +
    * MEMORY_AND_DISK persist carry the FULL corpus gram stream at
    * once — 6.89 GB shuffle at sf100 in the round-10 dress rehearsal
    * (SCALING.md batch 18b), ~69 GB projected at sf1000, over this
    * box's scratch once stacked on the pipeline's other live stages.
    *
    * Exactness: per-(corpus doc, holdout doc) `n_shared` counts DISTINCT
    * shared grams, and the slices partition the distinct-gram space by
    * `xxhash64(gram) % K` (filtered in-scan, BEFORE the distinct
    * exchange), so per-slice counts are disjoint and their sum is
    * exactly the one-shot count — bit-identical for ANY `minShared`,
    * not just 1 (DedupSpec pins frame equality). Each slice persists
    * only its 1/K gram subset (both join sides derive from it),
    * writes its (doc_id, holdout_id, partial n_shared) manifest to
    * `workDir`, and unpersists before the next slice starts, so at
    * most 1/K of the gram stream's exchange + persist is ever live;
    * 8-grams are near-unique, so the per-slice pair manifests stay
    * O(leaked pairs), not O(grams). CPU pays K gram-build scans — the
    * established trade: disk is the binding constraint at the sixth
    * decade, codegen scans are not.
    */
  def contaminationOverlapSliced(docs: DataFrame, holdout: Column,
                                 workDir: String, n: Int = 8,
                                 slices: Int = 4,
                                 textCol: String = "text"): DataFrame = {
    require(slices >= 1, "slices must be >= 1")
    val spark = docs.sparkSession
    val written = for (k <- 0 until slices) yield {
      val grams = tokenGrams(docs, n, textCol, Seq("_h" -> holdout))
        .select(col("doc_id"), col("_h"), xxhash64(col("gram")).as("g"))
        .where(pmod(col("g"), lit(slices.toLong)) === k.toLong)
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val corpus = grams.where(!col("_h")).select(col("doc_id"), col("g"))
      val hold = grams.where(col("_h"))
        .select(col("doc_id").as("holdout_id"), col("g"))
      val overlap = corpus.join(hold, Seq("g"))
        .groupBy("doc_id", "holdout_id")
        .agg(count(lit(1)).as("n_shared"))
      overlap.write.mode("overwrite").parquet(s"$workDir/ov_$k")
      grams.unpersist(blocking = true)
      // let ContextCleaner reclaim this slice's shuffle files before
      // the next slice starts (the nearDupPairsBandedSliced pattern)
      Scratch.gcIfPressured(spark)
      overlap.schema
    }
    // the written schema: reading it back infers none
    spark.read.schema(written.head)
      .parquet((0 until slices).map(k => s"$workDir/ov_$k"): _*)
      .groupBy("doc_id", "holdout_id")
      // coalesce: sum() is nullable LongType while the one-shot
      // contaminationOverlap's count() is non-nullable — the contract
      // advertises bit-identical parity, schema nullability included.
      .agg(coalesce(sum("n_shared"), lit(0L)).as("n_shared"))
  }

  /** [[decontaminate]] over [[contaminationOverlapSliced]] — the
    * sixth-decade execution mode of the decontamination stage (same
    * relation, same oracle semantics; the mode is a scratch budget,
    * not a semantic).
    */
  def decontaminateSliced(docs: DataFrame, holdout: Column,
                          workDir: String, n: Int = 8,
                          minShared: Int = 1, slices: Int = 4,
                          textCol: String = "text"): DataFrame = {
    val flagged = contaminationOverlapSliced(docs, holdout, workDir, n,
        slices, textCol)
      .where(col("n_shared") >= minShared)
      .select("doc_id").distinct()
    docs.where(!holdout).join(flagged, Seq("doc_id"), "left_anti")
  }

  /** Per-document n-gram NOVELTY against a reference corpus: for each
    * incoming document, the fraction of its DISTINCT n-gram shingles
    * that occur nowhere in the reference — the freshness/diversity
    * signal a curation pipeline reads before admitting a crawl batch
    * (the per-doc normalized complement of [[contaminationOverlap]]'s
    * leak count; low novelty ≈ the batch re-crawls what the corpus
    * already holds). Shingles ride the shared [[tokenGrams]] front
    * (codegen-local gram build, no token-stream shuffle) as 8-byte
    * xxhash64 keys — the first landing used 32-char md5 hex and
    * measured 15.5 shuffle bytes per input byte at sf100 (the sigSets
    * lesson re-learned: never let wide hex keys cross an exchange);
    * the long keys cut that ~4× with identical output, since novelty
    * depends only on gram-set equality and the oracle checks the
    * OUTPUT, which any collision-free key preserves (and the oracle's
    * own md5-keyed replay is exactly the check that would surface a
    * collision). The reference reduces to its distinct gram set (at
    * cluster scale: the gram index materialized once per corpus
    * version — the [[incrementalDedup]] index argument, gram-grained);
    * novel grams fall out of ONE key-only left-anti join, and both
    * counts map-side combine before their doc_id shuffle. Novelty =
    * one IEEE division; docs with < n tokens carry null (no gram
    * evidence ≠ novelty 0).
    *
    * Output: (doc_id, n_grams, n_novel, novelty) per incoming doc.
    */
  def ngramNovelty(incoming: DataFrame, ref: DataFrame, n: Int = 3,
                   textCol: String = "text"): DataFrame = {
    def grams(df: DataFrame) = tokenGrams(df, n, textCol)
      .select(col("doc_id"), xxhash64(col("gram")).as("g")).distinct()
    val inc = grams(incoming)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val refSet = grams(ref).select("g").distinct()
    val tot = inc.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    val novel = inc.join(refSet, Seq("g"), "left_anti")
      .groupBy("doc_id").agg(count(lit(1)).as("n_novel"))
    incoming.select("doc_id")
      .join(tot, Seq("doc_id"), "left")
      .join(novel, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        when(col("n_grams") > 0,
          coalesce(col("n_novel"), lit(0L)).cast("double") /
            col("n_grams").cast("double")).as("novelty"))
  }

  /** Substring-level duplicate spans — the token-span counterpart of
    * whole-document dedup (the "exact substring deduplication" signal of
    * Lee et al., "Deduplicating Training Data Makes Language Models
    * Better", approximated with hashed fixed-width token windows instead
    * of a suffix array): a position is *duplicated* when its `w`-token
    * window appears verbatim in at least one OTHER document, and runs of
    * duplicated positions merge into maximal spans. Output: one row per
    * (doc_id, span_start, span_len) — the spans a substring-dedup pass
    * would clip, each covering tokens `[span_start, span_start+span_len)`.
    *
    * Plan shape (the 100 TB path — note there is NO pair join anywhere):
    *  1. one tokenize → window-lead pass builds (doc_id, pos, window-hash)
    *     — md5'd 32-byte keys, never window text — persisted because the
    *     duplicate-window aggregate and the position join both consume it,
    *  2. window df = one count-distinct-docs aggregate on the hash (at
    *     cluster scale this is the window-frequency index, analogous to
    *     [[incrementalDedup]]'s fingerprint index),
    *  3. hashes with ≥ 2 distinct docs equi-join back to positions
    *     (key-only semi join),
    *  4. gaps-and-islands under a doc_id-partitioned window merges
    *     overlapping/abutting duplicated windows (gap ≤ `w`) into maximal
    *     spans — no unpartitioned window, group size = one document's hits.
    *
    * Within-document repeats do NOT count (df is distinct-doc); that
    * signal is [[TextOps.repetitionStats]]'s job. Cost scales with corpus
    * token count + duplicated-window density — never pairs².
    */
  def duplicateSpans(docs: DataFrame, w: Int = 8,
                     textCol: String = "text"): DataFrame =
    spansFromPositions(duplicatedPositions(docs, w, textCol), w)

  /** Gaps-and-islands merge of duplicated window positions into maximal
    * spans — the shared tail of [[duplicateSpans]] and
    * [[duplicateSpansSliced]] (doc_id-partitioned window; group size =
    * one document's hits).
    */
  private def spansFromPositions(hits: DataFrame, w: Int): DataFrame = {
    val ws = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    hits
      .withColumn("_new",
        when(col("pos") - lag("pos", 1).over(ws) > w, 1).otherwise(0))
      .withColumn("_island", sum("_new").over(ws))
      .groupBy("doc_id", "_island")
      .agg(min("pos").cast("long").as("span_start"),
        (max("pos") + w - min("pos")).cast("long").as("span_len"))
      .select("doc_id", "span_start", "span_len")
  }

  /** [[duplicateSpans]] in K bounded-scratch GRAM-HASH slices — the
    * bounded-scratch pattern ([[nearDupPairsBandedSliced]]) applied to
    * the substring-dedup family: window duplication is decided per gram
    * independently, so slicing the WINDOW-HASH SPACE (`g % K == k`,
    * filtered in-scan BEFORE any exchange) and unioning the per-slice
    * duplicated positions is EXACTLY the one-shot relation (DedupSpec
    * pins it). Each slice runs as its own materialized job writing the
    * (small) duplicated-position list to `workDir`, so at most 1/K of
    * the window stream's shuffle is ever in flight and the previous
    * slice's shuffle files are reclaimable between jobs — the one-shot
    * form's single job holds the WHOLE stream's exchanges live, which
    * at the sixth decade exceeds a node's scratch (the round-10 dress
    * rehearsal measured the one-shot dying at 43 GB free on sf100
    * before the key-width fix; sf1000 needs slicing even after it).
    * CPU pays 2·K window-stream scans — the buildSlices trade: disk is
    * the binding constraint, codegen scans are not.
    */
  def duplicateSpansSliced(docs: DataFrame, workDir: String, w: Int = 8,
                           slices: Int = 4,
                           textCol: String = "text"): DataFrame = {
    require(slices >= 1, "slices must be >= 1")
    val spark = docs.sparkSession
    val written = for (k <- 0 until slices) yield {
      val grams = tokenGrams(docs, w, textCol, keepPos = true)
        .select(col("doc_id"), col("pos"), xxhash64(col("gram")).as("g"))
        .where(pmod(col("g"), lit(slices.toLong)) === k.toLong)
      val positions =
        grams.join(multiDocWindows(grams), Seq("g")).select("doc_id", "pos")
      positions.write.mode("overwrite").parquet(s"$workDir/pos_$k")
      // let ContextCleaner reclaim this slice's shuffle files before
      // the next slice starts (the nearDupPairsBandedSliced pattern)
      Scratch.gcIfPressured(spark)
      positions.schema
    }
    // the written schema: reading it back infers none
    val hits = spark.read.schema(written.head)
      .parquet((0 until slices).map(k => s"$workDir/pos_$k"): _*)
      .distinct()
    spansFromPositions(hits, w)
  }

  /** [[duplicateSpanCoverage]] over [[duplicateSpansSliced]] — the
    * sixth-decade execution mode of the curation gate (same relation,
    * same oracle semantics; the mode is a scratch budget, not a
    * semantic).
    */
  def duplicateSpanCoverageSliced(docs: DataFrame, workDir: String,
                                  w: Int = 8, slices: Int = 4,
                                  textCol: String = "text"): DataFrame =
    coverageFromSpans(docs,
      duplicateSpansSliced(docs, workDir, w, slices, textCol), w, textCol)

  /** The corpus-version WINDOW-HASH INDEX: the distinct xxhash64 `w`-
    * token window hashes of `docs` — the artifact that makes the
    * dup-span curation gate incrementally maintainable
    * ([[duplicateSpanCoverageAgainstFromGrams]]): at cluster scale it
    * is materialized to parquet once per corpus version (narrow 8-byte
    * longs, ~one row per distinct corpus window) and every appended
    * batch joins against the table instead of re-scanning corpus text —
    * the same posture as [[buildSignatureIndex]] for the near-dup
    * family and [[incrementalDedup]]'s fingerprint index.
    */
  def windowHashIndex(docs: DataFrame, w: Int = 8,
                      textCol: String = "text"): DataFrame =
    tokenGrams(docs, w, textCol)
      .select(xxhash64(col("gram")).as("g")).distinct()

  /** The corpus-version HOLDOUT-GRAM INDEX: distinct xxhash64 `n`-gram
    * hashes of the holdout slice of `docs` — the decontamination
    * counterpart of [[windowHashIndex]], consumed by
    * [[decontaminationFlaggedAgainst]] so an appended batch is screened
    * against the full holdout without re-reading corpus text.
    */
  def holdoutGramIndex(docs: DataFrame, holdout: Column, n: Int = 8,
                       textCol: String = "text"): DataFrame =
    tokenGrams(docs.where(holdout), n, textCol)
      .select(xxhash64(col("gram")).as("g")).distinct()

  /** Per-document roll-up of [[duplicateSpans]]: span count, duplicated
    * token count and coverage fraction (a single IEEE division of exact
    * integer counts) — the per-doc score a curation pipeline thresholds
    * on ("drop docs that are mostly boilerplate found elsewhere").
    * Documents with no duplicated span (or fewer than `w` tokens) report
    * zero coverage via the left join.
    */
  def duplicateSpanCoverage(docs: DataFrame, w: Int = 8,
                            textCol: String = "text"): DataFrame =
    coverageFromSpans(docs, duplicateSpans(docs, w, textCol), w, textCol)

  /** Coverage roll-up over a span frame — the shared tail of the
    * one-shot and sliced coverage forms.
    */
  private def coverageFromSpans(docs: DataFrame, allSpans: DataFrame,
                                w: Int, textCol: String): DataFrame =
    coverageFromSpansByLen(
      docs.select(col("doc_id"),
        TextOps.coverageTokenCount(col(textCol)).as("n_tokens")),
      allSpans)

  /** [[coverageFromSpans]] from an already-computed (doc_id, n_tokens)
    * frame — the form the fused production chains call so the coverage
    * denominator rides the chain's one per-doc signal pass
    * ([[graft.operators.TextOps.curationDocSignals]]' `n_tok_cov`)
    * instead of re-scanning corpus text (round 14).
    */
  private[graft] def coverageFromSpansByLen(lens: DataFrame,
                                            allSpans: DataFrame): DataFrame = {
    val spans = allSpans
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"), sum("span_len").as("dup_tokens"))
    lens
      .join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        (coalesce(col("dup_tokens"), lit(0L)).cast("double") /
          col("n_tokens")).as("dup_frac"))
  }

  /** The (doc_id, pos, _h, g) `n`-gram window stream SHARED by the
    * composed production chains' dup-span and decontamination stages
    * (round 14, VERDICT r13 item 1 / guide §6 read-once): one tokenize
    * + shingle + hash pass where the two standalone operators each
    * built their own ([[duplicatedPositions]]' positional stream and
    * [[contaminationOverlap]]'s holdout-flagged stream are projections
    * of this one frame). Callers persist it; both consumers then read
    * the cache instead of re-scanning corpus text. Gram keys are 8-byte
    * xxhash64 longs (the established key-width rule).
    */
  private[graft] def curationGramStream(docs: DataFrame, n: Int,
                                        holdout: Column,
                                        textCol: String = "text"): DataFrame =
    tokenGrams(docs, n, textCol, Seq("_h" -> holdout), keepPos = true)
      .select(col("doc_id"), col("pos"), col("_h"),
        xxhash64(col("gram")).as("g"))

  /** [[duplicateSpanCoverage]] over a shared [[curationGramStream]]
    * (round 14): the same [[multiDocWindows]] dup test, island merge and
    * roll-up — the gram build and the coverage denominator just come
    * from the chain's shared passes instead of two more corpus text
    * scans. The `_h` column is ignored here; positions include holdout
    * docs exactly as the standalone operator's do.
    */
  private[graft] def duplicateSpanCoverageFromGrams(lens: DataFrame,
                                                    grams: DataFrame,
                                                    w: Int): DataFrame = {
    val g = grams.select("doc_id", "pos", "g")
    val hits = g.join(multiDocWindows(g), Seq("g")).select("doc_id", "pos")
    coverageFromSpansByLen(lens, spansFromPositions(hits, w))
  }

  /** [[duplicateSpanCoverage]] for an appended BATCH's shared
    * [[curationGramStream]] against an existing corpus'
    * [[windowHashIndex]]: a batch position is duplicated iff its window
    * appears in another BATCH document OR anywhere in the indexed
    * corpus — exactly the union corpus' "≥ 2 distinct docs" rule
    * restricted to batch rows, since every batch position trivially
    * occurs in its own document and the two doc-id spaces are disjoint
    * (DedupSpec pins `duplicateSpanCoverage(batch ∪ corpus)` restricted
    * to batch doc ids). Same spans merge, same coverage roll-up, same
    * output columns as the full operator.
    *
    * Scale: windows are built for the BATCH only; the corpus enters
    * through one key-only semi-join against the narrow index — cost ∝
    * batch (+ the index scan), never a corpus text re-read.
    */
  private[graft] def duplicateSpanCoverageAgainstFromGrams(
      lens: DataFrame, grams: DataFrame, index: DataFrame,
      w: Int): DataFrame = {
    val g = grams.select("doc_id", "pos", "g")
    // TWO position joins unioned, NOT one join against
    // `(dupBatch ∪ index).distinct()`: the index is corpus-window-sized
    // and already distinct ([[windowHashIndex]]'s contract), and the
    // re-distinct form pushed it across TWO exchanges (the distinct's
    // and the join's) — measured 2× the whole operator's shuffle at the
    // sf10 epoch probe. Here the index crosses exactly ONE exchange
    // (the join's; on the bucketed-by-g cluster layout, zero). The
    // final distinct dedups positions whose window is hot on BOTH
    // sides, over batch-position-sized rows only.
    val hits = g.join(multiDocWindows(g), Seq("g")).select("doc_id", "pos")
      .unionAll(
        g.join(index.select(col("g")), Seq("g"))
          .select("doc_id", "pos"))
      .distinct()
    coverageFromSpansByLen(lens, spansFromPositions(hits, w))
  }

  /** [[decontaminate]]'s flagged-document set (minShared = 1) over a
    * shared [[curationGramStream]] (round 14): distinct the
    * (doc_id, _h, g) projection once — the same distinct
    * [[contaminationOverlap]] paid, now over the chain's persisted
    * stream with the exchange reused by both join sides — and flag
    * every non-holdout doc sharing ≥ 1 gram with any holdout doc.
    * Gram-set membership is all a minShared = 1 screen needs, so the
    * (doc_id, holdout_id) pair aggregate is skipped outright.
    */
  private[graft] def decontaminationFlagged(grams: DataFrame): DataFrame =
    holdoutHits(grams, None)

  /** [[decontaminationFlagged]] for an appended BATCH's shared
    * [[curationGramStream]] against an existing corpus'
    * [[holdoutGramIndex]]: flag batch docs sharing any `n`-gram with the
    * UNION's holdout slice — the persisted corpus-version index plus the
    * batch's OWN holdout rows. The survivors (non-holdout batch rows
    * minus this set) equal `decontaminate(batch ∪ corpus, holdout)`
    * restricted to batch rows for `minShared = 1` (DedupSpec pins it);
    * per-pair `n_shared` thresholds above 1 need the pairwise overlap
    * scan and deliberately stay on [[contaminationOverlap]].
    */
  private[graft] def decontaminationFlaggedAgainst(grams: DataFrame,
                                                   index: DataFrame)
      : DataFrame =
    holdoutHits(grams, Some(index))

  /** Non-holdout doc_ids of a [[curationGramStream]] sharing a gram with
    * its own holdout rows, plus (with an index) with the holdout-gram
    * index — the one holdout-hit expression of both decontamination
    * screens. The index is already distinct ([[holdoutGramIndex]]), so
    * it joins directly (one exchange) instead of riding a union-distinct;
    * the final distinct runs over batch-doc-sized rows.
    */
  private def holdoutHits(grams: DataFrame,
                          index: Option[DataFrame]): DataFrame = {
    val dist = grams.select(col("doc_id"), col("_h"), col("g")).distinct()
    val corpus = dist.where(!col("_h")).select("doc_id", "g")
    val own = corpus
      .join(dist.where(col("_h")).select("g").distinct(), Seq("g"))
      .select("doc_id")
    index.fold(own)(ix => own.unionAll(
        corpus.join(ix.select(col("g")), Seq("g")).select("doc_id")))
      .distinct()
  }

  /** The substring-dedup APPLY endpoint over [[duplicateSpans]]: clip
    * every duplicated span out of every document and return the
    * surviving token stream — (doc_id, kept_tokens, clipped_md5), the
    * aggressive both-copies variant of Lee et al.'s span removal (their
    * keep-one-occurrence policy is a cluster pick like
    * [[keepClusterRepresentatives]]; clipping both sides is the common
    * boilerplate-removal deployment). Token space is the lowercased
    * whitespace tokenization the spans are defined on.
    *
    * Plan shape: spans explode into covered positions (islands are
    * disjoint by construction, so no dedup needed), a key-only
    * (doc_id, pos) anti-join drops clipped tokens, and the surviving
    * text reassembles under a per-doc sort of (pos, tok) structs —
    * `array_sort` of a `collect_list`, deterministic regardless of
    * partition order; docs clipped to nothing (or with null text) emit
    * `md5('')` via the final left join.
    */
  def clipDuplicateSpans(docs: DataFrame, w: Int = 8,
                         textCol: String = "text"): DataFrame = {
    val covered = duplicateSpans(docs, w, textCol)
      .select(col("doc_id"), explode(sequence(col("span_start"),
        col("span_start") + col("span_len") - 1)).as("pos"))
    val kept = docs
      .select(col("doc_id"),
        posexplode(split(lower(col(textCol)), " ")).as(Seq("pos", "tok")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("tok"))
      .join(covered, Seq("doc_id", "pos"), "left_anti")
    val agg = kept.groupBy("doc_id")
      .agg(count(lit(1)).as("kept_tokens"),
        md5(concat_ws(" ",
          transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
            x => x.getField("tok")))).as("clipped_md5"))
    docs.select(col("doc_id")).join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"),
        coalesce(col("clipped_md5"), md5(lit(""))).as("clipped_md5"))
  }

  /** (doc_id, pos) positions whose `w`-token window occurs in ≥ 2 distinct
    * documents — the shared front of [[duplicateSpans]] /
    * [[duplicateSpanCoverage]].
    */
  private def duplicatedPositions(docs: DataFrame, w: Int,
                                  textCol: String): DataFrame = {
    // Window keys are 8-byte xxhash64 longs, NOT md5 hex — the key-width
    // rule learned at sigSets (r8) and ngram_novelty (r9), re-learned
    // here by the round-10 dress rehearsal: this frame is persisted AND
    // crosses two exchanges per corpus token, and with 32-char hex keys
    // the sf100 standalone run filled 43 GB of scratch and DIED. Output
    // is identical (positions depend only on gram-set equality, and the
    // md5-keyed DuckDB oracle replay is itself the collision check).
    val grams = tokenGrams(docs, w, textCol, keepPos = true)
      .select(col("doc_id"), col("pos"), xxhash64(col("gram")).as("g"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    grams.join(multiDocWindows(grams), Seq("g")).select("doc_id", "pos")
  }

  /** The window hashes `g` of a (doc_id, g, …) frame that occur in ≥ 2
    * distinct documents — the one "duplicated window" test of every
    * dup-span form. Written as min ≠ max over occurrences: one plain
    * hash aggregate — countDistinct would plan an Expand that doubles
    * every window row before the shuffle (the column_stats lesson).
    */
  private def multiDocWindows(grams: DataFrame): DataFrame =
    grams.groupBy("g")
      .agg(min("doc_id").as("_lo"), max("doc_id").as("_hi"))
      .where(col("_lo") =!= col("_hi"))
      .select("g")

  /** SimHash near-duplicate pairs: 64-bit signatures, banded into four
    * 16-bit chunks. By pigeonhole, any pair within Hamming distance 3
    * shares at least one intact chunk — so the band join has *guaranteed*
    * recall for `maxHamming` ≤ 3, while joining only on 16-bit keys.
    */
  /** 64-bit SimHash per document — semantics of [[TextOps.simhash]]
    * (per-token xxhash64 → ±1 per bit → sign), but computed as an
    * explode → 64-column codegen'd sum aggregate rather than a per-row
    * interpreted fold: linear scan + one partial-combined shuffle.
    */
  def simhashSignatures(docs: DataFrame,
                        textCol: String = "text"): DataFrame = {
    // Null texts excluded for the same reason as the portable twin: a
    // null token hashes to xxhash64's seed, so every null doc would get
    // the identical signature and pair with every other at hamming 0.
    val toks = docs.where(col(textCol).isNotNull)
      .select(col("doc_id"),
        explode_outer(array_distinct(TextOps.tokens(lower(col(textCol)))))
          .as("tok"))
    val h = xxhash64(col("tok"))
    val aggs = (0 until 64).map(i =>
      sum(when(h.bitwiseAND(lit(1L << i)) =!= 0, 1).otherwise(-1))
        .as(s"_b$i"))
    val counts = toks.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
    val sig = (0 until 64).map(i =>
      when(col(s"_b$i") > 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce((a, b) => a.bitwiseOR(b))
    counts.select(col("doc_id"), sig.as("simhash"))
  }

  /** Oracle-portable SimHash: 64-bit signature where each bit comes from
    * one binary digit of the first 16 hex nibbles of the distinct token's
    * md5 — every step (nibble value, bit mask, ±1 sum, sign, 16-bit chunk
    * packing) is integer arithmetic reproducible in ANSI SQL, so the
    * banded pair search is hash-checkable against DuckDB end-to-end.
    * Same width and banding as the xxhash64 throughput path
    * ([[simhashSignatures]]); DedupSpec asserts both flag the planted
    * near-dup pairs. Output: (doc_id, chunk_0..chunk_3) — four 16-bit
    * band keys.
    */
  def simhashSignaturesPortable(docs: DataFrame,
                                textCol: String = "text"): DataFrame = {
    // Null texts are excluded (not hashed to the all-zero signature):
    // SQL's unnest drops them too, keeping the oracle aligned, and an
    // all-zero signature would otherwise pair every null doc with every
    // other.
    val toks = docs.where(col(textCol).isNotNull)
      .select(col("doc_id"),
        explode_outer(array_distinct(split(lower(col(textCol)), " ")))
          .as("tok"))
    val hexed = toks.select(col("doc_id"), md5(col("tok")).as("_md5"))
    // Two conv calls per token (8-hex-char → 32-bit long), then the 16
    // nibble values are bit-extracted — far cheaper than the previous 16
    // conv(substring) calls per token, with identical values: nibble k is
    // hex digit k of the md5, i.e. bits (7-k%8)*4.. of the k/8-th slice.
    val sliced = hexed.select(col("doc_id"),
      conv(substring(col("_md5"), 1, 8), 16, 10).cast("long").as("_h0"),
      conv(substring(col("_md5"), 9, 8), 16, 10).cast("long").as("_h1"))
    def nib(k: Int) =
      shiftright(if (k < 8) col("_h0") else col("_h1"), (7 - (k % 8)) * 4)
        .bitwiseAND(lit(15L)).cast("int")
    val nibbles = sliced.select(
      col("doc_id") +: (0 until 16).map(k => nib(k).as(s"_n$k")): _*)
    val aggs = (0 until 64).map { i =>
      val bitSet =
        col(s"_n${i / 4}").bitwiseAND(lit(1 << (i % 4))) =!= 0
      sum(when(bitSet, 1).otherwise(-1)).as(s"_b$i")
    }
    val counts = nibbles.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
    val chunks = (0 until 4).map { c =>
      (0 until 16).map { j =>
        when(col(s"_b${c * 16 + j}") > 0, lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _).as(s"chunk_$c")
    }
    counts.select(col("doc_id") +: chunks: _*)
  }

  /** Banded near-dup pairs over the portable 64-bit SimHash: 4 bands of
    * 16 bits — pigeonhole guarantees recall for Hamming ≤ 3, band join on
    * 16-bit keys, Hamming verified via `bit_count(xor)` per chunk.
    */
  def simhashPairsPortable(docs: DataFrame, maxHamming: Int = 3,
                           textCol: String = "text"): DataFrame = {
    // Persisted: the banded self-join consumes the signatures on both
    // sides, and the per-token md5 + 64-bit-sum aggregate is the dominant
    // cost — same caller-clears-cache contract as [[nearDupPairs]].
    val sigs = simhashSignaturesPortable(docs, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val chunkCols = (0 until 4).map(c => col(s"chunk_$c"))
    val banded = sigs.select(col("doc_id") +: chunkCols :+
      explode(array((0 until 4).map(b => struct(lit(b).as("band"),
        col(s"chunk_$b").as("bkey"))): _*)).as("b"): _*)
      .select(col("doc_id") +: chunkCols :+
        col("b.band") :+ col("b.bkey"): _*)
    val hamming = (0 until 4).map(c =>
      bit_count(col(s"a.chunk_$c").bitwiseXOR(col(s"b.chunk_$c"))))
      .reduce(_ + _).cast("long")
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        hamming.as("hamming"))
      // hamming is functionally determined by the pair, so filtering
      // BEFORE the distinct is equivalent and keeps false band
      // candidates out of the dedup exchange.
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  def simhashPairs(docs: DataFrame, maxHamming: Int = 3,
                   textCol: String = "text"): DataFrame = {
    // Persisted for the same both-sides-of-the-band-join reason as
    // [[simhashPairsPortable]].
    val sigs = simhashSignatures(docs, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val banded = sigs.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map(bnd => struct(lit(bnd).as("band"),
        call_function("shiftright", col("simhash"), lit(16 * bnd))
          .bitwiseAND(0xFFFFL).as("chunk"))): _*)).as("b"))
      .select(col("doc_id"), col("simhash"), col("b.band"), col("b.chunk"))
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.chunk") === col("b.chunk") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
          .as("hamming"))
      .where(col("hamming") <= maxHamming)   // pre-distinct: same rows,
      .distinct()                            // smaller exchange
  }
}
