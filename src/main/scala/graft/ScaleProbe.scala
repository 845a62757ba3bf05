package graft

import graft.operators.{Scratch, Similarity}

/** One-off scale measurement for PARAMETERIZED operator variants — the
  * knob the registry queries deliberately pin (their oracles replay one
  * literal parameterization, so `queries` entries cannot take deployment-
  * sized parameters without changing what the oracle checks).
  *
  * The motivating cases are the two embedding pair searches, whose
  * candidate bound is a parameter that must GROW with the corpus:
  *
  *  - `lsh`: `embedding_neardup_lsh` pins planes=12 (4,096 buckets/table)
  *    for its oracle; at the sf100 ladder point (2 M vectors) that is
  *    ~490 occupancy → ~1.5 B candidate pairs, a parameterization error,
  *    not a plan defect. The probe runs the SAME
  *    `Similarity.lshNearDupPairsFromVecs` plan at caller-chosen
  *    `planes`/`tables`.
  *  - `cells`: `semantic_dedup` pins a 16-cell codebook; off that point
  *    both the Σ|cell|² pair work AND the within-cell join's parallelism
  *    (≤ nCells tasks) degrade. The probe runs
  *    `Similarity.semanticDedupPairsScaled` with an nCells-sized
  *    codebook (deterministic lowest-vec_id init, Lloyd iters=0 — the
  *    probe prices assignment + pair search, not training quality).
  *
  * Usage:
  *   runMain graft.ScaleProbe <sfDir> lsh <planes> <tables> [runs]
  *   runMain graft.ScaleProbe <sfDir> cells <nCells> [runs]
  * Prints one JSON line {"probe":...,"sec":...,"pairs":...}. Protocol
  * matches Bench: local[N] from SPARK_GRAFT_CPUS, noop sink, cold cache,
  * min-of-`runs` (default 2).
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val kind = args(1)
    val spark = SparkEntry.localSession().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val (pairsDf, runs, desc) = kind match {
      case "lsh" =>
        val planes = args(2).toInt
        val tables = args(3).toInt
        val runs = if (args.length > 4) args(4).toInt else 2
        (() => Similarity.lshNearDupPairsFromVecs(
            EntryHelpers.plantedVecs(spark, sfDir),
            threshold = 0.9, planes = planes, tables = tables,
            dim = EntryOracleSql.EmbDim),
          runs,
          s""""probe":"embedding_neardup_lsh","planes":$planes,""" +
            s""""tables":$tables""")
      case "cells" =>
        val nCells = args(2).toInt
        val runs = if (args.length > 3) args(3).toInt else 2
        val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
        // Codebook trained once OUTSIDE the timed runs (the ingest-time
        // step); the probe times assignment + within-cell pair search.
        val cb = Similarity.kmeansCodebook(emb, nCells = nCells, iters = 0)
        (() => Similarity.semanticDedupPairsScaled(
            EntryHelpers.plantedVecs(spark, sfDir), cb, threshold = 0.9),
          runs,
          s""""probe":"semantic_dedup","cells":$nCells""")
      case "pairs-oneshot" =>
        // <sfDir> pairs-oneshot <rowsPerBand> [runs] -- the one-shot
        // banding modes for the mode-ladder sweep (VERDICT r10 item 4):
        // rowsPerBand=1 is the r=1 recall-max form (nearDupPairs),
        // rowsPerBand>=2 the classic b×r form (nearDupPairsBanded).
        val rpb = args(2).toInt
        val runs = if (args.length > 3) args(3).toInt else 1
        val docsDf = spark.read.parquet(s"$sfDir/documents.parquet")
        (() => if (rpb == 1)
            graft.operators.Dedup.nearDupPairs(docsDf)
          else graft.operators.Dedup.nearDupPairsBanded(docsDf,
            rowsPerBand = rpb),
          runs,
          s""""probe":"neardup_pairs_oneshot","rows_per_band":$rpb""")
      case "mix" =>
        // <sfDir> mix <narrow|text> [runs] -- the s4 isolation probe
        // (VERDICT r10 item 1 re-measure): a 2/3-of-corpus survivor key
        // set (the composed chain's shape at the decade where it
        // outgrew the broadcast threshold) feeds the mix stage either
        // through the narrow per-doc stats manifest (the fix) or
        // through the legacy text-bearing join (manifest derived AFTER
        // `docs ⋈ survivors`, so text crosses the survivor exchange).
        import org.apache.spark.sql.functions._
        import graft.operators.TextOps
        val mode = args(2)
        val runs = if (args.length > 3) args(3).toInt else 1
        val docsDf = spark.read.parquet(s"$sfDir/documents.parquet")
        val surv = docsDf.select("doc_id")
          .where(pmod(col("doc_id"), lit(3L)) =!= 0L)
        (() => (mode match {
            case "narrow" => TextOps.mixManifestFromStats(
              TextOps.docStatsManifest(docsDf)
                .join(surv, Seq("doc_id")))
            case "text" => TextOps.mixManifestFromStats(
              TextOps.docStatsManifest(docsDf.join(surv, Seq("doc_id"))))
            case other => sys.error(s"bad mix mode: $other")
          }).select("doc_id", "source", "quality_score"),
          runs,
          s""""probe":"mix_stage","mode":"$mode"""")
      case "pairs-sliced" =>
        // Bounded-scratch sliced banding at deployment slice counts —
        // the sixth-decade measurement mode for the pair family (the
        // registry row pins slices=4 for its oracle; scratch scales
        // ~1/K, so the 50 M-doc run chooses K to fit the node's disk).
        val slices = args(2).toInt
        val buildSlices = if (args.length > 3) args(3).toInt else 1
        val runs = if (args.length > 4) args(4).toInt else 1
        val docsDf = spark.read.parquet(s"$sfDir/documents.parquet")
        (() => {
            val work = java.nio.file.Files
              .createTempDirectory("graft_probe_sliced").toString
            graft.operators.Dedup.nearDupPairsBandedSliced(
              docsDf, work, slices = slices, buildSlices = buildSlices)
          },
          runs,
          s""""probe":"neardup_pairs_banded_sliced","slices":$slices,""" +
            s""""build_slices":$buildSlices""")
      case "landing" =>
        // <sfDir> landing [format] [shards] -- the digest-gated
        // document landing at ladder scale: the corpus exports as N
        // shards (outside the clock), the gated stream ingests them in
        // one micro-batch, then a byte-identical shard re-delivery in
        // a SECOND micro-batch must no-op against the persistent
        // ledger. Prints ingest docs/s, the re-delivery cost, and the
        // ledger/good counts that prove the skip.
        import graft.sources.Jsonl
        val format = if (args.length > 2) args(2) else "jsonl"
        val shards = if (args.length > 3) args(3).toInt else 32
        val d = spark.read.parquet(s"$sfDir/documents.parquet")
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_landing_probe")
        val landing = tmp.resolve("landing")
        java.nio.file.Files.createDirectories(landing)
        val render = tmp.resolve("render").toString
        val lines =
          if (format == "jsonl") Jsonl.renderLines(d)
          else graft.sources.Csv.renderLines(d)
        Jsonl.writeLines(lines.repartition(shards), render)
        var i = 0
        val ls = java.nio.file.Files.list(java.nio.file.Paths.get(render))
        try {
          val it = ls.iterator()
          while (it.hasNext) {
            val p = it.next()
            if (p.getFileName.toString.startsWith("part-")) {
              java.nio.file.Files.move(p,
                landing.resolve(f"shard_$i%04d.$format"))
              i += 1
            }
          }
        } finally ls.close()
        val nDocs = d.count()
        val t0 = System.nanoTime()
        val q = graft.streaming.StreamingPipeline
          .documentLandingStreamIdempotent(spark, landing.toString,
            tmp.resolve("good").toString, tmp.resolve("qr").toString,
            tmp.resolve("ckpt").toString, tmp.resolve("ledger").toString,
            format)
        q.processAllAvailable()
        val ingestSec = (System.nanoTime() - t0) / 1e9
        // byte-identical re-delivery, later micro-batch, new name
        java.nio.file.Files.copy(
          landing.resolve(f"shard_0000.$format"),
          landing.resolve(s"shard_again.$format"))
        val t1 = System.nanoTime()
        q.processAllAvailable()
        val redeliverSec = (System.nanoTime() - t1) / 1e9
        q.stop()
        val store =
          new graft.state.StateStore(spark, tmp.resolve("ledger").toString)
        val ledgerN = store.uploadDigests.count()
        val goodN = spark.read
          .parquet(tmp.resolve("good").toString + "/batch_*").count()
        println(s"""{"probe":"gated_landing","format":"$format",""" +
          s""""shards":$i,"docs":$nDocs,"ingest_sec":$ingestSec,""" +
          s""""docs_per_sec":${nDocs / ingestSec},""" +
          s""""redeliver_sec":$redeliverSec,"ledger":$ledgerN,""" +
          s""""good_rows":$goodN}""")
        graft.EntryHelpers.deleteTree(tmp)
        spark.stop()
        return
      case "edges-delta" =>
        // <sfDir> edges-delta [batchMod] [runs] -- incremental edge
        // maintenance at ladder scale (VERDICT r11 item 6): corpus =
        // doc_id % batchMod != 0, batch = the rest (default 10 -> a 10%
        // append). The corpus signature index is materialized OUTSIDE
        // the clock (the once-per-corpus-version step,
        // Dedup.buildSignatureIndex); the timed span is the DELTA -
        // batch band build + index equi-join + Jaccard verify. The
        // claim under test: delta cost tracks the BATCH, not the
        // corpus (vs the full rebuild's corpus-sized pair search,
        // batch-19 numbers).
        import org.apache.spark.sql.functions.col
        val mod = if (args.length > 2) args(2).toInt else 10
        val runsD = if (args.length > 3) args(3).toInt else 2
        val dd = spark.read.parquet(s"$sfDir/documents.parquet")
        val exD = dd.where(col("doc_id") % mod =!= 0)
        val incD = dd.where(col("doc_id") % mod === 0)
        val idxDir = java.nio.file.Files
          .createTempDirectory("graft_edges_delta")
        // index scratch outlives the timed runs (the common tail re-runs
        // the plan for the pair count) — reclaim at JVM exit
        Runtime.getRuntime.addShutdownHook(new Thread(() =>
          try graft.EntryHelpers.deleteTree(idxDir)
          catch { case _: Throwable => () }))
        val tIdx = System.nanoTime()
        graft.operators.Dedup.buildSignatureIndex(exD)
          .write.mode("overwrite")
          .parquet(idxDir.resolve("index").toString)
        val idxSec = (System.nanoTime() - tIdx) / 1e9
        val exIdx = spark.read.parquet(idxDir.resolve("index").toString)
        val nBatch = incD.count()
        (() => graft.operators.Dedup.updatePairGraphDelta(incD, exIdx),
          runsD,
          s""""probe":"edges_delta","batch_mod":$mod,""" +
            s""""batch_docs":$nBatch,"index_build_sec":$idxSec""")

      case "export" =>
        // <sfDir> export [nShards] [runsPerShard] -- the factory-to-
        // artifact write path at ladder scale (VERDICT r11 item 3): a
        // produced-corpus-shaped frame (real shuffle-order positions +
        // token counts over the sf corpus) is materialized OUTSIDE the
        // clock; the timed span is Export.writeShards end to end —
        // shard assignment, the position-clustered parquet shard write,
        // the JSONL shard write, and the manifest aggregate + write.
        // runsPerShard > 1 measures the writer-parallelism knob
        // (VERDICT r12 item 4).
        import org.apache.spark.sql.functions._
        import graft.operators.{Export, TextOps}
        val nSh = if (args.length > 2) args(2).toInt else 64
        val rps = if (args.length > 3) args(3).toInt else 1
        val dE = spark.read.parquet(s"$sfDir/documents.parquet")
        val tmpE = java.nio.file.Files.createTempDirectory("graft_export_p")
        val prodPath = tmpE.resolve("produced").toString
        dE.select(col("doc_id"), col("source"),
            lit(0.5).as("quality_score"),
            TextOps.splitTokenCount(col("text")).as("n_tokens"))
          .join(TextOps.shuffleOrder(dE.select("doc_id"))
            .select(col("doc_id"), col("position")), Seq("doc_id"))
          .withColumn("seq_id", expr("CAST(position DIV 4 AS BIGINT)"))
          .withColumn("seq_offset", expr("CAST(position % 4 AS BIGINT)"))
          .write.mode("overwrite").parquet(prodPath)
        val prod = spark.read.parquet(prodPath)
        val nDocsE = prod.count()
        val t0E = System.nanoTime()
        val manifest = Export.writeShards(prod, nSh,
          tmpE.resolve("out").toString, runsPerShard = rps)
        val mRows = manifest.count()
        val secE = (System.nanoTime() - t0E) / 1e9
        val mAgg = manifest.agg(sum("n_rows"), sum("n_tokens")).head()
        println(s"""{"probe":"export","shards":$nSh,"runs_per_shard":$rps,""" +
          s""""docs":$nDocsE,""" +
          s""""sec":$secE,"docs_per_sec":${nDocsE / secE},""" +
          s""""manifest_rows":$mRows,""" +
          s""""manifest_docs":${mAgg.getLong(0)},""" +
          s""""manifest_tokens":${mAgg.getLong(1)}}""")
        graft.EntryHelpers.deleteTree(tmpE)
        spark.stop()
        return

      case "edges-build" =>
        // <sfDir> edges-build <outPath> <slices> <buildSlices> -- the
        // once-per-corpus-version materialization step of the wedge
        // family's edge-table contract (Dedup.writePairGraph): sliced
        // banding builds the pair graph, parquet persists it. Not a
        // timed probe; prints the edge count and exits.
        val outPath = args(2)
        val slices = args(3).toInt
        val buildSlices = if (args.length > 4) args(4).toInt else 1
        val docsDf = spark.read.parquet(s"$sfDir/documents.parquet")
        val work = java.nio.file.Files
          .createTempDirectory("graft_edges_build").toString
        val t0 = System.nanoTime()
        graft.operators.Dedup.writePairGraph(
          graft.operators.Dedup.nearDupPairsBandedSliced(
            docsDf, work, slices = slices, buildSlices = buildSlices),
          outPath)
        val sec = (System.nanoTime() - t0) / 1e9
        val n = spark.read.parquet(outPath).count()
        println("{\"probe\":\"edges_build\",\"sec\":" + sec +
          ",\"edges\":" + n + "}")
        spark.stop()
        return
      case "corpus-production" =>
        // <sfDir> corpus-production [outDir] -- the composed run with
        // each stage materialized to parquet at its boundary (the
        // production posture: stage outputs are narrow manifests) and
        // timed separately, so SCALING.md batch 18b can show per-stage
        // wall/shuffle at sf100/sf1000 and whether composition breaks
        // any stage's measured linearity (cache/spill interaction is
        // exactly what per-stage standalone measurement misses).
        import org.apache.spark.sql.functions._
        import graft.operators.{Curation, Dedup, TextOps}
        val outDir = if (args.length > 2) args(2)
          else java.nio.file.Files
            .createTempDirectory("graft_cprod").toString
        val d = spark.read.parquet(s"$sfDir/documents.parquet")
        // Sliced-stage scratch dirs, deleted after the final read —
        // each sliced stage writes per-slice parquet manifests that
        // would otherwise accumulate in /tmp across probe runs.
        val scratchDirs =
          scala.collection.mutable.Buffer[java.nio.file.Path]()
        def scratch(prefix: String): String = {
          val p = java.nio.file.Files.createTempDirectory(prefix)
          scratchDirs += p
          p.toString
        }
        val out = new StringBuilder("{\"probe\":\"corpus_production\"")
        def stage(name: String)(f: => org.apache.spark.sql.DataFrame)
            : org.apache.spark.sql.DataFrame = {
          val sb0 = Scratch.shuffleBytesWritten(spark)
          val t0 = System.nanoTime()
          f.write.mode("overwrite").parquet(s"$outDir/$name")
          val back = spark.read.parquet(s"$outDir/$name")
          val n = back.count()
          val sec = (System.nanoTime() - t0) / 1e9
          val sb = Scratch.shuffleBytesWritten(spark) - sb0
          out.append(",\"" + name + "\":{\"sec\":" + sec +
            ",\"shuffle_b\":" + sb + ",\"rows\":" + n + "}")
          println(s"[cprod] $name: $sec s, $sb shuffle B, $n rows")
          back
        }
        // Stage 1 is SUB-STAGED per gate: each gate materializes its
        // (small) verdict frame and its shuffle files become
        // reclaimable before the next gate starts, so the live scratch
        // is one gate's working set, not the sum of seven (the
        // composed one-plan form held every gate's exchange live at
        // once and died at sf100 with 43 GB free — the dress
        // rehearsal's first catch). The two heavy gates additionally
        // take a gram-hash slice count (args(4), default 1 = one-shot)
        // for the decade where even ONE gate's exchange exceeds the
        // node: dup-span, LM, and decontamination slices are
        // parity-pinned bit-identical to their one-shot forms.
        val heavySlices = if (args.length > 4) args(4).toInt else 1
        val s1a = stage("s1a_band") {
          TextOps.lengthBandFilter(d).select("doc_id")
        }
        val s1b = stage("s1b_quality") {
          TextOps.qualityScore(TextOps.tokenStats(d))
            .where(Curation.QualityKeep)
            .select(col("doc_id"), col("quality_score"))
        }
        val s1c = stage("s1c_lang") {
          TextOps.langIdAgg(d).where(Curation.LangKnown)
            .select("doc_id")
        }
        val s1d = stage("s1d_reps") {
          Dedup.exactDedup(d).select("doc_id")
        }
        val s1e = stage("s1e_dupspan") {
          val cov =
            if (heavySlices > 1)
              Dedup.duplicateSpanCoverageSliced(d,
                scratch("graft_cprod_ds"), slices = heavySlices)
            else Dedup.duplicateSpanCoverage(d)
          cov.where(Curation.DupSpanKeep).select("doc_id")
        }
        val s1f = stage("s1f_lm") {
          val lm =
            if (heavySlices > 1)
              TextOps.lmScoreSliced(d,
                scratch("graft_cprod_lm"), slices = heavySlices)
            else TextOps.lmScore(d)
          lm.where(Curation.LmScoreable).select("doc_id")
        }
        val s1g = stage("s1g_clf") {
          TextOps.classifierScore(d).where(col("keep")).select("doc_id")
        }
        val cur = stage("s1_curate") {
          d.select(col("doc_id"), col("source"))
            .join(s1a, Seq("doc_id")).join(s1b, Seq("doc_id"))
            .join(s1c, Seq("doc_id")).join(s1d, Seq("doc_id"))
            .join(s1e, Seq("doc_id")).join(s1f, Seq("doc_id"))
            .join(s1g, Seq("doc_id"))
            .select(col("doc_id"), col("source"), col("quality_score"))
        }
        // s2 pair generation follows the pair family's mode contract
        // (re-derived round 11, SCALING.md batch 19): one-shot classic
        // b×r under ~1 M docs ("banded:2"), sliced classic from ~5 M
        // docs up ("sliced:K:B" — it wins wall there outright, scratch
        // ceiling or not); "oneshot" (r=1 recall-max) only matches the
        // registry row's oracle parameterization at test SFs. The
        // registry row pins the oracle-checkable parameterization; the
        // probe measures the deployment-scale mode (the
        // parameterized-operator rule).
        val s2Mode = if (args.length > 3) args(3) else "oneshot"
        val dd = stage("s2_dedup_apply") {
          val pairs = s2Mode.split(":") match {
            case Array("oneshot") =>
              Dedup.nearDupPairs(d).select("doc_a", "doc_b")
            case Array("banded", rpb) =>
              Dedup.nearDupPairsBanded(d, rowsPerBand = rpb.toInt)
                .select("doc_a", "doc_b")
            case Array("sliced", k, b) =>
              Dedup.nearDupPairsBandedSliced(d,
                  scratch("graft_cprod_pairs"),
                  slices = k.toInt, buildSlices = b.toInt)
                .select("doc_a", "doc_b")
            case other =>
              sys.error(s"bad s2 mode: ${other.mkString(":")}")
          }
          val clusters = Dedup.connectedComponents(
            pairs, d.select("doc_id"))
          cur.join(Dedup.keepByScore(
              cur.select("doc_id", "quality_score"), clusters)
            .select("doc_id"), Seq("doc_id"))
        }
        val dec = stage("s3_decontaminate") {
          val surv =
            if (heavySlices > 1)
              Dedup.decontaminateSliced(d, col("doc_id") % 10 === 0,
                scratch("graft_cprod_dc"), slices = heavySlices)
            else Dedup.decontaminate(d, col("doc_id") % 10 === 0)
          dd.join(surv.select("doc_id"), Seq("doc_id"))
        }
        val mixed = stage("s4_mix") {
          // Narrow-manifest feed (VERDICT r10 item 1): the stats
          // manifest is one text pass, the survivor join carries
          // 8-byte keys — text never enters s4's exchanges.
          TextOps.mixManifestFromStats(
              TextOps.docStatsManifest(d)
                .join(dec.select("doc_id"), Seq("doc_id")))
            .select(col("doc_id"), col("source"), col("quality_score"))
        }
        val sh = stage("s5_shuffle") {
          TextOps.shuffleOrder(mixed.select("doc_id"))
            .select(col("doc_id"), col("position"))
        }
        stage("s6_pack") {
          val packed = TextOps.packSequencesByLen(
              d.select(col("doc_id"),
                  TextOps.splitTokenCount(col("text")).as("n_tokens"))
                .join(sh, Seq("doc_id"))
                .select(col("position").as("doc_id"), col("n_tokens")))
            .select(col("doc_id").as("position"), col("n_tokens"),
              col("seq_id"), col("seq_offset"))
          mixed.join(sh, Seq("doc_id")).join(packed, Seq("position"))
        }
        println(out.append("}").toString)
        scratchDirs.foreach { p =>
          try graft.EntryHelpers.deleteTree(p)
          catch { case _: Throwable => () }
        }
        spark.stop()
        return
      case "epoch-advance" =>
        // <sfDir> epoch-advance [batchMod] [runs] -- the incremental
        // corpus-production ladder point (VERDICT r12 item 2): corpus
        // version = doc_id % batchMod != 0 (default 10 -> a 10% batch),
        // artifacts built OUTSIDE the clock (the once-per-version
        // step); the timed span is Epoch.advance end to end. The claim
        // under test: epoch cost tracks the BATCH plus narrow index
        // scans, vs the full factory's corpus-sized rerun
        // (corpus-production probe numbers at the same SF).
        import org.apache.spark.sql.functions.{col, count, lit}
        import graft.operators.{Dedup, Epoch, TextOps}
        val mod = if (args.length > 2) args(2).toInt else 10
        val runsE = if (args.length > 3) args(3).toInt else 2
        val dd = spark.read.parquet(s"$sfDir/documents.parquet")
        // Batch = remainder 1, NOT 0: the factory's holdout slice is
        // doc_id % 10 == 0, and a %10==0 batch would be entirely
        // holdout — decontamination would (correctly) drop every doc
        // and the probe would time an empty admission.
        val exD = dd.where(col("doc_id") % mod =!= 1)
        val incD = dd.where(col("doc_id") % mod === 1)
        val baseDir = java.nio.file.Files
          .createTempDirectory("graft_epoch_probe")
        Runtime.getRuntime.addShutdownHook(new Thread(() =>
          try graft.EntryHelpers.deleteTree(baseDir)
          catch { case _: Throwable => () }))
        val tB = System.nanoTime()
        val (decB, finB) = graft.EntryHelpers.corpusProductionStages(exD)
        finB.write.mode("overwrite")
          .parquet(baseDir.resolve("produced").toString)
        decB.groupBy("source").agg(count(lit(1)).as("n_docs"))
          .write.mode("overwrite")
          .parquet(baseDir.resolve("dec_counts").toString)
        exD.select(TextOps.fingerprint(col("text")).as("fingerprint"))
          .distinct().write.mode("overwrite")
          .parquet(baseDir.resolve("fingerprints").toString)
        Dedup.buildSignatureIndex(exD).write.mode("overwrite")
          .parquet(baseDir.resolve("index").toString)
        Dedup.writePairGraph(
          Dedup.nearDupPairs(exD).select(col("doc_a"), col("doc_b")),
          baseDir.resolve("edges").toString)
        Dedup.connectedComponents(
            Dedup.readPairGraph(spark, baseDir.resolve("edges").toString),
            exD.select("doc_id"))
          .write.mode("overwrite")
          .parquet(baseDir.resolve("labels").toString)
        Dedup.windowHashIndex(exD).write.mode("overwrite")
          .parquet(baseDir.resolve("windows").toString)
        Dedup.holdoutGramIndex(exD, col("doc_id") % 10 === 0)
          .write.mode("overwrite")
          .parquet(baseDir.resolve("holdout_grams").toString)
        TextOps.lmRatioTable(exD).write.mode("overwrite")
          .parquet(baseDir.resolve("lm_ratio").toString)
        TextOps.lengthBandBounds(exD).write.mode("overwrite")
          .parquet(baseDir.resolve("length_bounds").toString)
        spark.catalog.clearCache()
        val baseSec = (System.nanoTime() - tB) / 1e9
        def rd(name: String) =
          spark.read.parquet(baseDir.resolve(name).toString)
        val baseV = Epoch.EpochVersion(
          produced = rd("produced"), decCounts = rd("dec_counts"),
          fingerprints = rd("fingerprints"), sigIndex = rd("index"),
          edges = rd("edges"), labels = rd("labels"),
          windowIndex = rd("windows"),
          holdoutGrams = rd("holdout_grams"), lmRatio = rd("lm_ratio"),
          lengthBounds = rd("length_bounds"))
        val nBatchE = incD.count()
        // Variant: 'full' materializes the whole advanced corpus view
        // (epoch-1 rows re-emitted — output is corpus-sized by
        // definition); 'delta' (default) filters to epoch = 2, which
        // constant-folds the epoch-1 union branch away — the cost of
        // PRODUCING the appended rows, i.e. what a pipeline that
        // appends to the produced table actually pays per epoch.
        val variantE = if (args.length > 4) args(4) else "delta"
        (() => {
            val adv = Epoch.advance(incD, baseV)
            if (variantE == "full") adv
            else adv.where(col("epoch") === 2)
          },
          runsE,
          s""""probe":"epoch_advance","batch_mod":$mod,""" +
            s""""variant":"$variantE",""" +
            s""""batch_docs":$nBatchE,"base_build_sec":$baseSec""")
      case "colstats-approx" =>
        // <sfDir> colstats-approx [exact] [runs] -- the expand-free
        // per-column stats operator priced ALONE (VERDICT r12 item 6):
        // since the `column_stats_approx` registry row became a verdict
        // row it deliberately executes the exact NDV-via-expand twin to
        // referee the sketch, so no registry number shows the 100-TB
        // default's own cost any more. `exact` runs Scale.columnStats
        // instead, for the side-by-side.
        val variant = if (args.length > 2) args(2) else "approx"
        val runs = if (args.length > 3) args(3).toInt else 2
        val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
        (() => variant match {
            case "exact" => graft.operators.Scale.columnStats(li)
            case _ => graft.operators.Scale.columnStatsApprox(li)
          },
          runs,
          "\"probe\":\"colstats\",\"variant\":\"" + variant + "\"")
      case "wedge" =>
        // <edgesParquet> wedge <op> [runs] -- the wedge family measured
        // FROM the materialized edge table (the contract's consumption
        // side): no corpus anywhere in the plan. `sfDir` is the edge
        // parquet path for this kind.
        val op = args(2)
        val runs = if (args.length > 3) args(3).toInt else 2
        val edges = graft.operators.Dedup.readPairGraph(spark, sfDir)
        (() => {
            graft.operators.Dedup.clearWedgeCache() // cold per run
            op match {
              case "triangle_counts" =>
                graft.operators.Dedup.triangleCounts(edges)
              case "clustering_coeff" =>
                graft.operators.Dedup.clusteringCoefficient(edges)
              case "kcore" =>
                graft.operators.Dedup.kCore(edges, k = 2, maxRounds = 64)
              case "degree_histogram" =>
                graft.operators.Dedup.degreeHistogram(edges)
              case "triangles_bounded" =>
                // the registry's bounded enumerate form (round 11):
                // TakeOrdered cap + broadcast total count — the node
                // that replaced the output-sized terminal sort,
                // measured at the decade that flagged it
                graft.operators.Dedup.trianglesBounded(edges)
              case "triangles_unbounded" =>
                // the retired full-sort form, for the before/after row
                graft.operators.Dedup.triangles(edges)
              case other => sys.error(s"unknown wedge op: $other")
            }
          },
          runs,
          "\"probe\":\"wedge_from_edges\",\"op\":\"" + op + "\"")
      case other => sys.error(s"unknown probe kind: $other")
    }

    // Total shuffle-write bytes per run — the number the SCALING.md
    // cluster-shape projection divides by executor count, read from the
    // Scratch counter (local metrics are exact here: one JVM sees every
    // task).
    def once(): (Double, Long) = {
      spark.catalog.clearCache()
      System.gc()
      val shuffle0 = Scratch.shuffleBytesWritten(spark)
      val t0 = System.nanoTime()
      pairsDf().write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      (wall, Scratch.shuffleBytesWritten(spark) - shuffle0)
    }
    val outcomes = (1 to runs).map(_ => once())
    val best = outcomes.map(_._1).min
    val shuf = outcomes.map(_._2).max
    // Pair count once, outside the timed runs (it re-executes the plan).
    spark.catalog.clearCache()
    val pairs = pairsDf().count()
    println(s"""{$desc,"sf":"$sfDir","sec":$best,""" +
      s""""shuffle_bytes":$shuf,"pairs":$pairs}""")
    spark.stop()
  }
}
