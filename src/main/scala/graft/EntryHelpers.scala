package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables
import graft.operators._
import graft.EntryOracleSql.EmbDim

/** Shared input/builder helpers for the [[SparkEntry]] query registry —
  * table loaders, the reference-shaped star views, deterministic planted
  * inputs, per-session memoized setup (codebooks, audit state), split out
  * of the single-file registry for reviewability (round-8 refactor; the
  * driver contract in [[SparkEntry]] is unchanged).
  */
private[graft] object EntryHelpers {

  private[graft] def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** The testdata star schema re-shaped to the reference's logical tables
    * (SURVEY.md §7.1): lineitem⋈orders ≈ Transactions, part ≈ Products,
    * customer ≈ Customers. Amount is DECIMAL(18,4) for exact aggregation.
    */
  private[graft] def refShape(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val li = t(s, dir, "lineitem")
    val ord = t(s, dir, "orders").select(col("o_orderkey"),
      col("o_custkey").as("customer_id"))
    val txns = li
      .join(ord, li("l_orderkey") === ord("o_orderkey"))
      .select(col("l_orderkey"), col("l_linenumber"), col("customer_id"),
        col("l_partkey").as("product_code"),
        col("l_extendedprice").as("amount_raw"),
        col("l_extendedprice").cast("decimal(18,4)").as("amount"))
    val products = t(s, dir, "part").select(
      col("p_partkey").as("product_code"), col("p_name").as("product_name"),
      col("p_brand").as("category"), col("p_retailprice").as("unit_price"))
    val customers = t(s, dir, "customer").select(
      col("c_custkey").as("customer_id"), col("c_name").as("name"))
    (txns, products, customers)
  }

  /** J1 (broadcast) + J2 — see [[Relational.enrich]]. */
  private[graft] def merged(s: SparkSession, dir: String): DataFrame = {
    val (txns, products, customers) = refShape(s, dir)
    Relational.enrich(txns, products, customers)
  }

  private[graft] def docs(s: SparkSession, dir: String) = t(s, dir, "documents")
  private[graft] def events(s: SparkSession, dir: String) = t(s, dir, "events")
  private[graft] def emb(s: SparkSession, dir: String) = t(s, dir, "embeddings")

  /** Deterministic PII planting for the scrub/domain queries: the corpus
    * text has no natural emails/URLs/phones, so both engines append the
    * same id-derived contact strings to deterministic doc subsets (the
    * planted-input pattern `embedding_neardup_lsh` uses). Pure string
    * concatenation of integer-derived pieces — bit-identical in SQL.
    */
  private[graft] def piiDocs(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).withColumn("text", concat(col("text"),
      when(col("doc_id") % 7 === 0,
        concat(lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com"))).otherwise(lit("")),
      when(col("doc_id") % 11 === 0,
        concat(lit(" via https://site"), (col("doc_id") % 50).cast("string"),
          lit(".example.org/p/"), col("doc_id").cast("string")))
        .otherwise(lit("")),
      when(col("doc_id") % 13 === 0,
        concat(lit(" call 555-"),
          lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
          lit("-0199"))).otherwise(lit(""))))

  /** Deterministic boilerplate-line planting for `strip_boilerplate`:
    * the corpus text has no newlines, so both engines wrap deterministic
    * doc subsets with the same high-df banner/footer lines (removal
    * targets) plus one id-derived RARE footer (df=1 — must survive).
    */
  private[graft] def boilerplateDocs(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).withColumn("text", concat(
      when(col("doc_id") % 3 === 0,
        lit("subscribe to our newsletter\n")).otherwise(lit("")),
      col("text"),
      when(col("doc_id") % 4 === 0,
        lit("\nall rights reserved 2024")).otherwise(lit("")),
      when(col("doc_id") % 97 === 0,
        concat(lit("\nrare footer "), col("doc_id").cast("string")))
        .otherwise(lit(""))))

  /** Deterministic structure planting for `gopher_rules`: the corpus text
    * has no bullets, ellipses, or numerals, so deterministic doc subsets
    * get a 10-line bullet block (bullet-ratio rule), a 20-token numeric
    * tail (alpha-word rule) and an ellipsis-terminated line (ellipsis
    * rule) — pure string-literal concatenation, replayed by the SQL twin.
    */
  private[graft] def gopherDocs(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).withColumn("text", concat(
      when(col("doc_id") % 15 === 0, lit("- item\n" * 10)).otherwise(lit("")),
      col("text"),
      when(col("doc_id") % 21 === 0,
        lit(" 0 1 2 3 4 5 6 7 8 9 0 1 2 3 4 5 6 7 8 9")).otherwise(lit("")),
      when(col("doc_id") % 6 === 0,
        lit("\nto be continued...")).otherwise(lit(""))))

  /** Customer-dimension row count: cheap (parquet footer metadata) but
    * still a job, and it only steers plan selection — exactly the table
    * statistic a catalog hands the planner for free at cluster scale.
    */
  private[graft] val dimCounts = new SessionMemo[java.lang.Long]()

  private[graft] def customerCount(s: SparkSession, dir: String): Long =
    dimCounts.get(s, dir)((s2, d) => t(s2, d, "customer").count())
      .longValue()

  /** Corpus vectors plus the deterministic planted perturbations (first 8
    * vectors re-added with id + 10^7 and first component +0.01 in double
    * space) — the shared non-vacuous input of the embedding near-dup and
    * semantic-dedup queries; the SQL twin is [[pvecsSql]].
    */
  private[graft] def plantedVecs(s: SparkSession, dir: String): DataFrame = {
    val vecs = emb(s, dir)
      .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("v"))
    val planted = vecs.where(col("vec_id") < 8)
      .select((col("vec_id") + lit(10000000L)).as("vec_id"),
        concat(array(element_at(col("v"), 1) + lit(0.01)),
          slice(col("v"), 2, EmbDim - 1)).as("v"))
    vecs.unionAll(planted)
  }

  /** Trained IVF codebook: k-means training is the once-per-corpus-version
    * offline job, so the `ann_topk_ivf_kmeans` query re-pays only the
    * search. Training is deterministic and partition-count-invariant
    * (DECIMAL-exact means — SimilaritySpec).
    */
  private[graft] val kmeansBooks = new SessionMemo[Array[Array[Double]]]()

  private[graft] def kmeansBook(s: SparkSession, dir: String): Array[Array[Double]] =
    kmeansBooks.get(s, dir)((s2, d) =>
      Similarity.kmeansCodebook(emb(s2, d), nCells = 16, iters = 2))

  /** Trained BPE merge table — the same once-per-corpus-version training
    * contract as [[kmeansBook]]: both tokenizer queries draw from one
    * training run per (session, corpus); `bpe_encode` re-pays only the
    * encode pass. Rows are (merge_rank, lhs, rhs, merged, n_occ).
    */
  private[graft] val bpeMergeRows =
    new SessionMemo[Seq[(Long, String, String, String, Long)]]()

  private[graft] def bpeMergeTable(s: SparkSession, dir: String)
      : Seq[(Long, String, String, String, Long)] =
    bpeMergeRows.get(s, dir)((s2, d) =>
      TextOps.bpeMerges(docs(s2, d)).orderBy("merge_rank").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getString(3), r.getLong(4))).toSeq)

  /** Trained product-quantization codebooks (8 subspaces × 16 centroids)
    * — the same once-per-corpus-version training contract as
    * [[kmeansBook]]; `ann_topk_pq` re-pays only the encode + ADC scan.
    */
  private[graft] val pqBooks = new SessionMemo[Array[Array[Array[Double]]]]()

  private[graft] def pqBook(s: SparkSession,
                     dir: String): Array[Array[Array[Double]]] =
    pqBooks.get(s, dir)((s2, d) =>
      Similarity.pqCodebooks(emb(s2, d), m = 8, kCents = 16, iters = 2))

  /** PQ codebooks trained on coarse-cell residuals (the full FAISS IVFPQ
    * recipe) — same once-per-corpus-version contract; depends on the
    * trained coarse book, so the memo chain trains coarse-then-residual.
    */
  private[graft] val pqResidBooks = new SessionMemo[Array[Array[Array[Double]]]]()

  private[graft] def pqResidBook(s: SparkSession,
                          dir: String): Array[Array[Array[Double]]] =
    pqResidBooks.get(s, dir)((s2, d) =>
      Similarity.pqResidualBooks(emb(s2, d), kmeansBook(s2, d),
        m = 8, kCents = 16, iters = 2))

  /** Packed `{id_name_email_dob_address_created}` lines synthesized from
    * the customer table (with deliberately malformed rows), fed to the P2-P9
    * parser — both sides of the oracle build the identical input.
    */
  private[graft] def packedCustomerLines(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val core = concat(
      col("c_custkey").cast("string"), lit("_"), col("c_name"), lit("_"),
      lower(col("c_mktsegment")), lit("@example.com_"),
      col("c_nationkey").cast("string"), lit("_"),
      col("c_mktsegment"), lit(" St "), col("c_nationkey").cast("string"),
      lit("_"), (col("c_custkey") * 7).cast("string"))
    c.select(
      when(col("c_custkey") % 89 === 0,
        concat(lit("{bad_"), col("c_custkey").cast("string"), lit("_record}")))
      .when(col("c_custkey") % 97 === 0, concat(lit("{"), core))
      .otherwise(concat(lit("{"), core, lit("}"))).as("line"))
  }

  /** The v1 curation gates (corpus-quantile length band ∩ quality ≥ 0.5 ∩
    * language known ∩ exact-dedup representative) — the shared base of
    * `curation_pipeline` and `curation_pipeline_v2`, so a change to any
    * gate reaches both surfaces.
    */
  private[graft] def curationBase(d: DataFrame): DataFrame =
    d.select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .join(TextOps.lengthBandFilter(d).select("doc_id"), Seq("doc_id"))
      .join(TextOps.qualityScore(TextOps.tokenStats(d))
        .select(col("doc_id"), col("quality_score")), Seq("doc_id"))
      .join(TextOps.langIdAgg(d).select(col("doc_id"), col("pred_lang")),
        Seq("doc_id"))
      .join(Dedup.exactDedup(d).select("doc_id"), Seq("doc_id"))
      .where(Curation.QualityKeep && Curation.LangKnown)

  /** The composed corpus-production run — the END-TO-END dress
    * rehearsal of the training-data factory, every stage the SAME
    * component operator its standalone oracle row checks:
    *
    *  1. curate (v3): the v2 gate chain (length band, quality, lang-id,
    *     exact-dedup rep, dup-span coverage, LM-scoreable) PLUS the
    *     hashed-feature classifier gate ([[TextOps.classifierScore]]).
    *  2. dedup-apply: near-dup clusters over the full corpus
    *     ([[Dedup.nearDupPairs]] → [[Dedup.connectedComponents]]), keep
    *     each cluster's best CURATED member by (quality, doc_id) — a
    *     cluster whose global best was already gated out still keeps
    *     its best surviving member ([[Dedup.keepByScore]]).
    *  3. decontaminate: drop survivors sharing an 8-gram with the
    *     holdout slice (doc_id % 10 == 0), and the holdout itself.
    *  4. mix: temperature quotas + quality ranking
    *     ([[TextOps.mixManifest]]) computed ON THE SURVIVING corpus —
    *     quotas reflect what curation left, not what crawling found.
    *  5. shuffle: deterministic training order
    *     ([[TextOps.shuffleOrder]]) over the mixed set.
    *  6. pack: sequence slots ([[TextOps.packSequences]]) in TRAINING
    *     order — the doc_id column is remapped to `position` so the
    *     component's prefix-sum machinery packs the shuffled stream
    *     unchanged, then joined back.
    *
    * One row per produced document: (doc_id, source, quality_score,
    * position, n_tokens, seq_id, seq_offset). The `corpus_production`
    * registry row checks it per-document; `corpus_production_card` is
    * the dataset card (per-source totals) over the same chain.
    *
    * Scale: every stage is individually ladder-measured; what the
    * composition adds is cache/spill interaction, measured as SCALING.md
    * batch 18b (per-stage wall/shuffle at sf100 and sf1000).
    */
  private[graft] def corpusProduction(d: DataFrame): DataFrame =
    corpusProductionStages(d)._2

  /** [[corpusProduction]] with its DECONTAMINATED-SURVIVOR stage
    * exposed: `(dec, fin)` — the epoch-advance contract
    * ([[graft.operators.Epoch]]) persists dec's per-source counts as a
    * corpus-version artifact (quota top-ups re-derive temperature
    * quotas from union counts without re-running the factory).
    */
  private[graft] def corpusProductionStages(d: DataFrame)
      : (DataFrame, DataFrame) = {
    // Every multi-consumed NARROW stage boundary below is eagerly
    // localCheckpoint'ed (round 13, guide §5 / §1.2): without it the
    // final `mixed ⋈ sh ⋈ packed` plan re-nests the whole curation +
    // pair-search subtree once per consumer — `cur` appeared ~6× in
    // the printed physical plan (1,991 Exchange / 2,517 scan nodes at
    // sf0.1; measured 52.5 s idle min-of-2), every text signal
    // recomputed per copy. Checkpointing the ~survivor-count frames
    // (8-byte keys + a score) computes each stage ONCE — same rows,
    // same oracle (the r12 relabelTouched lesson applied to the
    // factory itself).
    //
    // Round 14 (VERDICT r13 item 1, guide §6 read-once / §2.4): the
    // per-doc text signals now come from SHARED passes instead of one
    // scan + tokenization per gate —
    //  - [[TextOps.curationDocSignals]] (ONE projection pass,
    //    checkpointed): quality stats, exact-dedup fingerprint,
    //    length-band / pack token counts, coverage denominator;
    //  - [[TextOps.langClassifierGate]] (ONE token-explode pass + ONE
    //    doc_id aggregate): lang-id hits + classifier logit;
    //  - [[Dedup.curationGramStream]] (ONE persisted 8-gram stream):
    //    consumed by both the dup-span and decontamination screens.
    // Each pass selects the same named signal definitions the
    // standalone operators use, the band and the dup/decontamination
    // screens are the operators' by-length / from-grams forms, and the
    // gates are [[Curation.curateV3]], shared with [[Epoch.advance]].
    // Corpus text is read by exactly 6 passes (signals, gate, 8-grams,
    // 3-gram signatures, LM unigrams + bigrams×2) instead of ~15.
    val holdout = col("doc_id") % 10 === 0
    val sig1 = TextOps.curationDocSignals(d).localCheckpoint()
    val lens = sig1.select(col("doc_id"), col("n_tok_split").as("n_tokens"))
    val band = TextOps.lengthBandFilterByLen(lens,
        TextOps.lengthBandBoundsByLen(lens))
      .select("doc_id")
    val ex = sig1.groupBy("fingerprint").agg(min("doc_id").as("doc_id"))
      .select("doc_id")
    val grams8 = Dedup.curationGramStream(d, 8, holdout)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dsc = Dedup.duplicateSpanCoverageFromGrams(
      sig1.select(col("doc_id"), col("n_tok_cov").as("n_tokens")),
      grams8, 8)
    val cur = Curation.curateV3(sig1, band, TextOps.langClassifierGate(d),
      ex, dsc, TextOps.lmScore(d))
    val clusters = Dedup.connectedComponents(
      Dedup.nearDupPairs(d).select("doc_a", "doc_b"), sig1.select("doc_id"))
    val reps = Dedup.keepByScore(
      cur.select("doc_id", "quality_score"), clusters)
    val dd = cur.join(reps.select("doc_id"), Seq("doc_id"))
    val dec = dd.join(
        sig1.where(!holdout).select("doc_id")
          .join(Dedup.decontaminationFlagged(grams8),
            Seq("doc_id"), "left_anti"),
        Seq("doc_id"))
      .localCheckpoint()
    // Mix and pack consume NARROW frames: the per-doc stats manifest
    // and the split-token length both ride the checkpointed signal
    // pass, and every join after that carries 8-byte keys + counts.
    // Feeding `d ⋈ survivors` with text here cost ×200 shuffle at
    // sf1000 once the survivor set outgrew the broadcast threshold
    // (SCALING.md batch 18b s4; VERDICT r10 item 1).
    val mixed = TextOps.mixManifestFromStats(
        sig1.select("doc_id", "source", "n_tokens", "quality_score")
          .join(dec.select("doc_id"), Seq("doc_id")))
      .select(col("doc_id"), col("source"), col("quality_score"))
      .localCheckpoint()
    val sh = TextOps.shuffleOrder(mixed.select("doc_id"))
      .select(col("doc_id"), col("position"))
      .localCheckpoint()
    val packed = TextOps.packSequencesByLen(
        lens.join(sh, Seq("doc_id"))
          .select(col("position").as("doc_id"), col("n_tokens")))
      .select(col("doc_id").as("position"), col("n_tokens"),
        col("seq_id"), col("seq_offset"))
    (dec,
      mixed.join(sh, Seq("doc_id")).join(packed, Seq("position"))
        .select(col("doc_id"), col("source"), col("quality_score"),
          col("position"), col("n_tokens"), col("seq_id"),
          col("seq_offset")))
  }

  /** Deterministic two-batch state build for the S10/S11 audit scans: the
    * customer table becomes two synthetic customer batches (batch 2 changes
    * the address of every custkey % 3 == 0 row), landed as one 2-file
    * [[graft.state.StateStore.applyUploads]] (equal to landing them one
    * after another) into a fresh temp state directory — so `uploads`/`address_changes` and their ordered
    * scans are reproducible from the parquet inputs alone, and the DuckDB
    * oracle can recompute them (/root/reference/app.py:193-203).
    */
  // The audit queries measure the S10/S11 ordered SCANS; the two-batch
  // state build is deterministic setup, memoized like the other
  // [[SessionMemo]] entries — eviction deletes the temp state dir.
  private[graft] def deleteTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => java.nio.file.Files.delete(f))
      finally s.close()
    }

  private[graft] val auditStates =
    new SessionMemo[(graft.state.StateStore, java.nio.file.Path)](
      { case (_, p) => deleteTree(p) })

  /** Memoized materialized edge tables — the wedge family's 100-TB
    * input contract ([[Dedup.writePairGraph]]) wired into the registry:
    * the pair graph is built ONCE per (session, sf dir) and persisted
    * as narrow (doc_a, doc_b) parquet; every graph operator row reads
    * the table (batch 18c measured the family at 1.6–8.2 s from the
    * persisted sixth-decade table vs ~800 s corpus-fed per operator).
    * Corpus-fed pair PRODUCTION stays oracle-checked by its own rows
    * (`simhash_pairs_md5`, `neardup_pairs*`, `minhash_signatures`) and
    * by the composed `corpus_production` chain, which recomputes its
    * pairs live by contract; every pure CONSUMER (wedge family,
    * clustering family, dedup-apply family) reads the table.
    * write→read→operate parity is pinned in DedupSpec.
    */
  private[graft] val simhashEdgeDirs =
    new SessionMemo[java.nio.file.Path](deleteTree)

  private[graft] def simhashEdges(s: SparkSession, dir: String): DataFrame = {
    val p = simhashEdgeDirs.get(s, dir) { (s2, d2) =>
      val tmp = java.nio.file.Files.createTempDirectory("graft_edges_sh")
      Dedup.writePairGraph(Dedup.simhashPairsPortable(docs(s2, d2)),
        tmp.resolve("edges").toString)
      tmp
    }
    Tables.parquet(s, p.resolve("edges").toString)
  }

  private[graft] val neardupEdgeDirs =
    new SessionMemo[java.nio.file.Path](deleteTree)

  private[graft] def neardupEdges(s: SparkSession, dir: String): DataFrame = {
    val p = neardupEdgeDirs.get(s, dir) { (s2, d2) =>
      val tmp = java.nio.file.Files.createTempDirectory("graft_edges_nd")
      Dedup.writePairGraph(Dedup.nearDupPairs(docs(s2, d2)),
        tmp.resolve("edges").toString)
      tmp
    }
    Tables.parquet(s, p.resolve("edges").toString)
  }

  /** Memoized materialization of [[corpusProduction]] per (session, sf
    * dir) — parquet in a temp dir, deleted on session eviction/JVM
    * exit. `corpus_production` itself keeps pricing the LIVE chain
    * (it IS the factory measurement); the memo exists so the CARD
    * prices as what it is — a per-source aggregate over the produced
    * corpus — instead of a second full factory execution (the chain ran
    * 4× per bench under min-of-2; VERDICT r10 item 8). At cluster scale
    * this is exactly the production posture: the factory writes the
    * produced corpus once, every data sheet/report reads the table.
    */
  private[graft] val producedCorpus =
    new SessionMemo[java.nio.file.Path](deleteTree)

  private[graft] def corpusProductionMemo(s: SparkSession,
                                          dir: String): DataFrame = {
    val p = producedCorpus.get(s, dir) { (s2, d2) =>
      val tmp = java.nio.file.Files.createTempDirectory("graft_cprod_memo")
      corpusProduction(docs(s2, d2))
        .write.mode("overwrite").parquet(tmp.resolve("produced").toString)
      tmp
    }
    Tables.parquet(s, p.resolve("produced").toString)
  }

  /** Memoized JSONL landing-zone build for `jsonl_landing`: the document
    * corpus exported once per (session, sf dir) as JSON lines with the
    * deterministic doc_id%53 truncation corruption
    * ([[graft.sources.Jsonl.renderLines]]) — the export is the
    * once-per-corpus setup step; the query re-pays the landing SCAN +
    * quarantine + audit aggregate each run.
    */
  private[graft] val jsonlDirs =
    new SessionMemo[java.nio.file.Path](deleteTree)

  private[graft] def jsonlLanding(s: SparkSession, dir: String): String =
    jsonlDirs.get(s, dir) { (s2, d) =>
      val tmp = java.nio.file.Files.createTempDirectory("graft_jsonl")
      graft.sources.Jsonl.writeLines(
        graft.sources.Jsonl.renderLines(docs(s2, d), corruptMod = 53),
        tmp.resolve("docs").toString)
      tmp
    }.resolve("docs").toString

  /** Memoized CSV landing-zone build for `csv_landing` — the
    * [[jsonlLanding]] contract on the CSV format, with the CSV-specific
    * deterministic plant (doc_id%59 type violation in `n_chars`;
    * truncation is not reliably malformed in CSV).
    */
  private[graft] val csvDirs =
    new SessionMemo[java.nio.file.Path](deleteTree)

  private[graft] def csvLanding(s: SparkSession, dir: String): String =
    csvDirs.get(s, dir) { (s2, d) =>
      val tmp = java.nio.file.Files.createTempDirectory("graft_csv")
      graft.sources.Csv.writeLines(
        graft.sources.Csv.renderLines(docs(s2, d), corruptMod = 59),
        tmp.resolve("docs").toString)
      tmp
    }.resolve("docs").toString

  /** Materialized per-(session, sf) artifacts of the incremental
    * maintenance contract's EXISTING side (the even-id corpus version):
    * its signature index, its edge table, and its cluster labels — the
    * three tables a production pipeline persists once per corpus
    * version so that appends pay only the delta
    * ([[graft.operators.Dedup.updatePairGraphDelta]]'s scaladoc). The
    * `incremental_edges`/`incremental_relabel` rows READ these tables
    * and pay the live delta work per run — pricing the maintenance
    * operation, not a re-derivation of the corpus version it maintains.
    */
  private[graft] val incrementalBaseDirs =
    new SessionMemo[java.nio.file.Path](deleteTree)

  private[graft] def incrementalBase(s: SparkSession,
                                     dir: String): java.nio.file.Path =
    incrementalBaseDirs.get(s, dir) { (s2, d2) =>
      val tmp = java.nio.file.Files.createTempDirectory("graft_incbase")
      val ex = docs(s2, d2).where(col("doc_id") % 2 === 0)
      Dedup.writePairGraph(
        Dedup.nearDupPairs(ex).select(col("doc_a"), col("doc_b")),
        tmp.resolve("edges").toString)
      Dedup.buildSignatureIndex(ex)
        .write.mode("overwrite").parquet(tmp.resolve("index").toString)
      Dedup.connectedComponents(
          Tables.parquet(s2, tmp.resolve("edges").toString),
          ex.select("doc_id"))
        .write.mode("overwrite").parquet(tmp.resolve("labels").toString)
      tmp
    }

  /** Materialized per-(session, sf) CORPUS-VERSION artifacts for the
    * epoch-advance contract ([[graft.operators.Epoch]]) on the even-id
    * corpus version: the produced corpus itself, its per-source
    * decontaminated counts, and every batch-gating index (exact
    * fingerprints, window hashes, holdout grams, LM ratio table,
    * frozen length band). The near-dup trio (signature index, edge
    * table, labels) is SHARED with [[incrementalBase]] — same corpus
    * version, same tables; building them twice would misprice the
    * maintenance contract. The `incremental_production` row READS
    * these tables and pays the live epoch advance per run.
    */
  private[graft] val epochBaseDirs =
    new SessionMemo[java.nio.file.Path](deleteTree)

  private[graft] def epochBase(s: SparkSession,
                               dir: String): java.nio.file.Path =
    epochBaseDirs.get(s, dir) { (s2, d2) =>
      val tmp = java.nio.file.Files.createTempDirectory("graft_epoch")
      val ex = docs(s2, d2).where(col("doc_id") % 2 === 0)
      val (dec, fin) = corpusProductionStages(ex)
      fin.write.mode("overwrite")
        .parquet(tmp.resolve("produced").toString)
      dec.groupBy("source").agg(count(lit(1)).as("n_docs"))
        .write.mode("overwrite")
        .parquet(tmp.resolve("dec_counts").toString)
      ex.select(graft.operators.TextOps.fingerprint(col("text"))
          .as("fingerprint")).distinct()
        .write.mode("overwrite")
        .parquet(tmp.resolve("fingerprints").toString)
      Dedup.windowHashIndex(ex)
        .write.mode("overwrite")
        .parquet(tmp.resolve("windows").toString)
      Dedup.holdoutGramIndex(ex, col("doc_id") % 10 === 0)
        .write.mode("overwrite")
        .parquet(tmp.resolve("holdout_grams").toString)
      graft.operators.TextOps.lmRatioTable(ex)
        .write.mode("overwrite")
        .parquet(tmp.resolve("lm_ratio").toString)
      graft.operators.TextOps.lengthBandBounds(ex)
        .write.mode("overwrite")
        .parquet(tmp.resolve("length_bounds").toString)
      s2.catalog.clearCache()
      tmp
    }

  private[graft] def epochVersion(s: SparkSession, dir: String)
      : graft.operators.Epoch.EpochVersion = {
    val inc = incrementalBase(s, dir)
    val ep = epochBase(s, dir)
    def rd(p: java.nio.file.Path, name: String) =
      Tables.parquet(s, p.resolve(name).toString)
    graft.operators.Epoch.EpochVersion(
      produced = rd(ep, "produced"),
      decCounts = rd(ep, "dec_counts"),
      fingerprints = rd(ep, "fingerprints"),
      sigIndex = rd(inc, "index"),
      edges = rd(inc, "edges"),
      labels = rd(inc, "labels"),
      windowIndex = rd(ep, "windows"),
      holdoutGrams = rd(ep, "holdout_grams"),
      lmRatio = rd(ep, "lm_ratio"),
      lengthBounds = rd(ep, "length_bounds"))
  }

  /** Memoized TWO-GENERATION landing builds for the schema-evolution
    * contract (VERDICT r11 item 5): gen1 = even doc_ids rendered under
    * the base schema, gen2 = odd doc_ids rendered under the evolved
    * schema (additive `quality_tier`) WITH each format's deterministic
    * corruption plant — so the evolved read is audited over old shards,
    * new shards, and damage at once. Layout is `<tmp>/gen1`, `<tmp>/gen2`
    * (the explicit generation key CSV's positional records require).
    */
  private[graft] val jsonlEvolvedDirs =
    new SessionMemo[java.nio.file.Path](deleteTree)

  private[graft] def jsonlEvolvedLanding(s: SparkSession,
                                         dir: String): java.nio.file.Path =
    jsonlEvolvedDirs.get(s, dir) { (s2, d) =>
      val tmp = java.nio.file.Files.createTempDirectory("graft_jsonl_ev")
      val dd = docs(s2, d)
      graft.sources.Jsonl.writeLines(
        graft.sources.Jsonl.renderLines(dd.where(col("doc_id") % 2 === 0)),
        tmp.resolve("gen1").toString)
      graft.sources.Jsonl.writeLines(
        graft.sources.Jsonl.renderLinesV2(
          dd.where(col("doc_id") % 2 === 1), corruptMod = 53),
        tmp.resolve("gen2").toString)
      tmp
    }

  private[graft] val csvEvolvedDirs =
    new SessionMemo[java.nio.file.Path](deleteTree)

  private[graft] def csvEvolvedLanding(s: SparkSession,
                                       dir: String): java.nio.file.Path =
    csvEvolvedDirs.get(s, dir) { (s2, d) =>
      val tmp = java.nio.file.Files.createTempDirectory("graft_csv_ev")
      val dd = docs(s2, d)
      graft.sources.Csv.writeLines(
        graft.sources.Csv.renderLines(dd.where(col("doc_id") % 2 === 0)),
        tmp.resolve("gen1").toString)
      graft.sources.Csv.writeLines(
        graft.sources.Csv.renderLinesV2(
          dd.where(col("doc_id") % 2 === 1), corruptMod = 59),
        tmp.resolve("gen2").toString)
      tmp
    }

  /** Memoized THREE-GENERATION landing builds for the type-change leg
    * of the schema-evolution contract (VERDICT r12 item 5): gen1 =
    * doc_id%5 ∈ {0,1} under the base schema, gen2 = %5 ∈ {2,3} under
    * the additive V2 schema with the format's corruption plant, gen3 =
    * %5 = 4 under the V3 schema that WIDENS n_chars BIGINT → DOUBLE
    * (fractional payload +0.5) with the same plant. The 5-way split is
    * coprime to the tier derivation (doc_id%3), so every generation
    * carries all three tier values.
    */
  private[graft] val jsonlRetypedDirs =
    new SessionMemo[java.nio.file.Path](deleteTree)

  private[graft] def jsonlRetypedLanding(s: SparkSession,
                                         dir: String): java.nio.file.Path =
    jsonlRetypedDirs.get(s, dir) { (s2, d) =>
      val tmp = java.nio.file.Files.createTempDirectory("graft_jsonl_rt")
      val dd = docs(s2, d)
      graft.sources.Jsonl.writeLines(
        graft.sources.Jsonl.renderLines(dd.where(col("doc_id") % 5 < 2)),
        tmp.resolve("gen1").toString)
      graft.sources.Jsonl.writeLines(
        graft.sources.Jsonl.renderLinesV2(
          dd.where(col("doc_id") % 5 === 2 || col("doc_id") % 5 === 3),
          corruptMod = 53),
        tmp.resolve("gen2").toString)
      graft.sources.Jsonl.writeLines(
        graft.sources.Jsonl.renderLinesV3(
          dd.where(col("doc_id") % 5 === 4), corruptMod = 53),
        tmp.resolve("gen3").toString)
      tmp
    }

  private[graft] val csvRetypedDirs =
    new SessionMemo[java.nio.file.Path](deleteTree)

  private[graft] def csvRetypedLanding(s: SparkSession,
                                       dir: String): java.nio.file.Path =
    csvRetypedDirs.get(s, dir) { (s2, d) =>
      val tmp = java.nio.file.Files.createTempDirectory("graft_csv_rt")
      val dd = docs(s2, d)
      graft.sources.Csv.writeLines(
        graft.sources.Csv.renderLines(dd.where(col("doc_id") % 5 < 2)),
        tmp.resolve("gen1").toString)
      graft.sources.Csv.writeLines(
        graft.sources.Csv.renderLinesV2(
          dd.where(col("doc_id") % 5 === 2 || col("doc_id") % 5 === 3),
          corruptMod = 59),
        tmp.resolve("gen2").toString)
      graft.sources.Csv.writeLines(
        graft.sources.Csv.renderLinesV3(
          dd.where(col("doc_id") % 5 === 4), corruptMod = 59),
        tmp.resolve("gen3").toString)
      tmp
    }

  private[graft] def auditState(s: SparkSession, dir: String)
      : graft.state.StateStore =
    auditStates.get(s, dir) { (s2, d) =>
      val tmp = java.nio.file.Files.createTempDirectory("graft_audit")
      (buildAuditState(s2, d, tmp.toString), tmp)
    }._1

  private[graft] val ingestStates =
    new SessionMemo[(graft.state.StateStore, java.nio.file.Path)](
      { case (_, p) => deleteTree(p) })

  private[graft] def ingestState(s: SparkSession, dir: String)
      : graft.state.StateStore =
    ingestStates.get(s, dir) { (s2, d) =>
      val tmp = java.nio.file.Files.createTempDirectory("graft_ingest")
      (buildIngestState(s2, d, tmp.toString), tmp)
    }._1

  /** Drives [[graft.streaming.StreamingPipeline.workbookStreamIdempotent]]
    * end to end for the `audit_ingest_idempotent` oracle: three landed
    * workbooks derived deterministically from the `customer` table —
    * batch_1, a BYTE-IDENTICAL copy of batch_1 under another name, and a
    * batch_2 with every custkey%3==0 address changed — through the
    * content-digest gate with injected timestamps. The duplicate must
    * leave NO trace in state, so the oracle (2 uploads rows, derived
    * from the customer count) re-checks the skip on every Verify run.
    */
  private[graft] def buildIngestState(s: SparkSession, dir: String,
                                      tmp: String)
      : graft.state.StateStore = {
    import s.implicits._
    val landing = s"$tmp/landing"
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(landing))
    val cust = t(s, dir, "customer").orderBy("c_custkey").limit(200)
      .select(col("c_custkey").cast("long"), col("c_mktsegment"),
        col("c_nationkey").cast("long"))
      .collect() // bounded: ≤200 rows, the xlsx driver-sink envelope
    def packed(changed: Boolean) = cust.toSeq.map { r =>
      val k = r.getLong(0)
      val base = s"${r.getString(1)} St ${r.getLong(2)}"
      val addr = if (changed && k % 3 == 0) base + "B" else base
      Tuple1(s"{${k}_Name ${k}_m$k@x_1990-01-01_${addr}_1.5}")
    }.toDF("customer_id-name-email-dob-address-created-date")
    val tx = Seq.empty[(String, String, String, String, String, String)]
      .toDF("transaction_id", "customer_id", "transaction_date",
        "product_code", "amount", "payment_type")
    val prod = Seq.empty[(String, String, String, String)]
      .toDF("product_code", "product_name", "category", "unit_price")
    def write(name: String, changed: Boolean): Unit =
      graft.sources.Xlsx.write(s"$landing/$name",
        Seq("Transactions" -> tx, "Customers" -> packed(changed),
          "Products" -> prod))
    write("batch_1.xlsx", changed = false)
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$landing/batch_1.xlsx"),
      java.nio.file.Paths.get(s"$landing/batch_1_dup.xlsx"))
    write("batch_2.xlsx", changed = true)
    val ts = Map("batch_1.xlsx" -> "2026-01-01T00:00:00",
      "batch_1_dup.xlsx" -> "2026-01-01T12:00:00",
      "batch_2.xlsx" -> "2026-01-02T00:00:00")
    val q = graft.streaming.StreamingPipeline.workbookStreamIdempotent(
      s, landing, s"$tmp/state", s"$tmp/processed", s"$tmp/ckpt",
      timestampFor = ts(_))
    try q.processAllAvailable() finally q.stop()
    new graft.state.StateStore(s, s"$tmp/state")
  }

  private[graft] val jsonlIngestStates =
    new SessionMemo[(graft.state.StateStore, java.nio.file.Path)](
      { case (_, p) => deleteTree(p) })

  private[graft] val csvIngestStates =
    new SessionMemo[(graft.state.StateStore, java.nio.file.Path)](
      { case (_, p) => deleteTree(p) })

  /** Drives
    * [[graft.streaming.StreamingPipeline.documentLandingStreamIdempotent]]
    * end to end for the `audit_jsonl_idempotent` / `audit_csv_idempotent`
    * oracles: the document corpus split into two single-file shards plus
    * a BYTE-IDENTICAL copy of shard A under another name, through the
    * content-digest gate with injected timestamps. The audit frame is
    * the digest ledger (must list exactly shard_a + shard_b — the dup
    * allocated NOTHING) unioned with per-source ingested counts (must
    * equal the documents table exactly — a double-ingest would double
    * every even doc_id), so the oracle re-checks the skip from the
    * parquet inputs alone on every Verify run.
    */
  private[graft] def buildDocIngest(s: SparkSession, dir: String,
                                    tmp: String, format: String)
      : graft.state.StateStore = {
    val ext = format
    val landing = s"$tmp/landing"
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(landing))
    val d = docs(s, dir)
    def render(df: DataFrame) =
      if (format == "jsonl") graft.sources.Jsonl.renderLines(df)
      else graft.sources.Csv.renderLines(df)
    // One part file per shard, moved to a FIXED name so the ledger's
    // filename column is deterministic. The coalesce(1) is the FIXTURE
    // BUILDER's envelope (a deterministic 3-file landing zone), not the
    // landing contract — production shards arrive pre-sharded and the
    // gate digests each file independently.
    def shard(name: String, df: DataFrame): Unit = {
      val rdir = java.nio.file.Paths.get(s"$tmp/render_$name")
      render(df).coalesce(1).write.mode("overwrite").text(rdir.toString)
      val stream = java.nio.file.Files.list(rdir)
      val part =
        try stream.filter(p =>
            p.getFileName.toString.startsWith("part-"))
          .findFirst().get()
        finally stream.close()
      java.nio.file.Files.move(part,
        java.nio.file.Paths.get(s"$landing/$name"))
    }
    shard(s"shard_a.$ext", d.where(col("doc_id") % 2 === 0))
    shard(s"shard_b.$ext", d.where(col("doc_id") % 2 === 1))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$landing/shard_a.$ext"),
      java.nio.file.Paths.get(s"$landing/shard_a_dup.$ext"))
    val ts = Map(
      s"shard_a.$ext" -> "2026-02-01T00:00:00",
      s"shard_a_dup.$ext" -> "2026-02-01T12:00:00",
      s"shard_b.$ext" -> "2026-02-02T00:00:00")
    val q = graft.streaming.StreamingPipeline
      .documentLandingStreamIdempotent(s, landing, s"$tmp/good",
        s"$tmp/quarantine", s"$tmp/ckpt", s"$tmp/ledger", format, ts(_))
    try q.processAllAvailable() finally q.stop()
    new graft.state.StateStore(s, s"$tmp/ledger")
  }

  private[graft] def docIngestAudit(s: SparkSession, dir: String,
                                    format: String): DataFrame = {
    val memo =
      if (format == "jsonl") jsonlIngestStates else csvIngestStates
    val (store, tmp) = memo.get(s, dir) { (s2, d2) =>
      val t0 =
        java.nio.file.Files.createTempDirectory(s"graft_${format}_ing")
      (buildDocIngest(s2, d2, t0.toString, format), t0)
    }
    val ledger = store.uploadDigests
      .select(lit("ledger").as("kind"), col("filename").as("name"),
        lit(null).cast("long").as("n"))
    val ingested = s.read.parquet(s"$tmp/good/batch_*")
      .groupBy("source").agg(count(lit(1)).as("n"))
      .select(lit("ingested").as("kind"), col("source").as("name"),
        col("n"))
    ledger.unionByName(ingested).orderBy("kind", "name")
  }

  private[graft] def buildAuditState(s: SparkSession, dir: String, tmp: String)
      : graft.state.StateStore = {
    val store = new graft.state.StateStore(s, tmp)
    val cust = t(s, dir, "customer")
    def batch(addr: Column) = cust.select(
      col("c_custkey").cast("string").as("customer_id"),
      col("c_name").as("name"),
      concat(lower(col("c_mktsegment")), lit("@example.com")).as("email"),
      col("c_nationkey").cast("string").as("dob"),
      addr.as("address"),
      (col("c_custkey") * 7).cast("string").as("created_date"),
      col("c_custkey").as("_row_idx"))
    val baseAddr = concat(col("c_mktsegment"), lit(" St "),
      col("c_nationkey").cast("string"))
    val n = cust.count()
    val changed = when(col("c_custkey") % 3 === 0,
      concat(baseAddr, lit("B"))).otherwise(baseAddr)
    store.applyUploads(
      Seq(("batch_1.xlsx", "2026-01-01T00:00:00", 0L, n, 0L),
        ("batch_2.xlsx", "2026-01-02T00:00:00", 0L, n, 0L)),
      batch(baseAddr).withColumn("_upload_seq", lit(0))
        .unionByName(batch(changed).withColumn("_upload_seq", lit(1))))
    store
  }
}
