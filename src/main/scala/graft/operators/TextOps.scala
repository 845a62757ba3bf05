package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for an LLM training-data pipeline: tokenization
  * stats, quality scoring, language-ID heuristic, document fingerprinting,
  * and the shingle/MinHash machinery [[Dedup]] builds on.
  *
  * Everything is built from codegen'd Catalyst expressions (split /
  * higher-order functions / md5) — no UDFs, so the hot path stays inside
  * whole-stage codegen and scales linearly with no shuffle until an
  * explicit aggregation.
  */
object TextOps {

  /** Whitespace tokens of the raw text. */
  def tokens(text: Column): Column = split(text, " ")

  /** Whitespace token count as a long: the length of the band, pack,
    * sample and card stages, legacy `size(null) = -1` included.
    */
  private[graft] def splitTokenCount(text: Column): Column =
    size(split(text, " ")).cast("long")

  /** The dup-span coverage denominator: lowercased token count, null for
    * a null text (where a bare size(null) = -1 would give dup_frac = -0.0
    * against the oracle's NULL).
    */
  private[graft] def coverageTokenCount(text: Column): Column =
    when(text.isNull, lit(null).cast("long"))
      .otherwise(splitTokenCount(lower(text)))

  /** (doc_id, n_tokens) for the by-length band and pack forms. */
  private def splitLengths(docs: DataFrame, textCol: String): DataFrame =
    docs.select(col("doc_id"), splitTokenCount(col(textCol)).as("n_tokens"))

  // One TokenSummary eval as `_ts`, and the columns [[tokenStats]] and
  // [[curationDocSignals]] both derive from it.
  private def tokenSummary(text: Column): Column =
    graft.functions.TokenSummary(text, EnStopwords).as("_ts")
  private def summaryTokens: Column =
    col("_ts.n_tokens").cast("int").as("n_tokens")
  private def summaryStopwordRatio: Column =
    (col("_ts.stop_hits").cast("double") / col("_ts.n_tokens"))
      .as("stopword_ratio")
  private def summaryDistinctRatio: Column =
    (col("_ts.n_distinct").cast("double") / col("_ts.n_tokens"))
      .as("distinct_ratio")

  /** GPT-2-style pre-tokenizer approximation: word pieces are letter
    * runs, digit runs, or punctuation runs — the "BPE-ish regex" count
    * that tracks model-token counts far better than whitespace splits on
    * punctuation-heavy text.
    */
  val WordPiecePattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+"

  /** Per-document token statistics + quality signals
    * (length, distinct-token ratio, mean token length, stopword ratio).
    * All ratios are single IEEE divisions of integer counts —
    * bit-deterministic in any engine.
    */
  def tokenStats(docs: DataFrame, textCol: String = "text",
                 keep: Seq[String] = Nil): DataFrame = {
    // One codegen'd pass per document ([[graft.functions.TokenSummary]])
    // replaces the three interpreted HOF passes (size / array_distinct /
    // stopword filter) AND the [[WordPiecePattern]] regexp_count — the
    // regex engine alone was ~70% of this operator's runtime (micro-
    // measured 3.9 s of 5.3 s at sf10), so the word-piece count moved
    // into the same byte scan as a character-class run counter. Same
    // columns, same values, zero shuffle either way; measured decades
    // in SCALING.md batch 18a. `keep` passes narrow columns (e.g.
    // `source`) through the same single text pass so callers building a
    // per-doc manifest need no post-hoc doc_id join.
    docs.select(Seq(col("doc_id"), col(textCol), tokenSummary(col(textCol)))
        ++ keep.map(col): _*)
      .select(Seq(col("doc_id")) ++ keep.map(col) ++ Seq(
        length(col(textCol)).as("n_chars"),
        summaryTokens,
        col("_ts.n_word_pieces").cast("int").as("n_word_pieces"),
        col("_ts.n_distinct").cast("int").as("n_distinct"),
        (col("_ts.tok_chars").cast("double") / col("_ts.n_tokens"))
          .as("avg_token_len"),
        summaryStopwordRatio,
        summaryDistinctRatio): _*)
  }

  /** Equi-depth token-count histogram: rank every document into one of
    * `n` equal-population deciles (bins) by whitespace token count and
    * summarize each bin (population, token min/max, total tokens). This
    * is the length-distribution profile a curation pipeline reads before
    * choosing truncation/packing thresholds — equi-depth, not equi-width,
    * because token counts are heavy-tailed and fixed-width bins would put
    * 99% of documents in bin 1.
    *
    * Determinism: `ntile` is only well-defined under a TOTAL order, so
    * ties break on doc_id; null texts are excluded (a null has no length,
    * and `size(null)` differs across engines' legacy modes). The bin
    * boundaries are then identical on any engine.
    *
    * Scale: ntile needs a single global sort — the one operator here
    * that is inherently single-ordered. The sort runs on the 2-column
    * (n_tokens, doc_id) projection, not the corpus (range-partitioned
    * sort, ~16 bytes/row); the summary is a hash-aggregate of `n` rows.
    */
  def tokenDeciles(docs: DataFrame, n: Int = 10,
                   textCol: String = "text"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n_tokens"), col("doc_id"))
    docs.where(col(textCol).isNotNull)
      .select(col("doc_id"), size(tokens(col(textCol))).as("n_tokens"))
      .withColumn("decile", ntile(n).over(w).cast("long"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_docs"),
        min("n_tokens").as("min_tokens"),
        max("n_tokens").as("max_tokens"),
        sum("n_tokens").as("sum_tokens"))
      .orderBy("decile")
  }

  /** Aggregate twin of [[tokenStats]]: the same eight columns computed as
    * explode → codegen'd hash aggregate instead of per-row higher-order
    * functions (which evaluate interpreted — `ArrayFilter`/`ArrayDistinct`
    * are CodegenFallback). The trade: this form pays one (doc_id, token)
    * shuffle with map-side combine; the HOF form pays zero shuffle but
    * interpreted per-token eval.
    *
    * MEASURED (sf0.1, local[32], cold min-of-2): the HOF form wins by 8×
    * here — 0.71 s vs 5.78 s — because `countDistinct` over exploded
    * tokens plans an Expand (doubling every token row) plus a two-level
    * distinct aggregate, while `array_distinct` on a ~100-token in-memory
    * array is a cheap per-row pass. The query surface therefore ships the
    * HOF form; this twin stays as the equivalence reference (TextOpsSpec)
    * and as the shape to reach for if document sizes ever dwarf executor
    * memory. Contrast [[langIdAgg]], whose distinct-free aggregate DID
    * beat its HOF twin and ships.
    */
  def tokenStatsAgg(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(
        col("doc_id"),
        length(col(textCol)).as("n_chars"),
        regexp_count(col(textCol), lit(WordPiecePattern))
          .as("n_word_pieces"),
        explode(tokens(col(textCol))).as("tok"))
      .groupBy("doc_id", "n_chars", "n_word_pieces")
      .agg(count(lit(1)).as("n_tokens"),
        countDistinct(col("tok")).as("n_distinct"),
        sum(length(col("tok"))).as("_tok_chars"),
        sum(when(col("tok").isin(EnStopwords: _*), 1).otherwise(0))
          .as("_stop"))
      .select(col("doc_id"), col("n_chars"),
        col("n_tokens").cast("int").as("n_tokens"),
        col("n_word_pieces"),
        col("n_distinct").cast("int").as("n_distinct"),
        (col("_tok_chars").cast("double") / col("n_tokens"))
          .as("avg_token_len"),
        (col("_stop").cast("double") / col("n_tokens")).as("stopword_ratio"),
        (col("n_distinct").cast("double") / col("n_tokens"))
          .as("distinct_ratio"))

  /** Quality score in [0,1]: composite of length, diversity and stopword
    * signals — a deterministic stand-in for model-based quality filters.
    */
  def qualityScore(stats: DataFrame): DataFrame =
    stats.withColumn("quality_score",
      (when(col("n_tokens") >= 20, lit(1.0)).otherwise(
         col("n_tokens").cast("double") / 20) * lit(0.4) +
       col("distinct_ratio") * lit(0.4) +
       when(col("stopword_ratio") > 0.02, lit(1.0)).otherwise(lit(0.0)) *
         lit(0.2)))

  /** Language-ID heuristic: stopword-hit counts per language, argmax with a
    * fixed priority order on ties. Pure integer comparisons — portable.
    */
  def langId(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val toks = tokens(lower(col(textCol)))
    def hits(words: Seq[String]) =
      size(filter(toks, t => t.isin(words: _*)))
    withPredLang(docs.select(
      col("doc_id"),
      hits(EnStopwords).as("en_hits"), hits(DeStopwords).as("de_hits"),
      hits(FrStopwords).as("fr_hits"), hits(EsStopwords).as("es_hits")))
  }

  /** Shared hit-count argmax → language label: fixed tie priority
    * en > de > fr > es, all-zero → "unknown". The single definition both
    * [[langId]] forms resolve through, so the tie-break contract cannot
    * drift between them.
    */
  private def withPredLang(scored: DataFrame): DataFrame = {
    val best = greatest(col("en_hits"), col("de_hits"), col("fr_hits"),
                        col("es_hits"))
    scored.withColumn("pred_lang",
      when(best === 0, lit("unknown"))
        .when(col("en_hits") === best, lit("en"))
        .when(col("de_hits") === best, lit("de"))
        .when(col("fr_hits") === best, lit("fr"))
        .otherwise(lit("es")))
  }

  /** Aggregate twin of [[langId]] — same per-language stopword-hit argmax,
    * hits summed in a codegen'd hash aggregate over exploded tokens
    * instead of interpreted `ArrayFilter` lambdas (the [[tokenStatsAgg]]
    * trade). No distinct aggregation, so unlike [[tokenStatsAgg]] the
    * aggregate stays a plain partial-combined hash agg and wins the
    * bench (0.70 s vs 0.84 s at sf0.1) — this form ships in the query
    * surface. Equivalence asserted in TextOpsSpec on non-null texts.
    */
  def langIdAgg(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val toks = docs.select(col("doc_id"),
      explode_outer(tokens(lower(col(textCol)))).as("tok"))
    withPredLang(toks.groupBy("doc_id")
      .agg(langHitSums.head, langHitSums.tail: _*))
  }

  /** Per-language stopword-hit sums over an exploded `tok` column. */
  private def langHitSums: Seq[Column] = {
    def hits(words: Seq[String]) =
      sum(when(col("tok").isin(words: _*), 1).otherwise(0)).cast("int")
    Seq(hits(EnStopwords).as("en_hits"), hits(DeStopwords).as("de_hits"),
      hits(FrStopwords).as("fr_hits"), hits(EsStopwords).as("es_hits"))
  }

  /** Gopher-style repetition signals per document — the "is this document
    * mostly the same few tokens repeated" quality family that text-only
    * ratio filters ([[qualityScore]]) miss:
    *   - `top_token_frac`: occurrences of the most frequent token / total
    *     tokens,
    *   - `dup_bigram_frac` / `dup_trigram_frac`: fraction of n-gram
    *     occurrences that are repeats of an earlier occurrence
    *     (`(total - distinct) / total`; 0.0 for docs too short to have
    *     any such n-gram).
    * All three are single IEEE divisions of integer counts — portable.
    *
    * Plan shape: one codegen'd tokenize+shingle scan per gram size
    * feeding a partial-aggregated groupBy keyed by (doc_id, gram), each
    * reduced to per-doc counts. Shuffles carry only gram keys and
    * map-side-combined counts; nothing is quadratic, and no window or
    * persist of the token stream anywhere (round 14 — see the note in
    * the body).
    */
  def repetitionStats(docs: DataFrame, textCol: String = "text"): DataFrame = {
    // Round 14 (guide §2.4 remove shuffles outright): the former
    // posexplode + window-lead form shuffled AND SORTED the corpus's
    // full token stream on doc_id and persisted the widened
    // (pos, tok, lead1, lead2) rows — but n-grams are document-LOCAL,
    // so each family is built inside whole-stage codegen
    // ([[graft.functions.TokenNgrams]], tokenization byte-identical to
    // `split(_, " ")` by its contract — the same primitive every other
    // gram operator resolves through) and partial-aggregated straight
    // into its (doc_id, gram) counts: no window, no persist, no
    // token-stream exchange. Three codegen scans replace one scan +
    // one full-stream sort — the established [[graft.operators.Dedup]]
    // tokenGrams trade (CPU-cheap rescans beat a corpus-stream
    // shuffle+sort at every measured decade). The gram STRING "t1 t2"
    // is a bijective encoding of the lead pair (tokens cannot contain
    // the separator), so every count below is unchanged.
    def gramCounts(n: Int) = docs
      .select(col("doc_id"),
        explode(graft.functions.TokenNgrams(lower(col(textCol)), n))
          .as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
    val tokAgg = gramCounts(1)
      .groupBy("doc_id")
      .agg(sum("c").as("n_tokens"), max("c").as("_top"))
    val biAgg = gramCounts(2)
      .groupBy("doc_id")
      .agg(sum("c").as("_n_bi"), count(lit(1)).as("_d_bi"))
    val triAgg = gramCounts(3)
      .groupBy("doc_id")
      .agg(sum("c").as("_n_tri"), count(lit(1)).as("_d_tri"))
    def dupFrac(total: Column, distinct: Column): Column =
      when(total.isNull || total === 0, lit(0.0))
        .otherwise((total - distinct).cast("double") / total)
    tokAgg
      .join(biAgg, Seq("doc_id"), "left")
      .join(triAgg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        (col("_top").cast("double") / col("n_tokens")).as("top_token_frac"),
        dupFrac(col("_n_bi"), col("_d_bi")).as("dup_bigram_frac"),
        dupFrac(col("_n_tri"), col("_d_tri")).as("dup_trigram_frac"))
  }

  /** Per-document unigram (token) Shannon entropy in Q40 FIXED POINT —
    * the repetitiveness signal on an information-theoretic scale:
    * near-zero bits means the document is one token stuttered
    * (template/boilerplate spam), log2(n_tokens) bits means every token
    * is distinct; curation gates threshold it alongside
    * [[repetitionStats]]' ratio signals. Entropy is the classic
    * Σ h·(log2(n) − log2(h)) / n — computed entirely in integer
    * arithmetic via the codegen'd [[graft.functions.Log2Fp]] (truncated
    * Q40 binary log, no libm), so the per-doc sum is an order-free
    * integer aggregate and the DuckDB oracle replays it bit-for-bit
    * with a HUGEINT recursion (the `multimodal_features` argument,
    * applied to text). `entropy_bits` is the one IEEE step: a single
    * division by the constant 2^40.
    *
    * Plan shape: a PURE MAP — the token histogram is per-document
    * state, so it is built row-locally inside the scan by the codegen'd
    * [[graft.functions.TokenSummary]] (one hash-map pass per document);
    * NOTHING shuffles, sorts, or joins. The explode → (doc_id, token)
    * hash-aggregate formulation this replaces entered the sort-fallback
    * spill regime at the sixth decade (887 s / ×11.9 at sf1000,
    * SCALING.md batch 17); the row-local form is scan-bound (351.5 s,
    * ×7.7 — batch 18a).
    *
    * Domain bound (round-9 ADVICE): documents beyond
    * [[graft.functions.TokenSummary.EntropyCapTokens]] (300k) tokens
    * yield NULL `entropy_fp`/`entropy_bits` — past that the Q40 Long
    * sum could wrap while the oracle's HUGEINT does not, and a silently
    * wrapped entropy is worse than an explicit out-of-domain null. The
    * oracle SQL carries the same CASE, and TextOpsSpec pins both sides
    * of the cap.
    */
  def tokenEntropy(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(col("doc_id"),
        graft.functions.TokenSummary(lower(col(textCol))).as("_ts"))
      .select(col("doc_id"),
        coalesce(col("_ts.n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("_ts.n_distinct"), lit(0L)).as("n_distinct"),
        col("_ts.entropy_fp").as("entropy_fp"),
        (col("_ts.entropy_fp").cast("double") / lit(1099511627776.0))
          .as("entropy_bits"))

  /** Corpus-bigram language-model quality score — the deterministic
    * stand-in for the KenLM-perplexity filter of CCNet-style pipelines:
    * documents whose token transitions are typical of the corpus score
    * high; gibberish and boilerplate-free noise score low. For each
    * adjacent token pair the maximum-likelihood transition probability
    * `c(w1 w2) / c(w1)` is computed in FIXED POINT —
    * `(c2 · scale) DIV c1`, an exact integer in [0, scale] — so the
    * per-document sum is an order-independent integer aggregate, and the
    * only floating-point step is ONE final IEEE division. A float
    * formulation (sum of `ln` probabilities) would be partition-order-
    * dependent AND engine-divergent (`ln` is not correctly rounded); this
    * one is hash-exact everywhere, the [[topTerms]] reasoning.
    *
    * Output: (doc_id, n_bigrams, prob_fp_sum, avg_prob) where `avg_prob` =
    * `prob_fp_sum / (n_bigrams · scale)` ∈ [0, 1] (null for docs with no
    * bigram). The corpus itself is the model (self-scoring); at cluster
    * scale the unigram/bigram count frames are the LM tables you
    * materialize once per corpus version and broadcast/join against
    * incoming batches.
    *
    * Plan shape: bigrams are built per-document LOCALLY inside
    * whole-stage codegen ([[graft.functions.TokenNgrams]], n = 2 —
    * gram = "w1 w2", and `substring_index` recovers w1 for the unigram
    * join since split-tokens contain no spaces), so NOTHING shuffles or
    * sorts the corpus's full token stream — the posexplode+window-lead
    * formulation this replaces paid a corpus-token-stream exchange+sort
    * before its first aggregate, the dominant cost at cluster scale
    * (and the measured 2 s at sf0.1 the round-8 verdict flagged; this
    * form measures ~1.2 s). What remains: two hash aggregates whose
    * shuffles carry gram/token keys and counts (vocabulary-bounded,
    * map-side combined), a gram-keyed scoring join over the persisted
    * bigram frame, and a per-doc sum. No pair joins, no windows.
    *
    * `scale` = 10^8 bounds intermediate products at
    * `max_bigram_count · 10^8` — overflow-safe below ~9·10^10 total
    * corpus tokens; shrink it (losing fixed-point resolution) beyond.
    */
  def lmScore(docs: DataFrame, scale: Long = 100000000L,
              textCol: String = "text"): DataFrame =
    // Scratch discipline for the corpus-sized bigram stream (the
    // round-10 dress rehearsal's lesson — the string-keyed two-join
    // form shuffled 9.1 GB at sf100, ~91 GB extrapolated at sf1000,
    // over a single node's scratch):
    //  1. the stream carries 8-byte xxhash64 keys, never gram TEXT
    //     (the sigSets/ngram_novelty/duplicatedPositions key-width
    //     rule; hash-keyed counts equal text-keyed counts for a
    //     collision-free hash, and the text-keyed DuckDB replay is
    //     itself the collision check);
    //  2. the transition-probability RATIO TABLE is derived first from
    //     VOCAB-SIZED aggregates (gram counts join unigram counts on
    //     the w1 hash — w1 is a function of the gram, so `first(th)`
    //     per gh is exact), and the stream then crosses exactly ONE
    //     exchange — the ratio join — instead of two;
    //  3. no persist: the stream is consumed twice (gram counts, ratio
    //     join) but re-deriving it is a cheap codegen scan, while a
    //     MEMORY_AND_DISK copy of the corpus bigram stream is exactly
    //     the scratch the sixth decade cannot spare (the buildSlices
    //     trade: CPU is not the binding constraint, disk is).
    // At cluster scale the ratio table IS the LM you materialize once
    // per corpus version; incoming batches pay only the one join.
    lmScoreAgainst(docs, lmRatioTable(docs, scale, textCol), scale, textCol)

  /** The transition-probability ratio table (gh → fixed-point
    * `count(bigram)·scale DIV count(w1)`) trained on `docs` — the LM a
    * pipeline materializes ONCE per corpus version (the scaladoc above
    * has promised exactly this artifact since round 10; [[graft
    * .operators.Epoch]] now consumes it): incoming batches score
    * against the persisted table via [[lmScoreAgainst]] and pay only
    * the one gram-keyed join.
    */
  def lmRatioTable(docs: DataFrame, scale: Long = 100000000L,
                   textCol: String = "text"): DataFrame = {
    val uni = docs
      .select(explode(split(lower(col(textCol)), " ")).as("tok"))
      .select(xxhash64(col("tok")).as("th"))
      .groupBy("th").agg(count(lit(1)).as("_c1"))
    bigramFrame(docs, textCol)
      .select(xxhash64(col("gram")).as("gh"),
        xxhash64(substring_index(col("gram"), " ", 1)).as("th"))
      .groupBy("gh").agg(count(lit(1)).as("_c2"), first("th").as("th"))
      .join(uni, Seq("th"))
      .select(col("gh"), expr(s"_c2 * ${scale}L DIV _c1").as("_r"))
  }

  /** Score `docs` against an externally trained [[lmRatioTable]]: same
    * output columns as [[lmScore]]; bigrams absent from the table
    * simply don't score (inner ratio join), and a document with NO
    * scoreable bigram reports null `avg_prob` — the gate signal an
    * epoch-advance curation reads ("is this doc scoreable under the
    * corpus version's LM").
    */
  def lmScoreAgainst(docs: DataFrame, ratio: DataFrame,
                     scale: Long = 100000000L,
                     textCol: String = "text"): DataFrame = {
    val scored = bigramFrame(docs, textCol)
      .select(col("doc_id"), xxhash64(col("gram")).as("gh"))
      .join(ratio, Seq("gh"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("_r")).as("prob_fp_sum"))
    docs.select(col("doc_id")).join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("prob_fp_sum"), lit(0L)).as("prob_fp_sum"),
        // Explicit null (not 0/0 → NaN) for bigram-less docs: NaN is not
        // hash-portable across engines, null is.
        when(col("n_bigrams").isNull, lit(null).cast("double"))
          .otherwise(col("prob_fp_sum").cast("double") /
            (col("n_bigrams") * lit(scale)).cast("double")).as("avg_prob"))
  }

  /** The per-document local bigram stream both LM halves consume —
    * deliberately a `def`-shaped cheap codegen scan (see [[lmScore]]'s
    * no-persist note).
    */
  private def bigramFrame(docs: DataFrame, textCol: String): DataFrame =
    docs.select(col("doc_id"),
      explode(graft.functions.TokenNgrams(lower(col(textCol)), 2))
        .as("gram"))

  /** [[lmScore]] in K bounded-scratch GRAM-HASH slices — the sliced
    * execution mode for the corpus size where even the single
    * stream-crossing exchange exceeds a node's scratch (measured
    * 6.2 GB at sf100 after the ratio-table rework ⇒ ~62 GB at sf1000,
    * over this box's headroom). Per-doc (n_bigrams, prob_fp_sum) is
    * ADDITIVE over any partition of the gram space, so each slice
    * scores only grams with `gh % K == k` (filtered in-scan), writes
    * its per-doc partials to `workDir`, and the union re-aggregates —
    * bit-identical to the one-shot (TextOpsSpec pins it), with at most
    * 1/K of the stream's exchange in flight. The unigram count table
    * is corpus-global, so it is materialized ONCE to `workDir` and
    * reused by every slice.
    */
  def lmScoreSliced(docs: DataFrame, workDir: String, slices: Int = 4,
                    scale: Long = 100000000L,
                    textCol: String = "text"): DataFrame = {
    require(slices >= 1, "slices must be >= 1")
    val spark = docs.sparkSession
    // Each read-back passes the schema of the frame it wrote, so reading
    // the parquet infers no schema (no footer-reading job).
    val uniCounts = docs
      .select(explode(split(lower(col(textCol)), " ")).as("tok"))
      .select(xxhash64(col("tok")).as("th"))
      .groupBy("th").agg(count(lit(1)).as("_c1"))
    uniCounts.write.mode("overwrite").parquet(s"$workDir/uni")
    val uni = spark.read.schema(uniCounts.schema).parquet(s"$workDir/uni")
    def bigrams = docs
      .select(col("doc_id"),
        explode(graft.functions.TokenNgrams(lower(col(textCol)), 2))
          .as("gram"))
    val written = for (k <- 0 until slices) yield {
      def slice = bigrams
        .select(col("doc_id"), xxhash64(col("gram")).as("gh"),
          xxhash64(substring_index(col("gram"), " ", 1)).as("th"))
        .where(pmod(col("gh"), lit(slices.toLong)) === k.toLong)
      val ratio = slice
        .groupBy("gh").agg(count(lit(1)).as("_c2"), first("th").as("th"))
        .join(uni, Seq("th"))
        .select(col("gh"), expr(s"_c2 * ${scale}L DIV _c1").as("_r"))
      val part = slice.select(col("doc_id"), col("gh"))
        .join(ratio, Seq("gh"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("_n"), sum(col("_r")).as("_s"))
      part.write.mode("overwrite").parquet(s"$workDir/lm_$k")
      Scratch.gcIfPressured(spark)
      part.schema
    }
    val partials = spark.read.schema(written.head)
      .parquet((0 until slices).map(k => s"$workDir/lm_$k"): _*)
      .groupBy("doc_id")
      .agg(sum("_n").as("n_bigrams"), sum("_s").as("prob_fp_sum"))
    docs.select(col("doc_id")).join(partials, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("prob_fp_sum"), lit(0L)).as("prob_fp_sum"),
        when(col("n_bigrams").isNull, lit(null).cast("double"))
          .otherwise(col("prob_fp_sum").cast("double") /
            (col("n_bigrams") * lit(scale)).cast("double")).as("avg_prob"))
  }

  /** Top-k most distinctive terms per document, ranked by the integer
    * relevance score `tf · (N − df)` — monotone increasing in term
    * frequency and in rarity, i.e. the ordering tf-idf induces, without
    * tf-idf's logarithm. The log is avoided deliberately: `ln` is not a
    * correctly-rounded IEEE operation, so `tf·ln(N/df)` can differ in the
    * last ulp across engines and flip a rank; the integer surrogate is
    * bit-exact everywhere (the same reasoning that keeps the oracle
    * queries on DECIMAL sums and single IEEE divisions).
    *
    * Plan shape: one (doc_id, token) count aggregate (persisted — it
    * feeds both the document-frequency aggregate and the scoring join),
    * a token-keyed DF join (vocabulary-sized right side; partial-agg'd
    * both levels), the corpus size N attached as a broadcast 1-row frame
    * (no driver collect), and a per-doc window for the top-k cut —
    * partitioned by doc_id, so no unpartitioned window at any scale.
    */
  def topTerms(docs: DataFrame, k: Int = 3,
               textCol: String = "text"): DataFrame = {
    val tf = docs
      .select(col("doc_id"),
        explode(split(lower(col(textCol)), " ")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("_n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(desc("score"), asc("tok"))
    tf.join(dfreq, Seq("tok"))
      .crossJoin(broadcast(n))
      .withColumn("score", col("tf") * (col("_n") - col("df")))
      .withColumn("_rn", row_number().over(w))
      .where(col("_rn") <= k)
      .select(col("doc_id"), col("tok").as("term"), col("tf"), col("df"),
        col("score"))
  }

  /** Corpus-relative length filter: keep documents whose token count lies
    * within the [`lo`, `hi`] discrete quantile band of the corpus — the
    * "drop the pathologically short/long tail" cleaning step. Discrete
    * (not continuous) quantiles on purpose: `percentile_disc` returns an
    * actual data value with no interpolation arithmetic, so the band
    * bounds are bit-identical in any engine. The bounds attach as a
    * broadcast 1-row frame — no driver collect. At corpus scale the exact
    * single-group percentile becomes the one non-partial aggregation in
    * the plan; swap in `approx_percentile` there (same shape, bounded
    * error) when N makes exact sorting unreasonable.
    */
  def lengthBandFilter(docs: DataFrame, lo: Double = 0.05, hi: Double = 0.95,
                       textCol: String = "text"): DataFrame = {
    val lens = splitLengths(docs, textCol)
    lengthBandFilterByLen(lens, lengthBandBoundsByLen(lens, lo, hi))
  }

  /** The band's percentile bounds as a 1-row (_lo, _hi) frame — split
    * out of [[lengthBandFilter]] so an epoch-advance pipeline can
    * FREEZE the calibration at a corpus version ([[graft.operators
    * .Epoch]]): the bounds are computed once on the corpus the version
    * was built from and persisted as a corpus-version artifact; an
    * appended batch is gated against the FROZEN band rather than
    * re-deriving quantiles over the union (which would silently
    * re-curate — and potentially invalidate — already-shipped
    * documents as the length distribution drifts).
    */
  def lengthBandBounds(docs: DataFrame, lo: Double = 0.05,
                       hi: Double = 0.95,
                       textCol: String = "text"): DataFrame =
    lengthBandBoundsByLen(splitLengths(docs, textCol), lo, hi)

  /** [[lengthBandBounds]] over a (doc_id, n_tokens) frame — the fused
    * chains' form ([[packSequencesByLen]]'s posture).
    */
  private[graft] def lengthBandBoundsByLen(lens: DataFrame,
                                           lo: Double = 0.05,
                                           hi: Double = 0.95): DataFrame =
    lens.agg(
      expr(s"percentile_disc($lo) WITHIN GROUP (ORDER BY n_tokens)")
        .as("_lo"),
      expr(s"percentile_disc($hi) WITHIN GROUP (ORDER BY n_tokens)")
        .as("_hi"))

  /** [[lengthBandFilter]] over a (doc_id, n_tokens) frame against a
    * supplied (possibly frozen) bounds frame, attached as a broadcast
    * 1-row frame — no driver collect.
    */
  private[graft] def lengthBandFilterByLen(lens: DataFrame,
                                           bounds: DataFrame): DataFrame =
    lens.crossJoin(broadcast(bounds))
      .where(col("n_tokens") >= col("_lo") && col("n_tokens") <= col("_hi"))
      .select(col("doc_id"), col("n_tokens"))

  /** Sequence packing for LLM pretraining: lay all documents end-to-end
    * in `doc_id` order into one global token stream cut into fixed
    * `seqLen`-token training sequences, and report where each document
    * lands — `seq_id` (the sequence its first token falls in) and
    * `seq_offset` (position within that sequence). Documents may straddle
    * a boundary and continue into the next sequence: standard
    * packed-dataset semantics.
    *
    * The global exclusive prefix sum uses the same two-phase
    * range-partition machinery as [[Relational.twoPhaseDenseRank]]
    * (SURVEY.md §7.4.8): per-partition cumulative sums under a
    * *partitioned* window, plus per-partition totals prefix-summed
    * through a ≤ partitions² broadcast triangular join — NO unpartitioned
    * window anywhere, so the plan holds at any corpus size. The packed
    * assignment is partition-count-invariant by construction (a prefix
    * sum is the same number regardless of where partitions split).
    */
  def packSequences(docs: DataFrame, seqLen: Int = 2048,
                    partitions: Int = 32,
                    textCol: String = "text"): DataFrame =
    packSequencesByLen(splitLengths(docs, textCol), seqLen, partitions)

  /** [[packSequences]] from an already-computed (doc_id, n_tokens)
    * frame — the form composed pipelines call so the length column is
    * derived where the text lives and only 16-byte rows enter the
    * prefix-sum machinery's exchanges (the pack stage's half of the
    * VERDICT r10 item-1 narrow-join fix; the composed chain previously
    * joined (doc_id, text) against the shuffle order).
    */
  def packSequencesByLen(withLen: DataFrame, seqLen: Int = 2048,
                         partitions: Int = 32): DataFrame = {
    val parts = withLen.select(col("doc_id"), col("n_tokens"))
      .repartitionByRange(partitions, asc("doc_id"))
      .withColumn("_pid", spark_partition_id())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val local = parts.withColumn("_lcum",
      sum("n_tokens").over(org.apache.spark.sql.expressions.Window
        .partitionBy("_pid").orderBy("doc_id")))
    val counts = parts.groupBy("_pid").agg(sum("n_tokens").as("_cnt"))
    local.join(broadcast(Relational.prefixOffsets(counts)), Seq("_pid"))
      .withColumn("_start", col("_off") + col("_lcum") - col("n_tokens"))
      .select(col("doc_id"), col("n_tokens"),
        expr(s"_start DIV $seqLen").as("seq_id"),
        pmod(col("_start"), lit(seqLen.toLong)).as("seq_offset"))
  }

  /** Fixed-size token chunking with overlap — the embedding/RAG prep step
    * (and the long-document splitter before [[packSequences]]): chunk `k`
    * of a document covers tokens `[k·(chunkSize−overlap),
    * k·(chunkSize−overlap)+chunkSize)`; starts advance by the stride
    * until the document is covered, so every token lands in ≥ 1 chunk
    * and consecutive chunks share `overlap` tokens. The last chunk is the
    * first one whose window reaches the end of the document —
    * `⌈(n−chunkSize)/stride⌉` (0 for docs shorter than one chunk) — so no
    * chunk is ever a subset of its predecessor. Pure explode-of-`sequence`
    * over a per-row token array — linear, no shuffle, chunk count exact
    * via integer `DIV`.
    */
  def chunkDocs(docs: DataFrame, chunkSize: Int = 32, overlap: Int = 8,
                textCol: String = "text"): DataFrame = {
    require(overlap >= 0 && overlap < chunkSize,
      "overlap must be in [0, chunkSize)")
    val stride = chunkSize - overlap
    docs
      .select(col("doc_id"), split(col(textCol), " ").as("_toks"))
      .withColumn("_n", size(col("_toks")))
      .select(col("doc_id"), col("_toks"),
        explode(sequence(lit(0), greatest(lit(0),
          expr(s"(_n - $chunkSize + ${stride - 1}) DIV $stride"))))
          .as("chunk_id"))
      .withColumn("_chunk",
        slice(col("_toks"), col("chunk_id") * stride + 1, lit(chunkSize)))
      .select(col("doc_id"), col("chunk_id"),
        size(col("_chunk")).as("n_chunk_tokens"),
        md5(concat_ws(" ", col("_chunk"))).as("chunk_md5"))
  }

  /** PII patterns for [[piiScrub]]. Deliberately restricted to regex
    * constructs whose semantics agree between Java's engine and RE2
    * (character classes, bounded repetition) so the scrub is replayable in
    * the oracle engine verbatim.
    */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val UrlPattern = "https?://[A-Za-z0-9./_-]+"
  val PhonePattern = "[0-9]{3}-[0-9]{3}-[0-9]{4}"

  /** PII scrub: count and redact email addresses, URLs and phone numbers.
    * Output: (doc_id, n_emails, n_urls, n_phones, scrubbed) where
    * `scrubbed` has each match replaced by a typed placeholder. Email is
    * scrubbed before URL so `mailto`-ish text can't be half-eaten by the
    * URL pass; the order is part of the operator contract. Pure codegen'd
    * `regexp_count`/`regexp_replace` — linear scan, no shuffle.
    */
  def piiScrub(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(
      col("doc_id"),
      regexp_count(col(textCol), lit(EmailPattern)).as("n_emails"),
      regexp_count(col(textCol), lit(UrlPattern)).as("n_urls"),
      regexp_count(col(textCol), lit(PhonePattern)).as("n_phones"),
      regexp_replace(
        regexp_replace(
          regexp_replace(col(textCol), EmailPattern, "<EMAIL>"),
          UrlPattern, "<URL>"),
        PhonePattern, "<PHONE>").as("scrubbed"))

  /** Domains of every URL in the text, one row per (doc_id, domain) hit —
    * the per-domain aggregation a blocklist/mixing pipeline runs. Explode
    * of `regexp_extract_all` then a hash-aggregate on the domain string.
    */
  def urlDomains(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      .select(col("doc_id"),
        explode(regexp_extract_all(col(textCol), lit(UrlPattern), lit(0)))
          .as("url"))
      .select(col("doc_id"),
        regexp_extract(col("url"), "https?://([A-Za-z0-9._-]+)", 1)
          .as("domain"))
      .groupBy("domain")
      .agg(count(lit(1)).as("n_urls"),
           countDistinct(col("doc_id")).as("n_docs"))

  /** Content fingerprint (md5 of the normalized text) — the exact-dedup
    * key. md5 keeps it portable to the oracle engine.
    */
  def fingerprint(text: Column): Column = md5(lower(trim(text)))

  /** Winnowing-style rolling-hash fingerprint: the minimum Rabin-Karp
    * window hash over the normalized text (one codegen'd O(n) pass — see
    * [[graft.functions.RollingHashWindows]]). Near-identical documents
    * that share any `window`-byte run can collide on it, which is the
    * point: it is a locality-sensitive single-long signature, cheaper
    * than MinHash when one band suffices. Null for docs shorter than
    * `window` bytes.
    */
  def rollingMinFingerprint(text: Column, window: Int = 32): Column =
    array_min(graft.functions.RollingHashWindows(lower(trim(text)), window))

  /** Winnowing document signatures (Schleimer–Wilkerson–Aiken, the MOSS
    * fingerprinting scheme): over the Rabin–Karp hashes of every
    * `gram`-byte window of the normalized text
    * ([[graft.functions.RollingHashWindows]] — one codegen'd O(n) pass),
    * every run of `w` consecutive hashes contributes its minimal
    * (hash, position) pair, leftmost on hash ties. Any two documents
    * sharing a run of `gram + w − 1` bytes are guaranteed at least one
    * common selected fingerprint — the property that makes the signature
    * a drop-in near-dup blocking key with bounded density ~2/(w+1),
    * unlike [[rollingMinFingerprint]]'s single global min.
    *
    * Returns (doc_id, pos, fp) — the selected fingerprint set, 0-based
    * hash positions. Documents shorter than `gram + w − 1` bytes yield
    * no fingerprints. Scale: selection is per-document LOCAL and
    * shuffle-free — one codegen'd O(n) deque pass
    * ([[graft.functions.WinnowSelect]]) over the rolling hashes, so the
    * only rows that ever leave the projection are the ~2·nh/(w+1)
    * SELECTED fingerprints. (An earlier formulation exploded all nh×w
    * (hash, window) rows into a (doc_id, window) hash-aggregate — a
    * corpus-sized ×w shuffle for a computation with no cross-document
    * dependency.)
    */
  def winnowFingerprints(docs: DataFrame, gram: Int = 8, w: Int = 4,
                         textCol: String = "text"): DataFrame =
    docs
      .select(col("doc_id"),
        explode(graft.functions.WinnowSelect(
          graft.functions.RollingHashWindows(
            lower(trim(col(textCol))), gram), w)).as("sel"))
      .select(col("doc_id"), col("sel.i").cast("long").as("pos"),
        col("sel.h").as("fp"))
      .orderBy("doc_id", "pos")

  /** Deterministic stratified downsampling for data mixing: keep one in
    * `rates(stratum)` documents per stratum (default `defaultRate`),
    * selected by id residue — reproducible across runs and engines. At
    * scale, swap the residue for `pmod(xxhash64(id), rate)` to decorrelate
    * from id assignment; the plan (a pushed-down filter, no shuffle) is
    * identical.
    */
  def stratifiedSample(docs: DataFrame, rates: Map[String, Int],
                       defaultRate: Int, stratumCol: String = "lang",
                       idCol: String = "doc_id"): DataFrame = {
    val rate = rates.foldLeft(lit(defaultRate)) { case (acc, (s, r)) =>
      when(col(stratumCol) === s, lit(r)).otherwise(acc)
    }
    docs.where(pmod(col(idCol), rate) === 0)
  }

  /** Unicode canonicalization (NFC) of the text column — the
    * normalization a pipeline runs BEFORE [[fingerprint]] dedup so
    * visually-identical strings with different code point sequences
    * (composed `é` vs `e` + combining acute) collapse to one
    * fingerprint. Codegen'd ([[graft.functions.UnicodeNormalize]]),
    * linear, no shuffle.
    */
  def canonicalize(docs: DataFrame, textCol: String = "text"): DataFrame =
    // withColumn, not a projection: the op precedes fingerprint dedup in
    // a pipeline, so every metadata column (ids, lang, source) must ride
    // through untouched.
    docs.withColumn("canonical",
      graft.functions.UnicodeNormalize.normalize(col(textCol)))

  /** Line-level boilerplate removal (the C4/RefinedWeb cleaning pass):
    * drop every line whose trimmed content occurs in more than
    * `maxLineDf` distinct documents — navigation menus, cookie banners,
    * legal footers — and keep everything else in original order.
    * Returns one row per document: (doc_id, n_lines, n_removed,
    * cleaned_md5) where cleaned_md5 hashes the surviving lines rejoined
    * with newlines (the full cleaned column is the production output;
    * the hash is what a comparator can check).
    *
    * Scale: line df is a hash-aggregate on 32-byte md5 keys (the
    * line-frequency index at cluster scale — never the line text); the
    * boilerplate set is corpus-bounded-small and anti-joins back; doc
    * reassembly is the same `array_sort`-of-`collect_list` per-doc
    * aggregate as [[graft.operators.Dedup.clipDuplicateSpans]] —
    * deterministic under any partitioning. The line frame is persisted
    * once (feeds the df count, the anti-join, and per-doc totals).
    */
  def stripBoilerplateLines(docs: DataFrame, maxLineDf: Int = 5,
                            textCol: String = "text"): DataFrame = {
    val lines = docs
      .select(col("doc_id"),
        posexplode(split(col(textCol), "\n")).as(Seq("idx", "line")))
      .withColumn("_lf", md5(trim(col("line"))))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val boiler = lines.groupBy("_lf")
      .agg(countDistinct(col("doc_id")).as("_nd"))
      .where(col("_nd") > maxLineDf)
      .select("_lf")
    val agg = lines.join(boiler, Seq("_lf"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("_n_kept"),
        md5(concat_ws("\n",
          transform(array_sort(collect_list(struct(col("idx"), col("line")))),
            x => x.getField("line")))).as("cleaned_md5"))
    val totals = lines.groupBy("doc_id").agg(count(lit(1)).as("n_lines"))
    docs.select(col("doc_id")).join(totals, Seq("doc_id"), "left")
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"),
        (coalesce(col("n_lines"), lit(0L)) -
          coalesce(col("_n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("cleaned_md5"), md5(lit(""))).as("cleaned_md5"))
  }

  /** Corpus-level vocabulary: the `k` most frequent whitespace tokens
    * (lowercased), count-descending with a token-ascending tiebreak so
    * the k-cut is a total order — the vocabulary-building pass before
    * tokenizer training. One explode + hash aggregate; the shuffle
    * carries (token, partial count) pairs, never documents.
    */
  def vocabTopK(docs: DataFrame, k: Int = 100,
                textCol: String = "text"): DataFrame =
    docs
      .select(explode(split(lower(col(textCol)), " ")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("token"))
      .limit(k)

  /** Vocabulary coverage / OOV rate — the tokenizer-evaluation pass:
    * for each document, the fraction of its whitespace tokens that fall
    * OUTSIDE the corpus's top-`k` vocabulary ([[vocabTopK]] — total-order
    * k-cut, so the vocab set is deterministic). The per-document signal a
    * pipeline uses to decide whether a planned vocab size is adequate
    * for a source mix, and the per-source roll-up feeds data-mixing
    * decisions.
    *
    * Scale: the vocab is k rows and BROADCASTS against the exploded
    * token stream (left join on the token key — no shuffle of the
    * corpus); the per-doc aggregate combines map-side. `oov_rate` is a
    * single IEEE division of exact counts; null for token-less docs.
    */
  def vocabCoverage(docs: DataFrame, k: Int = 100,
                    textCol: String = "text"): DataFrame = {
    val vocab = vocabTopK(docs, k, textCol)
      .select(col("token"), lit(1L).as("_in"))
    val counts = docs
      .select(col("doc_id"),
        explode(split(lower(col(textCol)), " ")).as("token"))
      .join(broadcast(vocab), Seq("token"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("_in").isNull, 1L).otherwise(0L)).as("n_oov"))
    docs.select(col("doc_id")).join(counts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        when(coalesce(col("n_tokens"), lit(0L)) > 0,
          col("n_oov").cast("double") / col("n_tokens")).as("oov_rate"))
  }

  /** Blocklist / badwords curation gate — the C4 cleaning step: per-doc
    * occurrence count and fraction of tokens drawn from a bounded
    * blocklist, plus the pass verdict (`flagged_frac ≤ maxFrac`). The
    * blocklist rides as an array LITERAL into a shuffle-free projection —
    * no join, no shuffle, the identical plan at 500 docs and at 100 TB (a
    * real bad-words list of a few thousand entries still ships as a
    * task-constant literal; past ~10⁵ entries switch to
    * [[vocabCoverage]]'s broadcast-join shape). Null texts emit null
    * stats and a null verdict, matching DuckDB's NULL propagation
    * through `string_split`/`len`.
    */
  def blocklistStats(docs: DataFrame, blocklist: Seq[String],
                     maxFrac: Double = 0.02,
                     textCol: String = "text"): DataFrame = {
    require(blocklist.nonEmpty, "empty blocklist")
    val toks = split(lower(col(textCol)), " ")
    def sz(c: Column): Column = when(col(textCol).isNotNull, size(c))
    val nTokens = sz(toks).cast("long")
    val nFlagged =
      sz(filter(toks, t => array_contains(typedLit(blocklist), t)))
        .cast("long")
    docs.select(col("doc_id"),
        nTokens.as("n_tokens"), nFlagged.as("n_flagged"),
        (nFlagged.cast("double") / nTokens).as("flagged_frac"))
      .withColumn("pass", col("flagged_frac") <= maxFrac)
  }

  /** Exact heavy hitters in bounded memory — every token whose corpus
    * frequency exceeds `n / threshold`, found WITHOUT a full vocabulary
    * aggregate: a Misra–Gries sketch pass
    * ([[graft.functions.MisraGriesAggregator]], `slots` counters, partial
    * buffers merged map-side) yields a ≤ `slots`-entry candidate set that
    * provably contains every true heavy hitter (guarantee: anything above
    * `n/(slots+1)` survives, and `slots + 1 ≥ threshold`); a second pass
    * re-counts ONLY the candidates exactly and applies the threshold as
    * an integer comparison (`count · threshold > n` — no division). The
    * composition is exact and merge-order-independent even though the
    * sketch alone is not — the [[Scale.bloomIncrementalDedup]]
    * sketch-prescreen + exact-recheck contract, so the result shares an
    * exact SQL oracle.
    *
    * Versus [[vocabTopK]]: that pass aggregates the WHOLE vocabulary
    * (shuffle keyed on every distinct token); this one's second pass
    * aggregates ≤ `slots` tokens behind a pushed-down filter — the shape
    * that survives a vocabulary too large to hash-aggregate comfortably.
    * The driver sees one ≤ `slots`-entry summary row, never data.
    */
  def heavyHitters(docs: DataFrame, threshold: Int = 100, slots: Int = 127,
                   textCol: String = "text"): DataFrame = {
    require(threshold >= 2 && slots + 1 >= threshold,
      s"need slots + 1 >= threshold for the superset guarantee " +
        s"(got slots=$slots, threshold=$threshold)")
    val spark = docs.sparkSession
    import spark.implicits._
    // Persisted: the sketch pass and the exact re-count both consume the
    // token stream — same caller-clears-cache contract as the pair
    // searches.
    val toks = docs
      .select(explode(split(lower(col(textCol)), " ")).as("token"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val summary = toks.as[String]
      .select(new graft.functions.MisraGriesAggregator(slots).toColumn)
      .head()
    val cands = summary.counts.keys.toSeq
    toks.where(col("token").isin(cands: _*))
      .groupBy("token").agg(count(lit(1)).as("n_occurrences"))
      .where(col("n_occurrences") * threshold > summary.n)
      .orderBy("token")
  }

  /** Per-group quota capping for data mixing: keep the `quota` best
    * documents in every `keys` group — longest text first, doc_id
    * tiebreak (the same "keep the best copy" policy as
    * [[Dedup.dedupKeepLongest]], applied to source balance instead of
    * duplicates). The window partitions by the group keys, so no sort
    * ever exceeds one group's size — skew-safe as long as the grouping
    * is (a source×language mix is; a single giant group would need the
    * two-phase rank machinery instead).
    */
  def groupQuota(docs: DataFrame, keys: Seq[String], quota: Int,
                 textCol: String = "text"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .orderBy(desc("n_chars"), asc("doc_id"))
    docs.select(keys.map(col) :+ col("doc_id") :+
        length(col(textCol)).cast("long").as("n_chars"): _*)
      .withColumn("rank_in_group", row_number().over(w).cast("long"))
      .where(col("rank_in_group") <= quota)
  }

  /** DSIR-style importance weights for data selection (Xie et al., "Data
    * Selection for Language Models via Importance Resampling"): every
    * candidate document is scored by how much its hashed-bigram feature
    * distribution looks like a TARGET slice (the quality reference —
    * here any predicate over the corpus) versus the source pool. The
    * published recipe sums log-probability ratios of hashed n-gram
    * features; logs are not correctly-rounded IEEE ops, so this scores
    * with the fixed-point frequency DIFFERENCE instead —
    * `r(b) = (ct(b)·scale) DIV nt − (cs(b)·scale) DIV ns` per feature
    * bucket, an exact integer — which induces the same
    * "target-typical features up, source-typical features down" ordering
    * and is hash-portable (the [[lmScore]] / [[topTerms]] reasoning).
    *
    * Features are bigrams hashed to `4096` buckets via the integer value
    * of the first 3 md5 hex digits — reproducible in ANSI SQL. Output,
    * for every NON-target doc: (doc_id, n_feats, importance_fp,
    * avg_importance ∈ [−1, 1], null when the doc has no bigram).
    *
    * Plan shape: ONE tokenize → window-lead → bucket pass (persisted —
    * the two class aggregates and the scoring join consume it), two
    * ≤ 4096-row bucket aggregates joined full-outer and broadcast back
    * with the 1-row totals frame (no driver collect), one per-doc sum.
    * At cluster scale the bucket ratio table is the trained importance
    * model you materialize once and broadcast against every incoming
    * batch. Requires both classes non-empty (else the integer division
    * has a zero denominator).
    */
  def importanceWeights(docs: DataFrame, target: Column,
                        scale: Long = 100000000L,
                        textCol: String = "text"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val feats = docs
      .select(col("doc_id"), target.as("_t"),
        posexplode(split(lower(col(textCol)), " ")).as(Seq("pos", "tok")))
      .withColumn("_nxt", lead("tok", 1).over(w))
      .where(col("_nxt").isNotNull)
      .select(col("doc_id"), col("_t"),
        conv(substring(md5(concat_ws(" ", col("tok"), col("_nxt"))), 1, 3),
          16, 10).cast("int").as("b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tot = feats.groupBy().agg(
      sum(when(col("_t"), 1L).otherwise(0L)).as("nt"),
      sum(when(!col("_t"), 1L).otherwise(0L)).as("ns"))
    val tc = feats.where(col("_t")).groupBy("b").agg(count(lit(1)).as("ct"))
    val sc = feats.where(!col("_t")).groupBy("b")
      .agg(count(lit(1)).as("cs"))
    val ratios = tc.join(sc, Seq("b"), "full")
      .select(col("b"), coalesce(col("ct"), lit(0L)).as("ct"),
        coalesce(col("cs"), lit(0L)).as("cs"))
      .crossJoin(broadcast(tot))
      .select(col("b"),
        (expr(s"ct * ${scale}L DIV nt") - expr(s"cs * ${scale}L DIV ns"))
          .as("r"))
    val scored = feats.where(!col("_t"))
      .join(broadcast(ratios), Seq("b"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_feats"), sum("r").as("importance_fp"))
    docs.where(!target).select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        coalesce(col("importance_fp"), lit(0L)).as("importance_fp"),
        when(col("n_feats").isNull, lit(null).cast("double"))
          .otherwise(col("importance_fp").cast("double") /
            (col("n_feats") * lit(scale)).cast("double"))
          .as("avg_importance"))
  }

  /** The shared hashed-feature bucket: 3 leading md5 hex nibbles →
    * [0, 4096). One definition for the fixed-weight scorer, the
    * trainer, and the trained scorer, so the feature space cannot
    * drift between them.
    */
  private def featBucket(tok: Column): Column =
    conv(substring(md5(tok), 1, 3), 16, 10).cast("long")

  /** The fixed literal classifier weight `((b·37 + 11) mod 201) − 100`
    * of a token's [[featBucket]] b.
    */
  private def featWeight(tok: Column): Column =
    (featBucket(tok) * lit(37L) + lit(11L)) % 201L - 100L

  /** Quality-classifier inference — the CCNet/fastText slot in a real
    * curation stack: a hashed-feature LINEAR model scores every document,
    * and the curation gate thresholds the logit. Features are bag-of-
    * words unigram buckets (integer value of the first 3 md5 hex digits
    * of each lowercased token → 4096 buckets, the
    * [[importanceWeights]] feature hash); weights are a FIXED literal
    * model — `w(b) = ((b·37 + 11) mod 201) − 100 ∈ [−100, 100]` — so the
    * DuckDB oracle replays inference integer-for-integer. At cluster
    * scale the weight column is the trained coefficient table you
    * materialize once per model version and broadcast/generate against
    * every incoming batch; the ARITHMETIC (integer dot product, one
    * final IEEE division) is exactly what a production int8-quantized
    * linear scorer runs.
    *
    * No sigmoid: `exp` is not correctly-rounded IEEE and would diverge
    * cross-engine (the [[lmScore]] reasoning) — and thresholding a
    * logit is order-equivalent to thresholding the probability, so the
    * keep decision loses nothing. Output per document: (doc_id,
    * n_tokens, logit_fp — the exact integer Σ w(bucket(tok)),
    * avg_logit = logit_fp/n_tokens as ONE IEEE division (null for
    * token-less docs), keep = logit_fp > 0).
    *
    * Plan shape: tokenize → explode → per-token weight (all codegen'd
    * scalar ops) → one (doc_id) hash aggregate with map-side combine —
    * the shuffle carries one partial sum per document per task, not the
    * token stream. Scan-linear, the [[lmScore]] family.
    */
  def classifierScore(docs: DataFrame,
                      textCol: String = "text"): DataFrame = {
    val scored = docs
      .select(col("doc_id"),
        explode(split(lower(col(textCol)), " ")).as("tok"))
      .select(col("doc_id"), featWeight(col("tok")).as("w"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("w").as("logit_fp"))
    docs.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("logit_fp"), lit(0L)).as("logit_fp"),
        when(col("n_tokens").isNull, lit(null).cast("double"))
          .otherwise(col("logit_fp").cast("double") /
            col("n_tokens").cast("double")).as("avg_logit"),
        (coalesce(col("logit_fp"), lit(0L)) > 0L).as("keep"))
  }

  /** Closed-form Naive-Bayes classifier training over a deterministic
    * labeled slice — the stage that completes the CCNet/fastText slot
    * (VERDICT r10 item 6): [[classifierScore]] infers with fixed
    * literal weights; this trains per-bucket weights from data and
    * [[classifierScoreTrained]] applies them.
    *
    * Training set: every fifth document (doc_id % 5 == 0 — the
    * deterministic labeled slice). Label: the [[qualityScore]] gate
    * (>= 0.5) — the same "high-quality reference corpus vs the rest"
    * supervision CCNet derives from Wikipedia membership. Features:
    * binary PRESENCE of each hashed unigram bucket ([[featBucket]] — 3
    * md5 hex nibbles, 4096 buckets, the [[classifierScore]] space).
    * The trained weight is the add-one-smoothed class-conditional
    * probability in ppm — `(n_pos + 1) * 1e6 DIV (n_pos + n_neg + 2)`
    * — pure integer floor division, so training replays EXACTLY in any
    * engine (no log, no float sum: the `bpe_merges` train-then-apply
    * determinism rule).
    *
    * Output per observed bucket: (bucket, n_pos, n_neg, w_ppm). At most
    * 4096 rows — the model always broadcasts.
    *
    * Scale: one slice-sized distinct (doc, bucket) shuffle + a
    * ≤4096-group aggregate; the label derivation is one codegen'd text
    * pass. Nothing grows with the full corpus — training reads the
    * slice only.
    */
  def classifierTrain(docs: DataFrame, textCol: String = "text")
      : DataFrame = {
    val slice = docs.where(col("doc_id") % 5 === 0)
    val labeled = qualityScore(tokenStats(slice, textCol))
      .where(col("quality_score").isNotNull)
      .select(col("doc_id"), Curation.QualityKeep.as("_pos"))
    val feats = slice
      .select(col("doc_id"),
        explode(split(lower(col(textCol)), " ")).as("tok"))
      .select(col("doc_id"), featBucket(col("tok")).as("bucket"))
      .distinct()
    feats.join(labeled, Seq("doc_id"))
      .groupBy("bucket")
      .agg(sum(when(col("_pos"), 1L).otherwise(0L)).as("n_pos"),
        sum(when(col("_pos"), 0L).otherwise(1L)).as("n_neg"))
      .select(col("bucket"), col("n_pos"), col("n_neg"),
        expr("(n_pos + 1) * 1000000L DIV (n_pos + n_neg + 2)")
          .as("w_ppm"))
      .orderBy("bucket")
  }

  /** [[classifierScore]] with the [[classifierTrain]] weights instead
    * of the fixed literals: per token, the trained bucket weight (or
    * the smoothed prior 500000 ppm for a bucket never seen in
    * training), summed per document; `keep` = the document's average
    * evidence exceeds the neutral 0.5 — `score_fp > n_tokens * 500000`,
    * all integer.
    *
    * Plan shape: the ≤4096-row model BROADCASTS onto the token stream
    * (codegen'd hash join, no shuffle of the corpus), then the same
    * one-(doc_id)-aggregate as [[classifierScore]]. Scan-linear at any
    * corpus size; training cost is the slice, inference cost is the
    * corpus.
    */
  def classifierScoreTrained(docs: DataFrame,
                             textCol: String = "text"): DataFrame = {
    val model = classifierTrain(docs, textCol).select("bucket", "w_ppm")
    val scored = docs
      .select(col("doc_id"),
        explode(split(lower(col(textCol)), " ")).as("tok"))
      .select(col("doc_id"), featBucket(col("tok")).as("bucket"))
      .join(broadcast(model), Seq("bucket"), "left")
      .select(col("doc_id"),
        coalesce(col("w_ppm"), lit(500000L)).as("w"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("w").as("score_fp"))
    docs.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("score_fp"), lit(0L)).as("score_fp"),
        (coalesce(col("score_fp"), lit(0L)) >
          coalesce(col("n_tokens"), lit(0L)) * lit(500000L)).as("keep"))
      .orderBy("doc_id")
  }

  /** Held-out evaluation of the trained classifier — the third leg of
    * the CCNet slot's train → score → eval split: confusion counts of
    * [[classifierScoreTrained]]'s keep decision against the quality
    * label on the documents the trainer NEVER saw (doc_id % 5 != 0).
    * One row per (label, prediction) cell plus per-cell document
    * counts — all integers, so the oracle replays the whole
    * train+score+eval chain exactly. The `n_docs`-weighted diagonal
    * over the table is the held-out accuracy a pipeline reports before
    * trusting the gate.
    *
    * Scale: inference cost (the corpus scan + broadcast model) plus a
    * 4-row aggregate; the label derivation rides the same text pass
    * contract as [[qualityScore]].
    */
  def classifierEval(docs: DataFrame, textCol: String = "text")
      : DataFrame = {
    val holdout = docs.where(col("doc_id") % 5 =!= 0)
    val labels = qualityScore(tokenStats(holdout, textCol))
      .where(col("quality_score").isNotNull)
      .select(col("doc_id"), Curation.QualityKeep.as("label"))
    classifierScoreTrained(docs, textCol)
      .select(col("doc_id"), col("keep"))
      .join(labels, Seq("doc_id"))
      .groupBy("label", "keep")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("label", "keep")
  }

  /** Weighted mixture upsampling for data mixing: every stratum's docs
    * are repeated `epochs(stratum)` times (default `defaultEpochs`) —
    * the "high-quality sources get more epochs" step. One output row per
    * (doc, epoch): an explode of a per-row integer sequence — linear, no
    * shuffle; interleaving the repeated stream comes from a downstream
    * [[shuffleOrder]] keyed on (doc_id, epoch).
    */
  def epochMix(docs: DataFrame, epochs: Map[String, Int],
               defaultEpochs: Int = 1,
               stratumCol: String = "source"): DataFrame = {
    // Negative weights are senseless, and weight 0 must DROP the stratum
    // — but `sequence(1, 0)` silently reverses (step −1 → epochs [1, 0]),
    // so 0 is filtered out before the explode rather than fed to it.
    require((epochs.values ++ Seq(defaultEpochs)).forall(_ >= 0),
      "epoch weights must be non-negative")
    val n = epochs.foldLeft(lit(defaultEpochs)) { case (acc, (s, e)) =>
      when(col(stratumCol) === s, lit(e)).otherwise(acc)
    }
    docs.select(col("doc_id"), col(stratumCol), n.as("_n"))
      .where(col("_n") >= 1)
      .select(col("doc_id"), col(stratumCol),
        explode(sequence(lit(1L), col("_n").cast("long"))).as("epoch"))
  }

  /** Deterministic pseudo-random training order: every document gets a
    * reproducible global `position` = rank of `md5(seed ":" doc_id)` —
    * the epoch shuffle a training run applies so data order is random
    * yet identical across re-runs, engines, and partition counts.
    *
    * The global rank uses the same two-phase range-partition machinery
    * as [[packSequences]] / [[Relational.twoPhaseDenseRank]]: range-
    * partition on the shuffle key, rank inside partitions under a
    * *partitioned* window, compose with per-partition counts prefix-
    * summed through a ≤ partitions² broadcast triangular join — no
    * unpartitioned window, no total sort on one node, valid at any
    * corpus size. md5 keys are unique in practice; doc_id tiebreaks make
    * the order total even under collisions.
    */
  def shuffleOrder(docs: DataFrame, seed: String = "graft",
                   partitions: Int = 32, idCol: String = "doc_id"): DataFrame = {
    val keyed = docs.select(col(idCol),
      md5(concat_ws(":", lit(seed), col(idCol).cast("string")))
        .as("shuffle_key"))
    val parts = keyed
      .repartitionByRange(partitions, asc("shuffle_key"), asc(idCol))
      .withColumn("_pid", spark_partition_id())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val local = parts.withColumn("_lrank",
      row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy("_pid").orderBy("shuffle_key", idCol)).cast("long"))
    val counts = parts.groupBy("_pid").agg(count(lit(1)).as("_cnt"))
    local.join(broadcast(Relational.prefixOffsets(counts)), Seq("_pid"))
      .select(col(idCol), col("shuffle_key"),
        (col("_off") + col("_lrank")).as("position"))
  }

  /** 64-bit SimHash from token hashes, built entirely from higher-order
    * functions: per-token xxhash64 → ±1 per bit → summed bit counts →
    * sign bits reassembled into a long. No UDF, no shuffle — but the HOFs
    * run interpreted, so BATCH paths use the codegen'd aggregate form
    * ([[Dedup.simhashSignatures]], equivalence-tested against this one in
    * DedupSpec). Two consumers keep this form: that equivalence test, and
    * [[graft.streaming.StreamingPipeline.streamingSimhashVotes]] — a
    * streaming stage cannot host the aggregate form (it would be a second
    * stateful operator), and the interpreted per-document cost is paid
    * once per ingested record, not per shuffle row. (The analogous
    * interpreted shingle/minhash HOFs were deleted outright — their
    * aggregate replacements in [[Dedup]] are oracle-checked, which is a
    * stronger reference than a second in-engine formulation.)
    */
  def simhash(text: Column): Column = {
    val toks = array_distinct(tokens(lower(text)))
    val bitIdx = sequence(lit(0), lit(63))
    val counts = aggregate(
      toks,
      array_repeat(lit(0L), 64),
      (acc, t) => zip_with(acc, transform(bitIdx, i =>
        when(call_function("shiftright", xxhash64(t), i)
               .bitwiseAND(1) === 1, 1L).otherwise(-1L)),
        (a, b) => a + b))
    aggregate(
      zip_with(counts, bitIdx, (c, i) =>
        when(c > 0, call_function("shiftleft", lit(1L), i))
          .otherwise(lit(0L))),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
  }

  /** Symbol delimiter for the BPE working representation: every symbol
    * is SUFFIXED with this char (`"he"` → `"h␟e␟"`), so a merge of
    * (l, r) is one literal `replace` of `"l␟r␟"` with `"lr␟"` — and
    * literal replace scans left-to-right non-overlapping in both Spark
    * and DuckDB, which IS greedy BPE application. A suffix (not infix)
    * delimiter matters: with symbols separated by single infix spaces,
    * consecutive merge sites share the boundary separator and the
    * second occurrence is missed.
    */
  private val BpeSep = "\u001f"

  /** Weighted word vocabulary in the suffix-delimited BPE working
    * representation — the ONE corpus-sized scan both [[bpeMerges]]
    * (train) and [[bpeEncodeTokens]] (apply) start from.
    */
  private def bpeVocab(docs: DataFrame): DataFrame =
    docs
      .select(explode(split(lower(col("text")), " ")).as("word"))
      .where(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("n"))
      .select(regexp_replace(col("word"), "(.)", "$1" + BpeSep)
        .as("seq"), col("n"))

  /** Tokenizer APPLY: encode the corpus with a trained merge list
    * (rank-ordered (lhs, rhs) pairs from [[bpeMerges]]) and return the
    * resulting token vocabulary with corpus frequencies — the operator
    * that turns a trained tokenizer into training-ready token
    * statistics. The merge list is tiny driver state compiled into one
    * chained codegen'd literal `replace` projection (left-to-right
    * non-overlapping = greedy BPE application, same contract as
    * training); the corpus is scanned once into the weighted word vocab
    * and the token counts are one more hash-aggregate. Returns
    * (token, n_occ) ordered by frequency desc, token asc.
    */
  def bpeEncodeTokens(docs: DataFrame,
                      merges: Seq[(String, String)]): DataFrame = {
    val seqCol = merges.foldLeft(col("seq")) { case (acc, (l, r)) =>
      call_function("replace", acc,
        lit(l + BpeSep + r + BpeSep), lit(l + r + BpeSep))
    }
    bpeVocab(docs)
      .select(explode(filter(split(seqCol, BpeSep), _ =!= "")).as("token"),
        col("n"))
      .groupBy("token").agg(sum("n").as("n_occ"))
      .orderBy(desc("n_occ"), asc("token"))
  }

  /** The Knuth multiplicative-hash split bucket shared by
    * [[holdoutSplit]] and [[clusterSplit]]:
    * (id · 2654435761) mod 1000000007 mod 100, computed in REDUCED
    * modular form ((id mod p) · (2654435761 mod p)) mod p mod 100 — the
    * residue 654435747 keeps the product under 6.6·10^17 for every
    * non-negative 64-bit id, so the expression never wraps Long where
    * DuckDB's unbounded HUGEINT arithmetic would keep going (the silent
    * cross-engine divergence the round-8 advisor flagged at ids above
    * ~3.47e9). Identical value to the textbook form wherever that form
    * doesn't overflow; defined (and engine-portable) everywhere.
    */
  private def knuthBucket(id: Column): Column =
    (id % lit(1000000007L)) * lit(654435747L) %
      lit(1000000007L) % lit(100L)

  /** Deterministic train/val/test holdout assignment by multiplicative
    * hash of `doc_id` — the split every training pipeline runs before
    * packing, and it must be a pure per-row projection (no shuffle, no
    * sampling state) so the same document lands in the same split on
    * every machine and every rerun. Bucket = [[knuthBucket]] —
    * overflow-safe Knuth multiplicative hashing, valid for any
    * non-negative id. Returns the per-split summary (split, n_docs,
    * n_chars) — one hash-aggregate over three keys; the assignment
    * itself is the pure projection inside it.
    */
  def holdoutSplit(docs: DataFrame, trainPct: Int = 90,
                   valPct: Int = 5): DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct <= 100,
      s"invalid split percentages: train=$trainPct val=$valPct")
    val bucket = knuthBucket(col("doc_id"))
    docs
      .select(
        when(bucket < trainPct, lit("train"))
          .when(bucket < trainPct + valPct, lit("val"))
          .otherwise(lit("test")).as("split"),
        col("n_chars"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("n_chars"))
      .orderBy("split")
  }

  /** Leakage-safe train/val/test split: the holdout hash is keyed by
    * near-dup CLUSTER label, not document id, so near-duplicate documents
    * can never straddle train and test — the eval-contamination failure
    * mode of per-document splitting (a test document whose near-twin sits
    * in train is a leaked answer, and [[holdoutSplit]]'s per-doc buckets
    * scatter every multi-doc cluster across splits with probability
    * ≈ 1 − (0.9^(k−1)·…) per cluster). Same overflow-safe Knuth
    * multiplicative-hash bucket arithmetic as [[holdoutSplit]]
    * ([[knuthBucket]] — so the two operators share proportions and the
    * SQL-oracle story, for any non-negative cluster id), applied to the
    * cluster label from [[graft.operators.Dedup.connectedComponents]] —
    * whose label IS the cluster-minimum doc_id.
    * A pure projection over the clustering it consumes: the split adds
    * NO shuffle, and every member of a cluster maps to the same bucket
    * by construction, not by coordination.
    */
  def clusterSplit(clusters: DataFrame, trainPct: Int = 90,
                   valPct: Int = 5): DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct <= 100,
      s"invalid split percentages: train=$trainPct val=$valPct")
    val bucket = knuthBucket(col("cluster"))
    clusters.select(col("doc_id"), col("cluster"),
      when(bucket < trainPct, lit("train"))
        .when(bucket < trainPct + valPct, lit("val"))
        .otherwise(lit("test")).as("split"))
  }

  /** BPE merge-pair training over the corpus — the tokenizer-training
    * operator of an LLM data pipeline. Classic frequency-weighted BPE:
    * the corpus is scanned ONCE into a weighted word vocabulary
    * (whitespace words × occurrence counts — the only corpus-sized
    * job); every iteration then counts adjacent symbol pairs over the
    * VOCABULARY (weighted by word frequency), picks the most frequent
    * pair (ties broken lexicographically on (lhs, rhs) — a total
    * order, so training is deterministic and SQL-replayable), and
    * merges it everywhere. The driver loop is the [[graft.operators
    * .Similarity.kmeansCodebook]] Lloyd pattern: one row (the argmax
    * pair) crosses to the driver per iteration, and the working vocab
    * is re-persisted per step so each iteration pays one small
    * vocab-sized job, never a re-derivation chain. At 100 TB the
    * corpus pass is the same one-shuffle word count every batch job
    * runs; iterations touch only the bounded vocabulary.
    *
    * Returns one row per learned merge:
    * (merge_rank, lhs, rhs, merged, n_occ) — n_occ the weighted pair
    * count at the time of the merge. Stops early if no pair remains.
    */
  def bpeMerges(docs: DataFrame, nMerges: Int = 16): DataFrame = {
    val spark = docs.sparkSession
    val base = bpeVocab(docs)
    val vocab = base.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, String, Long)]
    var exhausted = false
    for (k <- 0 until nMerges if !exhausted) {
      // Working sequences = base sequences with ALL merges so far
      // applied as one chained codegen'd `replace` projection. The
      // merge list is tiny driver state, so re-deriving from the single
      // persisted base each iteration (O(k·|vocab|) string work, zero
      // extra caching) beats a 16-deep persist chain by a wide margin —
      // an earlier chained-persist version paid seconds per iteration
      // in cache/plan overhead.
      val seqCol = merges.foldLeft(col("seq")) {
        case (acc, (_, l, r, _, _)) =>
          call_function("replace", acc,
            lit(l + BpeSep + r + BpeSep), lit(l + r + BpeSep))
      }
      // Adjacent symbol pairs of every word, weighted by word count.
      // The trailing delimiter yields one empty split cell — filtered
      // identically in the SQL twin.
      val top = vocab
        .select(filter(split(seqCol, BpeSep), _ =!= "").as("s"),
          col("n"))
        // single-symbol words have no pairs (and sequence(0, -1) would
        // walk backwards): drop them before the position explode
        .where(size(col("s")) >= 2)
        .select(col("s"), col("n"),
          explode(sequence(lit(0), size(col("s")) - 2)).as("i"))
        .select(element_at(col("s"), col("i") + 1).as("lhs"),
          element_at(col("s"), col("i") + 2).as("rhs"), col("n"))
        .groupBy("lhs", "rhs").agg(sum("n").as("c"))
        .orderBy(desc("c"), asc("lhs"), asc("rhs"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (l, r, c) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((k, l, r, l + r, c))
      }
    }
    vocab.unpersist()
    import spark.implicits._
    merges.toSeq.toDF("merge_rank", "lhs", "rhs", "merged", "n_occ")
      .select(col("merge_rank").cast("long"), col("lhs"), col("rhs"),
        col("merged"), col("n_occ"))
  }

  /** Corpus-wide exact paragraph deduplication (the RefinedWeb /
    * "exact-substring at paragraph granularity" cleaning pass): every
    * newline-separated segment keeps ONLY its first occurrence across the
    * whole corpus — first in (doc_id, position) order — and every later
    * repetition is dropped, wherever it appears. Complements
    * [[stripBoilerplateLines]]: that pass removes lines whose document
    * frequency exceeds a threshold everywhere (including the first copy);
    * this one keeps exactly one canonical copy of every repeated segment,
    * the form dedup-before-training wants (no content is lost, only
    * repetition). Returns one row per document: (doc_id, n_paras,
    * n_removed, cleaned_md5) with cleaned_md5 hashing the surviving
    * segments rejoined in original order.
    *
    * Scale: the first-occurrence winner per segment is a hash aggregate
    * of a packed (doc_id·10⁶ + idx) key over md5(trim(segment)) — partial
    * map-side combine absorbs even a corpus-dominating segment (a giant
    * boilerplate paragraph becomes ONE group whose min is folded
    * per-partition, not a single skewed sort partition — why this is an
    * agg+join, not a row_number window). The keep-side join is an
    * equi-join on the 32-byte hash; reassembly is the deterministic
    * `array_sort`-of-`collect_list` per-doc aggregate shared with
    * [[stripBoilerplateLines]]. Shuffles carry (hash, key) pairs and
    * per-doc line structs — never the corpus text twice.
    */
  def dedupParagraphs(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val lines = docs
      .select(col("doc_id"),
        posexplode(split(col(textCol), "\n")).as(Seq("idx", "line")))
      .withColumn("_lf", md5(trim(col("line"))))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Two-stage winner per fingerprint — min doc_id, then min idx within
    // that doc. The first version packed the key as doc_id·10^6 + idx,
    // which silently collides into the next doc's range for documents
    // with ≥ 10^6 lines (review finding); two exact aggregates have no
    // such bound and cost the same two shuffles.
    val firstDoc = lines.groupBy(col("_lf").as("_lf2"))
      .agg(min("doc_id").as("_fd"))
    val firsts = lines
      .join(firstDoc, col("_lf") === col("_lf2") &&
        col("doc_id") === col("_fd"))
      .groupBy(col("_lf2").as("_lfw"))
      .agg(min("doc_id").as("_fd2"), min("idx").as("_fi"))
    val agg = lines.join(firsts, col("_lf") === col("_lfw") &&
        col("doc_id") === col("_fd2") && col("idx") === col("_fi"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("_n_kept"),
        md5(concat_ws("\n",
          transform(array_sort(collect_list(struct(col("idx"), col("line")))),
            x => x.getField("line")))).as("cleaned_md5"))
    val totals = lines.groupBy("doc_id").agg(count(lit(1)).as("n_paras"))
    docs.select(col("doc_id")).join(totals, Seq("doc_id"), "left")
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_paras"), lit(0L)).as("n_paras"),
        (coalesce(col("n_paras"), lit(0L)) -
          coalesce(col("_n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("cleaned_md5"), md5(lit(""))).as("cleaned_md5"))
  }

  // Gopher rule-suite stopword list (Rae et al. 2021, §A1.1): the rule
  // asks for >= 2 distinct hits from exactly this public list.
  val GopherStopwords =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher-style document quality rule suite (Rae et al. 2021, §A1.1 —
    * the public MassiveText filter set), one row per document with each
    * rule's measured signal, its boolean verdict, and the composite
    * `pass`. Complements [[qualityScore]] (a soft score) and
    * [[repetitionStats]] (the repetition family): these are the hard
    * accept/reject gates a curation pipeline applies first.
    *
    * Rules: word count in [50, 100000]; mean word length in [3, 10];
    * symbol-to-word ratio ("#" or "...") <= 0.1; lines starting with a
    * bullet <= 90%; lines ending in an ellipsis <= 30%; >= 80% of words
    * contain an alphabetic character; >= 2 distinct hits from
    * [[GopherStopwords]].
    *
    * Scale: one narrow projection — every signal is a per-row
    * higher-order-function pass over the in-row token/line arrays
    * (interpreted HOFs; the [[tokenStats]] trade — measured faster than
    * the exploded-aggregate shape at this row width), no shuffle, no
    * join; ratios are single IEEE divisions of exact integer counts, so
    * the SQL oracle reproduces them bit-for-bit.
    */
  def gopherRules(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val words = split(col(textCol), "\\s+")
    val lines = split(col(textCol), "\n")
    // Null-text guard on EVERY size(): under the repo's legacy
    // sizeOfNull conf a bare size(null) is -1, which would emit
    // n_words = -1 and sign-flipped ratios where the oracle emits NULL
    // (same guard class as corpus_card / duplicateSpanCoverage; review
    // caught this one missing). With the guard all signals and verdicts
    // null-propagate identically in both engines.
    def sz(c: Column): Column =
      when(col(textCol).isNotNull, size(c))
    val nWords = sz(words)
    val nLines = sz(lines)
    docs.select(
        col("doc_id"),
        nWords.cast("long").as("n_words"),
        (aggregate(words, lit(0L), (acc, w) => acc + length(w))
          .cast("double") / nWords).as("mean_word_len"),
        ((regexp_count(col(textCol), lit("#")) +
          regexp_count(col(textCol), lit("\\.\\.\\.")))
          .cast("double") / nWords).as("symbol_ratio"),
        (sz(filter(lines, l => l.startsWith("- ")))
          .cast("double") / nLines).as("bullet_ratio"),
        (sz(filter(lines, l => l.endsWith("...")))
          .cast("double") / nLines).as("ellipsis_ratio"),
        (sz(filter(words, w => w.rlike("[A-Za-z]")))
          .cast("double") / nWords).as("alpha_ratio"),
        sz(array_intersect(array_distinct(words),
          typedLit(GopherStopwords))).cast("long").as("n_stop_distinct"))
      .withColumn("rule_word_count",
        col("n_words") >= 50 && col("n_words") <= 100000)
      .withColumn("rule_mean_word_len",
        col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0)
      .withColumn("rule_symbol_ratio", col("symbol_ratio") <= 0.1)
      .withColumn("rule_bullets", col("bullet_ratio") <= 0.9)
      .withColumn("rule_ellipsis", col("ellipsis_ratio") <= 0.3)
      .withColumn("rule_alpha", col("alpha_ratio") >= 0.8)
      .withColumn("rule_stopwords", col("n_stop_distinct") >= 2)
      .withColumn("pass",
        col("rule_word_count") && col("rule_mean_word_len") &&
        col("rule_symbol_ratio") && col("rule_bullets") &&
        col("rule_ellipsis") && col("rule_alpha") && col("rule_stopwords"))
  }

  /** BM25 top-k retrieval: score every document against a fixed set of
    * term queries and return the `k` best per query — the query→document
    * direction that [[topTerms]]' document→term ranking doesn't cover,
    * and the shape a corpus-curation pipeline uses for "find documents
    * about X" seed expansion.
    *
    * The scoring is BM25 (k1 = 1.2, b = 0.75) with the logarithm removed:
    * `ln` is not a correctly-rounded IEEE operation, so the usual
    * `ln((N-df+0.5)/(df+0.5))` idf can differ in the last ulp across
    * engines and flip a rank. Instead the idf keeps the RATIO
    * `(N-df+0.5)/(df+0.5)` itself (monotone in rarity, same ordering
    * semantics) and the whole per-term score is computed in 64-bit
    * fixed-point with integer floor-division only — bit-exact in any
    * engine, and summable across terms in any order (the same trick as
    * [[lmScore]]'s probability sums):
    *
    *  - `dlr_fp  = (dl·1000·N) div T`                 ≈ 1000·dl/avgdl
    *  - `idf_fp  = ((2(N−df)+1)·10^6) div (2df+1)`    ≈ 10^6·idf-ratio
    *  - `tfc_fp  = (22000·tf·10^5) div (10000·tf + 3000 + 9·dlr_fp)`
    *                                                   ≈ 10^5·tf-component
    *  - `score_fp = idf_fp·tfc_fp` (scale 10^11), summed exactly per doc.
    *
    * Headroom: idf_fp·tfc_fp < 9.2·10^18 up to N ≈ 10^8 docs; beyond
    * that drop the idf scale a decade per two decades of corpus growth.
    *
    * Plan shape: the (doc_id, tok, tf) aggregate is partial-agg'd
    * map-side; the query-term table is a broadcast literal; df is a
    * vocabulary-sized aggregate joined on term; N and T attach as a
    * broadcast 1-row frame (no driver collect); the final top-k cut is a
    * window partitioned BY QUERY — bounded by k·|queries| rows out, and
    * each query partition holds only docs that matched ≥1 term.
    */
  /** Fixed retrieval query set over the synthetic corpus vocabulary —
    * the `bm25_topk` driver-contract queries.
    */
  val DefaultRetrievalQueries: Seq[(String, Seq[String])] = Seq(
    "q_hash_join" -> Seq("hash", "join"),
    "q_sort_merge" -> Seq("sort", "merge"),
    "q_stream_window" -> Seq("stream", "window", "agg"))

  def bm25TopK(docs: DataFrame,
               queries: Seq[(String, Seq[String])],
               k: Int = 5,
               textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val qdf = broadcast(
      queries.flatMap { case (q, ts) => ts.map(t => (q, t)) }
        .toDF("query_id", "tok"))
    val tf = docs
      .select(col("doc_id"),
        explode(split(lower(col(textCol)), " ")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Round 14 (guide §2.3 shuffle fewer bytes): only the QUERY TERMS'
    // document frequencies ever reach the scoring join, so df is
    // computed over the query-filtered tf slice — ≤ |distinct query
    // terms| rows, broadcastable at any corpus size — instead of a
    // vocabulary-sized aggregate + vocabulary-keyed join. And the
    // corpus token total is Σ tf over the already-persisted tf frame
    // (bit-identical to counting the exploded stream), so the second
    // full tokenize scan the old `corpus` frame paid is gone.
    val dfreq = tf
      .join(broadcast(qdf.select("tok").distinct()), Seq("tok"))
      .groupBy("tok").agg(count(lit(1)).as("df"))
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
    val corpus = docs.agg(count(lit(1)).as("_n"))
      .crossJoin(tf.agg(coalesce(sum("tf"), lit(0L)).as("_tt")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(desc("score_fp"), asc("doc_id"))
    tf.join(qdf, Seq("tok"))
      .join(broadcast(dfreq), Seq("tok"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(corpus))
      .withColumn("_dlr_fp", expr("(dl * 1000L * _n) DIV _tt"))
      .withColumn("_idf_fp",
        expr("((2L * (_n - df) + 1L) * 1000000L) DIV (2L * df + 1L)"))
      .withColumn("_tfc_fp",
        expr("(22000L * tf * 100000L) DIV " +
          "(10000L * tf + 3000L + 9L * _dlr_fp)"))
      .groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("n_terms"),
        sum(expr("_idf_fp * _tfc_fp")).as("score_fp"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("n_terms").cast("long").as("n_terms"), col("score_fp"),
        (col("score_fp").cast("double") / lit(1e11)).as("score"))
  }

  /** Inverted index over the corpus: one row per term with document
    * frequency, total term frequency, and a BOUNDED posting list — the
    * `maxPostings` highest-tf documents serialized `doc:tf;…` (tf desc,
    * doc_id asc). The structure behind [[bm25TopK]] made materializable:
    * build once, range-partition by term, and point-lookups become
    * parquet row-group hits.
    *
    * The posting-list cut uses [[graft.functions.TopKAggregator]] — a
    * bounded-memory partial-aggregated top-k, NOT a window sort, so a
    * stopword term with 10^9 postings costs O(n log k) map-side work
    * instead of a full per-term shuffle sort (the same window-vs-
    * aggregator contrast as `topk_per_category{,_agg}`). Doc ids ride
    * through the aggregator zero-padded to 12 digits so the tie-break
    * orders numerically, and are stripped on output.
    */
  def invertedIndex(docs: DataFrame, maxPostings: Int = 5,
                    textCol: String = "text"): DataFrame = {
    val tf = docs
      .select(col("doc_id"),
        explode(split(lower(col(textCol)), " ")).as("tok"))
      .groupBy("tok", "doc_id").agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val stats = tf.groupBy("tok").agg(count(lit(1)).as("df"),
      sum("tf").as("total_tf"))
    val top = graft.functions.TopKAggregator.topKPerGroup(
      tf.select(col("tok"), col("tf").cast("double").as("score"),
        lpad(col("doc_id").cast("string"), 12, "0").as("payload")),
      "tok", "score", "payload", maxPostings)
    stats.join(postingsFromTopK(top, "tok"), Seq("tok"))
      .select(col("tok").as("term"), col("df"), col("total_tf"),
        col("postings"))
  }

  /** The posting-list serialization shared by [[invertedIndex]],
    * [[invertedIndexMerge]] and the streaming index — ONE definition on
    * purpose: the 'doc:tf;…' rk-ordered string IS the merge law's
    * contract, so a format tweak must hit every producer at once
    * (review: this block was previously duplicated verbatim).
    * collect_list order is partition-arbitrary; rk (1..k, unique per
    * group) rides in struct position 0 so array_sort rebuilds the total
    * order before the join to a string.
    */
  private def postingsFromTopK(top: DataFrame,
                               groupCol: String): DataFrame =
    top.select(col(groupCol), struct(col("rk").as("rk"),
        concat_ws(":", col("payload").cast("long").cast("string"),
          col("score").cast("long").cast("string")).as("entry")).as("_e"))
      .groupBy(groupCol)
      .agg(array_join(transform(array_sort(collect_list(col("_e"))),
        e => e.getField("entry")), ";").as("postings"))

  /** Merge two [[invertedIndex]] results built over DISJOINT document
    * sets into the index of the union — the incremental-maintenance law
    * that lets a corpus index absorb a new batch without a full rebuild.
    * Term stats add (disjointness makes df additive); the capped posting
    * lists re-cut exactly because bounded top-k under a total order is a
    * mergeable summary (each side kept its local top-k, and the union's
    * top-k is a subset of the two top-k's — same argument as
    * [[graft.functions.TopKAggregator]]'s partial buffers). Proven
    * merge(index(A), index(B)) == index(A ∪ B) in TextOpsSpec AND via
    * the `inverted_index_merged` driver query, which shares the full
    * index's oracle.
    */
  def invertedIndexMerge(a: DataFrame, b: DataFrame,
                         maxPostings: Int = 5): DataFrame = {
    // Consumed twice below (stats + posting re-cut); uncheckpointed,
    // both consumers re-ran the two upstream index builds (round 13:
    // 3.1 s → 2.8 s on the registry row). Vocabulary-sized rows.
    val u = a.unionAll(b).localCheckpoint()
    val stats = u.groupBy("term").agg(sum("df").as("df"),
      sum("total_tf").as("total_tf"))
    val entries = u.select(col("term"),
        explode(split(col("postings"), ";")).as("_e"))
      .select(col("term"),
        split(col("_e"), ":").getItem(1).cast("double").as("score"),
        lpad(split(col("_e"), ":").getItem(0), 12, "0").as("payload"))
    val top = graft.functions.TopKAggregator.topKPerGroup(
      entries, "term", "score", "payload", maxPostings)
    stats.join(postingsFromTopK(top, "term"), Seq("term"))
      .select(col("term"), col("df"), col("total_tf"), col("postings"))
  }

  /** Windowed co-occurrence + PMI-surrogate association scores: for every
    * ordered token pair (x, y) with y within `window` positions after x,
    * count co-occurrences and score association as the pointwise mutual
    * information RATIO `(c_xy · n_pairs) / (c_x · c_y)` — PMI without its
    * logarithm (same ordering, and `ln` is not portably rounded; see
    * [[topTerms]]). The score is emitted fixed-point
    * (`(c_xy·n_pairs·10^6) div (c_x·c_y)`) plus a single-IEEE-division
    * double twin. The word-embedding / collocation-mining primitive.
    *
    * Plan: positions explode into (pos, tok) pairs joined per doc on a
    * position-offset equi-join (offset ∈ [1, window] — `window` copies,
    * NOT a range join), then two vocabulary-sized aggregates; margins
    * join back on x and y. Only pairs with `c_xy ≥ minCount` survive to
    * the output (collocation mining's support threshold), keeping the
    * result vocabulary²-bounded in theory but support-bounded in
    * practice.
    */
  def pmiCooccur(docs: DataFrame, window: Int = 2, minCount: Long = 50,
                 textCol: String = "text"): DataFrame = {
    // Pair generation is WITHIN-ROW array work (each pair's members live
    // in the same document), so it needs no join at all: a higher-order
    // transform pairs every token with its next `window` neighbors via
    // slice — the same delete-the-shuffle move as TokenNgrams' shingle
    // build. The first version exploded positions and self-joined on a
    // position-offset key: one extra shuffle of 2·corpus-tokens rows
    // that this form simply doesn't have.
    val pairs = docs
      .select(split(lower(col(textCol)), " ").as("_toks"))
      .select(explode(expr(
        s"flatten(transform(_toks, (x, i) -> " +
          s"transform(slice(_toks, i + 2, $window), " +
          "y -> struct(x, y))))")).as("_p"))
      .select(col("_p.x").as("x"), col("_p.y").as("y"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cxy = pairs.groupBy("x", "y").agg(count(lit(1)).as("c_xy"))
    val cx = pairs.groupBy("x").agg(count(lit(1)).as("c_x"))
    val cy = pairs.groupBy("y").agg(count(lit(1)).as("c_y"))
    val n = pairs.agg(count(lit(1)).as("_np"))
    cxy.where(col("c_xy") >= minCount)
      .join(cx, Seq("x")).join(cy, Seq("y"))
      .crossJoin(broadcast(n))
      .select(col("x"), col("y"), col("c_xy"), col("c_x"), col("c_y"),
        expr("(c_xy * _np * 1000000L) DIV (c_x * c_y)").as("pmi_fp"),
        (col("c_xy").cast("double") * col("_np") /
          (col("c_x").cast("double") * col("c_y"))).as("pmi_ratio"))
  }

  /** Deterministic weighted sample without replacement — sequential
    * Poisson sampling (Ohlsson): each document draws a uniform hash
    * `h`, its priority is `h / weight`, and the k SMALLEST priorities
    * win, so heavier documents (more tokens) are proportionally more
    * likely to be kept. The "uniform" is the first 12 md5 nibbles of
    * the doc id — reproducible across engines and runs (a seeded
    * sample, not `rand()`), and the single `h/w` IEEE division is
    * portable. The k-cut is `TakeOrdered` under the (priority, doc_id)
    * total order: k rows cross the wire per partition, never a global
    * sort. Null-text / token-less documents are excluded (no weight).
    */
  def weightedSample(docs: DataFrame, k: Int = 50,
                     textCol: String = "text"): DataFrame =
    splitLengths(docs, textCol)
      .where(col("n_tokens") > 0)
      .withColumn("_h",
        expr("conv(substring(md5(cast(doc_id as string)), 1, 12), 16, 10)")
          .cast("long"))
      .withColumn("priority",
        col("_h").cast("double") / col("n_tokens"))
      .orderBy("priority", "doc_id")
      .limit(k)
      .select(col("doc_id"), col("n_tokens"), col("priority"))

  /** Per-source distribution drift: total-variation distance between each
    * source's token distribution and the whole corpus's — the mixture
    * monitor a multi-source training pipeline watches to catch one feed
    * going off-distribution (scraper broke, new domain dominating).
    * TV = ½·Σ_t |p_s(t) − p(t)|, computed in parts-per-million
    * fixed-point with integer floor-division only, summed exactly
    * (order-free), finished by one IEEE division — the same portability
    * discipline as [[lmScore]]. The densification cross join is
    * |sources| × |vocabulary| — vocabulary-bounded, not corpus-bounded —
    * so absent terms correctly contribute |0 − p(t)|.
    */
  def sourceDrift(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val toks = docs.select(col("source"),
        explode(split(lower(col(textCol)), " ")).as("tok"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val st = toks.groupBy("source", "tok").agg(count(lit(1)).as("c_st"))
    val t = toks.groupBy("tok").agg(count(lit(1)).as("c_t"))
    val ns = toks.groupBy("source").agg(count(lit(1)).as("n_s"))
    val n = toks.agg(count(lit(1)).as("_n"))
    broadcast(ns).crossJoin(t)
      .join(st, Seq("source", "tok"), "left")
      .withColumn("c_st", coalesce(col("c_st"), lit(0L)))
      .crossJoin(broadcast(n))
      .withColumn("_a", expr("(c_st * 1000000L) DIV n_s"))
      .withColumn("_b", expr("(c_t * 1000000L) DIV _n"))
      .groupBy("source")
      .agg(max("n_s").as("n_tokens"), count(lit(1)).as("n_terms"),
        sum(abs(col("_a") - col("_b"))).as("tv_fp"))
      .withColumn("tv", col("tv_fp").cast("double") / 2000000.0)
  }

  /** Temperature-scaled source mixing weights — the multinomial
    * up-sampling scheme multilingual/multi-source training runs use to
    * keep large sources from drowning small ones: p_s ∝ n_s^(1/T).
    * This is the T = 2 (square-root) instance, the common default, kept
    * EXACT across engines by fixed-point arithmetic: `sqrt` of an
    * integer-valued double is correctly rounded in IEEE-754 (identical
    * in the JVM and C), one multiply + floor lands it in BIGINT, and
    * every division after that is integer floor-division. No
    * order-dependent float sum anywhere.
    *
    * Output per source: document count, fixed-point weight, sampling
    * probability in ppm, and the expected per-epoch document draw.
    *
    * Scale: a |sources|-row aggregate (map-side combined) plus one
    * broadcast one-row total — nothing here grows with the corpus.
    */
  def sourceTemperature(docs: DataFrame): DataFrame =
    sourceTemperatureFromCounts(
      docs.groupBy("source").agg(count(lit(1)).as("n_docs")))

  /** [[sourceTemperature]] from an already-aggregated (source, n_docs)
    * frame — the form an EPOCH-ADVANCE quota re-derivation calls
    * ([[graft.operators.Epoch]]): per-source counts are a
    * corpus-version artifact plus a batch-sized delta, so the quota
    * arithmetic never re-scans the corpus. Identical fixed-point
    * arithmetic, identical output.
    */
  def sourceTemperatureFromCounts(counts: DataFrame): DataFrame = {
    val perSource = counts.select(col("source"), col("n_docs"))
      .withColumn("weight_fp",
        floor(sqrt(col("n_docs").cast("double")) * lit(1000000L))
          .cast("long"))
    val totals = perSource.agg(sum("weight_fp").as("_tot"),
      sum("n_docs").as("_n"))
    perSource.crossJoin(broadcast(totals))
      .select(col("source"), col("n_docs"), col("weight_fp"),
        expr("weight_fp * 1000000L DIV _tot").as("p_ppm"),
        expr("(weight_fp * 1000000L DIV _tot) * _n DIV 1000000L")
          .as("expected_docs"))
      .orderBy("source")
  }

  /** Per-source z-score normalization of document length — the
    * "standardize a feature within its stratum" transform (outlier
    * trimming, per-source length curricula). Fixed-point throughout:
    * per-source integer moment sums (n, Σx, Σx²) are exact in BIGINT,
    * the population-σ scale factor floor(√(n·Σx² − (Σx)²)) is one
    * correctly-rounded IEEE sqrt of an integer, and the z-score ships
    * as ppm with sign and magnitude divided separately (truncation
    * direction of negative integer division differs across engines;
    * |·| DIV then re-sign does not). z_ppm/1e6 = (x − μ)/σ exactly to
    * the fixed-point floor.
    *
    * Scale: one |sources|-row aggregate broadcast back against the
    * corpus — no window, no per-doc shuffle; the join is a codegen'd
    * broadcast hash join and the whole operator is one corpus pass.
    * Integer headroom: n·Σx² stays < 2^53 through ~10⁸ docs/source at
    * these lengths; past that, widen the moments to DECIMAL(38,0).
    */
  def zscoreBySource(docs: DataFrame): DataFrame = {
    val stats = docs.groupBy("source").agg(
        count(lit(1)).as("_n"), sum("n_chars").as("_s1"),
        sum(col("n_chars") * col("n_chars")).as("_s2"))
      .withColumn("_sd_fp",
        floor(sqrt((col("_n") * col("_s2") - col("_s1") * col("_s1"))
          .cast("double"))).cast("long"))
      .select("source", "_n", "_s1", "_sd_fp")
    docs.join(broadcast(stats), Seq("source"))
      .withColumn("_num", col("n_chars") * col("_n") - col("_s1"))
      .select(col("doc_id"), col("source"), col("n_chars"),
        when(col("_sd_fp") === 0, lit(0L))
          .otherwise(signum(col("_num")).cast("long") *
            expr("abs(_num) * 1000000L DIV _sd_fp")).as("z_ppm"))
      .orderBy("doc_id")
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020): rank every
    * document within its language by a language-model score and cut the
    * ranking into head/middle/tail terciles — the standard "keep the
    * head, maybe the middle, drop the tail" curation gate. The score is
    * [[lmScore]]'s fixed-point bigram probability (truncated integer
    * average, so ordering is exact and portable); documents with no
    * bigrams score −1 and sink to the tail deterministically; `ntile`
    * runs under a total order (score desc, doc_id).
    *
    * Scale: the LM model tables are vocabulary-sized; the tercile
    * window is PARTITIONED by language — per-language range sort, never
    * a global one.
    */
  def ccnetBuckets(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val scored = lmScore(docs, textCol = textCol)
      .select(col("doc_id"),
        when(col("n_bigrams") === 0, lit(-1L))
          .otherwise(expr("prob_fp_sum DIV n_bigrams")).as("score_fp"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(desc("score_fp"), col("doc_id"))
    docs.select("doc_id", "lang").join(scored, Seq("doc_id"))
      .withColumn("_t", ntile(3).over(w))
      .select(col("doc_id"), col("lang"), col("score_fp"),
        when(col("_t") === 1, lit("head"))
          .when(col("_t") === 2, lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
      .orderBy("doc_id")
  }

  /** Narrow per-document stats manifest — (doc_id, source, n_tokens,
    * quality_score) in ONE codegen'd text pass (zero shuffle, zero
    * join): the frame every downstream mixing/quota/rank stage should
    * consume instead of re-deriving quality from raw text. This is the
    * repo's "text never crosses an exchange" rule made into an
    * interface: compute the manifest where the text lives, join
    * everything after it on 8-byte keys. Built after SCALING.md batch
    * 18b measured the composed chain's mix stage re-joining raw text
    * across a sort-merge exchange at sf1000 (×200 shuffle growth once
    * the survivor set outgrew the broadcast threshold).
    */
  def docStatsManifest(docs: DataFrame, textCol: String = "text")
      : DataFrame =
    qualityScore(tokenStats(docs, textCol, keep = Seq("source")))
      .select("doc_id", "source", "n_tokens", "quality_score")

  /** The FUSED per-document scalar pass of the composed production
    * chains (round 14, VERDICT r13 item 1 / guide §6 read-once): every
    * per-doc, non-exploding text signal the curate→mix→pack chain
    * consumes, computed in ONE projection over ONE scan — where the
    * composed form paid a separate scan + tokenization per gate
    * (quality stats, exact-dedup fingerprint, length-band tokens,
    * coverage denominator, pack length ≈ 5 corpus text passes).
    * Each column selects the same named definition the standalone
    * operator uses, so the fused chain's output is bit-identical:
    *  - `n_tokens`, `quality_score`: the [[tokenSummary]] columns
    *    [[tokenStats]] reads, then [[qualityScore]] itself,
    *  - `fingerprint`: [[fingerprint]] (the [[graft.operators.Dedup
    *    .exactDedup]] key),
    *  - `n_tok_split`: [[splitTokenCount]], the length of
    *    [[lengthBandFilterByLen]] / [[lengthBandBoundsByLen]] /
    *    [[packSequencesByLen]],
    *  - `n_tok_cov`: [[coverageTokenCount]], the
    *    [[graft.operators.Dedup.duplicateSpanCoverage]] denominator.
    * Callers `localCheckpoint` the result (doc-count-sized narrow rows)
    * so every gate join reads it instead of re-scanning corpus text.
    */
  private[graft] def curationDocSignals(docs: DataFrame,
                                        textCol: String = "text")
      : DataFrame =
    qualityScore(docs
      .select(col("doc_id"), col("source"), col(textCol),
        tokenSummary(col(textCol)))
      .select(col("doc_id"), col("source"),
        summaryTokens, summaryStopwordRatio, summaryDistinctRatio,
        fingerprint(col(textCol)).as("fingerprint"),
        splitTokenCount(col(textCol)).as("n_tok_split"),
        coverageTokenCount(col(textCol)).as("n_tok_cov")))
      .select("doc_id", "source", "n_tokens", "quality_score",
        "fingerprint", "n_tok_split", "n_tok_cov")

  /** The FUSED token-explode pass of the composed production chains
    * (round 14, the explode half of [[curationDocSignals]]): [[langIdAgg]]'s
    * per-language stopword hits and [[classifierScore]]'s hashed-feature
    * logit ride ONE `explode(split(lower(text), " "))` and ONE
    * (doc_id) hash aggregate — the two standalone gates each paid their
    * own text scan, tokenize, explode and exchange over the identical
    * token stream ([[tokens]] IS `split(_, " ")`).
    *
    * Gate equivalence: `pred_lang` is [[withPredLang]] over the same
    * [[langHitSums]]; `clf_keep` is [[classifierScore]]'s
    * `logit_fp > 0` over the same [[featWeight]] — for a null-text
    * document the outer explode's
    * single null token contributes 0 hits and a null weight sum
    * (`featBucket(null)` is null, sum skips it, coalesce restores the
    * standalone left-join's 0), so both gates reject exactly the same
    * documents.
    */
  private[graft] def langClassifierGate(docs: DataFrame,
                                        textCol: String = "text")
      : DataFrame = {
    val toks = docs.select(col("doc_id"),
      explode_outer(tokens(lower(col(textCol)))).as("tok"))
    val agg = toks.groupBy("doc_id").agg(langHitSums.head,
      langHitSums.tail :+
        coalesce(sum(featWeight(col("tok"))), lit(0L)).as("logit_fp"): _*)
    withPredLang(agg)
      .select(col("doc_id"), col("pred_lang"),
        (col("logit_fp") > 0L).as("clf_keep"))
  }

  /** Training-epoch manifest: the end-to-end mixing endpoint that turns
    * [[sourceTemperature]]'s per-source expected document draws into an
    * actual document list — per source, the `expected_docs` BEST
    * documents by quality score (doc_id tiebreak). This is the frame a
    * training run reads: temperature flattening decides HOW MANY from
    * each source, the quality ranking decides WHICH.
    *
    * Scale: the quota frame is |sources| rows and broadcasts; the
    * ranking window is source-partitioned (never global); the quota cut
    * is a pushed filter on the ranked rows. One corpus-sized shuffle
    * total (the window's partition-by-source) — and the shuffled rows
    * are the NARROW manifest, never the text: the text column dies at
    * the [[docStatsManifest]] scan.
    */
  def mixManifest(docs: DataFrame): DataFrame =
    mixManifestFromStats(docStatsManifest(docs))

  /** [[mixManifest]] from an already-computed [[docStatsManifest]]
    * frame — the form composed pipelines call so the manifest is
    * computed ONCE per corpus and every mixing join runs on narrow
    * columns (the ×200-shuffle fix, VERDICT r10 item 1).
    */
  def mixManifestFromStats(stats: DataFrame): DataFrame = {
    val quotas = sourceTemperature(stats).select("source", "expected_docs")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(desc("quality_score"), asc("doc_id"))
    stats.select("doc_id", "source", "quality_score")
      .withColumn("rk", row_number().over(w).cast("long"))
      .join(broadcast(quotas), Seq("source"))
      .where(col("rk") <= col("expected_docs"))
      .select(col("doc_id"), col("source"), col("quality_score"), col("rk"))
      .orderBy("doc_id")
  }

  /** Global equi-width length histogram: `bins` fixed-width buckets
    * between the corpus min and max character counts — the quick-look
    * distribution profile (contrast [[tokenDeciles]], the equi-depth
    * twin). Bin assignment is pure integer arithmetic against the
    * broadcast one-row (min, max) frame, so the histogram needs no sort
    * at all: one corpus pass, one ≤`bins`-row hash aggregate.
    */
  def lengthHistogram(docs: DataFrame, bins: Int = 16): DataFrame = {
    val mm = docs.agg(min("n_chars").as("_lo"), max("n_chars").as("_hi"))
    docs.crossJoin(broadcast(mm))
      .withColumn("bin",
        expr(s"least(${bins - 1}L, (n_chars - _lo) * ${bins}L " +
          "DIV (_hi - _lo + 1))"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"),
        min("n_chars").as("min_chars"), max("n_chars").as("max_chars"))
      .orderBy("bin")
  }

  // Small per-language stopword lists for the heuristic. Deliberately tiny:
  // the point is the (portable, codegen'd) mechanism, not lexicon coverage.
  val EnStopwords = Seq("the", "a", "of", "and", "to", "in", "is", "it")
  val DeStopwords = Seq("der", "die", "das", "und", "ist", "mit", "ein", "zu")
  val FrStopwords = Seq("le", "la", "les", "et", "est", "une", "dans", "que")
  val EsStopwords = Seq("el", "los", "las", "y", "es", "una", "en", "por")
}
