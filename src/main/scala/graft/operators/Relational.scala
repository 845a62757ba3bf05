package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference pipeline's relational surface (SURVEY.md §2.2-2.6),
  * re-expressed as pure `DataFrame => DataFrame` operators built only from
  * Catalyst column expressions — everything stays inside whole-stage
  * codegen; no UDFs, no RDDs, no driver-side loops.
  *
  * Two numeric modes coexist deliberately:
  *  - reference parity (this file): `DoubleType` + `bround` (pandas float64
  *    + banker's rounding, /root/reference/app.py:133,140,146,150);
  *  - oracle determinism ([[graft.SparkEntry]]): exact DECIMAL sums, so
  *    results are bit-stable across partition counts and engines.
  */
object Relational {

  /** Customer packed-record parser, P1-P9 + F1-F6
    * (/root/reference/app.py:93-107).
    *
    * `{id_name_email_dob_address_created}` → 6 string columns. Malformed
    * lines (no braces, wrong arity) are dropped — the reference's
    * try/except + predicate semantics (app.py:95-104). The `"|"`
    * join+resplit identity (app.py:101-102) is preserved: a field
    * containing `|` shifts columns exactly as the reference would.
    *
    * @param lineCol column holding the raw packed line
    * @param passthrough columns to carry along (e.g. a row index for CDC
    *                    ordering — see [[graft.state.StateStore]])
    */
  def parseCustomers(raw: DataFrame, lineCol: String,
                     passthrough: Seq[String] = Nil): DataFrame = {
    val line = trim(col(lineCol).cast(StringType))             // P2/F1
    val kept = raw
      .withColumn("_line", line)
      .where(col("_line").startsWith("{") &&
             col("_line").endsWith("}"))                       // P3/F2
      .withColumn("_content",
        expr("substring(_line, 2, length(_line) - 2)"))        // P4/F3
      .withColumn("_parts", split(col("_content"), "_", 6))    // P5/F4
      .where(size(col("_parts")) === 6)                        // P6
      // P7 (app.py:101-102): "|".join(parts).split("|") — identity unless a
      // field contains "|", in which case columns shift (kept faithfully).
      .withColumn("_parts", split(concat_ws("|", col("_parts")), "\\|"))
    val fields = Seq("customer_id", "name", "email", "dob",
                     "address", "created_date")                // P9, lowercase
    kept.select(passthrough.map(col) ++
      fields.zipWithIndex.map { case (f, i) =>
        col("_parts").getItem(i).as(f) }: _*)
  }

  /** Header promotion + lowercase, P10-P11 (app.py:126-129): row with the
    * minimum `idxCol` becomes the column names; remaining rows are data.
    * The single-row `head()` is the only driver-side step (same work the
    * reference does; the data itself never leaves executors).
    */
  def promoteHeader(df: DataFrame, idxCol: String = "_row_idx"): DataFrame = {
    val dataCols = df.columns.filter(_ != idxCol)
    val hdr = df.orderBy(col(idxCol)).select(dataCols.toSeq.map(col): _*).head()
    val names = dataCols.indices.map(i => headerName(hdr.get(i), i))
    val minIdx = df.agg(min(col(idxCol))).head().getLong(0)
    df.where(col(idxCol) =!= minIdx)
      .select(dataCols.toSeq.zip(names).map { case (c, n) =>
        col(c).as(n) } :+ col(idxCol): _*)
  }

  /** P11 naming rule for header cell `i`: lowercased, or `_c$i` when the
    * cell is empty. Shared by [[promoteHeader]] and the driver-side
    * promotion of an already-parsed workbook sheet in
    * [[graft.Pipeline.runBatch]].
    */
  def headerName(cell: Any, i: Int): String =
    Option(cell).map(_.toString.toLowerCase).getOrElse(s"_c$i")

  /** J1 + J2 (app.py:131-132): transactions ⋈ products (m:1 — the dim is
    * tiny, so it is broadcast: no shuffle of the fact table), then
    * ⋈ customers *without deduplication* — duplicate customer ids fan out
    * matching transactions (m:m), which is load-bearing reference behavior
    * (SURVEY.md §7.4.2): totals of duplicated customers are inflated.
    */
  def enrich(transactions: DataFrame, products: DataFrame,
             customers: DataFrame): DataFrame =
    transactions
      .join(broadcast(products), Seq("product_code"), "inner")   // J1
      .join(customers, Seq("customer_id"), "inner")              // J2 (m:m)

  /** P12/F7 (app.py:133): null-coercing numeric cast — unparseable amounts
    * become null and are ignored by `sum`, exactly like
    * `pd.to_numeric(errors='coerce')`. `try_cast`, not `cast`: under
    * Spark 4's default ANSI mode a plain cast would *fail* the batch on
    * the first malformed value instead of coercing it.
    */
  def castAmount(df: DataFrame, c: String = "amount"): DataFrame =
    df.withColumn(c, expr(s"try_cast($c AS DOUBLE)"))

  /** A1 (app.py:136): per-(customer, name, category) total. */
  def categoryTotals(merged: DataFrame): DataFrame =
    merged.groupBy("customer_id", "name", "category")
      .agg(sum("amount").as("amount"))

  /** A2 + F8 + W1 + F10 + O1 (app.py:139-142): customer totals, banker's
    * rounding to 2dp, global dense rank (desc) on the *rounded* value, sort
    * by rank.
    *
    * Path selection: the scale-safe [[twoPhaseDenseRank]] (no unpartitioned
    * window anywhere) is the default, but its extra machinery costs ~1.8×
    * at small scale — so when the caller can bound the rank-input row count
    * (one row per customer; e.g. the customer dimension's parquet row
    * count) and it fits comfortably in one window task, the direct
    * [[summaryRankedWindow]] W1 form is used instead. Both forms produce
    * the identical relation (same oracle SQL; equality-tested in
    * RelationalSpec).
    *
    * @param estimatedKeys upper bound on distinct (customer_id, name) rows
    *                      entering the rank, if cheaply known; `None`
    *                      (unknown) assumes large and takes the scale path.
    */
  def summaryRanked(categoryTotals: DataFrame,
                    estimatedKeys: Option[Long] = None): DataFrame =
    if (estimatedKeys.exists(_ <= WindowRankMaxRows))
      summaryRankedWindow(categoryTotals)
    else
      twoPhaseDenseRank(
          categoryTotals.groupBy("customer_id", "name")
            .agg(bround(sum("amount"), 2).as("amount")))
        .select(col("customer_id"), col("name"), col("amount"), col("rank"))
        .orderBy("rank", "customer_id")

  /** Above this many rank-input rows the single-task W1 window becomes the
    * bottleneck and [[twoPhaseDenseRank]] takes over.
    */
  val WindowRankMaxRows: Long = 1000000L

  /** The literal W1 mapping (app.py:141): one global `dense_rank` window.
    * Correct at any scale but a single sorted task — fine while the input
    * is one row per customer, a cliff at 100 TB customer dimensions.
    */
  def summaryRankedWindow(categoryTotals: DataFrame): DataFrame =
    categoryTotals.groupBy("customer_id", "name")
      .agg(bround(sum("amount"), 2).as("amount"))
      .withColumn("rank",
        dense_rank().over(Window.orderBy(desc("amount"))).cast(IntegerType))
      .orderBy("rank", "customer_id")

  /** Scale-path dense rank with NO unpartitioned window (SURVEY.md §7.4.8:
    * range-partitioned sort + cumulative offsets).
    *
    * Phase 1 ranks only the *distinct* values: range-partition them by
    * descending value, `row_number` within each range partition (a
    * partitioned window — distinct values make row_number ≡ dense_rank),
    * then add each partition's cumulative offset. The offsets are a prefix
    * sum over per-partition counts — ≤ `partitions` numbers, bounded by
    * cluster configuration rather than data size, so the driver-side scan
    * is scale-safe. Phase 2 broadcast-joins the small (value → rank)
    * relation back onto the totals.
    *
    * Re-execution of the shared subtree is deterministic: RangePartitioner
    * samples with a fixed per-partition seed over a deterministic input,
    * so partition ids and counts agree across the count job and the
    * join-back job.
    */
  def twoPhaseDenseRank(totals0: DataFrame, valueCol: String = "amount",
                        rankCol: String = "rank",
                        partitions: Int = 32): DataFrame = {
    // The totals are small (one row per group key) but carry the full
    // upstream pipeline as lineage, and this rank references them four
    // times (probe, distinct, both offset sides). Persisting collapses
    // those into one materialization — the same contract as
    // Dedup.nearDupPairs' shingle frame: the caller clears the session
    // cache after materializing when invoking in a loop (Bench/Verify do).
    // At cluster scale this is precisely the relation you'd materialize
    // before ranking.
    val totals = totals0.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val local = totals.select(valueCol).distinct()
      .repartitionByRange(partitions, desc(valueCol))
      .withColumn("_pid", spark_partition_id())
      .withColumn("_lrn", row_number().over(
        Window.partitionBy("_pid").orderBy(desc(valueCol))))
    // Prefix offsets over the ≤ `partitions` per-partition counts, as a
    // triangular self-join (offset(p) = Σ counts of earlier partitions).
    // The broadcast nested-loop join touches ≤ partitions² ≈ 1k tuples —
    // deliberately chosen over an unpartitioned window or a driver
    // collect: the whole rank stays ONE lazy plan, so the expensive
    // upstream pipeline is executed once (exchange reuse), never
    // re-derived for a side job.
    val counts = local.groupBy("_pid").agg(count(lit(1)).as("_cnt"))
    val lookup = local.join(broadcast(prefixOffsets(counts)), Seq("_pid"))
      .withColumn(rankCol, (col("_lrn") + col("_off")).cast(IntegerType))
      .select(col(valueCol).as("_v"), col(rankCol))
    // Null-safe equality: a null total (all inputs unparseable) must keep
    // its row and rank last, exactly like the dense_rank window form
    // (desc sorts nulls last in both places).
    totals.join(broadcast(lookup), col(valueCol) <=> col("_v"))
      .drop("_v")
  }

  /** Exclusive prefix sum over per-partition counts — the shared heart of
    * every two-phase global rank/offset computation
    * ([[twoPhaseDenseRank]], [[TextOps.packSequences]],
    * [[TextOps.shuffleOrder]]): `_off(p)` = Σ `_cnt` of partitions with
    * smaller `_pid`, via a broadcast triangular self-join over ≤
    * partitions² tuples. Deliberately neither an unpartitioned window nor
    * a driver collect: the whole computation stays ONE lazy plan, so the
    * expensive upstream is executed once (exchange reuse), never
    * re-derived for a side job.
    *
    * @param counts (`_pid`, `_cnt`) — one row per partition
    * @return (`_pid`, `_off`) — exclusive prefix sums
    */
  private[operators] def prefixOffsets(counts: DataFrame): DataFrame =
    counts.as("a")
      .join(broadcast(counts.as("b")), col("b._pid") < col("a._pid"),
        "left")
      .groupBy(col("a._pid").as("_pid"))
      .agg(coalesce(sum("b._cnt"), lit(0L)).as("_off"))

  /** A3 (app.py:145-146): top spender per category. The reference's
    * `idxmax` takes the first row in A1's group-key-sorted order on ties,
    * so the tiebreak is (customer_id, name) ascending — made explicit here
    * with `row_number` (SURVEY.md §7.4.4; `max_by` would be
    * nondeterministic).
    */
  def topSpenders(categoryTotals: DataFrame): DataFrame = {
    val w = Window.partitionBy("category")
      .orderBy(desc("amount"), asc("customer_id"), asc("name"))
    categoryTotals
      .withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1)
      .drop("_rn")
      .withColumn("amount", bround(col("amount"), 2))
  }

  /** A4 (app.py:149-151): per-customer nested category detail —
    * `customer_id → list[{name, category, amount}]`, amounts rounded.
    * pandas preserves A1's (customer_id, name, category) key-sorted order,
    * so within one customer_id the record order is (name, category) — the
    * struct leads with `name` so `sort_array` reproduces that order
    * distributively, including for duplicate customer ids with differing
    * names.
    */
  /** Order-insensitive table checksum per group — the reconciliation
    * primitive for comparing a table across two systems (post-migration
    * diff, replica audit) without moving the rows: every row folds to a
    * 60-bit integer from its md5 fingerprint, and XOR aggregates them
    * commutatively, so any row-order / any partitioning yields the same
    * digest. md5 (not the engine's native hash) keeps the digest
    * PORTABLE — any engine with md5 derives the identical checksum.
    *
    * The fold takes the first 15 hex nibbles (60 bits — fits BIGINT
    * exactly, no sign issues); `conv` parses them in one codegen'd call.
    *
    * Scale: a hash-aggregate with map-side partial XOR — one narrow
    * shuffle row per group per mapper, regardless of table size.
    */
  def tableChecksum(df: DataFrame, groupCol: String,
                    cols: Seq[Column]): DataFrame =
    df.select(col(groupCol),
        conv(substring(md5(concat_ws("|", cols: _*)), 1, 15), 16, 10)
          .cast("long").as("_h"))
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n_rows"),
        expr("bit_xor(_h)").as("checksum"))
      .orderBy(groupCol)

  def nestDetails(categoryTotals: DataFrame): DataFrame =
    categoryTotals
      .withColumn("amount", bround(col("amount"), 2))
      .groupBy("customer_id")
      .agg(sort_array(collect_list(struct(
        col("name"), col("category"), col("amount")))).as("details"))
}
