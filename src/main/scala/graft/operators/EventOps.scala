package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream operators: the set-based CDC core (W2/J3 of SURVEY.md §2),
  * event-time tumbling windows, and gap-based sessionization. All are
  * batch-expressible; [[graft.streaming.StreamingPipeline]] runs the same
  * windowed aggregation incrementally with a watermark.
  *
  * Ordering keys are epoch *milliseconds* (`unix_millis`), not raw
  * timestamps: the source parquet stores nanosecond timestamps, and
  * millisecond keys make window ordering identical across engines that
  * keep different sub-microsecond precision.
  */
object EventOps {

  /** Event time in epoch millis, tolerant of every reading the source
    * parquet has shipped with: LongType (nanos, when
    * `spark.sql.legacy.parquet.nanosAsLong=true` applied), TIMESTAMP_NTZ
    * (parquet TIMESTAMP with isAdjustedToUTC=false — the current
    * testdata), or plain TIMESTAMP. The session timezone is pinned UTC by
    * every entry point, so casting NTZ→TIMESTAMP preserves the instant
    * and matches DuckDB's `epoch_ms(ts)` on the same file.
    */
  private[graft] def eventMs(df: DataFrame, tsCol: String = "ts"):
      org.apache.spark.sql.Column =
    df.schema(tsCol).dataType match {
      case org.apache.spark.sql.types.LongType =>
        expr(s"$tsCol div 1000000")
      case org.apache.spark.sql.types.TimestampNTZType =>
        unix_millis(col(tsCol).cast("timestamp"))
      case _ => unix_millis(col(tsCol))
    }

  /** Event time as a (microsecond) TimestampType column for `window()`,
    * tolerant of the same three readings as [[eventMs]].
    */
  private[graft] def eventTs(df: DataFrame, tsCol: String = "ts"):
      org.apache.spark.sql.Column =
    df.schema(tsCol).dataType match {
      case org.apache.spark.sql.types.LongType =>
        timestamp_micros(expr(s"$tsCol div 1000"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        col(tsCol).cast("timestamp")
      case _ => col(tsCol)
    }

  /** W2 (SURVEY.md §2.5): per-key value-change capture — the set-based form
    * of the reference's per-row CDC loop (/root/reference/app.py:110-116).
    * Emits one row per observed change of `valueCol` within each
    * `keyCol` partition, ordered by event time.
    *
    * Scale: one shuffle on `keyCol`; the window sort is per-key, not
    * global.
    */
  def changeCapture(events: DataFrame, keyCol: String = "user_id",
                    valueCol: String = "value"): DataFrame = {
    val w = Window.partitionBy(keyCol)
      .orderBy(eventMs(events), col("event_id"))
    events
      .withColumn("old_value", lag(col(valueCol), 1).over(w))
      .where(col("old_value").isNotNull && col("old_value") =!= col(valueCol))
      .select(col(keyCol), col("event_id"), col("old_value"),
              col(valueCol).as("new_value"))
  }

  /** The J3 change window (SURVEY.md §2.3), the one definition of
    * change capture against *persistent keyed state*: the "old" value
    * for the k-th in-batch occurrence of a key is the (k-1)-th
    * occurrence's value, or the stored state for k=1 —
    * `coalesce(lag(value) over spec, stored)` as column `_old` — and a
    * row is a change when `_old` exists and differs from its value.
    * [[statefulChangeCapture]] and
    * [[graft.state.StateStore.applyUploads]] both build on it, so the
    * `cdc_state_join` oracle checks the expression an upload runs.
    *
    * @param orderCols batch order within a key
    */
  final case class ChangeWindow(keyCol: String, valueCol: String,
                                orderCols: Seq[org.apache.spark.sql.Column]) {
    val spec: org.apache.spark.sql.expressions.WindowSpec =
      Window.partitionBy(keyCol).orderBy(orderCols: _*)

    /** `batch` left-joined to `state`'s stored value (`_stored`), plus
      * `_old`.
      *
      * @param state one row per key: (`keyCol`, `valueCol`, …)
      */
    def withOld(batch: DataFrame, state: DataFrame): DataFrame =
      batch
        .join(state.select(col(keyCol), col(valueCol).as("_stored")),
              Seq(keyCol), "left")
        .withColumn("_old",
          coalesce(lag(col(valueCol), 1).over(spec), col("_stored")))

    /** The change predicate over a [[withOld]] frame. */
    def changed: org.apache.spark.sql.Column =
      col("_old").isNotNull && col("_old") =!= col(valueCol)
  }

  /** The full J3 algebra (SURVEY.md §2.3) as a generic operator: the
    * [[ChangeWindow]]'s change rows, exposed so the algebra itself is
    * oracle-checkable.
    *
    * @param batch rows carrying `keyCol`, `valueCol`, `orderCols`, and
    *              `carryCols` to pass through
    * @param state one row per key: (`keyCol`, `valueCol`)
    */
  def statefulChangeCapture(batch: DataFrame, state: DataFrame,
                            keyCol: String, valueCol: String,
                            orderCols: Seq[org.apache.spark.sql.Column],
                            carryCols: Seq[String]): DataFrame = {
    val cdc = ChangeWindow(keyCol, valueCol, orderCols)
    cdc.withOld(batch, state)
      .where(cdc.changed)
      .select(col(keyCol) +: carryCols.map(col) :+
        col("_old").as("old_value") :+ col(valueCol).as("new_value"): _*)
  }

  /** Tumbling event-time windows via `window()` — the same plan Structured
    * Streaming uses; aggregates are exact-DECIMAL summed then rounded
    * (deterministic at any partition count).
    */
  def tumblingCounts(events: DataFrame, width: String = "1 hour"): DataFrame =
    events
      .groupBy(window(eventTs(events), width), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           cast2dp(sum(col("value").cast("decimal(18,4)"))).as("total_value"))
      .select(unix_millis(col("window.start")).as("window_start_ms"),
              col("event_type"), col("n_events"), col("total_value"))

  /** Hopping (sliding) event-time windows: width `width`, slide `slide`
    * — each event contributes to width/slide overlapping windows. Same
    * plan Structured Streaming runs incrementally; aggregation stays a
    * partial-combined hash aggregate (the explode into per-window rows
    * happens map-side, before the shuffle).
    */
  def hoppingCounts(events: DataFrame, width: String = "1 hour",
                    slide: String = "30 minutes"): DataFrame =
    events
      .groupBy(window(eventTs(events), width, slide), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           cast2dp(sum(col("value").cast("decimal(18,4)"))).as("total_value"))
      .select(unix_millis(col("window.start")).as("window_start_ms"),
              col("event_type"), col("n_events"), col("total_value"))

  /** As-of join — an operator Spark's built-ins lack: attach to each left
    * row the latest right value with `right.msCol <= left.msCol` within
    * the key (inclusive). Composed scalably as union-tag + one window
    * (`last(..., ignoreNulls)` over rows-unbounded-preceding): a single
    * shuffle on the key, no range-condition join explosion, fully
    * codegen'd — the plan survives arbitrarily long histories.
    *
    * Right rows must be unique per (key, msCol); pre-aggregate ties
    * (e.g. keep the last by a sequence column) before calling.
    */
  def asofJoin(left: DataFrame, right: DataFrame, keyCol: String,
               msCol: String, valueCol: String,
               outCol: String = "asof_value"): DataFrame = {
    val lt = left.withColumn("_side", lit(1))
    val rt = right.select(col(keyCol), col(msCol),
      col(valueCol).as("_rv"), lit(0).as("_side"))
    val all = lt.unionByName(rt, allowMissingColumns = true)
    val w = Window.partitionBy(keyCol)
      .orderBy(col(msCol), col("_side"))   // right sorts before left on ties
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    all
      .withColumn(outCol, last(col("_rv"), ignoreNulls = true).over(w))
      .where(col("_side") === 1)
      .drop("_side", "_rv")
  }

  /** Gap-based sessionization (30-min default): classic lag → new-session
    * flag → running sum = session index → per-session aggregate. Two
    * shuffles total (both on `user_id`), no global sort.
    */
  def sessionize(events: DataFrame, gapMs: Long = 30L * 60 * 1000): DataFrame = {
    val byTime = Window.partitionBy("user_id")
      .orderBy(col("ms"), col("event_id"))
    events
      .select(col("user_id"), col("event_id"), eventMs(events).as("ms"))
      .withColumn("_new", when(col("ms") - lag(col("ms"), 1).over(byTime) > gapMs
                               || lag(col("ms"), 1).over(byTime).isNull, 1)
                          .otherwise(0))
      .withColumn("session_id", sum(col("_new")).over(
        byTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(min("ms").as("session_start_ms"), max("ms").as("session_end_ms"),
           count(lit(1)).as("n_events"))
  }

  /** Most common 3-step event-type sequences across users (per-user
    * time-ordered trigrams of the event stream) — the path-mining query
    * behind funnel DISCOVERY (the funnel operator checks a given path;
    * this one finds which paths exist). Per-user lead window (partitioned
    * — no global sort), then a types³-bounded aggregate and a TakeOrdered
    * k-cut.
    */
  def eventPaths(events: DataFrame, k: Int = 10): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ms"), col("event_id"))
    events.select(col("user_id"), col("event_id"), eventMs(events).as("ms"),
        col("event_type"))
      .withColumn("_n1", lead("event_type", 1).over(w))
      .withColumn("_n2", lead("event_type", 2).over(w))
      .where(col("_n2").isNotNull)
      .groupBy(col("event_type").as("step1"), col("_n1").as("step2"),
        col("_n2").as("step3"))
      .agg(count(lit(1)).as("n_paths"))
      .orderBy(desc("n_paths"), col("step1"), col("step2"), col("step3"))
      .limit(k)
  }

  /** Per-user hourly activity spikes by the 3-sigma rule with NO
    * square root and NO division: over a user's observed hourly counts,
    * `(c − mean)² > σ²·var` cross-multiplies to the all-integer
    * `(c·n − s)² > σ²·(n·s2 − s²)` (n hours, s = Σc, s2 = Σc²) — the
    * anomaly predicate is exact 64-bit arithmetic, bit-portable where a
    * stddev-based form would hash-flake on the sqrt. Upward spikes only
    * (`c·n > s`). Two partial-agg'd aggregations and a vertex-sized
    * join; the usage-abuse / scraper-burst detector.
    *
    * Headroom (review): the largest intermediate is `(c·n − s)²` /
    * `n·s2`; both stay inside a signed 64-bit long while
    * `s·√n ≲ 3·10^9` — e.g. a year of hourly buckets (n ≤ 8760)
    * supports ~3·10^7 events per user. Past that, lift `s`/`s2` to
    * DECIMAL(38,0) (exact, still portable) — the same documented-bound
    * discipline as bm25TopK's idf scale.
    */
  def hourlySpikes(events: DataFrame, sigma: Int = 3): DataFrame = {
    val hours = events.select(col("user_id"), eventMs(events).as("ms"))
      .withColumn("_hr", expr("ms DIV 3600000"))
      .groupBy("user_id", "_hr").agg(count(lit(1)).as("c"))
    val stats = hours.groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum("c").as("s"),
        sum(expr("c * c")).as("s2"))
    hours.join(stats, Seq("user_id"))
      .where(expr("(c * n - s) * (c * n - s) > " +
          s"${sigma.toLong * sigma}L * (n * s2 - s * s)") &&
        col("c") * col("n") > col("s"))
      .select(col("user_id"), (col("_hr") * 3600000L).as("bucket_ms"),
        col("c").as("n_events"), col("n").as("n_hours"),
        col("s").as("total_events"))
  }

  /** Exponentially time-decayed activity counts per user: each event
    * contributes `2^-(age/halfLife)` with the age QUANTIZED to whole
    * half-life periods — which turns the decay weight into the exact
    * rational `1/2^h`, computable with integer shift-and-divide and
    * therefore bit-portable (a continuous `pow(2, -age/hl)` is libm —
    * the class of op the oracle rules ban). Q40 fixed-point: weight_fp
    * = 2^40 >> h, zero beyond 40 periods (guarded — a raw 64-bit shift
    * would wrap at h ≥ 64). The recency-weighted engagement score every
    * freshness-aware sampler runs; one partial-agg'd groupBy, reference
    * time = corpus max event time attached as a broadcast 1-row frame.
    */
  def decayedCounts(events: DataFrame,
                    halfLifeMs: Long = 3600000L): DataFrame = {
    val e = events.select(col("user_id"), eventMs(events).as("_ms"))
    val tmax = e.agg(max("_ms").as("_T"))
    e.crossJoin(broadcast(tmax))
      .withColumn("_h", expr(s"(_T - _ms) DIV ${halfLifeMs}L"))
      .withColumn("_wfp",
        when(col("_h") <= 40,
          expr("1099511627776L DIV shiftleft(1L, cast(_h as int))"))
          .otherwise(lit(0L)))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), sum("_wfp").as("decayed_fp"))
      .withColumn("decayed",
        col("decayed_fp").cast("double") / 1099511627776.0)
  }

  /** Interval-overlap self-join over [[sessionize]]'s session intervals:
    * every cross-user pair of sessions whose [start, end] ranges overlap
    * (inclusive endpoints), with the overlap length — concurrent-activity
    * mining, and the repo's canonical RANGE-JOIN pattern. Spark has no
    * native interval join; the naive formulation is a
    * BroadcastNestedLoopJoin (quadratic at scale). Instead each interval
    * explodes into the hour bins it touches (`sequence(a div bin,
    * b div bin)` — ceil(duration/bin) rows, a small constant for
    * gap-bounded sessions), the join becomes an EQUI-join on the bin key
    * (hash-shuffleable, AQE-skew-splittable), the exact overlap predicate
    * filters within buckets, and a `distinct` collapses pairs that share
    * several bins. Bin width trades replication (long intervals × narrow
    * bins) against bucket fan-in (short bins × dense traffic); an hour
    * fits the 30-minute-gap sessions this feeds on.
    */
  def sessionOverlapPairs(events: DataFrame,
                          gapMs: Long = 30L * 60 * 1000,
                          binMs: Long = 3600000L): DataFrame = {
    val sess = sessionize(events, gapMs)
      .select(col("user_id"), col("session_id"),
        col("session_start_ms").as("a"), col("session_end_ms").as("b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val binned = sess.withColumn("_bin",
      explode(sequence(expr(s"a DIV ${binMs}L"), expr(s"b DIV ${binMs}L"))))
    // Distinct bin column names per side: both projections share one
    // lineage, so a bare `left("_bin") === right("_bin")` would resolve
    // to the SAME attribute (trivially true) and the join would degrade
    // to a nested loop over the remaining non-equi predicates.
    val left = binned.select(col("_bin").as("_bin_l"),
      col("user_id").as("user_a"), col("session_id").as("session_a"),
      col("a").as("_la"), col("b").as("_lb"))
    val right = binned.select(col("_bin").as("_bin_r"),
      col("user_id").as("user_b"), col("session_id").as("session_b"),
      col("a").as("_ra"), col("b").as("_rb"))
    left.join(right,
        col("_bin_l") === col("_bin_r") &&
          col("user_a") < col("user_b") &&
          col("_la") <= col("_rb") && col("_ra") <= col("_lb"))
      .select(col("user_a"), col("session_a"), col("user_b"),
        col("session_b"),
        (least(col("_lb"), col("_rb")) - greatest(col("_la"), col("_ra")))
          .as("overlap_ms"))
      .distinct()
  }

  /** Spark-native sessionization via the built-in `session_window` — the
    * batch twin of [[graft.streaming.StreamingPipeline.sessionCounts]],
    * exposed with epoch-millis bounds so the built-in's gap semantics are
    * themselves oracle-checkable. A session's end is last-event time +
    * gap; window merging happens at Spark's internal MICROSECOND
    * precision, which is why the oracle compares gaps in epoch-micros,
    * not millis (the source carries sub-millisecond timestamps). The
    * merge boundary is inclusive — events exactly `gap` apart share a
    * session (measured, pinned by EventOpsSpec) — i.e. [[sessionize]]'s
    * `diff > gap` rule at micros precision.
    * One shuffle on `user_id`; session merging is per-key.
    */
  def sessionWindows(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .select(col("user_id"), eventTs(events).as("ts"))
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_millis(col("session_window.start")).as("session_start_ms"),
        unix_millis(col("session_window.end")).as("session_end_ms"),
        col("n_events"))

  /** Ordered-step funnel: step k's cohort is the users whose earliest
    * step-k event is strictly later than their step-(k-1) completion time
    * (earliest-completion semantics, so cohorts are monotone
    * non-increasing). Returns one row per step:
    * (step_idx, step, n_users).
    *
    * Scale: ONE scan of the event log and one shuffle on `user_id`. The
    * per-step completion times are chained whole-partition window mins
    * (`_t_k = min(ms where type = step_k and ms > _t_{k-1})` over the
    * user's rows) — all steps share the same window spec, so Catalyst
    * plans consecutive Window nodes over a single exchange+sort. A
    * join-per-step formulation re-derives the cohort chain for every
    * consumer (O(k²) scans — measured 12 scans at k=3); this shape keeps
    * the event log read once however deep the funnel is.
    */
  def funnel(events: DataFrame,
             steps: Seq[String] = Seq("view", "click", "purchase"))
      : DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val w = Window.partitionBy("user_id")
    val base = events.select(col("user_id"), col("event_type"),
      eventMs(events).as("ms"))
    val withTimes = steps.zipWithIndex.foldLeft(base) {
      case (df, (step, i)) =>
        val hit = col("event_type") === step &&
          (if (i == 0) lit(true) else col("ms") > col(s"_t${i - 1}"))
        df.withColumn(s"_t$i", min(when(hit, col("ms"))).over(w))
    }
    // every row of a user carries identical _t columns → one row per user
    val perUser = withTimes.groupBy("user_id").agg(
      first(col("_t0")).as("_t0"),
      steps.indices.tail.map(i => first(col(s"_t$i")).as(s"_t$i")): _*)
    val sums = perUser.agg(
      sum(col("_t0").isNotNull.cast("long")).as("_n0"),
      steps.indices.tail.map(i =>
        sum(col(s"_t$i").isNotNull.cast("long")).as(s"_n$i")): _*)
    val stepRows = array(steps.zipWithIndex.map { case (step, i) =>
      struct(lit(i.toLong).as("step_idx"), lit(step).as("step"),
        coalesce(col(s"_n$i"), lit(0L)).as("n_users"))
    }: _*)
    sums.select(explode(stepRows).as("s"))
      .select(col("s.step_idx").as("step_idx"), col("s.step").as("step"),
        col("s.n_users").as("n_users"))
      .orderBy("step_idx")
  }

  /** Weekly cohort retention: users are cohorted by the bucket (default
    * 7 days) of their FIRST event; each (cohort_bucket, bucket_offset)
    * cell counts the cohort's users active that many buckets later —
    * the classic retention triangle. All-integer arithmetic (epoch-ms
    * floor division), so the matrix is bit-identical cross-engine.
    *
    * Scale: distinct (user, bucket) pairs first — one shuffle that also
    * collapses the event volume to at most users × buckets — then a
    * per-user window min for the cohort and one hash-aggregate. No scan
    * of the raw log beyond the first projection.
    */
  def retentionCohorts(events: DataFrame,
                       bucketMs: Long = 7L * 86400000L): DataFrame = {
    val active = events
      .select(col("user_id"), eventMs(events).as("ms"))
      .select(col("user_id"), expr(s"ms div $bucketMs").as("bucket"))
      .distinct()
    val cohort = Window.partitionBy("user_id")
    active
      .withColumn("cohort_bucket", min("bucket").over(cohort))
      .groupBy(col("cohort_bucket"),
        (col("bucket") - col("cohort_bucket")).as("bucket_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("cohort_bucket", "bucket_offset")
  }

  /** First-order Markov transition matrix over per-user event sequences:
    * for every ordered adjacent pair of events within a user's timeline,
    * count (src_type → dst_type) transitions and row-normalize into a
    * probability. The probability is FIXED-POINT — `n · 10^6` floor-divided
    * by the source row total — so the matrix is bit-identical on any
    * engine; the readable double is one final exact division by 10^6.
    * This is the sequence-statistics pass a training pipeline runs to
    * sanity-check event logs (and the sampler behind synthetic replay).
    *
    * Scale: one shuffle on `user_id` for the lead window (per-user sort,
    * never global), then a hash-aggregate on the (src, dst) pair — the
    * aggregate's cardinality is |types|², independent of event volume.
    * The row total comes from a window over the tiny aggregated matrix.
    */
  def transitionMatrix(events: DataFrame, scale: Long = 1000000L): DataFrame = {
    val seq = Window.partitionBy("user_id")
      .orderBy(col("_ms"), col("event_id"))
    val pairs = events
      .select(col("user_id"), col("event_id"), col("event_type"),
        eventMs(events).as("_ms"))
      .withColumn("dst_type", lead(col("event_type"), 1).over(seq))
      .where(col("dst_type").isNotNull)
    val counts = pairs
      .groupBy(col("event_type").as("src_type"), col("dst_type"))
      .agg(count(lit(1)).as("n"))
    counts
      .withColumn("prob_fp",
        expr(s"(n * $scale) div sum(n) over (partition by src_type)"))
      .select(col("src_type"), col("dst_type"), col("n"),
        col("prob_fp"),
        (col("prob_fp").cast("double") / scale).as("prob"))
      .orderBy("src_type", "dst_type")
  }

  /** SCD Type-2 dimension build from an event-sourced attribute: collapse
    * each key's timeline to the rows where `valueCol` actually changed,
    * then stamp every surviving version with its validity interval —
    * `effective_from_ms` (the change time), `effective_to_ms` (the next
    * change time, NULL while current), `version` (1-based per key), and
    * `is_current`. This is the warehouse-side twin of the CDC capture the
    * reference's upload loop performs (/root/reference/app.py:110-116):
    * S8 records the change log, this operator serves the as-of dimension.
    *
    * Tie and dedup semantics: events are ordered by (event-time ms,
    * event_id); a row survives iff its value differs from the previous
    * surviving row's (lag over the full per-key sequence — adjacent
    * equal values collapse, A→B→A yields three versions).
    *
    * Scale: two window passes over the same (key, time) partitioning —
    * Catalyst plans them in a single shuffle+sort — and the second runs
    * on the already-collapsed change rows.
    */
  def scd2(events: DataFrame, keyCol: String = "user_id",
           valueCol: String = "value"): DataFrame = {
    val seq = Window.partitionBy(keyCol)
      .orderBy(col("_ms"), col("event_id"))
    val changes = events
      .select(col(keyCol), col("event_id"), col(valueCol),
        eventMs(events).as("_ms"))
      .withColumn("_prev", lag(col(valueCol), 1).over(seq))
      .where(col("_prev").isNull || col("_prev") =!= col(valueCol))
    val ver = Window.partitionBy(keyCol).orderBy(col("_ms"), col("event_id"))
    changes
      .withColumn("effective_to_ms", lead(col("_ms"), 1).over(ver))
      .withColumn("version", row_number().over(ver).cast("long"))
      .select(col(keyCol), col(valueCol),
        col("_ms").as("effective_from_ms"), col("effective_to_ms"),
        col("version"), col("effective_to_ms").isNull.as("is_current"))
      .orderBy(keyCol, "version")
  }

  /** Temporal-dimension enrichment: every event joined to the [[scd2]]
    * version VALID AT its timestamp — the `FOR SYSTEM_TIME AS OF`
    * pattern a warehouse runs to attach slowly-changing attributes to a
    * fact stream. Interval containment (`from ≤ ms < to`, open current
    * version) is an equi-join on the user key with a residual range
    * predicate — Spark plans the hash/merge join on the key and filters
    * in place, never a nested loop, because versions within a key
    * partition time (each event matches exactly one version; boundary
    * events belong to the newer version — the half-open contract).
    */
  def scd2Enrich(events: DataFrame): DataFrame = {
    val dim = scd2(events)
    val e = events.select(col("user_id").as("uid"),
      col("event_id").as("eid"), eventMs(events).as("ms"))
    e.join(dim, col("uid") === col("user_id") &&
        col("ms") >= col("effective_from_ms") &&
        (col("effective_to_ms").isNull ||
          col("ms") < col("effective_to_ms")))
      .select(col("uid").as("user_id"), col("eid").as("event_id"),
        col("ms"), col("version"), col("value").as("dim_value"))
  }

  /** Time-weighted average value per user (the TWAP of a price-like
    * signal over an event timeline): each observation is held from its
    * timestamp until the next one, so it contributes value × Δms.
    * The weighted sum is EXACT — DECIMAL(18,4) value × BIGINT interval,
    * summed as DECIMAL — and the average is ONE final IEEE division of
    * two exactly-determined numbers, so the result is hash-portable.
    * Users with fewer than two events have no holding interval and are
    * excluded (their TWAP would be 0/0).
    *
    * Scale: one shuffle on `user_id` shared by the lead window and the
    * aggregate; state per user is three scalars.
    */
  def twap(events: DataFrame): DataFrame = {
    val seq = Window.partitionBy("user_id").orderBy(col("_ms"), col("event_id"))
    events
      .select(col("user_id"), col("event_id"),
        col("value").cast("decimal(18,4)").as("_v"), eventMs(events).as("_ms"))
      .withColumn("_next", lead(col("_ms"), 1).over(seq))
      .where(col("_next").isNotNull)
      .withColumn("_w", col("_next") - col("_ms"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_intervals"),
        sum("_w").as("span_ms"),
        sum(col("_v") * col("_w")).as("_vw"))
      .select(col("user_id"), col("n_intervals"), col("span_ms"),
        (col("_vw").cast("double") / col("span_ms").cast("double"))
          .as("twap"))
      .orderBy("user_id")
  }

  /** Per-type mean and sample variance of the event value, computed from
    * EXACT DECIMAL power sums (Σv as DECIMAL(18,4)-summed, Σv² as
    * DECIMAL(37,8)-summed — no float accumulation anywhere), finished by
    * a FIXED scalar double expression: var = (n·Σv² − (Σv)²) / (n·(n−1)).
    * Every engine casts the same exact decimals to the same doubles and
    * evaluates the same expression tree, so the floats are bit-identical
    * — the reason this exists instead of `var_samp`, whose float
    * accumulation order is partition-dependent.
    *
    * Scale: a plain hash-aggregate with map-side partials; DECIMAL sums
    * are Spark's unsafe-row decimals, still codegen'd.
    */
  def valueVariance(events: DataFrame): DataFrame = {
    val v = col("value").cast("decimal(18,4)")
    events.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(v).as("_sv"),
        sum(v * v).as("_svv"))
      .select(col("event_type"), col("n"),
        (col("_sv").cast("double") / col("n").cast("double")).as("mean"),
        ((col("n").cast("double") * col("_svv").cast("double") -
          col("_sv").cast("double") * col("_sv").cast("double")) /
          (col("n").cast("double") * (col("n") - 1).cast("double")))
          .as("var_samp"))
      .orderBy("event_type")
  }

  /** Time-series resample with forward fill: every user's sparse event
    * timeline becomes a DENSE per-bucket grid (default hourly) from their
    * first to their last event, each grid point carrying the last
    * observed value at or before it (`filled_value`) and whether the
    * bucket had a real observation. This is the gap-fill step feature
    * pipelines run before windowed training joins — downstream ops can
    * assume one row per (user, bucket).
    *
    * Determinism: "last observed in bucket" breaks ties by (ms,
    * event_id) descending; the fill itself copies values — no arithmetic.
    * The first grid bucket is the user's first event bucket, so
    * `filled_value` is never null.
    *
    * Scale: the grid is users × span-buckets — generated per-user with
    * `sequence`/`explode` (never a global cross join), joined to the
    * bucket-collapsed observations (at most users × buckets rows, not
    * raw events), and forward-filled with one per-user running window.
    * Skew guard: a single user's span is bounded by the retention
    * window, so per-user fan-out is bounded too.
    */
  def gapFill(events: DataFrame, bucketMs: Long = 3600000L): DataFrame = {
    val obs = events
      .select(col("user_id"), col("event_id"), col("value"),
        eventMs(events).as("_ms"))
      .withColumn("bucket", expr(s"_ms div $bucketMs"))
    // ONE user_id exchange end to end (round 14, guide §2.4 — "window
    // functions partitioned by the same key as a preceding aggregation
    // do not need a second shuffle"): the former shape shuffled on
    // (user_id, bucket) for the last-in-bucket window, on user_id for
    // the grid aggregate, re-shuffled one join side, and shuffled again
    // for the forward-fill window. Here last-in-bucket is read off ONE
    // user_id-partitioned sort — a bucket's last observation is the row
    // whose successor (in (bucket, _ms, event_id) order) starts a new
    // bucket — so the grid aggregate, the (user_id, bucket) join and
    // the forward-fill window all reuse the same user_id partitioning.
    // Same rows: max-(_ms, event_id) per bucket is exactly the row the
    // desc row_number picked.
    val byTime = Window.partitionBy("user_id")
      .orderBy("bucket", "_ms", "event_id")
    val hourly = obs
      .withColumn("_nb", lead("bucket", 1).over(byTime))
      .where(col("_nb").isNull || col("_nb") =!= col("bucket"))
      .select(col("user_id"), col("bucket"), col("value"))
    val grid = obs.groupBy("user_id")
      .agg(min("bucket").as("_b0"), max("bucket").as("_b1"))
      .select(col("user_id"),
        explode(sequence(col("_b0"), col("_b1"))).as("bucket"))
    val ff = Window.partitionBy("user_id").orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(hourly, Seq("user_id", "bucket"), "left")
      .withColumn("filled_value", last("value", ignoreNulls = true).over(ff))
      .select(col("user_id"), col("bucket"), col("filled_value"),
        col("value").isNotNull.as("is_observed"))
      .orderBy("user_id", "bucket")
  }

  /** Time-RANGE sliding aggregate: per-user moving average of `value`
    * over the trailing `windowMs` milliseconds — the rolling-baseline
    * feature (anomaly scores, rate smoothing) that ROWS frames get
    * wrong whenever event density varies. This is the repo's one RANGE
    * frame: the window is `rangeBetween(−windowMs, 0)` over the integer
    * event-time millis, so all peers of a timestamp join the frame
    * regardless of row order — no tiebreak needed for determinism.
    *
    * Portability: the frame aggregates DECIMAL(18,4)-cast values —
    * exact under any accumulation order (engines differ in how they
    * evaluate sliding-window sums: Spark re-scans the frame,
    * DuckDB uses segment trees; only exact arithmetic is immune to
    * the re-association). One final IEEE division produces the avg.
    *
    * Scale: one shuffle on user_id; the sort is per-user. The frame
    * scan is O(events-in-window) per row — bounded by the window span
    * and per-user event rate, independent of corpus size.
    */
  def movingAvgRange(events: DataFrame,
                     windowMs: Long = 3600000L): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ms"))
      .rangeBetween(-windowMs, 0)
    events
      .select(col("event_id"), col("user_id"), eventMs(events).as("ms"),
        col("value").cast("decimal(18,4)").as("_v"))
      .withColumn("win_n", count(lit(1)).over(w))
      .withColumn("_win_sum", sum(col("_v")).over(w))
      .select(col("event_id"), col("user_id"), col("ms"), col("win_n"),
        col("_win_sum").cast("double").as("win_sum"),
        (col("_win_sum").cast("double") / col("win_n").cast("double"))
          .as("moving_avg"))
      .orderBy("event_id")
  }

  /** Typed extraction from the semi-structured `props` JSON column:
    * `from_json` against an explicit schema (`{"k": BIGINT}` — the
    * payload the testdata events carry), malformed or missing keys
    * degrading to null rather than failing the batch. This is the
    * schema-on-read edge every event pipeline has: the storage layer
    * keeps the raw string; queries impose structure per use.
    *
    * Scale: per-row parse, no shuffle — the parse is Jackson-backed
    * (interpreted, not codegen'd; the standard Spark JSON path) and
    * linear in payload bytes. At 100 TB the win is *pushing the typed
    * projection here*, once, instead of re-parsing per downstream
    * consumer.
    */
  def jsonProps(events: DataFrame): DataFrame = {
    val schema = new org.apache.spark.sql.types.StructType()
      .add("k", org.apache.spark.sql.types.LongType)
    events.select(col("event_id"), col("event_type"),
        from_json(col("props"), schema).getField("k").as("k"))
      .orderBy("event_id")
  }

  /** Per-type rollup over the extracted JSON payload: the "parse once,
    * aggregate typed" composition — counts, integer-exact sum/min/max
    * of `k`, null-payload tally, and one final IEEE division for the
    * mean. One hash aggregate (map-side combined) after the linear
    * parse; output is |event_type|-row.
    */
  def jsonPropsRollup(events: DataFrame): DataFrame = {
    val schema = new org.apache.spark.sql.types.StructType()
      .add("k", org.apache.spark.sql.types.LongType)
    events
      .select(col("event_type"),
        from_json(col("props"), schema).getField("k").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("k").isNull, 1L).otherwise(0L)).as("n_null_props"),
        sum("k").as("sum_k"), min("k").as("min_k"), max("k").as("max_k"),
        count(col("k")).as("_nk"))
      .select(col("event_type"), col("n_events"), col("n_null_props"),
        col("sum_k"), col("min_k"), col("max_k"),
        (col("sum_k").cast("double") / col("_nk").cast("double"))
          .as("avg_k"))
      .orderBy("event_type")
  }

  private def cast2dp(c: org.apache.spark.sql.Column) =
    round(c, 2).cast("double")
}
