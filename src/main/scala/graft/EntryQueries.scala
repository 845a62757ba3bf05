package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables
import graft.operators._
import graft.EntryOracleSql.EmbDim
import graft.EntryHelpers._

/** The `queries` half of the driver contract: one entry per implemented
  * operator from SURVEY.md §2 (plus the LLM-pipeline extensions).
  * Composed into [[SparkEntry.queries]] — names and semantics are the
  * contract; see SparkEntry's scaladoc for the determinism rules.
  */
private[graft] object EntryQueries {

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- Flagship relational chain (J1,J2,P12,A1,A2,A3,F8,W1,F10,O1) ----

    "merged_detail" -> ((s, dir) =>
      merged(s, dir).select(col("l_orderkey"), col("l_linenumber"),
          col("customer_id"), col("name"), col("product_code"),
          col("product_name"), col("category"),
          col("amount_raw").as("amount"))
        .orderBy("l_orderkey", "l_linenumber")),

    "category_totals" -> ((s, dir) =>
      Relational.categoryTotals(merged(s, dir))
        .select(col("customer_id"), col("name"), col("category"),
          col("amount").cast("double").as("amount"))
        .orderBy("customer_id", "name", "category")),

    "flagship_rank" -> ((s, dir) => {
      // Rank input is one row per customer; the (memoized) customer
      // dimension row count bounds it, letting summaryRanked choose the
      // single-window form at small scale and the two-phase
      // no-unpartitioned-window form past the threshold.
      val keys = customerCount(s, dir)
      Relational.summaryRanked(Relational.categoryTotals(merged(s, dir)),
          estimatedKeys = Some(keys))
        .select(col("customer_id"), col("name"),
          col("amount").cast("double").as("amount"), col("rank"))
        .orderBy("rank", "customer_id")
    }),

    "top_spenders" -> ((s, dir) =>
      Relational.topSpenders(Relational.categoryTotals(merged(s, dir)))
        .select(col("category"), col("customer_id"), col("name"),
          col("amount").cast("double").as("amount"))
        .orderBy("category")),

    // A4 via Relational.nestDetails, with the nested list serialized to a
    // flat string (name|category|amount records joined by ';') — array
    // columns crash the driver's pandas comparator, and the decimal(18,2)
    // string rendering is identical in both engines.
    "nested_details" -> ((s, dir) =>
      Relational.nestDetails(Relational.categoryTotals(merged(s, dir)))
        .select(col("customer_id"),
          // coalesce each field: concat_ws SKIPS nulls while SQL '||'
          // null-propagates — pinning '' keeps both sides identical even
          // for all-null-amount groups
          array_join(transform(col("details"), d =>
            concat_ws("|", coalesce(d.getField("name"), lit("")),
              coalesce(d.getField("category"), lit("")),
              coalesce(d.getField("amount").cast("decimal(18,2)")
                .cast("string"), lit("")))),
            ";").as("details"))
        .orderBy("customer_id")),

    "flagship_rank_window" -> ((s, dir) =>   // W1 literal single-window form
      Relational.summaryRankedWindow(
          Relational.categoryTotals(merged(s, dir)))
        .select(col("customer_id"), col("name"),
          col("amount").cast("double").as("amount"), col("rank"))
        .orderBy("rank", "customer_id")),

    // ---- Customer packed-record parser (P1-P9, F1-F6) -------------------

    "parse_customers" -> ((s, dir) =>
      Relational.parseCustomers(packedCustomerLines(s, dir), "line")
        .orderBy(col("customer_id").cast("long"))),

    // ---- CDC / event-time operators (J3 core, W2, streaming analogs) ----

    "cdc_lag" -> ((s, dir) =>
      EventOps.changeCapture(events(s, dir)).orderBy("user_id", "event_id")),

    "event_windows" -> ((s, dir) =>
      EventOps.tumblingCounts(events(s, dir))
        .orderBy("window_start_ms", "event_type")),

    "event_windows_hopping" -> ((s, dir) =>
      EventOps.hoppingCounts(events(s, dir))
        .orderBy("window_start_ms", "event_type")),

    "sessionize" -> ((s, dir) =>
      EventOps.sessionize(events(s, dir)).orderBy("user_id", "session_id")),

    // Exponentially time-decayed per-user activity (quantized half-life
    // periods → exact 2^-h rational weights, Q40 fixed-point).
    "decayed_counts" -> ((s, dir) =>
      EventOps.decayedCounts(events(s, dir)).orderBy("user_id")),

    // SCD2 temporal enrichment: each event attached to the dimension
    // version valid at its timestamp (half-open interval containment).
    "scd2_enrich" -> ((s, dir) =>
      EventOps.scd2Enrich(events(s, dir))
        .orderBy("user_id", "event_id")),

    // Top event-type trigram paths (funnel discovery).
    "event_paths" -> ((s, dir) => EventOps.eventPaths(events(s, dir))),

    // Integer 3-sigma hourly spike detection (no sqrt, no division).
    "hourly_spikes" -> ((s, dir) =>
      EventOps.hourlySpikes(events(s, dir)).orderBy("user_id", "bucket_ms")),

    // Interval-overlap range join over session intervals, executed as a
    // bin-bucketed EQUI-join (no nested-loop/cartesian node — pinned by
    // the plan audit); cross-user overlapping session pairs.
    "session_overlap" -> ((s, dir) =>
      EventOps.sessionOverlapPairs(events(s, dir))
        .orderBy("user_a", "session_a", "user_b", "session_b")),

    // Spark-native session_window sessionization (the batch twin of the
    // streaming sessionCounts): the oracle replays the merge rule at
    // MICROSECOND precision — Spark merges windows on internal micros,
    // and the source timestamps carry sub-millisecond digits.
    "session_windows" -> ((s, dir) =>
      EventOps.sessionWindows(events(s, dir))
        .orderBy("user_id", "session_start_ms")),

    // Ordered-step funnel view → click → purchase: per-step user counts
    // under earliest-completion semantics (step k strictly after the
    // step-(k-1) completion time).
    "funnel" -> ((s, dir) => EventOps.funnel(events(s, dir))),

    // Weekly cohort retention triangle: users cohorted by first-event
    // week; each cell counts the cohort's users active k weeks later.
    // All-integer epoch-ms arithmetic.
    "retention_cohorts" -> ((s, dir) =>
      EventOps.retentionCohorts(events(s, dir))),

    // First-order Markov transition matrix over per-user event sequences:
    // fixed-point row-normalized probabilities (n·10^6 floor-divided by
    // the source-row total) — bit-identical across engines.
    "event_transitions" -> ((s, dir) =>
      EventOps.transitionMatrix(events(s, dir))),

    // SCD Type-2 dimension build from the event-sourced value: each
    // user's change timeline as versioned validity intervals
    // [effective_from_ms, effective_to_ms), open while current.
    "scd2_users" -> ((s, dir) =>
      EventOps.scd2(events(s, dir))),

    // Full J3 algebra against persistent state, simulated by splitting the
    // event log at max(event_id)/2: first half folds into per-key state
    // (last value wins), second half is the incoming batch.
    "cdc_state_join" -> ((s, dir) => {
      val ev = events(s, dir)
      val thr = ev.agg(max("event_id")).head().getLong(0) / 2
      val ms = EventOps.eventMs(ev)
      val lastWins = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(desc_nulls_last("_ms"), desc("event_id"))
      val state = ev.where(col("event_id") <= thr)
        .withColumn("_ms", ms)
        .withColumn("_rn", row_number().over(lastWins))
        .where(col("_rn") === 1)
        .select(col("user_id"), col("value"))
      val batch = ev.where(col("event_id") > thr).withColumn("_ms", ms)
      EventOps.statefulChangeCapture(batch, state, "user_id", "value",
          orderCols = Seq(col("_ms"), col("event_id")),
          carryCols = Seq("event_id"))
        .orderBy("user_id", "event_id")
    }),

    // As-of join: attach the latest prior (or simultaneous) purchase per
    // user to every click — checked against DuckDB's native ASOF JOIN.
    "asof_join" -> ((s, dir) => {
      val ev = events(s, dir)
      val ms = EventOps.eventMs(ev)
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("event_id"), ms.as("_ms"))
      val lastPerMs = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id", "_ms").orderBy(desc("event_id"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), ms.as("_ms"), col("value"), col("event_id"))
        .withColumn("_rn", row_number().over(lastPerMs))
        .where(col("_rn") === 1)
        .select(col("user_id"), col("_ms"), col("value"))
      EventOps.asofJoin(clicks, purchases, "user_id", "_ms", "value",
          outCol = "last_purchase")
        .select(col("user_id"), col("event_id"), col("last_purchase"))
        .orderBy("user_id", "event_id")
    }),

    // ---- Wider star-schema analytics -----------------------------------

    // Revenue rollup through the full snowflake: lineitem→orders→customer
    // →nation→region (exercises every dimension table).
    "nation_revenue" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"),
          col("l_extendedprice").cast("decimal(18,4)").as("amount"))
      val ord = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
      val nat = t(s, dir, "nation")
      val reg = t(s, dir, "region")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name").as("region"), col("n_name").as("nation"))
        .agg(count(lit(1)).as("n_lineitems"),
          round(sum("amount"), 2).cast("double").as("revenue"))
        .orderBy("region", "nation")
    }),

    // Top-3 per category via the bounded-heap typed Aggregator — the
    // O(n log k) partial-aggregated scale path (no full partition sort).
    "topk_per_category_agg" -> ((s, dir) =>
      graft.functions.TopKAggregator.topKPerGroup(
          Relational.categoryTotals(merged(s, dir)),
          "category", "amount", "customer_id", k = 3)
        .orderBy("category", "rk")),

    // Top-3 spenders per category (top-k per group via ranked window).
    "topk_per_category" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("category")
        .orderBy(desc("amount"), asc("customer_id"))
      Relational.categoryTotals(merged(s, dir))
        .withColumn("rk", row_number().over(w).cast("long"))
        .where(col("rk") <= 3)
        .select(col("category"), col("rk"), col("customer_id"), col("name"),
          col("amount").cast("double").as("amount"))
        .orderBy("category", "rk")
    }),

    // Running total per customer over order history (window frame).
    "running_total" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_custkey")
        // o_orderdate is TIMESTAMP_NTZ; session TZ is UTC, so this cast
        // gives the same epoch millis DuckDB's epoch_ms computes.
        .orderBy(unix_millis(col("o_orderdate").cast("timestamp")),
          col("o_orderkey"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
          col("o_totalprice").cast("decimal(18,4)").as("p"))
        .withColumn("running_spend", sum("p").over(w).cast("double"))
        .select(col("o_orderkey"), col("o_custkey"), col("running_spend"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // Distinct-count aggregation per category.
    "category_customers" -> ((s, dir) =>
      merged(s, dir).groupBy("category")
        .agg(countDistinct("customer_id").as("n_customers"),
          count(lit(1)).as("n_lineitems"))
        .orderBy("category")),

    // TPC-H Q3 shape (shipping priority): revenue of late-shipping
    // lineitems on pre-cutoff orders, top 10 — date filters reach both
    // scans, per-order DECIMAL revenue, TakeOrdered k-cut.
    "shipping_priority" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .where(col("o_orderdate").cast("date") < lit("1998-01-01"))
        .select(col("o_orderkey"), col("o_orderdate"),
          col("o_orderpriority"))
      val li = t(s, dir, "lineitem")
        .where(col("l_shipdate").cast("date") > lit("1998-01-01"))
        .select(col("l_orderkey"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("decimal(18,4)").as("rev"))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"),
          col("o_orderpriority"))
        .agg(sum("rev").as("_r"))
        .select(col("l_orderkey"),
          unix_millis(col("o_orderdate").cast("timestamp"))
            .as("o_orderdate_ms"),
          col("o_orderpriority"),
          bround(col("_r"), 2).cast("double").as("revenue"))
        .orderBy(desc("revenue"), col("l_orderkey"))
        .limit(10)
    }),

    // TPC-H Q10 shape (returned-item losses): customers ranked by
    // revenue of their returned lineitems, top 20.
    "returned_revenue" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .where(col("l_returnflag") === "R")
        .select(col("l_orderkey"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("decimal(18,4)").as("rev"))
      val o = t(s, dir, "orders").select("o_orderkey", "o_custkey")
      val c = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy("c_custkey", "c_name", "c_mktsegment")
        .agg(count(lit(1)).as("n_items"), sum("rev").as("_r"))
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
          col("n_items"), bround(col("_r"), 2).cast("double").as("revenue"))
        .orderBy(desc("revenue"), col("c_custkey"))
        .limit(20)
    }),

    // TPC-H Q4 shape (order priority checking): orders with at least one
    // lineitem shipped > 60 days after the order date, counted per
    // priority. EXISTS ≡ LEFT SEMI join — the equi key drives the hash
    // join and the 60-day lag is its residual predicate, so the plan is
    // one key-partitioned join + a 5-group aggregate; the semi join
    // dedups order keys on the build side, no DISTINCT needed.
    "order_priority_counts" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"),
          unix_millis(col("o_orderdate").cast("timestamp")).as("_o_ms"))
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"),
          unix_millis(col("l_shipdate").cast("timestamp")).as("_s_ms"))
      o.join(li, col("o_orderkey") === col("l_orderkey") &&
          col("_s_ms") > col("_o_ms") + lit(5184000000L), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"))
        .orderBy("o_orderpriority")
    }),

    // TPC-H Q16 shape (supplier diversity per product line, sans the
    // partsupp table this testdata omits): distinct suppliers observed
    // per (brand, type) in the fact table, excluding one brand — the
    // 156-row dimension broadcasts, the distinct-count shuffles once on
    // the (brand, type) key after map-side expand. No broadcast hint:
    // `part` grows linearly with scale (unlike nation/region), so the
    // plan must stay free to degrade to a shuffle join past the
    // threshold — AQE/CBO picks broadcast at small SF on its own
    // (PlanContractSpec pins both regimes).
    "brand_supplier_counts" -> ((s, dir) => {
      val p = t(s, dir, "part")
        .where(col("p_brand") =!= "Brand#5")
        .select(col("p_partkey"), col("p_brand"), col("p_type"))
      t(s, dir, "lineitem").select("l_partkey", "l_suppkey")
        .join(p, col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand", "p_type")
        .agg(countDistinct("l_suppkey").as("supplier_cnt"),
          count(lit(1)).as("n_lineitems"))
        .orderBy(desc("supplier_cnt"), col("p_brand"), col("p_type"))
    }),

    // TPC-H Q14 shape (promotion effect): monthly share of revenue from
    // PROMO-type parts. Conditional DECIMAL aggregate over the part
    // join (unhinted — the scale-growing dim must be allowed to fall
    // back to a shuffle join; AQE broadcasts it while it's small); the
    // share is computed promo/total as ONE IEEE division on the two
    // exact sums.
    "promo_revenue_share" -> ((s, dir) => {
      val p = t(s, dir, "part").select(col("p_partkey"), col("p_type"))
      t(s, dir, "lineitem")
        .select(col("l_partkey"),
          unix_millis(date_trunc("month", col("l_shipdate"))
            .cast("timestamp")).as("month_ms"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("decimal(18,4)").as("rev"))
        .join(p, col("l_partkey") === col("p_partkey"))
        .groupBy("month_ms")
        .agg(sum(when(col("p_type") === "PROMO", col("rev"))
            .otherwise(lit(0).cast("decimal(18,4)"))).as("_pr"),
          sum(col("rev")).as("_tr"))
        .select(col("month_ms"),
          bround(col("_pr"), 2).cast("double").as("promo_rev"),
          bround(col("_tr"), 2).cast("double").as("total_rev"),
          (col("_pr").cast("double") / col("_tr").cast("double"))
            .as("promo_share"))
        .orderBy("month_ms")
    }),

    // TPC-H Q19 shape (discounted revenue under an OR-of-ANDs
    // predicate): three disjunct brand/size/quantity arms over the
    // lineitem⋈part join — the composite-boolean-pushdown exercise
    // (each arm's dimension-only conjuncts prune the dimension side;
    // the fact-side conjuncts evaluate in-scan). Unhinted join, same
    // rationale as brand_supplier_counts.
    "special_revenue" -> ((s, dir) => {
      val p = t(s, dir, "part")
        .select(col("p_partkey"), col("p_brand"), col("p_type"),
          col("p_size"))
      t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_quantity"), col("l_discount"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("decimal(18,4)").as("rev"))
        .join(p, col("l_partkey") === col("p_partkey"))
        .where((col("p_brand") === "Brand#1" &&
            col("p_size").between(1, 15) &&
            col("l_quantity").between(1, 30)) ||
          (col("p_brand") === "Brand#2" &&
            col("p_type").isin("SMALL", "MEDIUM") &&
            col("l_quantity") >= 10) ||
          (col("p_size") >= 40 && col("l_discount") < 0.05))
        .agg(count(lit(1)).as("n_items"),
          bround(sum("rev"), 2).cast("double").as("revenue"))
    }),

    // Anti join: customers with no order since 2000-01-01, per market
    // segment. Date-scoped deliberately — the unscoped anti-join is empty
    // at every SF (testdata gives every customer an order), which made the
    // oracle row vacuously green (VERDICT r3 wrong.1); the recency window
    // leaves a real, SF-dependent non-empty result to hash-check.
    "customers_without_orders" -> ((s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders")
            .where(col("o_orderdate").cast("date") >= lit("2000-01-01")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy("segment")),

    // Exact interpolated percentiles of event values per type.
    "event_quantiles" -> ((s, dir) =>
      events(s, dir).groupBy("event_type")
        .agg(bround(expr("percentile(value, 0.5)"), 4).as("p50"),
          bround(expr("percentile(value, 0.95)"), 4).as("p95"),
          bround(expr("percentile(value, 0.99)"), 4).as("p99"))
        .orderBy("event_type")),

    // Exact distinct users per event type — the oracle-checked half of the
    // distinct-count pair.
    "users_per_type" -> ((s, dir) =>
      events(s, dir).groupBy("event_type")
        .agg(countDistinct("user_id").as("exact_users"),
          count(lit(1)).as("n_events"))
        .orderBy("event_type")),

    // HLL sketch as an ORACLE-CHECKABLE verdict row (VERDICT r11 item 2):
    // the sketch estimate itself is engine-specific, so the hashed row
    // carries the exact twin's columns plus `within_bound` — a 5%
    // relative bound at rsd=0.01, i.e. FIVE standard errors (the
    // ScaleSpec 6σ determinism-bound style) — computed IN-PLAN from
    // sketch vs exact in ONE aggregate. The DuckDB oracle replays the
    // exact twin and literal TRUE: the hash matches iff the bound held.
    // The rsd is explicit because the default (0.05) makes 5% a ~1σ
    // bound — the sf0.1 sweep caught exactly that flake on the `click`
    // group before it could reach the driver gate. The raw estimate
    // stays available code-level (approx_count_distinct in any agg; the
    // plain-sketch plan is [[Scale.columnStatsApprox]]'s family).
    // Exact and sketch ride SEPARATE aggregates joined on the 5-row
    // group key (round 13): one aggregate mixing countDistinct with
    // approx_count_distinct plans via Expand — every event row copied
    // once per branch before the partial aggregate (measured 3.4 s at
    // sf0.1); split, each side plans its clean two-phase form with no
    // expand (1.1 s). Same rows, same oracle.
    "approx_users_per_type" -> ((s, dir) => {
      val ev = events(s, dir).select("event_type", "user_id")
      val exact = ev.groupBy("event_type")
        .agg(countDistinct("user_id").as("exact_users"))
      val ap = ev.groupBy("event_type")
        .agg(approx_count_distinct(col("user_id"), rsd = 0.01)
          .as("_approx"))
      exact.join(ap, Seq("event_type"))
        .select(col("event_type"), col("exact_users"),
          (abs(col("_approx").cast("double") -
              col("exact_users").cast("double")) /
            col("exact_users").cast("double") <= 0.05)
            .as("within_bound"))
        .orderBy("event_type")
    }),

    // Quantile sketch verdict row: exact percentiles (the event_quantiles
    // twin's columns) plus within_bound — the sketch guarantees RANK
    // error, so the verdict recomputes each approximate quantile's
    // achieved rank (count(value <= a)/n via one broadcast join of the
    // 5-row sketch frame back onto events) and checks it against the
    // PropertySpec tolerance max(0.01, 2/n) (+1/n above, the discrete
    // upper step). Oracle replays the exact twin + TRUE.
    "approx_event_quantiles" -> ((s, dir) => {
      val ev = events(s, dir).select(col("event_type"), col("value"))
      val ap = ev.groupBy("event_type")
        .agg(expr("approx_percentile(value, array(0.5, 0.95, 0.99), 1000)")
            .as("q"),
          count(lit(1)).cast("double").as("n"))
        .select(col("event_type"), col("n"),
          element_at(col("q"), 1).as("a50"),
          element_at(col("q"), 2).as("a95"),
          element_at(col("q"), 3).as("a99"))
      def rankOf(a: String): Column =
        (sum(when(col("value") <= col(a), 1L).otherwise(0L))
          .cast("double") / first("n"))
      def ok(rank: Column, n: Column, p: Double): Column = {
        val tol = greatest(lit(0.01), lit(2.0) / n)
        rank >= lit(p) - tol && rank <= lit(p) + tol + lit(1.0) / n
      }
      val verdict = ev.join(broadcast(ap), Seq("event_type"))
        .groupBy("event_type")
        .agg(rankOf("a50").as("r50"), rankOf("a95").as("r95"),
          rankOf("a99").as("r99"), first("n").as("n"))
        .select(col("event_type"),
          (ok(col("r50"), col("n"), 0.5) &&
            ok(col("r95"), col("n"), 0.95) &&
            ok(col("r99"), col("n"), 0.99)).as("within_bound"))
      ev.groupBy("event_type")
        .agg(bround(expr("percentile(value, 0.5)"), 4).as("p50"),
          bround(expr("percentile(value, 0.95)"), 4).as("p95"),
          bround(expr("percentile(value, 0.99)"), 4).as("p99"))
        .join(verdict, Seq("event_type"))
        .orderBy("event_type")
    }),

    // Pivot: per-user event-type counts as columns.
    "events_pivot" -> ((s, dir) =>
      events(s, dir).groupBy("user_id")
        .pivot("event_type",
          Seq("click", "view", "purchase", "signup", "error"))
        .count()
        .na.fill(0L)
        .orderBy("user_id")),

    // Unpivot twin: the wide per-user matrix back to long form — stack()
    // keeps the zero-filled cells, so pivot∘unpivot is lossless.
    "events_unpivot" -> ((s, dir) =>
      events(s, dir).groupBy("user_id")
        .pivot("event_type",
          Seq("click", "view", "purchase", "signup", "error"))
        .count()
        .na.fill(0L)
        .select(col("user_id"), expr(
          "stack(5, 'click', click, 'view', view, 'purchase', purchase, " +
          "'signup', signup, 'error', error) AS (event_type, n_events)"))
        .orderBy("user_id", "event_type")),

    // Multi-level CUBE: event counts + DECIMAL-exact value totals at
    // every (event_type × day) marginal, grouping_id disambiguating the
    // aggregation level exactly as docs_rollup does for ROLLUP.
    "events_cube" -> ((s, dir) => {
      val ev = events(s, dir)
      ev
        .withColumn("_ms", EventOps.eventMs(ev))
        .select(col("event_type"),
          expr("_ms div 86400000").as("day"),
          col("value").cast("decimal(18,4)").as("v"))
        .cube("event_type", "day")
        .agg(count(lit(1)).as("n_events"),
          bround(sum("v"), 2).cast("double").as("total_value"),
          grouping_id().cast("long").as("level"))
        .select(col("event_type"), col("day"), col("n_events"),
          col("total_value"), col("level"))
        .orderBy(col("level"), asc_nulls_first("event_type"),
          asc_nulls_first("day"))
    }),

    // Exact-DECIMAL power sums finished by one fixed double expression —
    // the deterministic var_samp (see EventOps.valueVariance).
    "value_variance" -> ((s, dir) =>
      EventOps.valueVariance(events(s, dir))),

    // Time-weighted average value per user: DECIMAL-exact value×Δms
    // sums, one final IEEE division.
    "twap_users" -> ((s, dir) =>
      EventOps.twap(events(s, dir))),

    // Time-series resample: dense hourly grid per user, forward-filled
    // from the last observation (ties broken by ms, event_id desc).
    "gapfill_hourly" -> ((s, dir) =>
      EventOps.gapFill(events(s, dir))),

    // ---- Dedup family ---------------------------------------------------

    "exact_dedup" -> ((s, dir) =>
      Dedup.exactDedup(docs(s, dir)).orderBy("fingerprint")),

    "prefix_dedup" -> ((s, dir) =>
      Dedup.prefixDedup(docs(s, dir)).orderBy("fingerprint")),

    "dedup_keep_longest" -> ((s, dir) =>
      Dedup.dedupKeepLongest(docs(s, dir))
        .select(col("fingerprint"), col("doc_id"),
          col("n_chars").cast("long").as("n_chars"), col("n_copies"))
        .orderBy("fingerprint")),

    "minhash_signatures" -> ((s, dir) =>
      Dedup.minhashSignatures(docs(s, dir)).orderBy("doc_id")),

    "neardup_pairs" -> ((s, dir) =>
      Dedup.nearDupPairs(docs(s, dir)).orderBy("doc_a", "doc_b")),

    // Classic b×r banding (2 bands × 2 rows): candidates need BOTH
    // minima of some band to collide — the steeper s-curve that bounds
    // verify cost as the corpus grows; same exact-Jaccard verify.
    "neardup_pairs_banded" -> ((s, dir) =>
      Dedup.nearDupPairsBanded(docs(s, dir)).orderBy("doc_a", "doc_b")),

    // Bounded-scratch sliced execution of the same banded relation:
    // band-key ranges processed as K sequential jobs against a
    // doc_id-bucketed signature table, peak spill ~1/K of the one-shot —
    // the mode that lets the pair family run at 50 M docs on one node.
    // Shares the one-shot banded oracle (the union is the identical
    // relation; equality also pinned in DedupSpec).
    "neardup_pairs_banded_sliced" -> ((s, dir) => {
      val work = java.nio.file.Files
        .createTempDirectory("graft_sliced_pairs").toString
      Dedup.nearDupPairsBandedSliced(docs(s, dir), work, slices = 4)
        .orderBy("doc_a", "doc_b")
    }),

    // Asymmetric containment (quote/subset detection): |A∩B|/|A| and
    // /|B| over the LSH candidate pairs — the signal that finds a short
    // doc embedded in a long one, which symmetric Jaccard misses.
    "containment_pairs" -> ((s, dir) =>
      Dedup.containmentPairs(docs(s, dir)).orderBy("doc_a", "doc_b")),

    // Z-order (Morton) clustering key over (user_id, event day): rows
    // sorted by this key cluster in BOTH dimensions, so parquet min/max
    // stats prune scans for predicates on either column (ScaleSpec
    // asserts the two-dimensional file skipping on a written layout).
    "z_order_key" -> ((s, dir) => {
      val ev = events(s, dir)
      ev.withColumn("_ms", EventOps.eventMs(ev))
        .select(col("event_id"), col("user_id"),
          expr("_ms div 86400000").as("day"))
        .withColumn("z", graft.functions.BitInterleave(
          col("user_id"), col("day"), 21))
        .orderBy("event_id")
    }),

    // Exact Levenshtein verify over the LSH-blocked candidate pairs —
    // the O(len²) last step of fuzzy matching, never run all-pairs.
    "edit_distance_pairs" -> ((s, dir) =>
      Dedup.editDistancePairs(neardupEdges(s, dir), docs(s, dir))),

    // EVERY pair-graph CONSUMER below (the wedge family AND the
    // clustering/dedup-apply family) reads the per-(session, sf)
    // MATERIALIZED pair-graph tables (EntryHelpers.simhashEdges /
    // neardupEdges — the Dedup.writePairGraph contract, VERDICT r10
    // item 2): the pair search is paid once per corpus version, every
    // consumer prices edge-table-sized. Corpus-fed pair PRODUCTION
    // stays oracle-checked by its own rows (neardup_pairs,
    // neardup_pairs_banded, neardup_pairs_banded_sliced,
    // simhash_pairs_md5, minhash_signatures) and by the composed
    // corpus_production chain, which deliberately recomputes its pairs
    // live.

    // PageRank over the MinHash-LSH near-dup pair graph: fixed-point
    // BIGINT arithmetic (floor divisions only — no float sums), so the
    // 4-round BSP scores are bit-identical across engines and
    // partitionings; ranks hub copies (connected boilerplate) above
    // leaves inside duplicate neighborhoods.
    "pagerank_neardup" -> ((s, dir) =>
      Dedup.pageRank(neardupEdges(s, dir))),

    // Triangle enumeration over the (dense) SimHash pair graph: 3-cliques
    // listed once as doc_a < doc_b < doc_c via the ordered wedge join —
    // the clustering-coefficient evidence that a duplicate neighborhood
    // is one mutual template rather than a chain of borderline pairs.
    // BOUNDED terminal (VERDICT r10 item 3): first 10k triangles under
    // the total order via TakeOrderedAndProject + the total count on
    // every row — no output-sized global sort in the plan; the
    // unbounded enumeration stays available as Dedup.triangles.
    "triangle_count" -> ((s, dir) =>
      Dedup.trianglesBounded(simhashEdges(s, dir))),

    // Synchronous 4-round label propagation — communities over the same
    // pair graph (finer than connected components across bridge edges).
    "label_communities" -> ((s, dir) =>
      Dedup.labelPropagation(simhashEdges(s, dir))
        .orderBy("doc_id")),

    // 2-core of the SimHash pair graph: peel degree-<2 vertices to a
    // fixpoint — the dense-duplication-community detector. BSP peel loop
    // with per-round persists; driver sees only edge counts.
    "kcore_graph" -> ((s, dir) =>
      Dedup.kCore(simhashEdges(s, dir))
        .orderBy("doc_id")),

    // Aggregate twin of triangle_count: per-vertex triangle participation
    // over the same degree-capped graph, ending in a vertex-sized hash
    // aggregate instead of a total-order sort over the triangle set —
    // the form that survives a 100× edge-count scale-up (the enumerate
    // form's terminal sort is output-sized and grows superlinearly).
    "triangle_counts_by_vertex" -> ((s, dir) =>
      Dedup.triangleCounts(simhashEdges(s, dir))),

    // Near-dup clustering: connected components over the MinHash-LSH pair
    // graph — every doc labeled with its cluster's canonical (minimum)
    // doc_id, singletons labeling themselves. The post-pair step an LLM
    // dedup pipeline actually acts on ("keep one per cluster").
    "neardup_clusters" -> ((s, dir) =>
      Dedup.connectedComponents(
          neardupEdges(s, dir), docs(s, dir).select("doc_id"))
        .orderBy("doc_id")),

    // Cluster-size histogram over the near-dup clustering — the
    // duplicate-group shape diagnostic (is duplication pairwise or
    // template-driven mass copying?).
    "neardup_cluster_sizes" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.connectedComponents(
          neardupEdges(s, dir), d.select("doc_id"))
        .groupBy("cluster").agg(count(lit(1)).as("sz"))
        .groupBy("sz").agg(count(lit(1)).as("n_clusters"))
        .orderBy("sz")
    }),

    // Per-source duplicate-rate roll-up over the near-dup clustering —
    // the curation diagnostic that says WHICH feed is self-copying.
    "neardup_rate_by_source" -> ((s, dir) => {
      val d = docs(s, dir)
      val cc = Dedup.connectedComponents(
        neardupEdges(s, dir), d.select("doc_id"))
      d.select("doc_id", "source").join(cc, Seq("doc_id"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct("cluster").as("n_clusters"))
        .select(col("source"), col("n_docs"), col("n_clusters"),
          (lit(1.0) - col("n_clusters").cast("double") / col("n_docs"))
            .as("dup_rate"))
        .orderBy("source")
    }),

    // Same clustering through the O(log n)-round large-star/small-star
    // contraction — the scale path for deep-diameter graphs; shares
    // neardup_clusters' transitive-closure oracle, so both algorithms
    // must produce the identical relation (the flagship_rank two-form
    // pattern).
    "neardup_clusters_star" -> ((s, dir) =>
      Dedup.connectedComponentsStar(
          neardupEdges(s, dir), docs(s, dir).select("doc_id"))
        .orderBy("doc_id")),

    // The dedup endpoint: cluster the pair graph, then keep one
    // representative per cluster (longest text, doc_id tiebreak) — the
    // frame a training run would actually read.
    "dedup_apply" -> ((s, dir) => {
      val d = docs(s, dir)
      val clusters = Dedup.connectedComponents(
        neardupEdges(s, dir), d.select("doc_id"))
      Dedup.keepClusterRepresentatives(d, clusters)
        .select(col("cluster"), col("doc_id"),
          col("n_chars").cast("long").as("n_chars"))
        .orderBy("cluster")
    }),

    // Decontamination: 8-gram overlap between the corpus and a
    // deterministic 10% holdout slice (doc_id % 10 == 0, standing in for
    // the benchmark/eval set) — flags training docs that leak eval text.
    "contamination_overlap" -> ((s, dir) =>
      Dedup.contaminationOverlap(docs(s, dir), col("doc_id") % 10 === 0)
        .orderBy("doc_id", "holdout_id")),

    // Sketch path of the same incremental dedup: Bloom-filter pre-screen
    // (codegen'd membership probe) + exact anti-join on the flagged
    // candidates only. Oracle = incremental_dedup's SQL — the composition
    // is provably exact (no false negatives; false positives are
    // re-checked), so a hash-green row proves the sketch path is
    // semantics-preserving, the salted_join_agg pattern.
    "incremental_dedup_bloom" -> ((s, dir) => {
      val d = docs(s, dir)
      Scale.bloomIncrementalDedup(
          d.where(col("doc_id") % 2 === 1),
          d.where(col("doc_id") % 2 === 0),
          key = t => md5(substring(lower(t), 1, 64)))
        .orderBy("fingerprint")
    }),

    // Cross-corpus NEAR-dup: the odd-id batch's MinHash bands joined
    // against the even-id corpus' signature index, exact-Jaccard
    // verified — the incremental counterpart of neardup_pairs (12 of its
    // 25 sf0.01 pairs straddle the parity split, so the result is real).
    "incremental_neardup" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.incrementalNearDupPairs(
          d.where(col("doc_id") % 2 === 1), d.where(col("doc_id") % 2 === 0))
        .orderBy("inc_id", "ex_id")
    }),

    // Incremental edge-table maintenance (VERDICT r11 item 6): the
    // even-id corpus' edge table + signature index absorb the odd-id
    // batch as a DELTA (batch-internal pairs + batch-vs-index pairs) —
    // and the oracle is the FULL REBUILD's pair relation on the union
    // snapshot, so the hash check proves delta maintenance loses or
    // invents nothing. Cost ∝ batch (ScaleProbe `edges-delta` measures
    // the ladder); relabel parity is pinned in DedupSpec.
    "incremental_edges" -> ((s, dir) => {
      val base = incrementalBase(s, dir)
      Dedup.updatePairGraph(
          Tables.parquet(s, base.resolve("edges").toString),
          docs(s, dir).where(col("doc_id") % 2 === 1),
          Tables.parquet(s, base.resolve("index").toString))
        .orderBy("doc_a", "doc_b")
    }),

    // Touched-cluster relabel under the same split: recompute labels
    // ONLY for clusters the batch connects to (everything else keeps its
    // label row). The result is definitionally the FULL clustering of
    // the union snapshot, so the oracle is the neardup_clusters relation
    // verbatim — the strongest possible check that incremental label
    // maintenance drifts from nothing. Reads the corpus version's
    // persisted labels/edges/index (EntryHelpers.incrementalBase) and
    // pays the delta + touched-subgraph CC live.
    "incremental_relabel" -> ((s, dir) => {
      val base = incrementalBase(s, dir)
      val inc = docs(s, dir).where(col("doc_id") % 2 === 1)
      val exEdges = Tables.parquet(s, base.resolve("edges").toString)
      Dedup.relabelTouched(
          Tables.parquet(s, base.resolve("labels").toString),
          exEdges,
          Dedup.updatePairGraphDelta(inc,
            Tables.parquet(s, base.resolve("index").toString)),
          inc.select("doc_id"))
        .orderBy("doc_id")
    }),

    // Incremental CORPUS PRODUCTION — the epoch-advance contract
    // (VERDICT r12 item 2): the even-id corpus version's persisted
    // artifacts (produced corpus, dec counts, fingerprint/window/
    // holdout-gram indexes, LM ratio table, frozen length band, plus
    // the incrementalBase near-dup trio) absorb the odd-id batch as an
    // EPOCH — batch-side curation gates, existing-wins dedup via delta
    // edges + touched relabel, union-holdout decontamination, quota
    // top-up from union counts, epoch-append shuffle positions, and
    // sequence packing extended from the epoch-1 token boundary.
    // Epoch-1 rows ship verbatim (immutable); the oracle replays the
    // WHOLE contract from raw parquet (the even chain + every batch
    // stage), so the hash proves the composition. Scale: cost ∝ batch
    // + narrow index scans — corpus text is never re-read (ScaleProbe
    // `epoch-advance` measures the ladder).
    "incremental_production" -> ((s, dir) => {
      val base = epochVersion(s, dir)
      graft.operators.Epoch.advance(
          docs(s, dir).where(col("doc_id") % 2 === 1), base)
        .orderBy("position")
    }),

    // Decontamination endpoint: the corpus (doc_id % 10 != 0) minus every
    // doc sharing an 8-gram with the holdout slice — what a training run
    // reads after the contamination_overlap scan above.
    // Per-doc 3-gram novelty of the odd-id half against the even-id
    // half's gram index — the crawl-batch freshness signal (low novelty
    // = re-crawling what the corpus already holds).
    "ngram_novelty" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.ngramNovelty(d.where(col("doc_id") % 2 === 1),
          d.where(col("doc_id") % 2 === 0))
        .orderBy("doc_id")
    }),

    "decontaminate" -> ((s, dir) =>
      Dedup.decontaminate(docs(s, dir), col("doc_id") % 10 === 0)
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy("doc_id")),

    // Direct n-gram Jaccard near-dup pairs via rare-gram blocking — the
    // deterministic (exact-recall-within-blocking) counterpart of the
    // probabilistic MinHash-LSH path above; same threshold, different
    // candidate generation, so the two families cross-check each other.
    // Sketch-quality eval: exact 3-gram Jaccard vs the k=4 MinHash
    // estimate per blocked candidate pair, with the absolute error.
    "minhash_est_eval" -> ((s, dir) =>
      Dedup.minhashEstimateEval(docs(s, dir))
        .orderBy("doc_a", "doc_b")),

    // ANALYZE-style one-pass per-column stats over the fact table.
    "column_stats" -> ((s, dir) =>
      Scale.columnStats(t(s, dir, "lineitem"))
        .orderBy("column_name")),

    // The 100-TB default (HLL NDV, no expand node) as a verdict row:
    // exact twin's columns + within_bound = |ndv_approx − ndv| inside
    // the 6·rsd·ndv determinism bound ScaleSpec asserts, computed
    // in-plan by joining the sketch frame to the exact twin on
    // column_name. The expand-free plan contract lives on the OPERATOR
    // ([[Scale.columnStatsApprox]], pinned in ScaleSpec) — this registry
    // row deliberately pays the exact twin's expand to referee the
    // sketch; production calls the operator alone.
    "column_stats_approx" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val rsd = 0.02
      val est = Scale.columnStatsApprox(li, rsd)
        .select(col("column_name"), col("ndv_approx"))
      Scale.columnStats(li)
        .join(est, Seq("column_name"))
        .select(col("column_name"), col("n_nulls"), col("ndv"),
          col("min_num"), col("max_num"),
          (abs(col("ndv_approx").cast("double") -
              col("ndv").cast("double")) <=
            greatest(lit(1.0), lit(6 * rsd) * col("ndv").cast("double")))
            .as("within_bound"))
        .orderBy("column_name")
    }),

    "jaccard_pairs" -> ((s, dir) =>
      Dedup.jaccardNgramPairs(docs(s, dir)).orderBy("doc_a", "doc_b")),

    // Substring-level duplicate spans (Lee et al.-style exact substring
    // dedup, hashed-window approximation): maximal token spans whose
    // 8-token windows appear verbatim in ≥ 2 documents. No pair join —
    // cost scales with corpus tokens, not candidate pairs².
    "dup_spans" -> ((s, dir) =>
      Dedup.duplicateSpans(docs(s, dir))
        .orderBy("doc_id", "span_start")),

    // Per-doc duplicated-span coverage — the "mostly boilerplate found
    // elsewhere" curation signal thresholded by cleaning pipelines.
    "dup_span_coverage" -> ((s, dir) =>
      Dedup.duplicateSpanCoverage(docs(s, dir))
        .orderBy("doc_id")),

    // Substring-dedup apply: every duplicated span clipped, surviving
    // token stream hashed — what a boilerplate-removal pass writes back.
    "dup_span_clip" -> ((s, dir) =>
      Dedup.clipDuplicateSpans(docs(s, dir))
        .orderBy("doc_id")),

    // (The xxhash64 simhash pair search — Dedup.simhashPairs — is the
    // deployment-scale variant of simhash_pairs_md5 below: same banding
    // and verify, 8-byte non-portable hash. Per the pinned-parameter
    // rule it ships as an operator + DedupSpec equivalence pin, not a
    // rows-only registry row; the md5-sliced form carries the oracle.)

    // Incremental (cross-corpus) dedup — the production shape: the odd-id
    // half of the corpus arrives as a new batch and is deduped against
    // the even-id half's fingerprint index (prefix-64 near-dup screen, so
    // the planted prefix-duplicate groups make the drop real: ~11 of 250
    // incoming docs are dropped at sf0.01).
    "incremental_dedup" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.incrementalDedup(
          d.where(col("doc_id") % 2 === 1),
          d.where(col("doc_id") % 2 === 0),
          key = t => md5(substring(lower(t), 1, 64)))
        .orderBy("fingerprint")
    }),

    "simhash_pairs_md5" -> ((s, dir) =>   // md5-sliced portable variant
      Dedup.simhashPairsPortable(docs(s, dir)).orderBy("doc_a", "doc_b")),

    // Cross-snapshot corpus diff: two deterministic snapshot views of the
    // documents table (old drops doc_id%7==1, new drops %7==2 and
    // revises the text of %7==3) reconciled into per-doc
    // added/removed/changed/unchanged — the incremental-crawl operator
    // that decides what re-enters curation. One digest-only full-outer
    // join; the corpus text never crosses the shuffle.
    "snapshot_diff" -> ((s, dir) => {
      val d = docs(s, dir)
      val oldSnap = d.where(col("doc_id") % 7 =!= 1)
        .select(col("doc_id"), col("text"))
      val newSnap = d.where(col("doc_id") % 7 =!= 2)
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 3,
            concat(coalesce(col("text"), lit("")), lit(" [rev2]")))
            .otherwise(col("text")).as("text"))
      Dedup.snapshotDiff(oldSnap, newSnap).orderBy("doc_id")
    }),

    // Blocklist / badwords gate (the C4 cleaning step): occurrence
    // stats + pass verdict against a 3-word blocklist literal, as a
    // shuffle-free projection.
    "blocklist_filter" -> ((s, dir) =>
      TextOps.blocklistStats(docs(s, dir), Seq("slow", "dup", "leak"))
        .orderBy("doc_id")),

    // Incremental re-curation — the production pattern snapshot_diff
    // exists to feed: only the added/changed documents of the new
    // snapshot re-enter the curated set; unchanged docs keep their
    // standing verdicts and removed docs leave. Plan shape: the
    // projection gates (blocklist pass ∧ ≥ 10 tokens) evaluate IN THE
    // SCAN of the new snapshot (shuffle-free, like every projection
    // gate), and every join in the query moves only (doc_id, digest)
    // or (doc_id, stats) — the corpus text never crosses an exchange.
    // The first landing of this query semi-joined the dirty set BEFORE
    // gating, which re-shuffled the dirty docs' full text; the
    // six-decade measurement priced that at 19.7× for the last 10×
    // (SCALING.md fifteenth batch) and this narrow form replaced it.
    // Expensive gates (pair joins) WOULD semi-join first — on the
    // bucketed corpus layout that join is co-located and still moves
    // no text.
    "incremental_curation" -> ((s, dir) => {
      val d = docs(s, dir)
      val oldSnap = d.where(col("doc_id") % 7 =!= 1)
        .select(col("doc_id"), col("text"))
      val newSnap = d.where(col("doc_id") % 7 =!= 2)
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 3,
            concat(coalesce(col("text"), lit("")), lit(" [rev2]")))
            .otherwise(col("text")).as("text"))
      val dirty = Dedup.snapshotDiff(oldSnap, newSnap)
        .where(col("status").isin("added", "changed"))
      val gates = TextOps.blocklistStats(newSnap, Seq("slow", "dup", "leak"))
      dirty.join(gates, Seq("doc_id"))
        .where(col("pass") && col("n_tokens") >= 10)
        .select(col("doc_id"), col("status"), col("n_tokens"),
          col("n_flagged"), col("flagged_frac"))
        .orderBy("doc_id")
    }),

    // Leakage-safe holdout split: near-dup clusters (the neardup_clusters
    // labeling) assigned to train/val/test ATOMICALLY by Knuth hash of
    // the cluster label — no near-duplicate pair can straddle train and
    // test, the eval-contamination guarantee split_assign's per-doc
    // hashing cannot make.
    "cluster_split" -> ((s, dir) =>
      TextOps.clusterSplit(
          Dedup.connectedComponents(
            neardupEdges(s, dir), docs(s, dir).select("doc_id")))
        .orderBy("doc_id")),

    // ---- Similarity search ----------------------------------------------

    "ann_topk" -> ((s, dir) => Similarity.topK(emb(s, dir), queryId = 0L)),

    // Outlier surfacing by centroid distance: the 25 vectors least
    // similar to the exact-DECIMAL corpus centroid (OOD/corrupt-sample
    // first pass; ascending — head is the most anomalous).
    "embedding_outliers" -> ((s, dir) =>
      Similarity.centroidOutliers(emb(s, dir), k = 25)),

    // ANN index evaluation: recall@10 of the fixed-grid IVF probe against
    // the exact top-10 — the metric that prices every approximate index's
    // accuracy trade. The oracle composes the two result oracles and
    // intersects on vec_id.
    "ann_recall_ivf" -> ((s, dir) =>
      Similarity.recallAtK(
        Similarity.topK(emb(s, dir), queryId = 0L),
        Similarity.ivfTopK(emb(s, dir), queryId = 0L), k = 10)),

    "ann_topk_lsh" -> ((s, dir) =>
      Similarity.lshTopK(emb(s, dir), queryId = 0L)),

    "ann_topk_ivf" -> ((s, dir) =>
      Similarity.ivfTopK(emb(s, dir), queryId = 0L)),

    "ann_topk_lsh_mp" -> ((s, dir) =>   // multi-probe: flips low-margin bits
      Similarity.lshTopKMultiProbe(emb(s, dir), queryId = 0L)),

    // Batch ANN join: top-10 LSH neighbors for EVERY query in the set
    // (vec_id < 20) in one plan — the retrieval/indexing shape that
    // amortizes the banding over the whole query set.
    "ann_topk_join" -> ((s, dir) =>
      Similarity.lshTopKJoin(emb(s, dir))
        .orderBy(col("q_id"), desc("sim"), col("c_id"))),

    // IVF search over a TRAINED codebook (vs ann_topk_ivf's sampled one).
    // Training is the once-per-corpus-version offline job (see
    // kmeansCodebook's scaladoc), so it is memoized per (session, sf dir)
    // — a repeated invocation re-times the search, not the training; the
    // generated oracle replays the same two Lloyd iterations in SQL.
    "ann_topk_ivf_kmeans" -> ((s, dir) =>
      Similarity.ivfTopK(emb(s, dir), queryId = 0L,
        codebook = Some(kmeansBook(s, dir)))),

    // Product-quantization ADC top-k: the corpus is searched through its
    // 8-byte PQ codes (trained 8×16 codebooks, memoized like the k-means
    // book); the query-side lookup tables ride as literals, so the scan
    // never touches a corpus vector — the memory-compression ANN shape.
    // The generated oracle replays encode + ADC over the inlined books.
    "ann_topk_pq" -> ((s, dir) =>
      Similarity.pqTopK(emb(s, dir), queryId = 0L,
        books = Some(pqBook(s, dir)))),

    // Random-projection reduced-space search: 64→16 dims via
    // deterministic hyperplanes, top-40 candidates by reduced cosine,
    // exact re-rank to top-10 — the scan-4×-less-data ANN shape.
    "ann_topk_rp" -> ((s, dir) =>
      Similarity.rpTopK(emb(s, dir), queryId = 0L)),

    // IVF-PQ — the composed production index (FAISS IVFPQ shape): the
    // trained coarse codebook routes the query to 4 cells; candidates
    // inside them rank by ADC over their 8-byte PQ codes. Both trained
    // codebooks are the memoized once-per-corpus jobs; the oracle
    // replays coarse training, PQ training, encode, probe, and the
    // fixed-order ADC sum in one statement.
    "ann_topk_ivfpq" -> ((s, dir) =>
      Similarity.ivfPqTopK(emb(s, dir), queryId = 0L,
        codebook = kmeansBook(s, dir), books = pqBook(s, dir))),

    // Residual-encoding IVF-PQ — the full FAISS recipe: corpus vectors
    // are PQ-encoded as `v − centroid(cell)` residuals (smaller norm →
    // smaller ADC error for the same byte budget), and the query builds
    // one LUT per probed cell from its own residual against that cell.
    // The oracle replays coarse training, residual computation, residual
    // PQ training, encode, and the per-cell LUT join in one statement.
    "ann_topk_ivfpq_residual" -> ((s, dir) =>
      Similarity.ivfPqResidualTopK(emb(s, dir), queryId = 0L,
        codebook = kmeansBook(s, dir), books = pqResidBook(s, dir))),

    // The raw corpus has no cosine ≥ 0.9 pairs at small SFs, which made
    // this oracle row vacuously green (VERDICT r3 wrong.1). Deterministic
    // perturbed copies of the first 8 vectors are unioned in (new id =
    // vec_id + 10^7, first component +0.01 — a single double add after the
    // upcast, bit-identical in the SQL oracle) so the banding + verify
    // path must recover real planted pairs.
    "embedding_neardup_lsh" -> ((s, dir) =>
      Similarity.lshNearDupPairsFromVecs(plantedVecs(s, dir),
          threshold = 0.9, planes = 12, tables = 3, dim = EmbDim)
        .orderBy("vec_a", "vec_b")),

    // Contrastive triplets over the planted near-dup pair graph: each
    // (anchor, positive) pair gets a deterministic pseudo-random
    // negative from the raw corpus — the embedding-model training-data
    // endpoint downstream of the pair search. The pool is DELIBERATELY
    // gapped (every 7th id dropped) to exercise the rank-based draw:
    // negatives come from the pool's id-order ranks, so no density
    // precondition exists.
    "contrastive_triplets" -> ((s, dir) => {
      val pv = plantedVecs(s, dir)
      // Negatives pool = the raw corpus slice of pv (ids < the planted
      // offset) minus the id gap — reuses the frame the pair search
      // persists instead of re-scanning the embeddings table.
      val pool = pv.where(col("vec_id") < 10000000L &&
        col("vec_id") % 7 =!= 3)
      Similarity.contrastiveTriplets(pv,
          Similarity.lshNearDupPairsFromVecs(pv, threshold = 0.9,
            planes = 12, tables = 3, dim = EmbDim),
          pool)
        .orderBy("anchor", "positive")
    }),

    // SemDeDup-style semantic dedup: the TRAINED k-means codebook assigns
    // every vector (corpus + the same planted perturbations) to a cell;
    // near-dup pairs are searched only within cells. Cross-checks the LSH
    // pair search above: different candidate generation, same planted
    // truth.
    "semantic_dedup" -> ((s, dir) =>
      Similarity.semanticDedupPairs(plantedVecs(s, dir), kmeansBook(s, dir))
        .orderBy("vec_a", "vec_b")),

    // SemDeDup APPLY: connected components over the semantic pair graph,
    // one row per surviving cluster (cluster = kept representative id) —
    // the embedding-space twin of dedup_apply.
    "semantic_dedup_apply" -> ((s, dir) => {
      val pairs = Similarity
        .semanticDedupPairs(plantedVecs(s, dir), kmeansBook(s, dir))
        .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
      Dedup.connectedComponents(pairs,
          plantedVecs(s, dir).select(col("vec_id").as("doc_id")))
        .groupBy("cluster")
        .agg(count(lit(1)).as("n_members"))
        .orderBy("cluster")
    }),

    // ---- Text analysis --------------------------------------------------

    "token_stats" -> ((s, dir) =>
      TextOps.tokenStats(docs(s, dir))
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
          col("n_tokens").cast("long").as("n_tokens"),
          col("n_word_pieces").cast("long").as("n_word_pieces"),
          col("n_distinct").cast("long").as("n_distinct"),
          col("avg_token_len"), col("stopword_ratio"), col("distinct_ratio"))
        .orderBy("doc_id")),

    // Equi-depth token-count histogram: every document ntile'd into 10
    // equal-population bins under a TOTAL order (n_tokens, doc_id), each
    // bin summarized — the length-distribution profile read before
    // choosing packing/truncation thresholds.
    "token_deciles" -> ((s, dir) =>
      TextOps.tokenDeciles(docs(s, dir))
        .select(col("decile"), col("n_docs"),
          col("min_tokens").cast("long").as("min_tokens"),
          col("max_tokens").cast("long").as("max_tokens"),
          col("sum_tokens").cast("long").as("sum_tokens"))
        .orderBy("decile")),

    "lang_id" -> ((s, dir) =>
      TextOps.langIdAgg(docs(s, dir))
        .select(col("doc_id"), col("en_hits").cast("long").as("en_hits"),
          col("de_hits").cast("long").as("de_hits"),
          col("fr_hits").cast("long").as("fr_hits"),
          col("es_hits").cast("long").as("es_hits"), col("pred_lang"))
        .orderBy("doc_id")),

    "quality_score" -> ((s, dir) =>
      TextOps.qualityScore(TextOps.tokenStats(docs(s, dir)))
        .select(col("doc_id"), col("quality_score"))
        .orderBy("doc_id")),

    // Corpus-bigram LM quality score (the CCNet-perplexity stand-in):
    // per-doc mean transition probability in fixed point — exact integer
    // sums, ONE final IEEE division, so the score is hash-portable where
    // a log-prob formulation would not be.
    "lm_score" -> ((s, dir) =>
      TextOps.lmScore(docs(s, dir)).orderBy("doc_id")),

    // Multi-level aggregation (ROLLUP): corpus stats per (lang, source),
    // per lang, and grand total in one partial-aggregated pass.
    "docs_rollup" -> ((s, dir) =>
      docs(s, dir).rollup("lang", "source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"),
          grouping_id().as("level"))
        .select(col("lang"), col("source"), col("n_docs"),
          col("total_chars").cast("long").as("total_chars"),
          col("level").cast("long").as("level"))
        .orderBy(col("level"), asc_nulls_first("lang"),
          asc_nulls_first("source"))),

    // JSONL landing zone: corpus exported as JSON lines (with the
    // deterministic doc_id%53 truncation corruption), scanned back with
    // an explicit schema + PERMISSIVE quarantine, audited per source.
    // Oracle-checks the whole write→read round trip: any escaping or
    // quarantine drift breaks the per-source character sums the SQL twin
    // recomputes from the parquet originals. Export is memoized setup
    // ([[EntryHelpers.jsonlLanding]]); the timed op is the landing scan.
    "jsonl_landing" -> ((s, dir) =>
      graft.sources.Jsonl.landingStats(
        graft.sources.Jsonl.read(s, jsonlLanding(s, dir)))),

    // CSV landing zone: same round-trip-oracle contract as
    // `jsonl_landing`, but pinning CSV's DIFFERENT quarantine semantics
    // (field-local recovery — damaged rows keep their parsed source) and
    // the projection-dependent corrupt-detection footgun the audit
    // defeats (Csv.landingStats scaladoc).
    "csv_landing" -> ((s, dir) =>
      graft.sources.Csv.landingStats(
        graft.sources.Csv.read(s, csvLanding(s, dir)))),

    // Schema-evolution contract, JSONL (VERDICT r11 item 5): a landing
    // with an OLD generation (base schema) and a NEW one (additive
    // quality_tier + the truncation plant), read in ONE scan under the
    // superset schema — old rows parse clean with the new column null
    // (JSON self-describes field absence), damaged new rows quarantine
    // whole-row. The audit proves all three populations landed where
    // the contract says.
    "jsonl_landing_evolved" -> ((s, dir) => {
      val root = jsonlEvolvedLanding(s, dir)
      graft.sources.Jsonl.landingStatsEvolved(
        graft.sources.Jsonl.readEvolved(s,
          root.resolve("gen1").toString, root.resolve("gen2").toString))
    }),

    // Schema-evolution contract, CSV: positional records cannot
    // self-describe field absence, so each generation reads under ITS
    // OWN schema (explicit generation subdirs) and unions by name with
    // null-fill. The type-violation plant pins the field-local rule
    // UNDER evolution: a quarantined gen-2 row still carries its parsed
    // quality_tier (n_with_tier counts it).
    "csv_landing_evolved" -> ((s, dir) => {
      val root = csvEvolvedLanding(s, dir)
      graft.sources.Csv.landingStatsEvolved(
        graft.sources.Csv.readEvolved(s,
          root.resolve("gen1").toString, root.resolve("gen2").toString))
    }),

    // Type-CHANGE evolution, JSONL (VERDICT r12 item 5): three
    // generations — base, additive V2, and V3 widening n_chars
    // BIGINT→DOUBLE with a fractional payload — read under the WIDENED
    // superset schema. Old generations' JSON integers parse losslessly
    // as doubles; only gen-3 rows show fractional n_chars (n_frac);
    // the %53 truncation plants still quarantine whole-row. The
    // narrowing refusal (fractional rows under the BIGINT schema
    // quarantine, never truncate) is pinned in JsonlSpec.
    "jsonl_landing_retyped" -> ((s, dir) => {
      val root = jsonlRetypedLanding(s, dir)
      graft.sources.Jsonl.landingStatsRetyped(
        graft.sources.Jsonl.readRetyped(s,
          root.resolve("gen1").toString, root.resolve("gen2").toString,
          root.resolve("gen3").toString))
    }),

    // Type-CHANGE evolution, CSV: per-generation schemas + the widening
    // union-cast (older generations' n_chars cast UP to DOUBLE before
    // the name-union — lossless; the union never casts down). The %59
    // type plants stay field-locally quarantined in both planted
    // generations; the narrowing refusal is pinned in CsvSpec.
    "csv_landing_retyped" -> ((s, dir) => {
      val root = csvRetypedLanding(s, dir)
      graft.sources.Csv.landingStatsRetyped(
        graft.sources.Csv.readRetyped(s,
          root.resolve("gen1").toString, root.resolve("gen2").toString,
          root.resolve("gen3").toString))
    }),

    // Order-insensitive md5-fold XOR checksum per source — the
    // cross-system reconciliation digest (any engine, any row order,
    // same 60-bit checksum).
    "table_checksum" -> ((s, dir) =>
      Relational.tableChecksum(docs(s, dir), "source",
        Seq(col("doc_id"), coalesce(col("text"), lit("")), col("lang"),
          col("source"), col("n_chars")))),

    // Deterministic stratified downsampling (data mixing): 1/2 of English
    // docs, 1/4 of everything else.
    "stratified_sample" -> ((s, dir) =>
      TextOps.stratifiedSample(docs(s, dir), Map("en" -> 2), defaultRate = 4)
        .select(col("doc_id"), col("lang"), col("source"),
          col("n_chars"))
        .orderBy("doc_id")),

    // Per-(lang, source) quota capping: keep the 3 longest docs per group
    // (doc_id tiebreak) — the data-mixing step that stops one source from
    // dominating a stratum.
    "source_quota" -> ((s, dir) =>
      TextOps.groupQuota(docs(s, dir), Seq("lang", "source"), quota = 3)
        .orderBy(asc_nulls_first("lang"), asc_nulls_first("source"),
          asc("rank_in_group"))),

    // Weighted mixture upsampling: src0 docs get 3 epochs, src1 gets 2,
    // everything else 1 — one row per (doc, epoch).
    "epoch_mix" -> ((s, dir) =>
      TextOps.epochMix(docs(s, dir), Map("src0" -> 3, "src1" -> 2))
        .orderBy("doc_id", "epoch")),

    // Deterministic epoch shuffle: global training order = rank of
    // md5(seed:doc_id), computed with the two-phase range-partition
    // prefix machinery (no unpartitioned window).
    "shuffle_order" -> ((s, dir) =>
      TextOps.shuffleOrder(docs(s, dir)).orderBy("position")),

    // DSIR-style data selection: every non-holdout doc scored by how
    // target-typical its hashed-bigram features are (fixed-point
    // frequency differences — the log-free, hash-portable surrogate).
    // The holdout slice (doc_id % 10 == 0) plays the quality reference.
    "importance_weights" -> ((s, dir) =>
      TextOps.importanceWeights(docs(s, dir), col("doc_id") % 10 === 0)
        .orderBy("doc_id")),

    // Unicode NFC canonicalization: the ASCII corpus normalizes to
    // itself, so decomposed accents (e + combining acute, U+0301) are
    // planted on doc_id % 5 == 0 — composition must change both the
    // char length and the md5, and match DuckDB's nfc_normalize.
    "canonicalize_text" -> ((s, dir) => {
      val planted = docs(s, dir).withColumn("text",
        when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" caf"), lit("e" + "\u0301")))
          .otherwise(col("text")))
      TextOps.canonicalize(planted)
        .select(col("doc_id"),
          length(col("canonical")).cast("long").as("n_chars"),
          md5(col("canonical")).as("canonical_md5"))
        .orderBy("doc_id")
    }),

    // Corpus vocabulary: top-100 token frequencies (count desc, token
    // asc — a total order, so the k-cut is deterministic cross-engine).
    "vocab_topk" -> ((s, dir) =>
      TextOps.vocabTopK(docs(s, dir))),

    // Vocabulary coverage: per-doc OOV token fraction against the same
    // deterministic top-100 vocab — the tokenizer-evaluation signal.
    "vocab_coverage" -> ((s, dir) =>
      TextOps.vocabCoverage(docs(s, dir))
        .orderBy("doc_id")),

    // Deterministic train/val/test holdout split (90/5/5 by Knuth
    // multiplicative hash of doc_id — a pure projection, so assignment
    // is stable across machines and reruns); per-split doc/char summary.
    "split_assign" -> ((s, dir) => TextOps.holdoutSplit(docs(s, dir))),

    // BPE tokenizer training: 16 most-frequent-adjacent-pair merges over
    // the frequency-weighted word vocabulary (driver-looped like the
    // Lloyd iterations; ties lexicographic on (lhs, rhs)). The oracle
    // replays every merge stage in one 16-stage CTE chain.
    "bpe_merges" -> ((s, dir) => {
      import s.implicits._
      bpeMergeTable(s, dir)
        .toDF("merge_rank", "lhs", "rhs", "merged", "n_occ")
        .orderBy("merge_rank")
    }),

    // BPE tokenizer APPLY: encode the corpus with the trained merge
    // table (memoized once per corpus, like the k-means codebooks) and
    // emit the token vocabulary with frequencies. The merge list
    // crossing the driver is ≤16 (lhs, rhs) pairs; the oracle reuses
    // the training CTE chain and tokenizes its final vocab stage.
    "bpe_encode" -> ((s, dir) =>
      TextOps.bpeEncodeTokens(docs(s, dir),
        bpeMergeTable(s, dir).map(t => (t._2, t._3)))),

    // Dataset card: the one-row corpus summary a curation run publishes
    // (doc/token counts, stratum cardinalities, exact-dup rate). ONE
    // partial-aggregated pass; ratios are single IEEE divisions of
    // exact counts.
    "corpus_card" -> ((s, dir) => {
      val d = docs(s, dir)
      d.agg(
        count(lit(1)).as("n_docs"),
        // no lower(): case cannot change a whitespace-split token count.
        // Null texts contribute null (skipped by SUM), matching the
        // oracle's SUM-over-CASE — under the repo's legacy sizeOfNull
        // conf a bare size(null) would be -1 and silently deflate the
        // total (same guard as duplicateSpanCoverage).
        sum(when(col("text").isNotNull,
          TextOps.splitTokenCount(col("text")))).as("total_tokens"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("source")).as("n_sources"),
        // the canonical exact-dup fingerprint — same normalization as
        // the dedup operators this rate summarizes
        countDistinct(TextOps.fingerprint(col("text")))
          .as("n_fingerprints"))
      .select(col("n_docs"), col("total_tokens"),
        (col("total_tokens").cast("double") / col("n_docs"))
          .as("avg_doc_tokens"),
        col("n_langs"), col("n_sources"), col("n_fingerprints"),
        (lit(1.0) - col("n_fingerprints").cast("double") / col("n_docs"))
          .as("exact_dup_rate"))
    }),

    // Exact heavy hitters through a Misra–Gries sketch pre-screen + exact
    // re-count of the ≤127 candidates — deterministic despite the sketch
    // (superset guarantee), so it shares an exact SQL oracle; the
    // bounded-memory twin of vocab_topk's full-vocabulary aggregate.
    "heavy_hitters" -> ((s, dir) =>
      TextOps.heavyHitters(docs(s, dir))),

    // Per-doc unigram Shannon entropy in Q40 fixed point (codegen'd
    // integer square-and-shift log — oracle replays it with a HUGEINT
    // recursion); entropy_bits is one division by the constant 2^40.
    "token_entropy" -> ((s, dir) =>
      TextOps.tokenEntropy(docs(s, dir)).orderBy("doc_id")),

    // Gopher-style repetition signals: top-token fraction + duplicate
    // bigram/trigram occurrence fractions per document.
    "repetition_stats" -> ((s, dir) =>
      TextOps.repetitionStats(docs(s, dir))
        .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
          col("top_token_frac"), col("dup_bigram_frac"),
          col("dup_trigram_frac"))
        .orderBy("doc_id")),

    // Top-3 distinctive terms per doc by the integer tf·(N−df) relevance
    // score (tf-idf's ordering without its non-portable logarithm).
    "top_terms" -> ((s, dir) =>
      TextOps.topTerms(docs(s, dir))
        .select(col("doc_id"), col("term"), col("tf"), col("df"),
          col("score"))
        .orderBy(col("doc_id"), desc("score"), col("term"))),

    // Equi-depth range-partition bounds over the lineitem price column —
    // 8 buckets, exact discrete percentiles, per-bucket verification agg.
    "range_bounds" -> ((s, dir) =>
      Scale.rangeBounds(t(s, dir, "lineitem"), "l_extendedprice")
        .orderBy("bucket")),

    // 2-D Pareto front of (quality_score, n_tokens) document points —
    // two-phase prefix-max skyline, no unpartitioned window.
    "pareto_front" -> ((s, dir) =>
      Scale.paretoFront2D(
        TextOps.qualityScore(TextOps.tokenStats(docs(s, dir)))
          .select(col("doc_id"),
            col("n_tokens").cast("long").as("n_tokens"),
            col("quality_score")),
        "doc_id", "n_tokens", "quality_score")
        .orderBy(desc("quality_score"), asc("n_tokens"))),

    // BM25 top-k retrieval (log-free fixed-point scoring) for the three
    // contract queries — query_id/rank is a total order.
    "bm25_topk" -> ((s, dir) =>
      TextOps.bm25TopK(docs(s, dir), TextOps.DefaultRetrievalQueries)
        .orderBy("query_id", "rank")),

    // Inverted index with bounded (TopKAggregator) posting lists.
    "inverted_index" -> ((s, dir) =>
      TextOps.invertedIndex(docs(s, dir))
        .orderBy("term")),

    // Windowed co-occurrence + log-free PMI association scores.
    "pmi_cooccur" -> ((s, dir) =>
      TextOps.pmiCooccur(docs(s, dir))
        .orderBy("x", "y")),

    // Incremental index maintenance: the index of the union, built by
    // MERGING the two halves' indexes — shares the full index's oracle,
    // so the driver gate itself checks the mergeable-summary law.
    "inverted_index_merged" -> ((s, dir) => {
      val d = docs(s, dir)
      TextOps.invertedIndexMerge(
          TextOps.invertedIndex(d.where(col("doc_id") % 2 === 0)),
          TextOps.invertedIndex(d.where(col("doc_id") % 2 === 1)))
        .orderBy("term")
    }),

    // Candidate-pair Hamming histogram from the banded SimHash join —
    // the threshold-tuning curve (how many pairs each cutoff admits).
    "simhash_hamming_hist" -> ((s, dir) =>
      Dedup.simhashPairsPortable(docs(s, dir), maxHamming = 64)
        .groupBy("hamming").agg(count(lit(1)).as("n_pairs"))
        .orderBy("hamming")),

    // Per-source total-variation drift vs the corpus distribution —
    // ppm fixed-point, vocabulary-bounded densification.
    "source_drift" -> ((s, dir) =>
      TextOps.sourceDrift(docs(s, dir)).orderBy("source")),

    // Seeded sequential-Poisson weighted sample (k smallest h/weight
    // priorities; TakeOrdered — no global sort).
    "weighted_sample" -> ((s, dir) =>
      TextOps.weightedSample(docs(s, dir)).orderBy("priority", "doc_id")),

    // Corpus-relative length band: keep docs inside the [P5, P95]
    // discrete-quantile token-count band.
    "length_filter" -> ((s, dir) =>
      TextOps.lengthBandFilter(docs(s, dir)).orderBy("doc_id")),

    // Sequence packing: every doc's (sequence, offset) slot in the
    // doc_id-ordered 2048-token training stream — global prefix sum via
    // the two-phase range-partition machinery, no unpartitioned window.
    "pack_sequences" -> ((s, dir) =>
      TextOps.packSequences(docs(s, dir)).orderBy("doc_id")),

    // Hashed-feature linear quality classifier (the CCNet/fastText
    // inference slot): fixed literal weight model, exact integer logit,
    // keep = logit > 0. Oracle replays the md5 feature hash and the
    // weight formula integer-for-integer.
    "classifier_score" -> ((s, dir) =>
      TextOps.classifierScore(docs(s, dir)).orderBy("doc_id")),

    // Classifier TRAINING (completes the CCNet slot, VERDICT r10 item
    // 6): closed-form Naive-Bayes presence counts over the
    // deterministic labeled slice (doc_id%5, quality>=0.5 label) ->
    // add-one-smoothed integer ppm weight per hashed bucket. The
    // oracle re-derives counts and weights from the documents table
    // with the same hex-nibble hash — pure integer division, exact.
    "classifier_train" -> ((s, dir) =>
      TextOps.classifierTrain(docs(s, dir))),

    // Inference with the TRAINED weights — the ≤4096-row model
    // broadcasts onto the token stream; unseen buckets take the
    // smoothed prior; keep = integer average evidence above neutral.
    "classifier_score_trained" -> ((s, dir) =>
      TextOps.classifierScoreTrained(docs(s, dir))),

    // Held-out evaluation — confusion counts of the trained keep
    // decision vs the quality label on the docs the trainer never saw
    // (doc_id%5 != 0): the train/score/eval split a production gate
    // reports before shipping. All integer; the oracle replays the
    // full chain.
    "classifier_eval" -> ((s, dir) =>
      TextOps.classifierEval(docs(s, dir))),

    // Composed curation pass — the full cleaning pipeline as ONE plan:
    // corpus-quantile length band ∩ quality threshold ∩ language known ∩
    // exact-dedup representative. Proves the curation operators compose
    // (each is also oracle-checked standalone); Catalyst fuses the four
    // doc_id equi-joins into one shuffle-stage chain.
    "curation_pipeline" -> ((s, dir) =>
      curationBase(docs(s, dir)).orderBy("doc_id")),

    // The round-5 cleaning pipeline: v1's four gates PLUS the two new
    // per-doc signals — duplicated-span coverage ≤ 0.5 (drop docs that
    // are mostly boilerplate found elsewhere) and a non-null bigram LM
    // score (drop docs too short to score). One plan; Catalyst chains
    // the six doc_id equi-joins into one shuffle-stage pipeline.
    "curation_pipeline_v2" -> ((s, dir) => {
      val d = docs(s, dir)
      curationBase(d)
        .join(Dedup.duplicateSpanCoverage(d)
          .select(col("doc_id"), col("dup_frac")), Seq("doc_id"))
        .join(TextOps.lmScore(d)
          .select(col("doc_id"), col("avg_prob")), Seq("doc_id"))
        .where(Curation.DupSpanKeep && Curation.LmScoreable)
        .orderBy("doc_id")
    }),

    // The composed corpus-production run (see
    // EntryHelpers.corpusProduction): curate v3 -> dedup-apply ->
    // decontaminate -> mix -> shuffle -> pack as ONE plan, checked
    // per-document; the oracle replays the component CTE chain.
    "corpus_production" -> ((s, dir) =>
      corpusProduction(docs(s, dir)).orderBy("position")),

    // Dataset card over the same chain: per-source totals of the
    // produced corpus -- what a training run's data sheet records.
    // Reads the per-(session, sf) memoized production table
    // (EntryHelpers.corpusProductionMemo) -- the factory writes the
    // produced corpus once, the data sheet aggregates the table; only
    // corpus_production itself re-prices the live chain.
    "corpus_production_card" -> ((s, dir) =>
      corpusProductionMemo(s, dir)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tokens").as("n_tokens"),
          min("position").as("first_position"),
          max("position").as("last_position"))
        .orderBy("source")),

    // Training-shard export manifest (VERDICT r11 item 3): the produced
    // corpus cut into 8 deterministic contiguous-position shards, one
    // manifest row each — counts, token totals, position range, and the
    // order-insensitive md5-fold XOR digest a receiving training job
    // verifies shards against. Reads the memoized production table (the
    // export posture: the factory writes once, the export leg reads the
    // table); the oracle replays assignment arithmetic + digest from the
    // same chain SQL corpus_production hashes. The full write path
    // (parquet + JSONL shards + manifest) is Export.writeShards,
    // round-trip-pinned in ExportSpec and ladder-measured via
    // ScaleProbe's `export` kind.
    "export_manifest" -> ((s, dir) =>
      Export.exportManifest(corpusProductionMemo(s, dir), nShards = 8)),

    // Curation drop-reason attribution — the observability twin of
    // curation_pipeline_v2: every document labeled with the FIRST gate
    // that rejects it (fixed rule order: length band → quality →
    // language → exact-duplicate → dup-span coverage → LM-scoreable),
    // or 'kept'. Production pipelines audit WHY the corpus shrank; a
    // pass/fail filter can't answer that. Each gate is the SAME
    // component operator the pipeline composes (left-joined as a
    // signal instead of inner-joined as a filter), so verdict='kept'
    // is definitionally curation_pipeline_v2's survivor set — pinned
    // by MixingSpec against the registry query itself.
    "curation_reasons" -> ((s, dir) => {
      val d = docs(s, dir)
      d.select(col("doc_id"), col("source"))
        .join(TextOps.lengthBandFilter(d)
          .select(col("doc_id"), lit(true).as("in_band")),
          Seq("doc_id"), "left")
        .join(TextOps.qualityScore(TextOps.tokenStats(d))
          .select(col("doc_id"), col("quality_score")), Seq("doc_id"), "left")
        .join(TextOps.langIdAgg(d)
          .select(col("doc_id"), col("pred_lang")), Seq("doc_id"), "left")
        .join(Dedup.exactDedup(d)
          .select(col("doc_id"), lit(true).as("is_rep")),
          Seq("doc_id"), "left")
        .join(Dedup.duplicateSpanCoverage(d)
          .select(col("doc_id"), col("dup_frac")), Seq("doc_id"), "left")
        .join(TextOps.lmScore(d)
          .select(col("doc_id"), col("avg_prob")), Seq("doc_id"), "left")
        .select(col("doc_id"), col("source"),
          when(col("in_band").isNull, lit("length"))
            .when(Curation.rejects(Curation.QualityKeep), lit("quality"))
            .when(Curation.rejects(Curation.LangKnown), lit("language"))
            .when(col("is_rep").isNull, lit("duplicate"))
            .when(Curation.rejects(Curation.DupSpanKeep), lit("dup_spans"))
            .when(Curation.rejects(Curation.LmScoreable), lit("unscoreable"))
            .otherwise(lit("kept")).as("verdict"))
        .orderBy("doc_id")
    }),

    // Overlapping token chunks (embedding/RAG prep): 32-token windows
    // advancing by 24, chunk text hashed for the compare.
    "chunk_docs" -> ((s, dir) =>
      TextOps.chunkDocs(docs(s, dir))
        .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
          col("n_chunk_tokens").cast("long").as("n_chunk_tokens"),
          col("chunk_md5"))
        .orderBy("doc_id", "chunk_id")),

    // PII scrub over deterministically planted contacts: per-doc match
    // counts + md5 of the redacted text (the full scrubbed column would be
    // the production output; the hash is what the comparator can check).
    "pii_scrub" -> ((s, dir) =>
      TextOps.piiScrub(piiDocs(s, dir))
        .select(col("doc_id"), col("n_emails").cast("long").as("n_emails"),
          col("n_urls").cast("long").as("n_urls"),
          col("n_phones").cast("long").as("n_phones"),
          md5(col("scrubbed")).as("scrubbed_md5"))
        .orderBy("doc_id")),

    // Per-domain URL aggregation over the same planted corpus — the
    // blocklist/mixing signal (extract_all → explode → hash-aggregate).
    "url_domains" -> ((s, dir) =>
      TextOps.urlDomains(piiDocs(s, dir))
        .select(col("domain"), col("n_urls"), col("n_docs"))
        .orderBy("domain")),

    // Line-level boilerplate removal (C4/RefinedWeb cleaning pass) over
    // deterministically planted banner/footer lines: high-df lines drop,
    // the df=1 rare footer survives; cleaned text compared by md5.
    "strip_boilerplate" -> ((s, dir) =>
      TextOps.stripBoilerplateLines(boilerplateDocs(s, dir))
        .orderBy("doc_id")),

    // Corpus-wide first-occurrence paragraph dedup (RefinedWeb-style);
    // same planted line input as strip_boilerplate so the two cleaning
    // passes are directly comparable on one corpus.
    "paragraph_dedup" -> ((s, dir) =>
      TextOps.dedupParagraphs(boilerplateDocs(s, dir))
        .orderBy("doc_id")),

    // Gopher rule-suite hard quality gates (Rae et al. 2021 §A1.1) over
    // deterministically structure-planted docs (bullets/numbers/ellipses).
    "gopher_rules" -> ((s, dir) =>
      TextOps.gopherRules(gopherDocs(s, dir))
        .orderBy("doc_id")),

    // Winnowing-style rolling-hash fingerprint (custom codegen'd
    // expression; Long arithmetic not portable to the oracle: rows-only).
    "rolling_fingerprint" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
          TextOps.rollingMinFingerprint(col("text")).as("fingerprint"))
        .orderBy("doc_id")),

    // Full winnowing signatures (MOSS scheme): every w-run of 8-gram
    // rolling hashes contributes its leftmost-minimal (hash, position)
    // pair — the bounded-density near-dup blocking key. Oracle replays
    // the Rabin–Karp mod-2^64 hash in HUGEINT and the selection rule as
    // a ROW_NUMBER window.
    "winnow_fingerprints" -> ((s, dir) =>
      TextOps.winnowFingerprints(docs(s, dir))),

    // Winnowing applied: candidate near-dup pairs sharing ≥ 2 rare
    // (df ≤ 10) selected fingerprints — the signature family's blocking
    // join, fan-out capped like the rare-gram Jaccard path.
    "winnow_pairs" -> ((s, dir) => Dedup.winnowPairs(docs(s, dir))),

    // ---- Multimodal plumbing (binary columns; decode stubbed) -----------

    // Full feature path, oracle-checked end-to-end: the LCG payload is
    // replayed in SQL (like multimodal_histogram) and entropy rides as
    // the Q40 FIXED-POINT form (square-and-shift binary log, pure
    // integer — Multimodal.log2Fp), which DuckDB recomputes bit-for-bit
    // with HUGEINT where libm Shannon doubles would flake the exact
    // comparator. 512-byte payloads keep the oracle recursion cheap; the
    // float byte_entropy column stays in the operator (reference parity,
    // MultimodalSpec) but out of the hash-compared projection.
    "multimodal_features" -> ((s, dir) => {
      val n = Tables.load(s, dir, "documents").count()
      Multimodal.extractFeatures(
          Multimodal.synthesize(s, n, payloadBytes = 512))
        .select(col("asset_id"), col("modality"), col("n_bytes"),
          col("entropy_fp"),
          // serialized: array columns crash the driver's comparator
          to_json(col("histogram")).as("histogram"))
        .orderBy("asset_id")
    }),

    // Perceptual-hash near-dup detection: every 5th asset re-appears as a
    // one-byte-flipped "corrupted re-upload"; banded 64-bit aHash LSH
    // join + exact Hamming filter finds the copies. The decode-to-
    // thumbnail is the stubbed codec step; hashing/banding replay in SQL.
    "phash_pairs" -> ((s, dir) => {
      val n = Tables.load(s, dir, "documents").count()
      val base = Multimodal.synthesize(s, n, payloadBytes = 512)
      val all = base.select(col("asset_id"), col("bytes"))
        .unionAll(Multimodal.corruptCopies(base, idOffset = n))
      Multimodal.phashPairs(Multimodal.perceptualHash(all))
        .orderBy("asset_a", "asset_b")
    }),

    // Integer core of the feature path, oracle-checked end-to-end: the
    // synthetic LCG payload is replayed in SQL (recursive CTE over the
    // affine step, HUGEINT mod-2^64), so the per-asset 16-bin byte
    // histogram is hash-compared byte-for-byte. 512-byte payloads keep
    // the oracle's 2^9-step recursion cheap; entropy (float libm, not
    // bit-portable) stays on the rows-only multimodal_features above.
    "multimodal_histogram" -> ((s, dir) => {
      val n = Tables.load(s, dir, "documents").count()
      Multimodal.extractFeatures(
          Multimodal.synthesize(s, n, payloadBytes = 512))
        .select(col("asset_id"), col("modality"),
          posexplode(col("histogram")).as(Seq("bin", "h")))
        .select(col("asset_id"), col("modality"),
          col("bin").cast("long").as("bin"), col("h"))
        .orderBy("asset_id", "bin")
    }),

    // Frame sampling (pure Catalyst: posexplode over a stride sequence +
    // binary substring). Frame selection and byte counts are arithmetic
    // over the synthetic asset layout, so DuckDB can recompute them.
    "sample_frames" -> ((s, dir) => {
      val n = Tables.load(s, dir, "documents").count()
      Multimodal.sampleFrames(Multimodal.synthesize(s, n))
        .select(col("asset_id"), col("frame_no").cast("long").as("frame_no"),
          length(col("frame_bytes")).cast("long").as("n_frame_bytes"))
        .orderBy("asset_id", "frame_no")
    }),

    // Resize/resample plumbing: deterministic byte-decimation stub over
    // the binary payload; output sizes are pure arithmetic, so DuckDB can
    // recompute them even though the bytes are synthetic.
    "resize_assets" -> ((s, dir) => {
      val n = Tables.load(s, dir, "documents").count()
      Multimodal.resizeStub(Multimodal.synthesize(s, n), factor = 4)
        .select(col("asset_id"),
          length(col("bytes")).cast("long").as("n_bytes"))
        .orderBy("asset_id")
    }),

    // ---- Scale tooling ---------------------------------------------------

    // Skew-salted join ≡ plain join: revenue per supplier through the
    // salted path, oracle-checked against the unsalted SQL join — proving
    // the skew tool is semantics-preserving.
    "salted_join_agg" -> ((s, dir) => {
      val fact = t(s, dir, "lineitem").select(
        col("l_suppkey").as("suppkey"),
        col("l_extendedprice").cast("decimal(18,4)").as("amount"))
      val dim = t(s, dir, "supplier").select(
        col("s_suppkey").as("suppkey"), col("s_name").as("supplier"))
      Scale.saltedJoin(fact, dim, "suppkey")
        .groupBy("supplier")
        .agg(count(lit(1)).as("n_lineitems"),
          round(sum("amount"), 2).cast("double").as("revenue"))
        .orderBy("supplier")
    }),

    // Join-key skew diagnostics over the lineitem fact's supplier key —
    // the measurement that justifies (or rules out) the salted join.
    "key_skew" -> ((s, dir) =>
      Scale.keySkewStats(t(s, dir, "lineitem"), "l_suppkey")),

    // ---- State audit scans (S10/S11, app.py:193-203) --------------------

    "audit_uploads" -> ((s, dir) =>
      auditState(s, dir).uploadsOrdered),

    "audit_address_changes" -> ((s, dir) =>
      auditState(s, dir).addressChangesOrdered),

    // Idempotent re-ingest audit: three landed workbooks (one a byte-
    // identical duplicate) through the content-digest gate -> exactly
    // two uploads rows, the duplicate leaving NO state trace. The
    // oracle derives the expected table from the customer count.
    "audit_ingest_idempotent" -> ((s, dir) =>
      ingestState(s, dir).uploadsOrdered),

    // Digest-gate audits for the document landings (VERDICT r10 item
    // 5): corpus split into two shards + a byte-identical duplicate of
    // shard A through documentLandingStreamIdempotent -> the ledger
    // lists exactly two shards and the ingested per-source counts equal
    // the documents table (a double-ingest would double every even
    // doc_id).
    "audit_jsonl_idempotent" -> ((s, dir) =>
      docIngestAudit(s, dir, "jsonl")),

    "audit_csv_idempotent" -> ((s, dir) =>
      docIngestAudit(s, dir, "csv")),

    // ---- Data-mixing / curation additions (round 8, second wave) --------

    // Temperature-scaled (T=2) multinomial source-mixing weights —
    // fixed-point sqrt scheme, |sources|-row aggregate + broadcast total.
    "source_temperature" -> ((s, dir) =>
      TextOps.sourceTemperature(docs(s, dir))),

    // Per-source z-score of document length (ppm fixed point; broadcast
    // moments, no window).
    "zscore_by_source" -> ((s, dir) =>
      TextOps.zscoreBySource(docs(s, dir))),

    // CCNet head/middle/tail LM-score terciles per language.
    "ccnet_buckets" -> ((s, dir) =>
      TextOps.ccnetBuckets(docs(s, dir))),

    // Global equi-width length histogram (equi-depth twin: token_deciles).
    "length_histogram" -> ((s, dir) =>
      TextOps.lengthHistogram(docs(s, dir))),

    // Quality-argmax dedup apply: same cluster frame as dedup_apply, but
    // the kept representative maximizes quality_score (doc_id tiebreak).
    "dedup_keep_best" -> ((s, dir) => {
      val d = docs(s, dir)
      val clusters = Dedup.connectedComponents(
        neardupEdges(s, dir), d.select("doc_id"))
      Dedup.keepByScore(
          TextOps.qualityScore(TextOps.tokenStats(d))
            .select("doc_id", "quality_score"),
          clusters)
        .orderBy("cluster")
    }),

    // Trailing-hour RANGE-frame moving average per user (the repo's one
    // RANGE window; DECIMAL-exact frame sums).
    "moving_avg_range" -> ((s, dir) =>
      EventOps.movingAvgRange(events(s, dir))),

    // Schema-on-read: typed from_json extraction of the props payload.
    "json_props" -> ((s, dir) =>
      EventOps.jsonProps(events(s, dir))),

    // Parse-once-aggregate-typed rollup over the JSON payload.
    "json_props_rollup" -> ((s, dir) =>
      EventOps.jsonPropsRollup(events(s, dir))),

    // The mixing endpoint: temperature weights decide how many docs per
    // source, quality ranking decides which — the epoch manifest.
    "mix_manifest" -> ((s, dir) =>
      TextOps.mixManifest(docs(s, dir))),

    // Local clustering coefficient over the SimHash pair graph — the
    // clique-vs-hub refinement on the k-core / triangle family. Reads
    // the materialized edge table (see the wedge-family block comment).
    "clustering_coeff" -> ((s, dir) =>
      Dedup.clusteringCoefficient(simhashEdges(s, dir))),

    // Degree distribution of the (uncapped) pair graph — the skew
    // diagnostic that justifies/tunes the wedge family's degree cap.
    "degree_hist" -> ((s, dir) =>
      Dedup.degreeHistogram(simhashEdges(s, dir)))
  )
}
