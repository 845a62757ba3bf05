package graft

import org.apache.spark.sql.execution.FormattedMode
import org.scalatest.funsuite.AnyFunSuite

/** Pins the 100-TB plan posture of representative queries — the
  * promises the operators make (filters reach the parquet scan, small
  * dimensions broadcast, columns prune, no cartesian products) as CI
  * assertions instead of once-a-round PLANS_r* eyeballing. Assertions
  * are deliberately loose string checks (operator names, pushed-filter
  * entries) so Spark-version formatting drift doesn't flake them.
  */
class PlanContractSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def fmt(name: String): String =
    SparkEntry.queries(name)(spark, dir)
      .queryExecution.explainString(FormattedMode)

  test("asof_join pushes event_type filters into both parquet scans") {
    val p = fmt("asof_join")
    assert(p.contains("EqualTo(event_type,click)"),
      "clicks-side filter must reach the scan")
    assert(p.contains("EqualTo(event_type,purchase)"),
      "purchases-side filter must reach the scan")
  }

  test("merged_detail broadcasts all three dimension joins and prunes " +
       "the orders scan to its join keys") {
    val p = fmt("merged_detail")
    assert("BroadcastHashJoin".r.findAllMatchIn(p).size >= 3,
      "part, customer, and orders joins must broadcast at this scale")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("struct<o_orderkey:bigint,o_custkey:bigint>"),
      "orders scan must read only the two join keys")
  }

  test("neardup_pairs generates candidates via an equi-join, never a " +
       "cartesian") {
    val p = fmt("neardup_pairs")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "band-bucket candidate join must be hash/merge, not nested-loop")
  }

  test("flagship_rank (two-phase rank) plans without a cartesian") {
    val p = fmt("flagship_rank")
    assert(!p.contains("CartesianProduct"))
  }

  test("embedding_outliers ranks via TakeOrdered (k rows), never a " +
       "global sort of the corpus") {
    val p = fmt("embedding_outliers")
    assert(p.contains("TakeOrderedAndProject"),
      "the k-cut must be a TakeOrdered, not Sort+Limit")
    assert(!p.contains("CartesianProduct"))
  }

  test("paragraph_dedup resolves first-occurrence winners with hash " +
       "aggregates and equi-joins — no window sort over a segment group") {
    val p = fmt("paragraph_dedup")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("\nWindow") && !p.contains("RunningWindowFunction"),
      "winner-per-segment must be min-aggregated (skew-safe), not a " +
        "row_number window over the segment hash")
  }

  test("session_overlap's range join executes as a bin-keyed equi-join, " +
       "never a nested loop") {
    val p = fmt("session_overlap")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "the interval join must equi-join on the hour-bin key; a " +
        "nested-loop plan means the bin key failed to reach the join")
  }

  test("pareto_front plans no unpartitioned window (two-phase prefix max)") {
    val p = fmt("pareto_front")
    assert(!p.contains("CartesianProduct"))
    // every Window node must carry a partition spec — the single-pass
    // skyline's global running max is exactly what the operator avoids
    val winSpecs = """windowspecdefinition\(([^)]*)\)""".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(winSpecs.nonEmpty && winSpecs.forall(_.contains("_pid")),
      s"window must be partitioned by _pid, got: $winSpecs")
  }

  test("inverted_index cuts postings with the typed aggregator — no " +
       "per-term sort of the postings") {
    val p = fmt("inverted_index")
    assert(p.contains("TopKAggregator") || p.contains("ObjectHashAggregate"),
      "posting-list cut must be the bounded-buffer aggregate")
    assert(!p.contains("CartesianProduct"))
  }

  test("phash_pairs candidates come from the band equi-join, not " +
       "all-pairs") {
    val p = fmt("phash_pairs")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("bm25_topk: the corpus-stats attach is the only nested-loop " +
       "(1-row broadcast); term joins are hash joins") {
    val p = fmt("bm25_topk")
    assert(!p.contains("CartesianProduct"))
    assert("BroadcastHashJoin".r.findAllMatchIn(p).size >= 2,
      "query-term and df joins must be broadcast hash joins")
  }

  test("gopher_rules is a single narrow projection — no shuffle, no join") {
    val p = fmt("gopher_rules")
    val exchanges = """\(\d+\) Exchange""".r.findAllMatchIn(p).size
    assert(exchanges <= 1 && (exchanges == 0 || p.contains("rangepartitioning")),
      "rule evaluation itself must not shuffle (the terminal orderBy " +
        "range partition is the only allowed exchange)")
    assert(!"Join".r.findFirstIn(p).isDefined, "no join in the rule pass")
  }

  test("zscore_by_source attaches moments via broadcast — no window, " +
       "no per-doc shuffle before the terminal sort") {
    val p = fmt("zscore_by_source")
    assert(p.contains("BroadcastHashJoin"),
      "the |sources|-row moments frame must broadcast")
    assert(!p.contains("windowspecdefinition"),
      "z-score needs no window at all — broadcast moments, one pass")
    assert(!p.contains("CartesianProduct"))
  }

  test("length_histogram aggregates without any window or sort of the " +
       "corpus (≤bins-row terminal sort only)") {
    val p = fmt("length_histogram")
    assert(!p.contains("windowspecdefinition"))
    assert(!p.contains("CartesianProduct"))
    // the only Sort allowed is the terminal ≤bins-row orderBy
    val sorts = """\(\d+\) Sort""".r.findAllMatchIn(p).size
    assert(sorts <= 1, s"corpus must not be sorted, got $sorts Sort nodes")
  }

  test("ccnet_buckets terciles run under a lang-PARTITIONED window, " +
       "never a global ntile") {
    val p = fmt("ccnet_buckets")
    val winSpecs = """windowspecdefinition\(([^)]*)\)""".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    // two windows exist: lmScore's per-doc lead (doc_id) and the tercile
    // (lang). Neither may be unpartitioned — an unpartitioned spec opens
    // directly with an ordered column ("col ASC/DESC ..."), a
    // partitioned one with a bare partition column.
    assert(winSpecs.nonEmpty && winSpecs.forall { s =>
        val first = s.split(",")(0)
        !first.contains(" ASC") && !first.contains(" DESC")
      }, s"every window must carry a partition spec, got: $winSpecs")
    assert(winSpecs.exists(_.contains("lang")),
      s"the tercile window must partition by lang, got: $winSpecs")
    assert(!p.contains("CartesianProduct"))
  }

  test("moving_avg_range frames per user_id — RANGE window is " +
       "partitioned, no global sort") {
    val p = fmt("moving_avg_range")
    val winSpecs = """windowspecdefinition\(([^)]*)\)""".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(winSpecs.nonEmpty && winSpecs.forall(_.contains("user_id")),
      s"RANGE frame must partition by user_id, got: $winSpecs")
    assert(!p.contains("CartesianProduct"))
  }

  test("dedup_keep_best picks representatives with a cluster-partitioned " +
       "argmax and banded candidates — no cartesian, no nested loop in " +
       "the pair join") {
    val p = fmt("dedup_keep_best")
    assert(!p.contains("CartesianProduct"))
    val winSpecs = """windowspecdefinition\(([^)]*)\)""".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(winSpecs.exists(_.contains("cluster")),
      "representative selection must be the cluster-partitioned window")
  }

  test("token_entropy is a pure map: one TokenSummary eval, no " +
       "aggregate, no window, and the only exchange is the terminal " +
       "oracle sort") {
    // Round 9's ADVICE caught the old formulation's docstring claiming
    // a plan shape it didn't have; the round-10 rework makes the claim
    // trivially checkable -- the per-doc histogram is row-local, so
    // NOTHING may shuffle before the output sort, and projection
    // collapse must not duplicate the TokenSummary eval per field.
    val p = fmt("token_entropy")
    assert("""(?m)^\s*\(\d+\) Exchange""".r.findAllMatchIn(p).size === 1,
      s"expected exactly the terminal sort exchange:\n$p")
    assert(!p.contains("HashAggregate") && !p.contains("SortAggregate"),
      "the per-doc histogram must not be a cross-row aggregate")
    assert(!p.contains("Window"), "no window — the old second exchange")
    assert("token_summary".r.findAllMatchIn(p).size === 1,
      "TokenSummary must be evaluated once per row, not once per field")
  }

  test("part-dimension joins broadcast by Spark's choice at small SF " +
       "and degrade to a shuffle join when the dim exceeds the " +
       "threshold — no forced hint pinning a scale-growing table") {
    // `part` grows linearly with scale (~4 GB at sf1000), so the three
    // TPC-H-shaped queries must not hint-force it to broadcast: the
    // hint would override spark.sql.autoBroadcastJoinThreshold and the
    // plan could never fall back. Pin both regimes: default threshold →
    // Spark itself broadcasts the tiny sf0.001 part; threshold -1
    // (standing in for "dim grew past the bound") → the same query
    // plans a non-broadcast equi-join.
    val qs = Seq("brand_supplier_counts", "promo_revenue_share",
      "special_revenue")
    for (q <- qs) {
      val p = fmt(q)
      assert(p.contains("BroadcastHashJoin"),
        s"$q should broadcast the small part dim at sf0.001 (CBO/AQE)")
    }
    val keep = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try for (q <- qs) {
      val p = fmt(q)
      assert(!p.contains("BroadcastHashJoin"),
        s"$q must degrade to a shuffle join when part exceeds the " +
          s"broadcast threshold — a leftover hint would prevent this")
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"))
    } finally keep match {
      case Some(v) => spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
      case None => spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("AQE skew-join splits a hot key's reducer at runtime — the case " +
       "where Scale.saltedJoin's manual salt is NOT needed") {
    // Scale.saltedJoin exists for (a) aggregations straight after the
    // join and (b) pre-AQE/exchange-reused shuffles; for a plain skewed
    // sort-merge equi-join, Spark's own OptimizeSkewedJoin must take
    // over. This pins that it actually fires: one hot key (~90% of a
    // fat-payload fact side) against a non-broadcastable dim, with the
    // skew thresholds lowered to test scale — the executed (adaptive)
    // plan must carry the skew=true SMJ marker, i.e. the hot partition
    // was split into multiple tasks with the dim side replicated.
    import org.apache.spark.sql.functions._
    val keep = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor")
      .map(k => k -> spark.conf.getOption(k)).toMap
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "64KB")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "32KB")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "2")
    try {
      val fact = spark.range(0, 50000).select(
        when(col("id") % 10 === 0, pmod(col("id"), lit(100)))
          .otherwise(lit(7L)).as("key"),
        lpad(col("id").cast("string"), 200, "x").as("payload"))
      val dim = spark.range(0, 100).select(col("id").as("key"),
        concat(lit("dim_"), col("id")).as("attr"))
      val joined = fact.join(dim, Seq("key"))
      // Execute joined ITSELF (count() would plan a separate, column-
      // pruned query and leave this one's adaptive plan non-final).
      assert(joined.collect().length === 50000)
      val executed = joined.queryExecution.executedPlan.toString
      assert(executed.contains("skew=true"),
        s"expected AQE skew-join marker in the adaptive plan:\n$executed")
    } finally keep.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("range_bounds plans ONE range-partitioning exchange, which the " +
       "counts branch reads as a ReusedExchange") {
    // Scale.rangeBounds derives buckets from global ranks: partition-
    // local ranks plus per-partition offsets counted over the SAME range
    // partitioning. Two independently planned range exchanges could
    // split the values differently and silently miscount the buckets,
    // so exchange reuse is part of the operator's correctness.
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
      QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec,
      ShuffleExchangeExec}
    val df = SparkEntry.queries("range_bounds")(spark, dir)
    df.collect()
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case r: ReusedExchangeExec => Seq(r)
      case other =>
        other +: (other.children ++ other.subqueries).flatMap(nodes)
    }
    // the value-range exchange (the final `orderBy(bucket)` is another)
    def isRange(p: SparkPlan) = p.outputPartitioning match {
      case r: RangePartitioning =>
        r.ordering.exists(_.references.exists(_.name == "_v"))
      case _ => false
    }
    val plan = nodes(df.queryExecution.executedPlan)
    val shuffles = plan.collect {
      case s: ShuffleExchangeExec if isRange(s) => s }
    assert(shuffles.size === 1,
      s"expected exactly one _v range exchange:\n${df.queryExecution
        .executedPlan}")
    // the counts branch: the per-partition count aggregate over _pid
    val countsReadReuse = plan.exists {
      case h: HashAggregateExec =>
        h.groupingExpressions.exists(_.references.exists(_.name == "_pid")) &&
          nodes(h).exists {
            case r: ReusedExchangeExec => isRange(r.child)
            case _ => false
          }
      case _ => false
    }
    assert(countsReadReuse,
      s"the counts branch must read the range exchange as a " +
      s"ReusedExchange:\n${df.queryExecution.executedPlan}")
  }

  /** Every (Broadcast)Exchange node's Input column list in a formatted
    * plan — the frames that actually cross the wire.
    */
  private def exchangeInputs(p: String): Seq[String] =
    """\(\d+\) (?:Broadcast)?Exchange\s*\nInput \[\d+\]: \[([^\]]*)\]""".r
      .findAllMatchIn(p).map(_.group(1)).toSeq

  test("pair-graph consumers read the persisted edge table: degree_hist " +
       "plans a parquet edge scan with NO signature machinery " +
       "(the writePairGraph contract, wired round 11)") {
    val p = fmt("degree_hist")
    assert(p.contains("graft_edges_sh"),
      s"expected the memoized simhash edge-table scan:\n$p")
    // none of the pair-SEARCH stages may appear: shingling, hashing,
    // signature aggregation all happened once at table build time
    for (node <- Seq("token_ngrams", "xxhash64", "md5(", "collect_set"))
      assert(!p.contains(node), s"pair-search node '$node' in plan:\n$p")
  }

  test("mix_manifest: no exchange carries the text column (narrow " +
       "manifest feed — VERDICT r10 item 1)") {
    val p = fmt("mix_manifest")
    val ins = exchangeInputs(p)
    assert(ins.nonEmpty, s"expected at least the window exchange:\n$p")
    ins.foreach(in => assert(!in.contains("text#"),
      s"an exchange carries raw text: [$in]"))
  }

  test("composed mix feed (manifest ⋈ survivors) keeps text out of " +
       "every exchange even when the survivor side is too big to " +
       "broadcast") {
    import org.apache.spark.sql.functions._
    import graft.operators.TextOps
    val d = graft.model.Tables.load(spark, dir, "documents")
    val surv = d.select("doc_id").where(col("doc_id") % 2 === 0)
    val keep = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = TextOps.mixManifestFromStats(
          TextOps.docStatsManifest(d).join(surv, Seq("doc_id")))
        .queryExecution.explainString(FormattedMode)
      val ins = exchangeInputs(p)
      // sort-merge survivor join (both sides exchange) + the source-
      // partitioned window + the terminal sort all present...
      assert(ins.size >= 3, s"expected SMJ + window exchanges:\n$p")
      // ...and none of them moves text: the widest shuffled row is the
      // narrow manifest. This is the sf1000 ×200-shuffle regression pin
      // (SCALING.md batch 18b s4).
      ins.foreach(in => assert(!in.contains("text#"),
        s"an exchange carries raw text: [$in]"))
    } finally keep match {
      case Some(v) =>
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
      case None =>
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("a second build of merged_detail and of flagship_rank in one " +
       "session starts no Spark job: table schemas are resolved once") {
    import TestSpark.withJobs
    for (name <- Seq("merged_detail", "flagship_rank")) {
      SparkEntry.queries(name)(spark, dir)
      val (_, jobs) = withJobs(SparkEntry.queries(name)(spark, dir))
      assert(jobs === 0, s"second build of $name started $jobs jobs")
    }
  }

  test("a second epochVersion call starts no Spark job while its " +
       "frames are built") {
    import TestSpark.withJobs
    EntryHelpers.epochVersion(spark, dir)
    val (v, jobs) = withJobs(EntryHelpers.epochVersion(spark, dir))
    assert(jobs === 0, s"second epochVersion started $jobs jobs")
    assert(v.edges.columns.toSeq === Seq("doc_a", "doc_b"))
  }
}
