package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

class DedupSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog " +
    "while the cat sleeps on the warm mat near the door in the hall"

  private val docs = Seq(
    (0L, base),
    (1L, base),                                  // exact duplicate of 0
    (2L, base.replace("warm", "cold")),          // near-duplicate of 0
    (3L, "completely different text about query engines and columnar " +
         "storage formats with vectorized execution and late binding"),
    (4L, "another unrelated document mentioning streams watermarks " +
         "sessionization and exactly once sinks for event pipelines"))
    .toDF("doc_id", "text")

  test("exactDedup groups identical texts, keeps min doc_id") {
    val out = Dedup.exactDedup(docs).collect()
    assert(out.length === 4)  // 5 docs, one exact pair
    val dup = out.find(_.getAs[Long]("n_copies") === 2L).get
    assert(dup.getAs[Long]("doc_id") === 0L)
  }

  test("incrementalDedup drops known fingerprints, collapses new ones") {
    val existing = Seq((0L, base), (3L, "existing corpus doc about joins"))
      .toDF("doc_id", "text")
    val incoming = Seq(
      (10L, base),                       // already in the corpus → dropped
      (11L, "a genuinely new document"), // new → kept
      (12L, "a genuinely new document"), // dup WITHIN the batch → collapsed
      (13L, "another new one entirely")) // new → kept
      .toDF("doc_id", "text")
    val out = Dedup.incrementalDedup(incoming, existing).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_copies")).toMap
    assert(out === Map(11L -> 2L, 13L -> 1L))
  }

  test("incrementalNearDupPairs flags batch docs near-duplicating corpus") {
    import org.apache.spark.sql.functions.col
    val incoming = docs.where(col("doc_id").isin(2L, 3L))
    val existing = docs.where(col("doc_id").isin(0L, 1L, 4L))
    val pairs = Dedup.incrementalNearDupPairs(incoming, existing).collect()
      .map(r => (r.getAs[Long]("inc_id"), r.getAs[Long]("ex_id"),
                 r.getAs[Double]("jaccard")))
    // doc 2 near-duplicates corpus docs 0 and 1 (identical texts); doc 3
    // is unrelated and must not pair with anything.
    assert(pairs.map(p => (p._1, p._2)).toSet === Set((2L, 0L), (2L, 1L)))
    pairs.foreach { case (_, _, j) => assert(j > 0.5 && j < 1.0) }
  }

  test("decontaminate drops corpus docs leaking holdout n-grams") {
    import org.apache.spark.sql.functions.col
    val eight = "one two three four five six seven eight"
    val d = Seq(
      (0L, s"holdout doc containing $eight and trailing text"),   // holdout
      (1L, s"training doc that leaks $eight verbatim"),           // leaked
      (2L, "clean training doc with nothing shared at all here"),
      (3L, "short"))                                             // < 8 tokens
      .toDF("doc_id", "text")
    val out = Dedup.decontaminate(d, col("doc_id") === 0L).collect()
      .map(_.getAs[Long]("doc_id")).sorted
    assert(out.toSeq === Seq(2L, 3L))
  }

  test("nearDupPairs finds exact and near duplicates, not unrelated docs") {
    val pairs = Dedup.nearDupPairs(docs, threshold = 0.5).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
                 r.getAs[Double]("jaccard")))
    val byPair = pairs.map(p => (p._1, p._2) -> p._3).toMap
    assert(byPair((0L, 1L)) === 1.0)                  // exact → jaccard 1
    assert(byPair.contains((0L, 2L)))                 // near-dup caught
    assert(byPair((0L, 2L)) < 1.0 && byPair((0L, 2L)) > 0.5)
    assert(!pairs.exists(p => p._1 === 3L || p._2 === 3L))  // unrelated
  }

  test("nearDupPairsBanded: subset of the r=1 pairs at equal precision; " +
       "exact duplicates always collide on every band") {
    val r1 = Dedup.nearDupPairs(docs, threshold = 0.5).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
                 r.getAs[Double]("jaccard"))).toSet
    val r2 = Dedup.nearDupPairsBanded(docs, rowsPerBand = 2,
        threshold = 0.5).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
                 r.getAs[Double]("jaccard"))).toSet
    // verify is identical, banding only prunes candidates → subset
    assert(r2.subsetOf(r1))
    // identical shingle sets share every slice minimum, so exact
    // duplicates survive ANY banding
    assert(r2.exists(p => p._1 == 0L && p._2 == 1L && p._3 == 1.0))
    // r=4 (one band of all four minima) still catches exact duplicates
    val r4 = Dedup.nearDupPairsBanded(docs, rowsPerBand = 4,
        threshold = 0.5).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(r4.contains((0L, 1L)))
  }

  test("ngramNovelty: per-doc fraction of distinct 3-grams absent " +
       "from the reference; gram-less docs carry null") {
    val ref = Seq((100L, "a b c d")).toDF("doc_id", "text")
    val inc = Seq(
      (1L, "a b c d e"),  // grams {abc,bcd,cde} — cde novel → 1/3
      (2L, "x y"),        // < 3 tokens → no grams → null novelty
      (3L, "p q r"))      // {pqr} novel → 1.0
      .toDF("doc_id", "text")
    val out = Dedup.ngramNovelty(inc, ref).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        Option(r.getAs[java.lang.Double]("novelty")).map(_.toDouble)))
    assert(out(0) === ((1L, 3L, 1L, Some(1.0 / 3))))
    assert(out(1) === ((2L, 0L, 0L, None)))
    assert(out(2) === ((3L, 1L, 1L, Some(1.0))))
  }

  test("nearDupPairsBandedSliced: union of K band-hash slices is " +
       "EXACTLY the one-shot banded relation (real corpus, K=4)") {
    val corpus = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val oneShot = Dedup.nearDupPairsBanded(corpus).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
                 r.getAs[Double]("jaccard"))).toSet
    assert(oneShot.nonEmpty, "fixture must produce pairs")
    val work = java.nio.file.Files
      .createTempDirectory("graft_sliced_eq").toString
    val sliced = Dedup.nearDupPairsBandedSliced(corpus, work, slices = 4)
      .collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
                 r.getAs[Double]("jaccard")))
    // distinct() must have removed cross-slice duplicate verifications
    assert(sliced.length === sliced.toSet.size)
    assert(sliced.toSet === oneShot)
    // degenerate single slice too (pure refactor of the one-shot path),
    // plus a strided BUILD (3 disjoint doc_id strides appended into the
    // bucketed table must union to the one-shot signature frame)
    val work1 = java.nio.file.Files
      .createTempDirectory("graft_sliced_eq1").toString
    val k1 = Dedup.nearDupPairsBandedSliced(corpus, work1, slices = 1,
        buildSlices = 3)
      .collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
                 r.getAs[Double]("jaccard"))).toSet
    assert(k1 === oneShot)
  }

  test("nearDupPairsBandedSliced fails fast: the first failing slice " +
       "ends every other slice before the bucketed table is dropped") {
    val sc = spark.sparkContext
    sc.hadoopConfiguration.set("fs.failslice.impl",
      classOf[FailSliceFs].getName)
    sc.hadoopConfiguration.setBoolean("fs.failslice.impl.disable.cache", true)
    // tasks that failed reading the dropped signature table
    val readDropped = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        e.reason match {
          case f: org.apache.spark.ExceptionFailure
              if f.toErrorString.contains("graft_sigsets_") =>
            readDropped.add(f.toErrorString.take(300))
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    val corpus = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val work = java.nio.file.Files.createTempDirectory("graft_failslice")
    try {
      val e = intercept[Exception](Dedup.nearDupPairsBandedSliced(
        corpus, s"failslice://$work", slices = 8))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(c => String.valueOf(c.getMessage).contains("slice_0")),
        s"the first slice's error must surface: $e")
      assert(!spark.catalog.listTables().collect()
        .exists(_.name.startsWith("graft_sigsets_")))
      graft.operators.Scratch.drainListenerBus(sc)
      assert(sc.statusTracker.getActiveJobIds.isEmpty)
      // and nothing of the call runs on against the dropped table
      Thread.sleep(1000L)
      graft.operators.Scratch.drainListenerBus(sc)
      assert(readDropped.isEmpty, readDropped.toString)
    } finally {
      sc.removeSparkListener(listener)
      sc.hadoopConfiguration.unset("fs.failslice.impl")
      sc.hadoopConfiguration.unset("fs.failslice.impl.disable.cache")
    }
  }

  test("containmentPairs: a short doc embedded in a long one scores " +
       "containment ~1 on the short side with low Jaccard") {
    val short0 = "alpha beta gamma delta epsilon zeta eta theta"
    // modest filler: shared shingles stay the majority so the pair
    // band-collides (deterministic for these fixed strings), while
    // Jaccard drops well below a symmetric near-dup threshold
    val long1 = short0 + " " + (1 to 8).map(i => s"filler$i").mkString(" ")
    val d = Seq((0L, short0), (1L, long1),
        (2L, "totally different content with no overlap whatsoever here"))
      .toDF("doc_id", "text")
    val out = Dedup.containmentPairs(d, threshold = 0.8).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Double]("containment_a"), r.getAs[Double]("containment_b"),
        r.getAs[Double]("jaccard")))
    assert(out.length === 1)
    val (a, b, ca, cb, j) = out.head
    assert((a, b) === ((0L, 1L)))
    assert(ca === 1.0)         // every trigram of the short doc is in long
    assert(cb < 0.8)           // long side is NOT contained in short
    assert(j < 0.8)            // symmetric Jaccard would have missed it
  }

  test("pageRank: hand-computed fixed-point round on a path graph, " +
       "hub ranks first, empty graph is empty") {
    val path = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    // N=3, S=1e12: p0 = 333333333333 each; base = 15e12/300 = 5e10.
    // Round 1: deg = (1,2,1); node 1 and 3 receive p(2)//2 =
    // 166666666666 → 5e10 + 85·166666666666//100 = 191666666666;
    // node 2 receives 2·333333333333 → 5e10 + 85·666666666666//100
    // = 616666666666.
    val one = Dedup.pageRank(path, iters = 1).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("pr_fp")))
    assert(one.toSeq === Seq((2L, 616666666666L), (1L, 191666666666L),
      (3L, 191666666666L)))
    // after the default 4 rounds the hub still ranks first and the
    // symmetric leaves stay tied
    val four = Dedup.pageRank(path).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("pr_fp")))
    assert(four.head._1 === 2L)
    assert(four(1)._2 === four(2)._2)
    // empty pair set → empty result, no division by zero
    val empty = Dedup.pageRank(
      Seq.empty[(Long, Long)].toDF("doc_a", "doc_b"))
    assert(empty.collect().isEmpty)
  }

  test("editDistancePairs: hand-computed distances and fixed-point " +
       "normalizer, empty texts safe") {
    val d = Seq((1L, "kitten"), (2L, "sitting"), (3L, ""), (4L, ""))
      .toDF("doc_id", "text")
    val p = Seq((1L, 2L), (3L, 4L)).toDF("doc_a", "doc_b")
    val out = Dedup.editDistancePairs(p, d).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("edit_distance"), r.getAs[Long]("norm_fp")))
    // kitten→sitting = 3 edits over maxlen 7 → (3·10^6)//7 = 428571;
    // two empty texts: distance 0, normalizer clamps at 1 — no ANSI
    // division by zero
    assert(out.toSeq === Seq((1L, 2L, 3L, 428571L), (3L, 4L, 0L, 0L)))
  }

  test("triangles: each 3-clique listed once as a<b<c, chains excluded") {
    // K3 on {1,2,3}, plus a second triangle {2,3,4} sharing an edge,
    // plus the isolated edge (5,6) and the open wedge 7-8-9.
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L),
      (5L, 6L), (7L, 8L), (8L, 9L)).toDF("doc_a", "doc_b")
    val out = Dedup.triangles(pairs).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("doc_c")))
    assert(out.toSeq === Seq((1L, 2L, 3L), (2L, 3L, 4L)))
    // triangle-free graph → empty, not an error
    val none = Dedup.triangles(Seq((1L, 2L), (2L, 3L))
      .toDF("doc_a", "doc_b"))
    assert(none.collect().isEmpty)
  }

  test("trianglesBounded: under cap = full enumeration + total-count " +
       "column; over cap = first `cap` in total order, count still " +
       "global; terminal is a bounded top-k, not a global sort") {
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L),
      (5L, 6L), (7L, 8L), (8L, 9L)).toDF("doc_a", "doc_b")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("doc_c"), r.getAs[Long]("n_triangles")))
    // under cap: both triangles, each row stamped with the total (2)
    assert(rows(Dedup.trianglesBounded(pairs, cap = 10)).toSeq ===
      Seq((1L, 2L, 3L, 2L), (2L, 3L, 4L, 2L)))
    // over cap: the FIRST triangle under (doc_a, doc_b, doc_c) order,
    // but n_triangles still reports the uncapped total — no silent cap
    assert(rows(Dedup.trianglesBounded(pairs, cap = 1)).toSeq ===
      Seq((1L, 2L, 3L, 2L)))
    // plan posture: the terminal is TakeOrderedAndProject (cap rows per
    // partition), and no Sort node consumes the triangle set
    val p = Dedup.trianglesBounded(pairs, cap = 1).queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("TakeOrderedAndProject"),
      s"expected bounded top-k terminal:\n$p")
  }

  test("triangleCounts: per-vertex participation matches the enumeration, " +
       "plan has no sort over the triangle set") {
    // two triangles sharing edge (2,3): vertex 1 in one, 2 and 3 in both,
    // 4 in one; vertices only on the isolated edge / open wedge absent.
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L),
      (5L, 6L), (7L, 8L), (8L, 9L)).toDF("doc_a", "doc_b")
    val out = Dedup.triangleCounts(pairs).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_triangles")))
    assert(out.toSeq === Seq((1L, 1L), (2L, 2L), (3L, 2L), (4L, 1L)))
    // the degree cap is shared with the enumerate form
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L)).toDF("doc_a", "doc_b")
    val capped = Dedup.triangleCounts(k4, maxDegree = 2).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_triangles")))
    assert(capped.toSeq === Seq((1L, 1L), (2L, 1L), (3L, 1L)))
    // scale contract: the only Sort in the plan is the terminal
    // vertex-sized orderBy — it sits ABOVE the aggregate, never below
    // (a sort under the aggregate would be triangle-set-sized)
    val plan = Dedup.triangleCounts(pairs).queryExecution.optimizedPlan
    def check(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
              belowAgg: Boolean): Unit = {
      import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Sort}
      p match {
        case s: Sort => assert(!belowAgg, "sort below the aggregate")
          s.children.foreach(check(_, belowAgg))
        case a: Aggregate => a.children.foreach(check(_, belowAgg = true))
        case other => other.children.foreach(check(_, belowAgg))
      }
    }
    check(plan, belowAgg = false)
  }

  test("band-bucket cap drops over-cap buckets from candidate " +
       "generation and leaves under-cap results untouched") {
    // Four verbatim copies: every band bucket has size 4. With the cap
    // below that, candidate generation must drop the buckets (no pairs
    // -- the universal-shingle skew contract); with the default cap the
    // exact duplicates are all found.
    val d = (0L until 4L)
      .map(i => (i, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    assert(Dedup.nearDupPairs(d, maxBucket = 3).count() === 0L)
    assert(Dedup.nearDupPairs(d).count() === 6L)
    // mixed corpus: a hot clone family over the cap is dropped, an
    // independent small duplicate pair below the cap is still found
    val mixed = ((0L until 5L)
      .map(i => (i, "one two three four five six seven")) ++
      Seq((100L, "red green blue cyan magenta yellow"),
          (101L, "red green blue cyan magenta yellow")))
      .toDF("doc_id", "text")
    val pairs = Dedup.nearDupPairs(mixed, maxBucket = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet === Set((100L, 101L)))
  }

  test("duplicateSpansSliced / duplicateSpanCoverageSliced equal the " +
       "one-shot forms exactly (gram-hash slice union = the relation)") {
    val d = Seq(
      (0L, "a b c d e f g h i j k l m n o p"),
      (1L, "z z a b c d e f g h i j q r s t u v"),
      (2L, "unrelated words only here nothing shared at all today"),
      (3L, "q r s t u v w x y z1 z2 z3 a b c d e f g h i j"),
      (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    def dump(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id", "span_start").collect().map(_.toSeq).toSeq
    val work = java.nio.file.Files
      .createTempDirectory("graft_spans_sliced").toString
    assert(dump(Dedup.duplicateSpansSliced(d, work, slices = 3)) ===
      dump(Dedup.duplicateSpans(d)))
    def dumpCov(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect().map(_.toSeq).toSeq
    val work2 = java.nio.file.Files
      .createTempDirectory("graft_cov_sliced").toString
    assert(dumpCov(Dedup.duplicateSpanCoverageSliced(d, work2, slices = 3))
      === dumpCov(Dedup.duplicateSpanCoverage(d)))
  }

  test("curationGramStream consumers equal the standalone operators: " +
       "dup-span coverage, decontamination flag set, and their " +
       "batch-vs-index forms (round-14 fused-chain equivalence)") {
    import org.apache.spark.sql.functions._
    val d = Seq(
      (0L, "a b c d e f g h i j k l m n o p"),
      (1L, "z z a b c d e f g h i j q r s t u v"),
      (2L, "unrelated words only here nothing shared at all today"),
      (3L, "q r s t u v w x y z1 z2 z3 a b c d e f g h i j"),
      (4L, null.asInstanceOf[String]),
      (10L, "a b c d e f g h holdout style doc with shared prefix"))
      .toDF("doc_id", "text")
    val hold = col("doc_id") % 10 === 0
    val grams = Dedup.curationGramStream(d, 8, hold)
    val lens = d.select(col("doc_id"),
      when(col("text").isNull, lit(null).cast("long"))
        .otherwise(size(split(lower(col("text")), " ")).cast("long"))
        .as("n_tokens"))
    def dump(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect().map(_.toSeq).toSeq
    // dup-span coverage from the shared stream == the standalone op
    assert(dump(Dedup.duplicateSpanCoverageFromGrams(lens, grams, 8)) ===
      dump(Dedup.duplicateSpanCoverage(d)))
    // decontamination: fused flag set == decontaminate's drop set
    val flagged = Dedup.decontaminationFlagged(grams)
      .collect().map(_.getLong(0)).toSet
    val keptStandalone = Dedup.decontaminate(d, hold)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    val keptFused = d.where(!hold).select("doc_id").collect()
      .map(_.getLong(0)).toSet -- flagged
    assert(keptFused === keptStandalone)
    // batch-vs-index forms over a frozen corpus index: the full
    // operator over batch ∪ corpus, restricted to the batch's rows.
    // Doc 120 leaks into batch doc 2 only through the index.
    val corpus = Seq(
      (100L, "a b c d e f g h i j corpus member text here"),
      (110L, "holdout corpus doc q r s t u v w x y z1 z2 z3 end"),
      (120L, "leak unrelated words only here nothing shared at all"))
      .toDF("doc_id", "text")
    val union = d.unionByName(corpus)
    def batchRows(df: org.apache.spark.sql.DataFrame) =
      df.join(d.select("doc_id"), Seq("doc_id"), "left_semi")
    val wIdx = Dedup.windowHashIndex(corpus)
    assert(dump(Dedup.duplicateSpanCoverageAgainstFromGrams(
        lens, grams, wIdx, 8)) ===
      dump(batchRows(Dedup.duplicateSpanCoverage(union))))
    val hIdx = Dedup.holdoutGramIndex(corpus, hold)
    val keptUnion = batchRows(Dedup.decontaminate(union, hold))
      .collect().map(_.getAs[Long]("doc_id")).toSet
    val flaggedAgainst = Dedup
      .decontaminationFlaggedAgainst(grams, hIdx)
      .collect().map(_.getLong(0)).toSet
    val keptAgainstFused = d.where(!hold).select("doc_id").collect()
      .map(_.getLong(0)).toSet -- flaggedAgainst
    assert(flaggedAgainst.contains(2L), "the index-only leak must flag")
    assert(keptAgainstFused === keptUnion)
  }

  test("contaminationOverlapSliced / decontaminateSliced equal the " +
       "one-shot forms exactly, including n_shared counts past " +
       "minShared = 1 (per-slice distinct-gram counts are disjoint)") {
    import org.apache.spark.sql.functions.col
    val eight = "one two three four five six seven eight"
    val nine = s"$eight nine"
    val d = Seq(
      (0L, s"holdout doc containing $nine and trailing text"),    // holdout
      (1L, s"training doc that leaks $nine verbatim and again $nine"),
      (2L, s"single leak only $eight then diverges completely here now"),
      (3L, "clean training doc with nothing shared at all here today"),
      (4L, "short"))                                              // < 8 tokens
      .toDF("doc_id", "text")
    val hold = col("doc_id") === 0L
    def dumpOv(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id", "holdout_id").collect().map(_.toSeq).toSeq
    val work = java.nio.file.Files
      .createTempDirectory("graft_decon_sliced").toString
    assert(dumpOv(Dedup.contaminationOverlapSliced(d, hold, work,
        slices = 3)) === dumpOv(Dedup.contaminationOverlap(d, hold)))
    def dumpDocs(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect().map(_.getAs[Long]("doc_id")).toSeq
    for (minShared <- Seq(1, 2, 3)) {
      val work2 = java.nio.file.Files
        .createTempDirectory("graft_decon_sliced2").toString
      assert(dumpDocs(Dedup.decontaminateSliced(d, hold, work2,
          minShared = minShared, slices = 3)) ===
        dumpDocs(Dedup.decontaminate(d, hold, minShared = minShared)),
        s"minShared=$minShared")
    }
  }

  test("wedge family from a materialized edge table matches the " +
       "corpus-fed form exactly (writePairGraph -> readPairGraph parity)") {
    // The 100-TB contract: the pair graph is materialized once and every
    // graph operator consumes the persisted table -- this pins that the
    // parquet round trip changes nothing for all four family members.
    val docs = (0L until 60L).map { i =>
      val fam = i % 6
      (i, s"shared text family $fam tail ${i % 3} pad pad pad")
    }.toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(docs)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_edges").toString + "/edges"
    Dedup.writePairGraph(pairs, dir)
    val edges = Dedup.readPairGraph(spark, dir)
    def dump(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    assert(dump(Dedup.triangleCounts(edges)) ===
      dump(Dedup.triangleCounts(pairs)))
    assert(dump(Dedup.clusteringCoefficient(edges)) ===
      dump(Dedup.clusteringCoefficient(pairs)))
    assert(dump(Dedup.kCore(edges).orderBy("doc_id")) ===
      dump(Dedup.kCore(pairs).orderBy("doc_id")))
    assert(dump(Dedup.degreeHistogram(edges)) ===
      dump(Dedup.degreeHistogram(pairs)))
  }

  test("clusteringCoefficient: clique vertices score 1, pendant 0, hub " +
       "between") {
    // triangle {1,2,3} plus pendant 4 on vertex 1:
    //  v1 deg 3, tri 1 → 2/(3·2) = 1/3; v2,v3 deg 2, tri 1 → 1.0;
    //  v4 deg 1 → 0 (no wedge to close).
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L))
      .toDF("doc_a", "doc_b")
    val out = Dedup.clusteringCoefficient(pairs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("degree"), r.getAs[Long]("n_triangles"),
          r.getAs[Double]("clustering_coeff"))).toMap
    assert(out(1L) === ((3L, 1L, 1.0 / 3.0)))
    assert(out(2L) === ((2L, 1L, 1.0)))
    assert(out(3L) === ((2L, 1L, 1.0)))
    assert(out(4L) === ((1L, 0L, 0.0)))
  }

  test("degreeHistogram: counts vertices per degree on the raw graph") {
    // star on 1 (deg 3) + its leaves (deg 1 each) + isolated edge (5,6)
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (5L, 6L))
      .toDF("doc_a", "doc_b")
    val out = Dedup.degreeHistogram(pairs).collect()
      .map(r => r.getAs[Long]("degree") -> r.getAs[Long]("n_vertices"))
    assert(out.toSeq === Seq(1L -> 5L, 3L -> 1L))
  }

  test("triangles: deterministic degree cap keeps smallest-id neighbors") {
    // K4 on {1,2,3,4} has 4 triangles. With maxDegree = 2, ranks are
    // computed on the raw graph: (1,4) drops on the out side (ra=3 at
    // vertex 1) and (3,4) drops on the in side (rb=3 at vertex 4); the
    // surviving edges {(1,2),(1,3),(2,3),(2,4)} close exactly one
    // triangle, (1,2,3).
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L)).toDF("doc_a", "doc_b")
    assert(Dedup.triangles(k4).count() === 4)
    val capped = Dedup.triangles(k4, maxDegree = 2).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("doc_c")))
    assert(capped.toSeq === Seq((1L, 2L, 3L)))
  }

  test("winnowPairs: shared-run pairs surface, unrelated docs don't, " +
       "boilerplate fingerprints are capped") {
    val pairs = Dedup.winnowPairs(docs).collect()
      .map(r => ((r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")),
                 r.getAs[Long]("n_shared"))).toMap
    // the exact-duplicate pair shares every rare fingerprint
    assert(pairs.contains((0L, 1L)))
    // the near-dup (one word substituted) still shares plenty
    assert(pairs.contains((0L, 2L)) && pairs.contains((1L, 2L)))
    assert(pairs((0L, 1L)) >= pairs((0L, 2L)))
    // unrelated docs never pair with the duplicate group
    assert(!pairs.keys.exists(p => p._1 >= 3L || p._2 >= 3L))
    // a fingerprint present in MORE than maxDf docs is dropped: with
    // maxDf = 2 the triple {0,1,2}'s common-run fingerprints exceed the
    // cap, so only fingerprints distinguishing the pair survive — the
    // (0,1) exact pair must still surface via runs 2 lacks
    val capped = Dedup.winnowPairs(docs, maxDf = 2).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(capped.contains((0L, 1L)))
    assert(!capped.contains((0L, 2L)) && !capped.contains((1L, 2L)))
  }

  test("jaccardNgramPairs: blocked candidates carry exact Jaccard values") {
    val pairs = Dedup.jaccardNgramPairs(docs, threshold = 0.5).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
                 r.getAs[Double]("jaccard"))).toSeq
    val byPair = pairs.map(p => (p._1, p._2) -> p._3).toMap
    assert(byPair((0L, 1L)) === 1.0)                  // exact duplicate
    assert(byPair.contains((0L, 2L)))                 // near-dup caught
    // one substituted token kills 6 of the 18 6-gram windows → exactly
    // 12/24 = 0.5, the threshold boundary (also proves >= not >)
    assert(byPair((0L, 2L)) < 1.0 && byPair((0L, 2L)) >= 0.5)
    assert(!pairs.exists(p => p._1 === 3L || p._2 === 3L))  // unrelated
    // every reported value equals the brute-force distinct-6-gram Jaccard
    def grams(t: String): Set[String] = t.toLowerCase.split(" ")
      .sliding(6).filter(_.length == 6).map(_.mkString(" ")).toSet
    val texts = docs.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    pairs.foreach { case (a, b, j) =>
      val (ga, gb) = (grams(texts(a)), grams(texts(b)))
      val expect = ga.intersect(gb).size.toDouble / ga.union(gb).size
      assert(math.abs(j - expect) < 1e-12, s"pair ($a,$b)")
    }
  }

  test("simhashSignatures matches the column-expression simhash") {
    val viaDf = Dedup.simhashSignatures(docs).orderBy("doc_id")
      .collect().map(_.getAs[Long]("simhash")).toSeq
    val viaCol = docs.select(graft.operators.TextOps.simhash(
        org.apache.spark.sql.functions.col("text")).as("s"))
      .orderBy(docs("doc_id")).collect().map(_.getAs[Long]("s")).toSeq
    assert(viaDf === viaCol)
  }

  test("simhashPairs: identical docs at hamming 0; near-dups close") {
    val pairs = Dedup.simhashPairs(docs, maxHamming = 10).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
                 r.getAs[Long]("hamming")))
    val byPair = pairs.map(p => (p._1, p._2) -> p._3).toMap
    assert(byPair((0L, 1L)) === 0L)
    assert(!byPair.contains((0L, 3L)) && !byPair.contains((3L, 4L)))
  }

  test("simhashPairsPortable: identical docs at hamming 0; unrelated apart") {
    val pairs = Dedup.simhashPairsPortable(docs, maxHamming = 6).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
                 r.getAs[Long]("hamming")))
    val byPair = pairs.map(p => (p._1, p._2) -> p._3).toMap
    assert(byPair((0L, 1L)) === 0L)
    // near-dup of 0 shares almost all distinct tokens → small distance
    assert(byPair.get((0L, 2L)).forall(_ <= 6L))
    assert(!byPair.contains((0L, 3L)))
  }

  test("portable simhash chunks pack the same sign bits as the ±1 sums") {
    // doc 0 vs doc 1 are identical → identical chunk keys; chunk values
    // stay within 16 bits
    val sigs = Dedup.simhashSignaturesPortable(docs).orderBy("doc_id")
      .collect()
    assert(sigs(0).toSeq.drop(1) === sigs(1).toSeq.drop(1))
    sigs.foreach(r => (1 to 4).foreach { c =>
      val v = r.getLong(c)
      assert(v >= 0L && v <= 65535L)
    })
  }

  test("connectedComponents: near-dup group clusters to min doc_id") {
    val pairs = Dedup.nearDupPairs(docs, threshold = 0.5)
      .select("doc_a", "doc_b")
    val cc = Dedup.connectedComponents(pairs, docs.select("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc(0L) === 0L && cc(1L) === 0L && cc(2L) === 0L)  // dup group
    assert(cc(3L) === 3L && cc(4L) === 4L)                   // singletons
  }

  test("keepClusterRepresentatives keeps one best copy per cluster") {
    val pairs = Dedup.nearDupPairs(docs, threshold = 0.5)
      .select("doc_a", "doc_b")
    val cc = Dedup.connectedComponents(pairs, docs.select("doc_id"))
    val kept = Dedup.keepClusterRepresentatives(docs, cc)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // Docs 0/1/2 cluster together; 0 and 1 tie on length → doc_id picks 0.
    assert(kept === Map(0L -> 0L, 3L -> 3L, 4L -> 4L))
  }

  test("minhashEstimateEval: identical docs agree on every component " +
       "with zero error; near-dups carry a bounded estimate") {
    val d = Seq(
      (0L, "alpha beta gamma delta epsilon zeta"),
      (1L, "alpha beta gamma delta epsilon zeta"),     // exact copy
      (2L, "alpha beta gamma delta epsilon eta"))      // near copy
      .toDF("doc_id", "text")
    val out = Dedup.minhashEstimateEval(d, threshold = 0.1)
      .orderBy("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("jaccard"),
        r.getAs[Long]("n_match"), r.getAs[Double]("abs_err")))
    val exact = out.find(p => p._1 == 0L && p._2 == 1L).get
    assert(exact._3 === 1.0 && exact._4 === 4L && exact._5 === 0.0)
    // the near pair is present (blocked via shared rare shingles), its
    // estimate is a multiple of 1/4 and the error is |jaccard − est|
    out.filter(p => p._2 == 2L).foreach { p =>
      assert(p._3 > 0 && p._3 < 1 && p._4 >= 0 && p._4 <= 4)
    }
    assert(out.exists(p => p._2 == 2L))
  }

  test("kCore: cascading peel strips the pendant chain, keeps the " +
       "triangle") {
    // Triangle 1-2-3 with a pendant chain 3-4-5: round 1 peels 5
    // (degree 1), which DROPS 4 to degree 1 — round 2 peels 4. The
    // 2-core is the triangle alone, every vertex at within-core
    // degree 2. Exercises the cascade, not just one peel round.
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
      .toDF("doc_a", "doc_b")
    val core = Dedup.kCore(edges, k = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core === Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    // An acyclic graph has an EMPTY 2-core (everything peels away).
    val path = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    assert(Dedup.kCore(path, k = 2).count() === 0L)
  }

  test("labelPropagation: bridged triangles form TWO communities where " +
       "connected components would merge them") {
    // Triangles {1,2,3} and {4,5,6} joined by bridge 3-4: one component,
    // but LPA (4 rounds, hand-traced) settles on communities 1 and 3.
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L),
      (5L, 6L), (3L, 4L)).toDF("doc_a", "doc_b")
    val out = Dedup.labelPropagation(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 3L, 5L -> 3L, 6L -> 3L))
    // sanity: CC merges everything into one cluster on the same graph
    val cc = Dedup.connectedComponents(edges,
      Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("doc_id"))
      .collect().map(r => r.getLong(1)).toSet
    assert(cc === Set(1L))
  }

  test("connectedComponents propagates labels across a chain") {
    // Diameter-3 chain: the label must take 3 propagation rounds to reach
    // the far end — exercises the iteration, not just one hop.
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("doc_a", "doc_b")
    val verts = Seq(0L, 1L, 2L, 3L, 4L).toDF("doc_id")
    val cc = Dedup.connectedComponents(chain, verts)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc === Map(0L -> 0L, 1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
  }

  test("connectedComponents: periodic checkpoint bounds plan depth " +
       "as rounds grow") {
    // Two path graphs, diameters 8 and 16 → 8 vs 16 propagation rounds.
    // With checkpointEvery = 2 the final label frame's plan must NOT
    // grow with the round count: lineage is cut every 2 rounds, so both
    // runs end within the same bounded plan size. Without truncation the
    // 16-round plan would nest twice the rounds (and each round re-nests
    // the edge lineage — the round-7 audit's 500+-Exchange artifact).
    def planSize(diameter: Int): Int = {
      val chain = (1L to diameter.toLong).map(i => (i, i + 1))
        .toDF("doc_a", "doc_b")
      val verts = (1L to diameter.toLong + 1).toDF("doc_id")
      val cc = Dedup.connectedComponents(chain, verts, maxIters = 30,
        checkpointEvery = 2)
      val labels = cc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(labels === (1L to diameter.toLong + 1).map(_ -> 1L).toMap)
      cc.queryExecution.optimizedPlan.treeString.length
    }
    val (p8, p16) = (planSize(8), planSize(16))
    // bounded: doubling the rounds must not double the plan; both stay
    // within a small constant of each other (checkpoint-cycle residue)
    assert(p16 < p8 * 2, s"plan grew with rounds: $p8 -> $p16")
    assert(p16 < 20000, s"final plan unexpectedly large: $p16 chars")
  }

  test("connectedComponentsStar labels a deep chain in O(log n) rounds") {
    // Diameter-49 path graph: label propagation needs ~49 rounds; star
    // contraction must finish well inside maxIters = 10 (≈ log₂ 50 + ε
    // alternating rounds) — the property that makes it the scale path.
    val chain = (1L until 50L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val verts = (0L to 50L).toDF("doc_id")
    val cc = Dedup.connectedComponentsStar(chain, verts, maxIters = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = (0L to 50L).map(v => v -> (if (v == 0L) 0L else 1L)).toMap
    assert(cc === expected)
    // empty edge set: every vertex is its own singleton cluster
    val solo = Dedup.connectedComponentsStar(
        Seq.empty[(Long, Long)].toDF("doc_a", "doc_b"),
        Seq(7L, 9L).toDF("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(solo === Map(7L -> 7L, 9L -> 9L))
  }

  test("contaminationOverlap flags corpus docs sharing 8-grams w/ holdout") {
    import org.apache.spark.sql.functions.col
    // Odd doc_ids play the benchmark set: doc 1 (dup of corpus doc 0)
    // must be flagged; the unrelated corpus doc 4 must stay clean.
    val out = Dedup.contaminationOverlap(docs, col("doc_id") % 2 === 1)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("holdout_id"),
                 r.getAs[Long]("n_shared")))
    assert(out.exists { case (c, h, n) => c === 0L && h === 1L && n > 10 })
    assert(!out.exists { case (c, _, _) => c === 4L })
  }

  test("minhashSignatures: identical docs share all bands") {
    val sigs = Dedup.minhashSignatures(docs).orderBy("doc_id").collect()
    val s0 = sigs(0).toSeq.drop(1)
    val s1 = sigs(1).toSeq.drop(1)
    assert(s0 === s1)
    assert(s0.forall(_ != null))
  }

  test("duplicateSpans: maximal cross-doc spans; within-doc repeats " +
       "and unique docs excluded") {
    // 10-token run shared between docs 0 and 1 → windows at positions
    // 0..2 (doc 0) / 3..5 (doc 1) merge into one 10-token span each.
    val shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val rep = "uno dos tres cuatro cinco seis siete ocho"  // 8 tokens
    val d = Seq(
      (0L, shared + " unique tail zero one two three four five six seven"),
      (1L, "prefix words here " + shared),
      (2L, "no duplicated content in this document at all whatsoever"),
      (3L, rep + " filler " + rep))  // repeated 8-gram WITHIN one doc only
      .toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(d).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("span_start"),
                 r.getAs[Long]("span_len")))
    assert(spans.toSet === Set((0L, 0L, 10L), (1L, 3L, 10L)))
  }

  test("clipDuplicateSpans removes exactly the duplicated spans") {
    val shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val tail = "unique tail zero one two three four five six seven"
    val d = Seq(
      (0L, shared + " " + tail),
      (1L, "prefix words here " + shared),
      (2L, "no duplicated content in this document at all whatsoever"))
      .toDF("doc_id", "text")
    def md5Hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val out = Dedup.clipDuplicateSpans(d).orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("kept_tokens"),
                 r.getAs[String]("clipped_md5")))
    assert(out(0) === ((10L, md5Hex(tail))))
    assert(out(1) === ((3L, md5Hex("prefix words here"))))
    // clean doc: untouched (lowercased token stream)
    assert(out(2) === ((9L,
      md5Hex("no duplicated content in this document at all whatsoever"))))
  }

  test("duplicateSpanCoverage: per-doc fractions, zero for clean docs") {
    val shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val d = Seq(
      (0L, shared + " unique tail zero one two three four five six seven"),
      (1L, "prefix words here " + shared),
      (2L, "no duplicated content in this document at all whatsoever"))
      .toDF("doc_id", "text")
    val cov = Dedup.duplicateSpanCoverage(d).orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_spans"),
                 r.getAs[Long]("dup_tokens"), r.getAs[Double]("dup_frac")))
    assert(cov(0) === ((20L, 1L, 10L, 0.5)))
    assert(cov(1) === ((13L, 1L, 10L, 10.0 / 13)))
    assert(cov(2) === ((9L, 0L, 0L, 0.0)))

    // null text reports null token count/fraction (not the legacy
    // size(null) = -1), matching the oracle's len(NULL)
    val withNull = Dedup.duplicateSpanCoverage(
        Seq((0L, Option("alpha beta")), (1L, Option.empty[String]))
          .toDF("doc_id", "text"))
      .orderBy("doc_id").collect()
    assert(withNull(1).isNullAt(1) && withNull(1).isNullAt(4))
    assert(withNull(1).getAs[Long]("n_spans") === 0L)
  }

  test("snapshotDiff classifies added/removed/changed/unchanged, " +
       "null texts compare as carried-over") {
    val oldSnap = Seq(
      (1L, Option("alpha")), (2L, Option("beta")),
      (3L, Option("gamma")), (4L, Option.empty[String]))
      .toDF("doc_id", "text")
    val newSnap = Seq(
      (2L, Option("beta")),            // identical → unchanged
      (3L, Option("gamma v2")),        // revised → changed
      (4L, Option.empty[String]),      // null in both → unchanged
      (5L, Option("epsilon")))         // new → added
      .toDF("doc_id", "text")          // 1 missing → removed
    val out = Dedup.snapshotDiff(oldSnap, newSnap).orderBy("doc_id")
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("status")))
      .toSeq
    assert(out === Seq((1L, "removed"), (2L, "unchanged"),
      (3L, "changed"), (4L, "unchanged"), (5L, "added")))
    // digests, not documents, cross the join: the plan's join keys are
    // doc_id and both projected sides carry only (doc_id, md5)
    val plan = Dedup.snapshotDiff(oldSnap, newSnap)
      .queryExecution.optimizedPlan.toString
    assert(!plan.toLowerCase.contains("cartesian"))
  }

  test("updatePairGraph: existing edges + batch delta EQUALS the full " +
       "rebuild on the union snapshot; relabelTouched EQUALS full " +
       "connectedComponents") {
    import org.apache.spark.sql.functions._
    val d = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val ex = d.where(col("doc_id") % 2 === 0)
    val inc = d.where(col("doc_id") % 2 === 1)
    val exIdx = Dedup.buildSignatureIndex(ex)
    val exEdges = Dedup.nearDupPairs(ex).select("doc_a", "doc_b")
      .persist()
    try {
      val delta = Dedup.updatePairGraphDelta(inc, exIdx).persist()
      try {
        // the split must be non-trivial: batch-internal AND cross edges
        assert(delta.where(col("doc_a") % 2 === col("doc_b") % 2)
          .count() > 0)
        assert(delta.where(col("doc_a") % 2 =!= col("doc_b") % 2)
          .count() > 0)

        val updated = exEdges.unionAll(delta)
        val full = Dedup.nearDupPairs(d).select("doc_a", "doc_b")
        assert(updated.exceptAll(full).count() === 0)
        assert(full.exceptAll(updated).count() === 0)
        // and no edge is produced twice across the three arms
        assert(updated.count() === updated.distinct().count())

        val oldLabels = Dedup.connectedComponents(
          exEdges, ex.select("doc_id"))
        val relabeled = Dedup.relabelTouched(oldLabels, exEdges, delta,
            inc.select("doc_id"))
          .orderBy("doc_id").collect().map(r =>
            (r.getLong(0), r.getLong(1))).toSeq
        val fullCC = Dedup.connectedComponents(full, d.select("doc_id"))
          .orderBy("doc_id").collect().map(r =>
            (r.getLong(0), r.getLong(1))).toSeq
        assert(relabeled === fullCC)
      } finally delta.unpersist(blocking = false)
    } finally exEdges.unpersist(blocking = false)
  }

  test("connectedComponentsFrom warm-started at old cluster minima " +
      "equals cold-start CC on the union (deep chains merged by a " +
      "delta edge)") {
    import spark.implicits._
    // two deep path clusters (diameter 4) + one singleton
    val oldEdges = Seq((10L, 12L), (12L, 14L), (14L, 16L), (16L, 18L),
      (20L, 22L), (22L, 24L)).toDF("doc_a", "doc_b")
    val oldVerts = Seq(10L, 12L, 14L, 16L, 18L, 20L, 22L, 24L, 30L)
      .toDF("doc_id")
    val oldLabels = Dedup.connectedComponents(oldEdges, oldVerts)
    // a batch vertex bridges the two deep clusters at their FAR ends
    val delta = Seq((11L, 18L), (11L, 24L)).toDF("doc_a", "doc_b")
    val union = oldEdges.unionAll(delta)
    val allVerts = oldVerts.unionAll(Seq(11L).toDF("doc_id"))
    val init = allVerts.join(oldLabels, Seq("doc_id"), "left")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.coalesce(
          org.apache.spark.sql.functions.col("cluster"),
          org.apache.spark.sql.functions.col("doc_id")).as("cluster"))
    val warm = Dedup.connectedComponentsFrom(union, init)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val cold = Dedup.connectedComponents(union, allVerts)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(warm === cold)
    // the merged component labels at the global minimum
    assert(warm.filter(_._1 == 24L).head._2 === 10L)
  }

  test("cappedPairGraph memo re-arms its persist after a session-wide " +
      "clearCache") {
    import org.apache.spark.storage.StorageLevel
    val pairs = Dedup.nearDupPairs(docs).select("doc_a", "doc_b")
    try {
      val g1 = Dedup.cappedPairGraph(pairs, 256)
      assert(g1.storageLevel !== StorageLevel.NONE)
      // the bench's cold-cache reset / a test teardown: unpersists every
      // cached frame WITHOUT evicting the memo
      spark.catalog.clearCache()
      assert(g1.storageLevel === StorageLevel.NONE)
      // a memo hit must re-arm the persist, or every consumer join
      // re-computes the capped graph once per reference
      val g2 = Dedup.cappedPairGraph(pairs, 256)
      assert(g2.storageLevel !== StorageLevel.NONE)
      assert(g2.orderBy("doc_a", "doc_b").collect()
        === g1.orderBy("doc_a", "doc_b").collect())
    } finally Dedup.clearWedgeCache()
  }

  test("Scratch gates the per-slice GC on shuffle scratch actually " +
      "written, and accumulates sub-threshold scratch until a reclaim") {
    import graft.operators.Scratch
    Scratch.noteReclaim(spark)   // zero out whatever ran before this test
    assert(Scratch.pendingScratchBytes(spark) === 0L)
    // force a real shuffle so the stage listener sees write bytes
    docs.repartition(4, org.apache.spark.sql.functions.col("doc_id"))
      .write.format("noop").mode("overwrite").save()
    val afterOne = Scratch.pendingScratchBytes(spark)
    assert(afterOne > 0L)
    // below the 256 MiB bar: no GC, and the counter KEEPS accumulating
    // (round-14 ADVICE: sub-threshold slices must add up to a reclaim,
    // not be dropped on the floor every gate check)
    Scratch.gcIfPressured(spark)
    assert(Scratch.pendingScratchBytes(spark) === afterOne)
    docs.repartition(4, org.apache.spark.sql.functions.col("doc_id"))
      .write.format("noop").mode("overwrite").save()
    assert(Scratch.pendingScratchBytes(spark) > afterOne)
  }
}

/** Local file system under the `failslice` scheme whose file creation
  * fails, after 1 s, for the first near-dup slice's output (`slice_0`)
  * and takes 3 s for every other slice's, so the other slices are still
  * running when the first one fails.
  */
class FailSliceFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "failslice"
  override def getUri: java.net.URI = java.net.URI.create("failslice:///")
  private def check(f: org.apache.hadoop.fs.Path): Unit =
    if (f.toString.contains("/slice_0/")) {
      Thread.sleep(1000L)
      throw new java.io.IOException(s"injected failure writing slice_0: $f")
    } else if (f.toString.contains("/slice_")) Thread.sleep(3000L)
  override def create(f: org.apache.hadoop.fs.Path, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: org.apache.hadoop.util.Progressable)
      : org.apache.hadoop.fs.FSDataOutputStream = {
    check(f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def create(f: org.apache.hadoop.fs.Path,
                      permission: org.apache.hadoop.fs.permission.FsPermission,
                      overwrite: Boolean, bufferSize: Int, replication: Short,
                      blockSize: Long,
                      progress: org.apache.hadoop.util.Progressable)
      : org.apache.hadoop.fs.FSDataOutputStream = {
    check(f)
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
}
