package graft

import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Relational
import graft.state.StateStore

/** Seeded randomized property tests (SURVEY.md §5.3) — each property runs
  * over one generated batch so Spark jobs stay O(1) per property.
  */
class PropertySpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val rnd = new Random(42)

  private def randField(): String = {
    val chars = "abcdefghijklmnop qrstuvwxyz0123456789.-@#"
    val n = 1 + rnd.nextInt(12)
    // fields may contain anything except the record syntax: _ { } |
    (0 until n).map(_ => chars(rnd.nextInt(chars.length))).mkString.trim
      .padTo(1, 'x').mkString
  }

  test("property: parser round-trips arbitrary well-formed records") {
    val records = (0 until 200).map { i =>
      (i, Seq(s"C$i", randField(), randField(), randField(), randField(),
              randField()))
    }
    val packed = records
      .map { case (i, f) => (i.toLong, f.mkString("{", "_", "}")) }
      .toDF("_row_idx", "line")
    val parsed = Relational.parseCustomers(packed, "line",
        passthrough = Seq("_row_idx"))
      .orderBy("_row_idx").collect()
    assert(parsed.length === records.length)
    records.zip(parsed).foreach { case ((_, fields), row) =>
      assert(row.toSeq.drop(1) === fields)
    }
  }

  test("property: jaccardNgramPairs meets its exact-recall-within-blocking " +
       "contract on a random corpus") {
    // Random docs over a 30-word vocab with planted duplicate groups:
    // every returned pair must carry the true 6-gram Jaccard, and every
    // pair that shares >= 1 rare gram (df in [2, maxDf]) with true
    // Jaccard >= threshold must be returned — the operator's documented
    // recall contract, checked against a brute-force all-pairs oracle.
    val vocab = (0 until 30).map(i => s"w$i")
    def randDoc(): String =
      (0 until 12 + rnd.nextInt(20)).map(_ => vocab(rnd.nextInt(vocab.size)))
        .mkString(" ")
    val bases = (0 until 30).map(_ => randDoc())
    val texts = bases ++ bases.take(6) ++                  // exact dups
      bases.slice(6, 10).map(_ + " w0 w1 w2 w3 w4 w5")     // near dups
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val n = 6; val maxDf = 10; val threshold = 0.5

    def grams(t: String): Set[String] = t.toLowerCase.split(" ")
      .sliding(n).filter(_.length == n).map(_.mkString(" ")).toSet
    val gsets = texts.zipWithIndex.map { case (t, i) => i.toLong -> grams(t) }
      .toMap
    val df = gsets.values.flatten.groupBy(identity).map { case (g, o) =>
      g -> o.size }
    def jac(a: Set[String], b: Set[String]): Double =
      if (a.isEmpty && b.isEmpty) 0.0
      else a.intersect(b).size.toDouble / a.union(b).size

    val got = graft.operators.Dedup
      .jaccardNgramPairs(docs, n, threshold, maxDf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Double]("jaccard")).toMap
    // soundness: every returned jaccard is the brute-force value
    got.foreach { case ((a, b), j) =>
      assert(math.abs(j - jac(gsets(a), gsets(b))) < 1e-12, s"($a,$b)") }
    // recall contract: qualifying pairs sharing a rare gram are returned
    val ids = gsets.keys.toSeq.sorted
    for (a <- ids; b <- ids if a < b) {
      val shared = gsets(a).intersect(gsets(b))
      val hasRare = shared.exists(g => df(g) >= 2 && df(g) <= maxDf)
      val j = jac(gsets(a), gsets(b))
      if (hasRare && j >= threshold)
        assert(got.contains((a, b)), s"missing qualifying pair ($a,$b) j=$j")
    }
  }

  test("property: dense rank is permutation-invariant and gapless") {
    val totals = (0 until 300).map { i =>
      (s"C$i", s"N$i", "X", math.round(rnd.nextDouble() * 500) / 10.0)
    }
    val a = totals.toDF("customer_id", "name", "category", "amount")
    val b = rnd.shuffle(totals).toDF("customer_id", "name", "category", "amount")
    val ra = Relational.summaryRanked(a).collect()
      .map(r => (r.getString(0), r.getInt(3)))
    val rb = Relational.summaryRanked(b).collect()
      .map(r => (r.getString(0), r.getInt(3)))
    assert(ra.toSeq === rb.toSeq)
    val ranks = ra.map(_._2).distinct.sorted
    assert(ranks.toSeq === (1 to ranks.length))  // dense: 1..K no gaps
  }

  test("property: upsert is idempotent on duplicate-free batches") {
    val store = new StateStore(spark,
      Files.createTempDirectory("graft_prop").toString)
    val batch = (0 until 100).map { i =>
      (s"C$i", s"n$i", s"e$i", "1990", s"addr-$i", "100", i.toLong)
    }.toDF("customer_id", "name", "email", "dob", "address",
           "created_date", "_row_idx")
    def upload(ts: String): Long = store.applyUploads(
      Seq(("f.xlsx", ts, 0L, 100L, 0L)),
      batch.withColumn("_upload_seq", lit(0)))
      .head._2
    assert(upload("t1") === 0)
    val s1 = store.customers.orderBy("customer_id").collect().map(_.toSeq.take(6))
    assert(upload("t2") === 0)  // replay: no CDC
    val s2 = store.customers.orderBy("customer_id").collect().map(_.toSeq.take(6))
    assert(s1.toSeq === s2.toSeq)
    assert(store.customers.count() === 100)
  }

  test("property: totals are invariant under join input order") {
    val txns = (0 until 500).map { i =>
      (s"T$i", s"C${rnd.nextInt(40)}", s"P${rnd.nextInt(6)}",
       (rnd.nextInt(100000) / 100.0).toString)
    }.toDF("transaction_id", "customer_id", "product_code", "amount")
    val products = (0 until 6).map(i => (s"P$i", s"prod$i", s"cat${i % 3}"))
      .toDF("product_code", "product_name", "category")
    val customers = (0 until 40).map(i => (s"C$i", s"name$i"))
      .toDF("customer_id", "name")

    val viaEnrich = Relational.summaryRanked(Relational.categoryTotals(
      Relational.castAmount(Relational.enrich(txns, products, customers))))
    // opposite join order: customers first, then products
    val alt = Relational.castAmount(
      txns.join(customers, Seq("customer_id"))
          .join(broadcast(products), Seq("product_code")))
    val viaAlt = Relational.summaryRanked(Relational.categoryTotals(alt))
    assert(viaEnrich.collect().map(_.toSeq).toSeq ===
           viaAlt.collect().map(_.toSeq).toSeq)
  }

  test("property: salted join equals plain join on skewed random data") {
    // 80% of fact rows hit one hot key — the regime salting exists for.
    val fact = (0 until 400).map { i =>
      val k = if (rnd.nextInt(5) < 4) 0 else rnd.nextInt(20)
      (s"K$k", i.toLong)
    }.toDF("k", "payload")
    val dim = (0 until 20).map(i => (s"K$i", s"attr$i")).toDF("k", "attr")
    val salted = graft.operators.Scale.saltedJoin(fact, dim, "k")
      .select("k", "payload", "attr").collect().map(_.toSeq).sortBy(_.toString)
    val plain = fact.join(dim, Seq("k"))
      .select("k", "payload", "attr").collect().map(_.toSeq).sortBy(_.toString)
    assert(salted.toSeq === plain.toSeq)
  }

  test("property: two-phase dense rank equals window dense rank on randoms") {
    val totals = (0 until 500).map { i =>
      (s"C$i", math.round(rnd.nextDouble() * 300) / 10.0)
    }.toDF("customer_id", "amount")
    val viaTwoPhase = Relational.twoPhaseDenseRank(totals)
      .select("customer_id", "rank").collect()
      .map(r => (r.getString(0), r.getInt(1))).sortBy(_._1)
    val w = org.apache.spark.sql.expressions.Window.orderBy(desc("amount"))
    val viaWindow = totals.withColumn("rank",
        dense_rank().over(w).cast("int"))
      .select("customer_id", "rank").collect()
      .map(r => (r.getString(0), r.getInt(1))).sortBy(_._1)
    assert(viaTwoPhase.toSeq === viaWindow.toSeq)
  }

  test("property: connected components match brute-force union-find") {
    import graft.operators.Dedup
    // Random sparse graph over 40 vertices — enough to produce a mix of
    // singletons, pairs, and larger multi-hop components.
    val nV = 40
    val edges = (0 until 30).map { _ =>
      (rnd.nextInt(nV).toLong, rnd.nextInt(nV).toLong)
    }.filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    // Reference: array-based union-find with full path compression.
    val parent = Array.tabulate(nV)(identity)
    def find(x: Int): Int = {
      if (parent(x) != x) parent(x) = find(parent(x))
      parent(x)
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = (0 until nV).map { v =>
      v.toLong -> (0 until nV).filter(u => find(u) == find(v)).min.toLong
    }.toMap
    val got = Dedup.connectedComponents(
        edges.toDF("doc_a", "doc_b"),
        (0 until nV).map(_.toLong).toDF("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expected)
    // the O(log n)-round star-contraction path must agree exactly
    val gotStar = Dedup.connectedComponentsStar(
        edges.toDF("doc_a", "doc_b"),
        (0 until nV).map(_.toLong).toDF("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotStar === expected)
  }

  test("property: contamination overlap equals brute-force gram-set math") {
    import graft.operators.Dedup
    val words = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta")
    def randDoc(len: Int): String =
      (0 until len).map(_ => words(rnd.nextInt(words.length))).mkString(" ")
    val docs = (0L until 30L).map(i => (i, randDoc(10 + rnd.nextInt(10))))
    val n = 4
    def gramSet(text: String): Set[String] = {
      val t = text.toLowerCase.split(" ")
      if (t.length < n) Set.empty
      else t.sliding(n).map(_.mkString(" ")).toSet
    }
    val holdoutIds = docs.map(_._1).filter(_ % 3 == 0).toSet
    val expected = (for {
      (cid, ctext) <- docs if !holdoutIds(cid)
      (hid, htext) <- docs if holdoutIds(hid)
      shared = (gramSet(ctext) & gramSet(htext)).size
      if shared > 0
    } yield (cid, hid) -> shared.toLong).toMap
    val got = Dedup.contaminationOverlap(
        docs.toDF("doc_id", "text"), col("doc_id") % 3 === 0, n = n)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got === expected)
  }

  test("property: incremental dedup partitions a random batch exactly") {
    // Random corpus split into existing/incoming with planted overlaps:
    // the survivors must be precisely the incoming fingerprints absent
    // from the existing side, one representative (min doc_id) each —
    // and the bloom sketch path must agree row-for-row.
    import graft.operators.{Dedup, Scale, TextOps}
    val vocab = (0 until 20).map(i => s"w$i")
    def doc(r: Random) =
      (0 until 5 + r.nextInt(10)).map(_ => vocab(r.nextInt(vocab.length)))
        .mkString(" ")
    val r = new Random(7)
    val base = (0 until 120).map(i => (i.toLong, doc(r)))
    // plant cross-side and within-incoming duplicates
    val planted = (0 until 30).map { i =>
      val src = base(r.nextInt(base.length))._2
      (1000L + i, src)
    }
    val all = base ++ planted
    val existing = all.filter(_._1 % 2 == 0).toDF("doc_id", "text")
    val incoming = all.filter(_._1 % 2 == 1).toDF("doc_id", "text")

    val out = Dedup.incrementalDedup(incoming, existing)
      .collect()
      .map(x => (x.getAs[String]("fingerprint"), x.getAs[Long]("doc_id"),
                 x.getAs[Long]("n_copies")))
    // brute-force expectation
    def fp(t: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(t.toLowerCase.trim.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val exFps = all.filter(_._1 % 2 == 0).map(d => fp(d._2)).toSet
    val incRows = all.filter(_._1 % 2 == 1).map(d => (fp(d._2), d._1))
    val expect = incRows.filterNot(x => exFps.contains(x._1))
      .groupBy(_._1)
      .map { case (f, rows) => (f, rows.map(_._2).min, rows.size.toLong) }
      .toSet
    assert(out.toSet === expect)
    // sketch path agrees exactly
    val sketch = Scale.bloomIncrementalDedup(incoming, existing,
        TextOps.fingerprint)
      .collect()
      .map(x => (x.getAs[String]("fingerprint"), x.getAs[Long]("doc_id"),
                 x.getAs[Long]("n_copies")))
    assert(sketch.toSet === expect)
  }

  test("property: duplicate spans equal brute-force window math and are " +
       "partition-invariant") {
    import graft.operators.Dedup
    val words = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta")
    def randDoc(len: Int): String =
      (0 until len).map(_ => words(rnd.nextInt(words.length))).mkString(" ")
    // Small vocabulary + short windows → plenty of genuine cross-doc
    // duplicated windows to merge.
    val w = 3
    val docs = (0L until 25L).map(i => (i, randDoc(8 + rnd.nextInt(8))))
    // Brute force: window is duplicated iff its token text occurs in
    // ≥ 2 distinct docs; merge runs with gap ≤ w.
    val wins = docs.flatMap { case (id, t) =>
      t.split(" ").sliding(w).zipWithIndex.collect {
        case (g, p) if g.length == w => (g.mkString(" "), id, p)
      }
    }
    val dupTexts = wins.groupBy(_._1).filter(_._2.map(_._2).distinct.size >= 2)
      .keySet
    val expected = docs.flatMap { case (id, t) =>
      val hits = wins.filter(x => x._2 == id && dupTexts(x._1)).map(_._3)
        .sorted
      if (hits.isEmpty) Nil
      else {
        val islands = hits.tail.foldLeft(List(List(hits.head))) {
          (acc, p) => if (p - acc.head.head <= w)
            (p :: acc.head) :: acc.tail else List(p) :: acc
        }
        islands.map(is => (id, is.min.toLong, (is.max + w - is.min).toLong))
      }
    }.toSet
    val df = docs.toDF("doc_id", "text")
    val got = Dedup.duplicateSpans(df, w = w).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === expected)
    val got7 = Dedup.duplicateSpans(df.repartition(7), w = w).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got7 === expected)
  }

  test("property: lmScore is partition-invariant and bounded by [0, 1]") {
    import graft.operators.TextOps
    val words = Vector("a", "b", "c", "d", "e")
    def randDoc(len: Int): String =
      (0 until len).map(_ => words(rnd.nextInt(words.length))).mkString(" ")
    val docs = (0L until 30L).map(i => (i, randDoc(2 + rnd.nextInt(10))))
      .toDF("doc_id", "text")
    val a = TextOps.lmScore(docs).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val b = TextOps.lmScore(docs.repartition(5)).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(a.toSeq === b.toSeq)
    // fixed-point sums: 0 ≤ sum ≤ n_bigrams · scale
    a.foreach { case (_, n, fp) =>
      assert(fp >= 0L && fp <= n * 100000000L)
    }
  }

  test("property: HLL approx distinct stays within 5% of exact") {
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val rows = events.groupBy("event_type")
      .agg(approx_count_distinct("user_id").as("a"),
        countDistinct("user_id").as("e")).collect()
    rows.foreach { r =>
      val (a, e) = (r.getLong(1).toDouble, r.getLong(2).toDouble)
      assert(math.abs(a - e) / e <= 0.05, s"approx $a vs exact $e")
    }
  }

  test("property: approx_percentile stays within rank tolerance of exact") {
    // The sketch guarantees RANK error (≤ 1/accuracy), not value error —
    // so check the achieved rank of each approximate quantile.
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select("event_type", "value")
    val rows = events.groupBy("event_type")
      .agg(expr("approx_percentile(value, array(0.5, 0.95), 1000)").as("a"),
        count(lit(1)).as("n"))
      .collect()
    rows.foreach { r =>
      val et = r.getString(0)
      val approx = r.getSeq[Double](1)
      val n = r.getLong(2).toDouble
      Seq(0.5, 0.95).zip(approx).foreach { case (p, a) =>
        val rank = events
          .where($"event_type" === et && $"value" <= a).count() / n
        val tol = math.max(0.01, 2.0 / n)
        assert(rank >= p - tol && rank <= p + tol + 1.0 / n,
          s"$et p$p: approx $a has rank $rank (n=$n)")
      }
    }
  }

  test("property: kCore equals brute-force peel on random graphs " +
       "(unique-fixpoint check)") {
    import graft.operators.Dedup
    val vs = 40
    val edges = (0 until 90).map { _ =>
      val a = rnd.nextInt(vs).toLong; val b = rnd.nextInt(vs).toLong
      (math.min(a, b), math.max(a, b))
    }.filter(p => p._1 != p._2).distinct
    def brute(k: Int): Map[Long, Int] = {
      val adj = scala.collection.mutable.Map.empty[Long,
        scala.collection.mutable.Set[Long]]
      edges.foreach { case (a, b) =>
        adj.getOrElseUpdate(a, scala.collection.mutable.Set()) += b
        adj.getOrElseUpdate(b, scala.collection.mutable.Set()) += a
      }
      var changed = true
      while (changed) {
        val rm = adj.collect { case (v, s) if s.size < k => v }.toSeq
        changed = rm.nonEmpty
        rm.foreach { v =>
          adj(v).foreach(u => adj.get(u).foreach(_ -= v)); adj -= v
        }
      }
      adj.map { case (v, s) => v -> s.size }.toMap
    }
    for (k <- Seq(2, 3)) {
      val got = Dedup.kCore(edges.toDF("doc_a", "doc_b"), k, maxRounds = 30)
        .collect().map(r => r.getLong(0) -> r.getLong(1).toInt).toMap
      assert(got === brute(k), s"k=$k")
    }
  }

  test("property: paretoFront2D equals the brute-force skyline on " +
       "random points with planted duplicates") {
    import graft.operators.Scale
    val pts = (0 until 150).map(i =>
      (i.toLong, rnd.nextInt(30).toLong, rnd.nextInt(30).toDouble))
    val distinct = pts.groupBy(p => (p._3, p._2)).map { case ((y, x), g) =>
      (y, x, g.size.toLong, g.map(_._1).min)
    }.toSeq
    val sky = distinct.filter { p =>
      !distinct.exists(e => e._1 >= p._1 && e._2 >= p._2 &&
        (e._1 > p._1 || e._2 > p._2))
    }.sortBy(p => (-p._1, p._2))
    val got = Scale.paretoFront2D(pts.toDF("doc_id", "x", "y"),
        "doc_id", "x", "y", partitions = 5)
      .orderBy(desc("y"), asc("x")).collect()
      .map(r => (r.getAs[Double]("y"), r.getAs[Long]("x"),
        r.getAs[Long]("n_docs"), r.getAs[Long]("min_doc_id")))
    assert(got.toSeq === sky)
  }

  test("property: sessionOverlapPairs equals the naive all-pairs " +
       "overlap on random event streams") {
    import graft.operators.EventOps
    val base = 1700000000000L
    val ev = (0 until 400).map { i =>
      (i.toLong, new java.sql.Timestamp(base + rnd.nextInt(6 * 3600) * 1000L),
        (1 + rnd.nextInt(15)).toLong, "c", 1.0)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
    val sess = EventOps.sessionize(ev).collect().map(r =>
      (r.getAs[Long]("user_id"), r.getAs[Long]("session_id"),
        r.getAs[Long]("session_start_ms"), r.getAs[Long]("session_end_ms")))
    val naive = (for {
      x <- sess; y <- sess
      if x._1 < y._1 && x._3 <= y._4 && y._3 <= x._4
    } yield (x._1, x._2, y._1, y._2,
      math.min(x._4, y._4) - math.max(x._3, y._3))).sortBy(t =>
      (t._1, t._2, t._3, t._4))
    val got = EventOps.sessionOverlapPairs(ev)
      .orderBy("user_a", "session_a", "user_b", "session_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getAs[Long]("overlap_ms")))
    assert(got.toSeq === naive.toSeq)
  }

  test("property: phashPairs honors the LSH guarantee — every pair " +
       "within 3 bits is found, and reported hammings are exact") {
    import graft.operators.Multimodal
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("asset_id", LongType, false),
      StructField("hash_hi", LongType, false),
      StructField("hash_lo", LongType, false)))
    def hash64(hi: Long, lo: Long): (Long, Long) = (hi, lo)
    val rows = scala.collection.mutable.ArrayBuffer.empty[Row]
    val planted = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var id = 0L
    (0 until 25).foreach { _ =>
      val hi = rnd.nextLong() & 0xFFFFFFFFL
      val lo = rnd.nextLong() & 0xFFFFFFFFL
      val a = id; rows += Row(a, hi, lo); id += 1
      // neighbor with 1..3 random distinct bit flips
      val nf = 1 + rnd.nextInt(3)
      val bits = rnd.shuffle((0 until 64).toList).take(nf)
      var (h2, l2) = (hi, lo)
      bits.foreach { b =>
        if (b < 32) h2 ^= (1L << (31 - b)) else l2 ^= (1L << (63 - b))
      }
      val b = id; rows += Row(b, h2, l2); id += 1
      planted += ((a, b))
    }
    val got = Multimodal.phashPairs(
        spark.createDataFrame(java.util.List.copyOf(
          scala.jdk.CollectionConverters.BufferHasAsJava(rows).asJava),
          schema), maxHamming = 8)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        r.getAs[Long]("hamming"))).toMap
    // guarantee: ≤3 flips over 4 bands leave ≥1 band intact (pigeonhole)
    planted.foreach { p =>
      assert(got.contains(p), s"planted near-pair $p missed")
    }
    // exactness: recompute hamming brute-force
    val byId = rows.map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    got.foreach { case ((a, b), h) =>
      val ha = byId(a); val hb = byId(b)
      val exact = java.lang.Long.bitCount(ha._1 ^ hb._1) +
        java.lang.Long.bitCount(ha._2 ^ hb._2)
      assert(h === exact.toLong, s"pair ($a,$b)")
    }
  }

  test("property: weightedSample equals brute-force k-smallest " +
       "priorities") {
    import graft.operators.TextOps
    val docs = (0 until 120).map(i =>
      (i.toLong, "t " * rnd.nextInt(60) + "t"))
    val md = java.security.MessageDigest.getInstance("MD5")
    def prio(id: Long, w: Long): Double = {
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(12)
      java.lang.Long.parseLong(hex, 16).toDouble / w
    }
    val brute = docs.map { case (id, t) =>
      val w = t.split(" ", -1).length.toLong
      (prio(id, w), id)
    }.sorted.take(30).map(_._2)
    val got = TextOps.weightedSample(docs.toDF("doc_id", "text"), k = 30)
      .orderBy("priority", "doc_id").collect().map(_.getLong(0))
    assert(got.toSeq === brute)
  }

  test("property: bm25TopK equals the brute-force fixed-point " +
       "recompute on a random corpus") {
    import graft.operators.TextOps
    val vocab = Seq("a", "b", "c", "d", "e", "f")
    val docs = (0 until 40).map(i =>
      (i.toLong, (0 until 3 + rnd.nextInt(20))
        .map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")))
    val queries = Seq("q1" -> Seq("a", "b"), "q2" -> Seq("c"))
    // brute force, mirroring the documented formula exactly
    val tf = docs.flatMap { case (id, t) =>
      t.split(" ").groupBy(identity).map { case (w, o) =>
        ((id, w), o.length.toLong) } }.toMap
    val df = tf.keys.groupBy(_._2).map { case (w, ks) => w -> ks.size.toLong }
    val dl = docs.map { case (id, t) => id -> t.split(" ").length.toLong }
      .toMap
    val n = docs.size.toLong
    val tt = dl.values.sum
    def scoreFp(q: Seq[String], id: Long): (Long, Long) = {
      val terms = q.filter(w => tf.contains((id, w)))
      val s = terms.map { w =>
        val f = tf((id, w)); val d = df(w)
        val dlr = dl(id) * 1000L * n / tt
        val idf = (2L * (n - d) + 1L) * 1000000L / (2L * d + 1L)
        val tfc = 22000L * f * 100000L / (10000L * f + 3000L + 9L * dlr)
        idf * tfc
      }.sum
      (terms.size.toLong, s)
    }
    val expected = queries.flatMap { case (qid, terms) =>
      docs.map(_._1).map(id => (qid, id, scoreFp(terms, id)))
        .filter(_._3._1 > 0)
        .sortBy { case (_, id, (_, s)) => (-s, id) }
        .take(5).zipWithIndex
        .map { case ((q, id, (nt, s)), i) => (q, (i + 1).toLong, id, nt, s) }
    }
    val got = TextOps.bm25TopK(docs.toDF("doc_id", "text"), queries, k = 5)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getString(0), r.getAs[Long]("rank"),
        r.getAs[Long]("doc_id"), r.getAs[Long]("n_terms"),
        r.getAs[Long]("score_fp")))
    assert(got.toSeq === expected)
  }

  test("property: temperature weights are a sub-distribution that " +
       "flattens toward uniform on random source histograms") {
    import graft.operators.TextOps
    val nSrc = 2 + rnd.nextInt(8)
    val sizes = (0 until nSrc).map(_ => 1 + rnd.nextInt(200))
    val docs = sizes.zipWithIndex.flatMap { case (n, s) =>
      (0 until n).map(i => (s * 1000L + i, s"doc $i", "en", s"s$s",
        5L + i))
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextOps.sourceTemperature(docs).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("p_ppm"))).toSeq
    // floor-division ppm probabilities never exceed the true mass and
    // sum to ≤ 1e6 with bounded shortfall (< nSrc from the floors)
    val tot = out.map(_._3).sum
    assert(tot <= 1000000L && tot > 1000000L - nSrc - 1)
    // temperature flattening: min/max ppm ratio ≥ min/max sqrt ratio of
    // the raw counts (sqrt compresses the spread)
    val byN = out.sortBy(_._2)
    val rawRatio = byN.head._2.toDouble / byN.last._2
    val pRatio = byN.head._3.toDouble / byN.last._3
    assert(pRatio >= rawRatio - 1e-9,
      s"sqrt law must compress the spread: p $pRatio vs raw $rawRatio")
  }

  test("property: per-source z-scores center and scale — fixed-point " +
       "mean of z is ~0 and max|z| bounded by (n-1)/sqrt(n)") {
    import graft.operators.TextOps
    val docs = (0 until 120).map { i =>
      (i.toLong, "t", "en", s"s${i % 4}", (10 + rnd.nextInt(500)).toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val rows = TextOps.zscoreBySource(docs).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("z_ppm")))
    rows.groupBy(_._1).foreach { case (_, zs) =>
      val n = zs.length
      val mean = zs.map(_._2).sum.toDouble / n
      // fixed-point truncation keeps each z within 1 ppm-unit of exact,
      // so the mean sits within 1e6/n-scale error of zero
      assert(math.abs(mean) <= 1000000.0 / math.sqrt(n),
        s"z-scores must center: mean=$mean n=$n")
      // population z-scores are bounded by (n-1)/√n; the 1.01 factor
      // absorbs the ≤1/(n·σ) fixed-point inflation from flooring n·σ
      val bound = (n - 1).toDouble / math.sqrt(n.toDouble) * 1010000 + n
      assert(zs.map(z => math.abs(z._2)).max <= bound)
    }
  }

  test("property: mixManifest sizes equal min(expected quota, available) " +
       "per source on random histograms") {
    import graft.operators.TextOps
    val nSrc = 2 + rnd.nextInt(6)
    val sizes = (0 until nSrc).map(_ => 1 + rnd.nextInt(60))
    val docs = sizes.zipWithIndex.flatMap { case (n, s) =>
      (0 until n).map(i => (s * 1000L + i,
        ("w " * (1 + (i % 30))).trim, "en", s"s$s", 5L))
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val quotas = TextOps.sourceTemperature(docs).collect()
      .map(r => r.getAs[String]("source") ->
        r.getAs[Long]("expected_docs")).toMap
    val manifest = TextOps.mixManifest(docs).collect()
      .groupBy(_.getAs[String]("source")).view.mapValues(_.length).toMap
    sizes.zipWithIndex.foreach { case (n, s) =>
      val want = math.min(quotas(s"s$s"), n.toLong)
      assert(manifest.getOrElse(s"s$s", 0).toLong === want,
        s"source s$s: manifest ${manifest.get(s"s$s")} vs min($n, quota)")
    }
  }

  test("property: snapshotDiff equals brute-force map reconciliation " +
       "and is partition-invariant") {
    import graft.operators.Dedup
    // Random snapshots: ids 0..119, each present in old/new with p=0.8,
    // text drawn from a tiny pool so unchanged/changed both occur.
    val pool = Vector("alpha", "beta", "gamma", null)
    def snap() = (0L until 120L).flatMap { id =>
      if (rnd.nextDouble() < 0.8)
        Some((id, pool(rnd.nextInt(pool.length)))) else None
    }
    val oldRows = snap(); val newRows = snap()
    val oldMap = oldRows.toMap; val newMap = newRows.toMap
    val expected = (oldMap.keySet ++ newMap.keySet).toSeq.sorted.map { id =>
      val st = (oldMap.get(id), newMap.get(id)) match {
        case (None, Some(_)) => "added"
        case (Some(_), None) => "removed"
        case (Some(a), Some(b)) =>
          if (Option(a).getOrElse("") == Option(b).getOrElse(""))
            "unchanged" else "changed"
        case _ => fail("id in neither snapshot")
      }
      (id, st)
    }
    def run(parts: Int) = Dedup.snapshotDiff(
        oldRows.toDF("doc_id", "text").repartition(parts),
        newRows.toDF("doc_id", "text").repartition(parts))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(run(3) === expected)
    assert(run(7) === expected)    // partition-count invariant
  }

  test("property: clusterSplit assigns every cluster atomically on " +
       "random clusterings, with holdoutSplit's exact proportions") {
    import graft.operators.TextOps
    // Random clustering: 300 docs hashed into ~80 clusters keyed by
    // min member id (the connectedComponents labeling contract).
    val docs = (0L until 300L).map(i => (i, rnd.nextInt(80)))
    val byCluster = docs.groupBy(_._2).values.flatMap { members =>
      val label = members.map(_._1).min
      members.map { case (id, _) => (id, label) }
    }.toSeq
    val out = TextOps.clusterSplit(byCluster.toDF("doc_id", "cluster"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(out.length === 300)
    out.groupBy(_._2).foreach { case (cl, rows) =>
      assert(rows.map(_._3).distinct.length === 1, s"cluster $cl straddles")
    }
    // the assignment is holdoutSplit's arithmetic applied to the label
    out.foreach { case (_, cl, split) =>
      val b = cl * 2654435761L % 1000000007L % 100L
      val exp = if (b < 90) "train" else if (b < 95) "val" else "test"
      assert(split === exp)
    }
  }

  test("property: sql surface exposes array_dot after registration") {
    org.apache.spark.sql.graftext.GraftFunctionRegistry.register(spark)
    val r = spark.sql(
      "SELECT array_dot(array(1.0d, 2.0d, 3.0d), array(4.0d, 5.0d, 6.0d)) v")
      .head().getDouble(0)
    assert(r === 32.0)
  }
}
