package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-trend data amplifier: derives an sf(N·factor)-equivalent dataset
  * from an existing sf(N) directory by stamping `factor` key-remapped
  * replicas of every fact table. Used to measure how the heavy queries
  * GROW (SCALING.md) beyond the largest driver-provided scale factor —
  * the evidence that "bounded construction" claims hold off the small-SF
  * operating point.
  *
  * Replication preserves the workload's *density*, not just its row
  * count — naive copying would make every document an exact duplicate of
  * its 9 clones and near-dup pair counts would grow quadratically in
  * factor (45 extra pairs per group), measuring an artifact instead of
  * the engine:
  *  - documents: EVERY replica (including 0) prefixes every CONTENT
  *    token with `r<r>` so cross-replica shingles/minhashes/simhashes
  *    do NOT collide; each replica reproduces the original pair
  *    structure in a disjoint hash space → pairs/edges/triangles scale
  *    linearly in factor, which is what real corpus growth looks like.
  *    FUNCTION WORDS (the four language-ID stopword lists) are left
  *    unsalted: they are corpus-universal in real text, and salting
  *    them zeroed every stopword-driven signal on the amplified ladder
  *    — lang-id called every amplified document 'unknown', so the
  *    curation family measured EMPTY pipelines at sf ≥ 1 (caught by the
  *    round-10 corpus-production dress rehearsal, stage-1 rows = 0).
  *    The spurious-pair risk this re-opens is only all-stopword
  *    shingles shared cross-replica — rare, estimator-filtered by the
  *    Jaccard threshold, and the ScaleUpSpec linear-density pin is the
  *    regression check. Replica 0
  *    MUST be salted too: an earlier version kept replica 0 verbatim,
  *    and STACKED amplifications then alias — gen-2 replica j of a
  *    gen-1 replica-0 doc ("r<j>" + raw) is byte-identical to gen-2
  *    replica 0's copy of the gen-1 replica-j doc (also "r<j>" + raw),
  *    planting factor²-growing exact-duplicate pairs that a measurement
  *    reads as superlinear near-dup growth (observed: the sf100 pair
  *    graph carried 992 k cross-replica jaccard-1.0 alias pairs vs
  *    752 k real ones). With every replica salted, each generation adds
  *    exactly one prefix layer, so cross-generation token strings are
  *    distinct by construction. doc_id offsets by max(doc_id)+1 per
  *    replica, so `doc_id % 10` style holdout predicates keep their
  *    per-replica meaning (the offset is a multiple of 10 for the
  *    driver's contiguous 0-based ids).
  *  - embeddings: a deterministic per-replica SIGNED PERMUTATION of the
  *    dimensions (new[i] = sign_r[i] · old[perm_r[i]]). A signed
  *    permutation is exactly orthogonal, so every within-replica inner
  *    product — and therefore the replica's entire neighbor structure,
  *    including absolute cosine thresholds — is preserved bit-for-bit
  *    (the only arithmetic is ·±1.0f). Cross-replica same-base cosine
  *    becomes a random signed re-pairing of coordinates, concentrating
  *    near 0 (|cos| ≲ 3/√dim). Two earlier designs measured wrong here:
  *    an additive offset commutes across stacked generations
  *    (v + p_j + p_i == v + p_i + p_j), re-creating alias pairs; and the
  *    affine map that replaced it (gain 1+.002·(r+1), sinusoidal offset
  *    of amplitude 0.05) left cross-replica cosine at 0.91–0.94 —
  *    ABOVE the 0.9 near-dup threshold — so every base vector grew a
  *    factor-sized family of spurious "near-duplicates" and pair-query
  *    cost grew quadratically in the amplification factor (an artifact:
  *    the sf100 LSH pair probe was enumerating ~10⁹ same-family pairs).
  *    Permutation composition is non-commutative, so stacking
  *    generations cannot alias either.
  *  - events: event/user ids offset, timestamps kept — the event stream
  *    gets `factor`× denser over the same window, as real growth does.
  *  - lineitem/orders/customer: consistent key offsets (orderkey,
  *    custkey) so joins fan out exactly as the original; part/supplier/
  *    nation/region stay fixed — dimensions grow sublinearly in real
  *    deployments and the broadcast-ability of the dim side is exactly
  *    what the scale test should preserve.
  *
  * Everything is declarative DataFrame work (crossJoin with a broadcast
  * `factor`-row frame + column transforms) — no driver-side loops, so
  * the same job amplifies a 100 TB input on a cluster.
  *
  * Usage: runMain graft.ScaleUp <srcDir> <outDir> [factor] [tables]
  * `tables` is an optional comma-separated subset (e.g.
  * `documents,embeddings`) for partial regeneration when scratch space
  * is the constraint — omitted means all tables.
  */
object ScaleUp {

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val tables = args.lift(3).map(_.split(",").map(_.trim).toSet)
    val spark = SparkEntry.localSession(defaultCpus = 8).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    amplify(spark, src, out, factor, tables)
    spark.stop()
  }

  /** Deterministic signed permutation for replica `r` over `dim`
    * dimensions: Fisher–Yates driven by a splitmix64 stream seeded from
    * the replica index, plus ±1 signs from the same stream. Guaranteed
    * never the identity map (replica 0 included — a verbatim replica
    * re-creates alias pairs under stacked amplification): if the drawn
    * permutation is the identity with all-positive signs, the first
    * sign is flipped.
    */
  private[graft] def signedPerm(r: Int, dim: Int): (Array[Int], Array[Float]) = {
    var state = 0x9E3779B97F4A7C15L * (r + 1) + 0xBF58476D1CE4E5B9L
    def next(): Long = {
      state += 0x9E3779B97F4A7C15L
      var z = state
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    val perm = Array.tabulate(dim)(identity)
    var i = dim - 1
    while (i > 0) {
      val j = (math.floorMod(next(), i + 1L)).toInt
      val t = perm(i); perm(i) = perm(j); perm(j) = t
      i -= 1
    }
    val signs = Array.fill(dim)(if ((next() & 1L) == 0L) 1.0f else -1.0f)
    if (perm.zipWithIndex.forall { case (p, k) => p == k } &&
        signs.forall(_ > 0f)) signs(0) = -1.0f
    (perm, signs)
  }

  /** Tokens the document amplifier never salts: the union of the four
    * language-ID stopword lists — the function-word skeleton every
    * replica shares, exactly as real corpora in one language do.
    */
  val FunctionWords: Seq[String] =
    graft.operators.TextOps.EnStopwords ++
      graft.operators.TextOps.DeStopwords ++
      graft.operators.TextOps.FrStopwords ++
      graft.operators.TextOps.EsStopwords

  def amplify(spark: SparkSession, src: String, out: String,
              factor: Int, tables: Option[Set[String]] = None): Unit = {
    val reps = broadcast(spark.range(factor)
      .select(col("id").cast("int").as("rep")))
    def want(t: String) = tables.forall(_.contains(t))
    def read(t: String) = spark.read.parquet(s"$src/$t.parquet")
    def write(df: DataFrame, t: String, parts: Int): Unit =
      df.repartition(parts).write.mode("overwrite")
        .parquet(s"$out/$t.parquet")
    def offsetFor(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head.getLong(0) + 1L

    // -- documents: id offset + per-replica token salt (ALL replicas —
    //    see the scaladoc's stacking-alias note) ------------------------
    if (want("documents")) {
      val docs = read("documents")
      val dOff = offsetFor(docs, "doc_id")
      val salted = docs.crossJoin(reps).select(
        (col("doc_id") + col("rep").cast("long") * dOff).as("doc_id"),
        array_join(transform(split(col("text"), " "),
          t => when(t.isin(FunctionWords: _*), t)
            .otherwise(concat(lit("r"), col("rep"), t))), " ").as("text"),
        col("lang"), col("source"))
      write(salted.withColumn("n_chars", length(col("text")).cast("long")),
        "documents", factor * 4)
    }

    // -- embeddings: id offset + per-replica signed permutation (ALL
    //    replicas; orthogonal within-replica, ~0 cosine cross-replica,
    //    non-commutative under stacking — see the scaladoc) -------------
    if (want("embeddings")) {
      val emb = read("embeddings")
      val vOff = offsetFor(emb, "vec_id")
      val dim = emb.select(size(col("embedding"))).head.getInt(0)
      // The permutation tables ride the broadcast replica frame as
      // literal arrays — the map stays one codegen'd projection.
      val permReps = broadcast(spark.createDataFrame(
        (0 until factor).map { r =>
          val (p, s) = signedPerm(r, dim)
          (r, p, s)
        }).toDF("rep", "perm", "signs"))
      write(emb.crossJoin(permReps).select(
          (col("vec_id") + col("rep").cast("long") * vOff).as("vec_id"),
          transform(col("perm"), (p, i) =>
            element_at(col("embedding"), p + 1) *
              element_at(col("signs"), i + 1)).as("embedding"),
          col("label")),
        "embeddings", factor * 2)
    }

    // -- events: id offsets, same time window (density grows) ----------
    if (want("events")) {
      val ev = read("events")
      val eOff = offsetFor(ev, "event_id")
      val uOff = offsetFor(ev, "user_id")
      write(ev.crossJoin(reps).select(
          (col("event_id") + col("rep").cast("long") * eOff).as("event_id"),
          col("ts"),
          (col("user_id") + col("rep").cast("long") * uOff).as("user_id"),
          col("event_type"), col("value"), col("props")),
        "events", factor * 2)
    }

    // -- TPC-H facts: consistent orderkey/custkey offsets --------------
    if (want("customer") || want("orders") || want("lineitem")) {
      val ordersSrc = read("orders")
      val custSrc = read("customer")
      val oOff = offsetFor(ordersSrc, "o_orderkey")
      val cOff = offsetFor(custSrc, "c_custkey")
      if (want("customer"))
        write(custSrc.crossJoin(reps).withColumn("c_custkey",
            col("c_custkey") + col("rep").cast("long") * cOff).drop("rep"),
          "customer", factor)
      if (want("orders"))
        write(ordersSrc.crossJoin(reps)
            .withColumn("o_orderkey",
              col("o_orderkey") + col("rep").cast("long") * oOff)
            .withColumn("o_custkey",
              col("o_custkey") + col("rep").cast("long") * cOff)
            .drop("rep"),
          "orders", factor * 2)
      if (want("lineitem"))
        write(read("lineitem").crossJoin(reps)
            .withColumn("l_orderkey",
              col("l_orderkey") + col("rep").cast("long") * oOff)
            .drop("rep"),
          "lineitem", factor * 4)
    }

    // -- dimensions: fixed (sublinear growth; broadcast side preserved) -
    Seq("part", "supplier", "nation", "region").foreach { t =>
      if (want(t)) write(read(t), t, 1)
    }
  }
}
