package graftbench

import java.time.LocalDateTime

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded generator for the ten parquet tables the engine's queries read
  * (`graft.model.Tables.testTables`): a TPC-H-like star schema, an event
  * stream, a text corpus and an embedding table. Shapes follow the
  * engine's fixture contract: the same column names and types, the same
  * categorical domains, 10–100-token documents over a 30-word vocabulary
  * with ~5% near-duplicates and a few exact copies, unit-norm 64-d
  * vectors with 10 labels.
  *
  * Rows are built on the driver with one `Random(seed)` per table, so the
  * same (scale, seed) always gives the same rows.
  */
object DataGen {

  final case class Scale(customers: Int, suppliers: Int, parts: Int,
                         orders: Int, events: Int, users: Int,
                         documents: Int, vectors: Int)

  /** lineitem ≈ 4 × orders, as in TPC-H. */
  def scale(sf: Double): Scale = Scale(
    customers = (150000 * sf).toInt, suppliers = (10000 * sf).toInt,
    parts = (200000 * sf).toInt, orders = (1500000 * sf).toInt,
    events = (1000000 * sf).toInt, users = math.max(50, (15000 * sf).toInt),
    documents = (50000 * sf).toInt, vectors = math.max(200, (20000 * sf).toInt))

  val Vocabulary: Vector[String] = Vector("spark", "window", "merge", "table",
    "column", "vector", "stream", "value", "data", "small", "join", "filter",
    "big", "group", "hash", "customer", "sort", "order", "slow", "line",
    "part", "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")

  private val Segments = Vector("AUTOMOBILE", "BUILDING", "FURNITURE",
    "HOUSEHOLD", "MACHINERY")
  private val Priorities = Vector("1-URGENT", "2-HIGH", "3-MEDIUM",
    "4-NOT SPECIFIED", "5-LOW")
  private val PartTypes = Vector("ECONOMY", "LARGE", "MEDIUM", "PROMO",
    "SMALL", "STANDARD")
  private val PartWords = Vector("small", "red", "blue", "green", "large")
  private val PartNouns = Vector("ring", "widget", "bolt", "gear", "valve")
  private val EventTypes = Vector("click", "error", "purchase", "signup",
    "view")
  private val Langs = Vector("en", "en", "en", "en", "de", "es", "fr", "zh")
  private val Base = LocalDateTime.of(1995, 1, 1, 0, 0)

  /** Money-like double with two decimals in [lo, hi). */
  private def cents(r: Random, lo: Int, hi: Int): Double =
    (lo * 100L + r.nextInt((hi - lo) * 100)) / 100.0

  private def field(n: String, t: DataType) = StructField(n, t)

  /** Writes every table of each (dir, scale, seed) set as
    * `<dir>/<name>.parquet`; the writes run as concurrent Spark jobs.
    */
  def write(spark: SparkSession, sets: Seq[(String, Double, Long)]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      Runtime.getRuntime.availableProcessors())
    try {
      val writes = sets.flatMap { case (dir, sf, seed) => tables(sf, seed).map {
        case (name, schema, rows) => pool.submit(new Runnable {
          def run(): Unit =
            spark.createDataFrame(rows.asJava, schema).coalesce(1)
              .write.mode("overwrite").parquet(s"$dir/$name.parquet")
        })
      }}
      writes.foreach(_.get())
    } finally pool.shutdown()
  }

  /** (name, schema, rows) of every table at scale `sf`. */
  def tables(sf: Double, seed: Long): Seq[(String, StructType, Seq[Row])] = {
    val s = scale(sf)
    val out = Seq.newBuilder[(String, StructType, Seq[Row])]
    def save(name: String, schema: StructType, rows: Seq[Row]): Unit =
      out += ((name, schema, rows))
    def rnd(table: Int) = new Random(seed * 1000003L + table)

    save("region", StructType(Seq(field("r_regionkey", IntegerType),
        field("r_name", StringType))),
      Vector("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
        .zipWithIndex.map { case (n, i) => Row(i, n) })

    save("nation", StructType(Seq(field("n_nationkey", IntegerType),
        field("n_name", StringType), field("n_regionkey", IntegerType))),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))

    val rc = rnd(1)
    save("customer", StructType(Seq(field("c_custkey", LongType),
        field("c_name", StringType), field("c_nationkey", IntegerType),
        field("c_acctbal", DoubleType), field("c_mktsegment", StringType))),
      (0 until s.customers).map(i => Row(i.toLong, f"Customer#$i%09d",
        rc.nextInt(25), cents(rc, -999, 9999),
        Segments(rc.nextInt(Segments.size)))))

    val rs = rnd(2)
    save("supplier", StructType(Seq(field("s_suppkey", LongType),
        field("s_name", StringType), field("s_nationkey", IntegerType),
        field("s_acctbal", DoubleType))),
      (0 until s.suppliers).map(i => Row(i.toLong, f"Supplier#$i%09d",
        rs.nextInt(25), cents(rs, -999, 9999))))

    val rp = rnd(3)
    val partPrice = (0 until s.parts).map(i => 900.0 + (i % 1000) / 10.0)
    save("part", StructType(Seq(field("p_partkey", LongType),
        field("p_name", StringType), field("p_brand", StringType),
        field("p_type", StringType), field("p_size", IntegerType),
        field("p_retailprice", DoubleType))),
      (0 until s.parts).map(i => Row(i.toLong,
        s"${PartWords(rp.nextInt(PartWords.size))} " +
          PartNouns(rp.nextInt(PartNouns.size)),
        s"Brand#${1 + rp.nextInt(25)}", PartTypes(rp.nextInt(PartTypes.size)),
        1 + rp.nextInt(50), partPrice(i))))

    val ro = rnd(4)
    val rl = rnd(5)
    val orders = Vector.newBuilder[Row]
    val lines = Vector.newBuilder[Row]
    for (o <- 0 until s.orders) {
      val date = Base.plusDays(ro.nextInt(2400).toLong)
      val n = 1 + ro.nextInt(7)
      var total = 0L
      for (l <- 1 to n) {
        val part = rl.nextInt(s.parts)
        val qty = 1 + rl.nextInt(50)
        val price = math.round(qty * partPrice(part) * 100) / 100.0
        total += math.round(price * 100)
        val ship = date.plusDays(1L + rl.nextInt(120))
        lines += Row(o.toLong, part.toLong, rl.nextInt(s.suppliers).toLong,
          l, qty.toDouble, price, rl.nextInt(11) / 100.0, rl.nextInt(9) / 100.0,
          Vector("A", "N", "R")(rl.nextInt(3)),
          if (ship.getYear % 2 == 0) "F" else "O", ship)
      }
      orders += Row(o.toLong, ro.nextInt(s.customers).toLong,
        Vector("F", "O", "P")(ro.nextInt(3)), total / 100.0, date,
        Priorities(ro.nextInt(Priorities.size)))
    }
    save("orders", StructType(Seq(field("o_orderkey", LongType),
        field("o_custkey", LongType), field("o_orderstatus", StringType),
        field("o_totalprice", DoubleType),
        field("o_orderdate", TimestampNTZType),
        field("o_orderpriority", StringType))), orders.result())
    save("lineitem", StructType(Seq(field("l_orderkey", LongType),
        field("l_partkey", LongType), field("l_suppkey", LongType),
        field("l_linenumber", IntegerType), field("l_quantity", DoubleType),
        field("l_extendedprice", DoubleType), field("l_discount", DoubleType),
        field("l_tax", DoubleType), field("l_returnflag", StringType),
        field("l_linestatus", StringType),
        field("l_shipdate", TimestampNTZType))), lines.result())

    // Events: a 30-day stream with increasing timestamps, microsecond
    // precision, uniform users and types.
    val re = rnd(6)
    val evBase = LocalDateTime.of(2024, 1, 1, 0, 0)
    val stepMicros = 30L * 86400L * 1000000L / math.max(1, s.events)
    var tMicros = 0L
    save("events", StructType(Seq(field("event_id", LongType),
        field("ts", TimestampNTZType), field("user_id", LongType),
        field("event_type", StringType), field("value", DoubleType),
        field("props", StringType))),
      (0 until s.events).map { i =>
        tMicros += 1 + (re.nextDouble() * 2 * stepMicros).toLong
        Row(i.toLong, evBase.plusNanos(tMicros * 1000L),
          re.nextInt(s.users).toLong, EventTypes(re.nextInt(EventTypes.size)),
          cents(re, 0, 500) + 0.01, s"""{"k": ${re.nextInt(100)}}""")
      })

    // Documents: every 20th document repeats an earlier one plus " dup"
    // (near-duplicate); every 97th repeats one verbatim (exact duplicate).
    val rd = rnd(7)
    val texts = new Array[String](s.documents)
    save("documents", StructType(Seq(field("doc_id", LongType),
        field("text", StringType), field("lang", StringType),
        field("source", StringType), field("n_chars", LongType))),
      (0 until s.documents).map { i =>
        val text =
          if (i > 0 && i % 20 == 19) texts(rd.nextInt(i)) + " dup"
          else if (i > 0 && i % 97 == 96) texts(rd.nextInt(i))
          else Seq.fill(10 + rd.nextInt(91))(
            Vocabulary(rd.nextInt(Vocabulary.size))).mkString(" ")
        texts(i) = text
        Row(i.toLong, text, Langs(rd.nextInt(Langs.size)),
          s"src${rd.nextInt(20)}", text.length.toLong)
      })

    val rv = rnd(8)
    save("embeddings", StructType(Seq(field("vec_id", LongType),
        field("embedding", ArrayType(FloatType)), field("label", IntegerType))),
      (0 until s.vectors).map { i =>
        val v = Array.fill(64)(rv.nextGaussian())
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, rv.nextInt(10))
      })
    out.result()
  }
}
