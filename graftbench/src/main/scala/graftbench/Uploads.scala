package graftbench

import scala.math.BigDecimal.RoundingMode
import scala.util.Random

/** One generated upload: the three sheets as the benchmark writes them. */
final case class UploadBook(
    transactions: Vector[UploadBook.Tx],
    customers: Vector[UploadBook.Customer],
    products: Vector[UploadBook.Product]) {

  def sheets: Seq[(String, Workbook.Sheet)] = Seq(
    "Transactions" -> (Seq("transaction_id", "customer_id",
      "transaction_date", "product_code", "amount", "payment_type") +:
      transactions.map(t => Seq(t.id, t.customer, t.date.toLong, t.product,
        t.amount, t.payment))),
    "Customers" -> (Seq("customer_id-name-email-dob-address-created-date") +:
      customers.map(c => Seq(c.packed))),
    "Products" -> (Seq("product_code", "product_name", "category",
      "unit_price") +:
      products.map(p => Seq(p.code, p.name, p.category, p.price))))

  def bytes: Array[Byte] = Workbook.write(sheets)
}

object UploadBook {
  final case class Tx(id: String, customer: String, date: Int,
                      product: String, amount: BigDecimal, payment: String)
  final case class Customer(id: String, name: String, email: String,
                            dob: String, address: String, created: String) {
    /** The reference's packed `{id_name_email_dob_address_created}` cell. */
    def packed: String = s"{${id}_${name}_${email}_${dob}_${address}_$created}"
  }
  final case class Product(code: String, name: String, category: String,
                           price: BigDecimal)
}

/** Seeded workbook sequence for the upload workload. Upload 0 seeds the
  * customer base; every later upload re-sends a sample of the known
  * customers, moves a seeded share of them to a new address, and adds a
  * few new customers, so the customer dimension and the change log grow
  * with each upload. About 4% of each Customers sheet repeats an id
  * (the reference workbook has 104 records for 100 ids); half of those
  * repeats carry a different address, which the in-batch CDC must see.
  */
object UploadGen {
  import UploadBook._

  /** Rows per workbook: transactions, distinct customers, repeated
    * customer records, and new customers per later workbook.
    */
  final case class Shape(tx: Int, customers: Int, repeats: Int, fresh: Int)
  val Full: Shape = Shape(2000, 480, 20, 12)
  /** A fifth of `Full`, for JIT warm-up uploads. */
  val Small: Shape = Shape(400, 96, 4, 4)
  val MovedShare = 0.06

  private val Categories = Vector("Clothing", "Electronics", "Grocery", "Home")
  private val Streets = Vector("Main St", "Oak Ave", "Pine Rd", "Elm St",
    "Lake Dr", "Hill Rd", "Park Ave", "Bay St")
  private val Payments = Vector("Cash", "Card", "Transfer")

  val products: Vector[Product] = (1 to 8).toVector.map(i =>
    Product(s"P$i", s"Product $i", Categories((i - 1) % Categories.size),
      BigDecimal(5 * i) + BigDecimal("0.99")))

  /** `n` workbooks; the same (seed, n, shape) always gives the same books. */
  def books(seed: Long, n: Int, shape: Shape = Full): Vector[UploadBook] = {
    import shape._
    val r = new Random(seed)
    val known = scala.collection.mutable.ArrayBuffer.empty[Customer]
    def address(): String =
      s"${1 + r.nextInt(999)} ${Streets(r.nextInt(Streets.size))}"
    def newCustomer(): Customer = {
      val k = known.size + 1
      Customer(f"C$k%05d", s"Customer $k", s"c$k@example.com",
        f"19${50 + r.nextInt(50)}-${1 + r.nextInt(12)}%02d-${1 + r.nextInt(28)}%02d",
        address(), f"2024-${1 + r.nextInt(12)}%02d-${1 + r.nextInt(28)}%02d")
    }
    (0 until n).toVector.map { b =>
      val added = (0 until (if (b == 0) customers else fresh))
        .map(_ => { val c = newCustomer(); known += c; c })
      val resent = if (b == 0) Vector.empty else
        r.shuffle(known.indices.toVector.dropRight(added.size))
          .take(customers - added.size).sorted.map { i =>
            if (r.nextDouble() < MovedShare) {
              known(i) = known(i).copy(address = address())
            }
            known(i)
          }
      val distinct = r.shuffle(resent ++ added)
      val repeated = (0 until repeats).map { _ =>
        val c = distinct(r.nextInt(distinct.size))
        if (r.nextBoolean()) c else c.copy(address = address())
      }
      // Repeats land after their first occurrence, as appended rows do.
      val rows = distinct ++ repeated
      val ids = distinct.map(_.id)
      val txs = (1 to tx).toVector.map(i => Tx(
        s"T${b + 1}-$i", ids(r.nextInt(ids.size)), 45000 + r.nextInt(365),
        products(r.nextInt(products.size)).code,
        BigDecimal(100 + r.nextInt(99900)) / 100, Payments(r.nextInt(3))))
      // The last-occurrence address is what the upsert keeps.
      rows.foreach(c => known.indexWhere(_.id == c.id) match {
        case -1 => ()
        case i => known(i) = known(i).copy(address = c.address)
      })
      UploadBook(txs, rows, products)
    }
  }
}

/** Plain-Scala model of what one upload must produce, folded over the
  * upload sequence: merged row count (duplicate customer ids fan out the
  * join), per-customer totals rounded HALF_EVEN with their dense rank,
  * the top spender per category, the address-change rows and the upload
  * id sequence.
  */
final case class UploadExpect(
    uploadId: Long,
    mergedRows: Long,
    summary: Vector[(String, String, BigDecimal, Int)],
    top: Vector[(String, String, String, BigDecimal)],
    topTied: Map[String, Set[String]],
    changes: Vector[(String, String, String)],
    counts: (Long, Long, Long))

final class UploadModel {
  private val stored = scala.collection.mutable.Map.empty[String, String]
  private val changeLog =
    scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, String, Long)]
  private var lastUpload = 0L

  def uploadIds: Vector[Long] = (1L to lastUpload).toVector
  /** (change id, customer, old, new, upload id) in id order. */
  def changes: Vector[(Long, String, String, String, Long)] = changeLog.toVector

  def apply(book: UploadBook): UploadExpect = {
    lastUpload += 1
    val uploadId = lastUpload
    val custRows = book.customers
    val byId = custRows.groupBy(_.id)
    val category = book.products.map(p => p.code -> p.category).toMap
    val merged = book.transactions.map(t =>
      byId.get(t.customer).map(_.size).getOrElse(0).toLong).sum
    // Category totals per (customer, name, category), one addend per
    // matching customer row — the m:m join's inflation.
    val totals = scala.collection.mutable.Map.empty[(String, String, String), BigDecimal]
    book.transactions.foreach { t =>
      for (c <- byId.getOrElse(t.customer, Vector.empty);
           cat <- category.get(t.product)) {
        val k = (c.id, c.name, cat)
        totals(k) = totals.getOrElse(k, BigDecimal(0)) + t.amount
      }
    }
    val perCustomer = totals.toVector.groupMapReduce(k => (k._1._1, k._1._2))(
      _._2)(_ + _).map { case ((id, name), v) =>
        (id, name, v.setScale(2, RoundingMode.HALF_EVEN)) }.toVector
    val distinctDesc = perCustomer.map(_._3).distinct.sorted.reverse
    val rankOf = distinctDesc.zipWithIndex.map { case (v, i) => v -> (i + 1) }.toMap
    val summary = perCustomer.map { case (id, name, v) => (id, name, v, rankOf(v)) }
      .sortBy(s => (s._4, s._1))
    val byCategory = totals.toVector.groupBy(_._1._3)
    val top = byCategory.toVector.sortBy(_._1).map { case (cat, rows) =>
      val best = rows.minBy { case ((id, name, _), v) => (-v, id, name) }
      (best._1._1, best._1._2, cat, best._2.setScale(2, RoundingMode.HALF_EVEN))
    }
    val topTied = byCategory.map { case (cat, rows) =>
      val m = rows.map(_._2).max
      cat -> rows.filter(_._2 == m).map(_._1._1).toSet
    }
    // CDC: each row's old address is its previous occurrence in this
    // sheet, else the stored one; the last occurrence wins the upsert.
    val seen = scala.collection.mutable.Map.empty[String, String]
    val changes = custRows.flatMap { c =>
      val old = seen.get(c.id).orElse(stored.get(c.id))
      seen(c.id) = c.address
      old.filter(_ != c.address).map(o => (c.id, o, c.address))
    }
    changes.foreach { case (id, o, n) =>
      changeLog += ((changeLog.size + 1L, id, o, n, uploadId)) }
    stored ++= seen
    UploadExpect(uploadId, merged, summary, top, topTied, changes,
      (book.transactions.size.toLong, custRows.size.toLong,
        book.products.size.toLong))
  }
}

object UploadCheck {
  private def num(s: String): Option[BigDecimal] =
    scala.util.Try(BigDecimal(s)).toOption

  /** Mismatches between the model and one exported `processed_<id>.xlsx`. */
  def exportSheets(e: UploadExpect,
             sheets: Map[String, Vector[Vector[String]]]): Seq[String] = {
    val out = Seq.newBuilder[String]
    def sheet(name: String): Vector[Vector[String]] = sheets.getOrElse(name, {
      out += s"upload ${e.uploadId}: no $name sheet"; Vector.empty })
    val mergedRows = sheet("MergedData").drop(1).size.toLong
    if (mergedRows != e.mergedRows)
      out += s"upload ${e.uploadId}: MergedData has $mergedRows rows, model ${e.mergedRows}"
    val summary = sheet("CategoryTotalsSummary").drop(1)
    if (summary.size != e.summary.size)
      out += s"upload ${e.uploadId}: summary has ${summary.size} rows, model ${e.summary.size}"
    summary.zip(e.summary).zipWithIndex.foreach { case ((got, want), i) =>
      val ok = got.size >= 4 && got(0) == want._1 && got(1) == want._2 &&
        num(got(2)).exists(_.compare(want._3) == 0) &&
        num(got(3)).exists(_.compare(BigDecimal(want._4)) == 0)
      if (!ok) out += s"upload ${e.uploadId}: summary row $i is ${got.mkString("|")}, model $want"
    }
    val top = sheet("TopSpenders").drop(1)
    if (top.size != e.top.size)
      out += s"upload ${e.uploadId}: TopSpenders has ${top.size} rows, model ${e.top.size}"
    top.zip(e.top).foreach { case (got, want) =>
      val ok = got.size >= 4 && got(2) == want._3 &&
        e.topTied.getOrElse(want._3, Set.empty).contains(got(0)) &&
        num(got(3)).exists(_.compare(want._4) == 0)
      if (!ok) out += s"upload ${e.uploadId}: top spender ${got.mkString("|")}, model $want"
    }
    out.result()
  }

  /** Mismatches between the model and the two audit listings: `uploads`
    * as (id, filename, tx rows, customer rows, product rows) newest
    * first, `changes` as (id, customer, old, new, upload id) newest first.
    */
  def audit(model: UploadModel, counts: Map[Long, (Long, Long, Long)],
            uploads: Seq[(Long, Long, Long, Long)],
            changes: Seq[(Long, String, String, String, Long)]): Seq[String] = {
    val out = Seq.newBuilder[String]
    val wantIds = model.uploadIds.reverse
    if (uploads.map(_._1) != wantIds)
      out += s"uploads lists ids ${uploads.map(_._1).mkString(",")}, model ${wantIds.mkString(",")}"
    uploads.foreach { case (id, tx, cu, pr) =>
      counts.get(id).filter(_ != ((tx, cu, pr))).foreach(c =>
        out += s"upload $id row counts ($tx,$cu,$pr), model $c")
    }
    val want = model.changes.reverse
    if (changes.size != want.size)
      out += s"address_changes has ${changes.size} rows, model ${want.size}"
    changes.zip(want).find { case (g, w) => g != w }.foreach { case (g, w) =>
      out += s"address_changes row $g, model $w" }
    out.result()
  }
}
