package graft

/** Workbooks of the reference's upload shape, built in tests so the upload
  * path runs without the reference's sample file.
  */
object TestWorkbooks {

  /** What a [[referenceShaped]] workbook holds, derived from how it is
    * built.
    *
    * @param customers distinct customer ids
    * @param repeats   customers listed a second time with a moved address
    * @param mergedRows transactions × their customer's occurrences (the
    *                   m:m fan-out of the merged detail)
    */
  final case class Shape(txRows: Long, custRows: Long, prodRows: Long,
                         customers: Long, repeats: Long, mergedRows: Long)

  /** Writes a 3-sheet workbook to `path`: `nTx` transactions over
    * `nCustomers` packed customer records and 8 products in 4 categories.
    * The first `repeats` customers are listed again with a moved address,
    * so the first upload logs `repeats` address changes and every repeat
    * upload `2 × repeats` (each repeated customer toggles twice), as the
    * reference sample logs 4 then 8.
    */
  def referenceShaped(path: String, seed: Int = 7, nTx: Int = 400,
                      nCustomers: Int = 60, repeats: Int = 6): Shape = {
    val spark = TestSpark.spark
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val tx = (1 to nTx).map(i => (s"TXN$i",
      s"C${rnd.nextInt(nCustomers)}", (45000 + rnd.nextInt(300)).toString,
      s"P${rnd.nextInt(8)}", (rnd.nextInt(100000) / 100.0).toString, "Cash"))
    val listed = (0 until nCustomers) ++ (0 until repeats)
    graft.sources.Xlsx.write(path, Seq(
      "Transactions" -> tx.toDF("transaction_id", "customer_id",
        "transaction_date", "product_code", "amount", "payment_type"),
      "Customers" -> listed.zipWithIndex.map { case (c, i) =>
          Tuple1(s"{C${c}_Name ${c}_n$c@x_1990-01-01_" +
            s"Addr $c-${i / nCustomers}_43899.5}")
        }.toDF("customer_id-name-email-dob-address-created-date"),
      "Products" -> (0 until 8).map(i =>
          (s"P$i", s"Prod $i", s"Cat${i % 4}", "10"))
        .toDF("product_code", "product_name", "category", "unit_price")))
    val occurrences = listed.groupBy(c => s"C$c").view.mapValues(_.size)
    Shape(nTx, listed.size, 8, nCustomers, repeats,
      tx.map(t => occurrences(t._2).toLong).sum)
  }

  /** Copies the workbook at `src` to `dst` with the XML of its `n`-th
    * sheet (1-based, in the order [[graft.sources.Xlsx.write]] wrote
    * them) passed through `edit`.
    */
  def editSheet(src: String, dst: String, n: Int)(edit: String => String)
      : Unit = {
    import java.util.zip.{ZipEntry, ZipFile, ZipOutputStream}
    val in = new ZipFile(src)
    val out = new ZipOutputStream(new java.io.FileOutputStream(dst))
    try in.entries().asIterator().forEachRemaining { e =>
      val bytes = in.getInputStream(e).readAllBytes()
      out.putNextEntry(new ZipEntry(e.getName))
      out.write(
        if (e.getName != s"xl/worksheets/sheet$n.xml") bytes
        else edit(new String(bytes, "UTF-8")).getBytes("UTF-8"))
      out.closeEntry()
    } finally { out.close(); in.close() }
  }

  /** An [[editSheet]] edit: the sheet's rows become `rowsXml` — by
    * default none, so the sheet is listed but holds no row at all, not
    * even a header.
    */
  def withRows(rowsXml: String = ""): String => String =
    _.replaceFirst("(?s)<sheetData>.*</sheetData>",
      s"<sheetData>$rowsXml</sheetData>")
}
