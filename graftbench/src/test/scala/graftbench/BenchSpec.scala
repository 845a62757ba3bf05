package graftbench

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("the same seed gives byte-identical workbooks, another seed different ones") {
    val a = UploadGen.books(7L, 3).map(_.bytes)
    val b = UploadGen.books(7L, 3).map(_.bytes)
    val c = UploadGen.books(8L, 3).map(_.bytes)
    a.zip(b).foreach { case (x, y) => assert(x.sameElements(y)) }
    a.zip(c).foreach { case (x, y) => assert(!x.sameElements(y)) }
  }

  test("workbooks have the configured shape and grow the customer base") {
    val books = UploadGen.books(3L, 4)
    books.foreach { b =>
      assert(b.transactions.size == UploadGen.Full.tx)
      assert(b.customers.size == UploadGen.Full.customers + UploadGen.Full.repeats)
      assert(b.products.size == 8)
    }
    val ids = books.map(_.customers.map(_.id).toSet)
    assert(ids.reduce(_ ++ _).size ==
      UploadGen.Full.customers + 3 * UploadGen.Full.fresh)
  }

  test("the workbook reader reads back what the writer wrote") {
    val book = UploadGen.books(5L, 1).head
    val sheets = Workbook.read(book.bytes)
    assert(sheets.keySet == Set("Transactions", "Customers", "Products"))
    val tx = sheets("Transactions")
    assert(tx.size == UploadGen.Full.tx + 1)
    assert(tx(1)(0) == book.transactions.head.id)
    assert(BigDecimal(tx(1)(4)) == book.transactions.head.amount)
    assert(sheets("Customers")(1)(0) == book.customers.head.packed)
  }

  /** The export a correct engine would write for `e`. */
  private def exportFor(e: UploadExpect): Map[String, Vector[Vector[String]]] = Map(
    "CategoryTotalsSummary" -> (Vector("customer_id", "name", "amount", "rank") +:
      e.summary.map { case (id, n, a, r) => Vector(id, n, a.toString, r.toString) }),
    "TopSpenders" -> (Vector("customer_id", "name", "category", "amount") +:
      e.top.map { case (id, n, c, a) => Vector(id, n, c, a.toString) }),
    "MergedData" -> Vector.fill(e.mergedRows.toInt + 1)(Vector("x")))

  test("the model check accepts a correct export and catches a wrong total") {
    val e = new UploadModel()(UploadGen.books(9L, 1).head)
    assert(e.mergedRows > UploadGen.Full.tx) // duplicate ids fan out
    val good = exportFor(e)
    assert(UploadCheck.exportSheets(e, good).isEmpty)
    val summary = good("CategoryTotalsSummary")
    val row = summary(1)
    val planted = good.updated("CategoryTotalsSummary", summary.updated(1,
      row.updated(2, (BigDecimal(row(2)) + BigDecimal("0.01")).toString)))
    assert(UploadCheck.exportSheets(e, planted).exists(_.contains("summary row 0")))
    val top = good("TopSpenders")
    val wrongTop = good.updated("TopSpenders",
      top.updated(1, top(1).updated(3, "0.00")))
    assert(UploadCheck.exportSheets(e, wrongTop).exists(_.contains("top spender")))
    val short = good.updated("MergedData", good("MergedData").drop(1))
    assert(UploadCheck.exportSheets(e, short).exists(_.contains("MergedData")))
  }

  test("the model check catches a wrong change count and a wrong upload id") {
    val model = new UploadModel
    val books = UploadGen.books(4L, 3)
    val expects = books.map(model(_))
    assert(expects.tail.forall(_.changes.nonEmpty))
    val counts = expects.map(e => e.uploadId -> e.counts).toMap
    val uploads = expects.reverse.map(e =>
      (e.uploadId, e.counts._1, e.counts._2, e.counts._3))
    val changes = model.changes.reverse
    assert(UploadCheck.audit(model, counts, uploads, changes).isEmpty)
    assert(UploadCheck.audit(model, counts, uploads, changes.drop(1))
      .exists(_.contains("address_changes has")))
    assert(UploadCheck.audit(model, counts, uploads.drop(1), changes)
      .exists(_.contains("uploads lists ids")))
  }

  test("the call-site mapper assigns frames to layers") {
    def site(frames: String*) = frames.mkString("\n")
    val bench = "graftbench.Analytics$.run(Analytics.scala:40)"
    assert(Layers.of(site(
      "org.apache.spark.sql.Dataset.collect(Dataset.scala:100)",
      "graft.state.StateStore.applyCustomerBatch(StateStore.scala:190)",
      "graft.Pipeline.runBatch(Pipeline.scala:70)",
      "graft.streaming.StreamingPipeline$.$anonfun$workbookStream$1(StreamingPipeline.scala:393)"))
      .contains("state"))
    assert(Layers.of(site(
      "org.apache.spark.sql.Dataset.head(Dataset.scala:10)",
      "graft.operators.Relational$.promoteHeader(Relational.scala:62)",
      "graft.Pipeline.renderBatch(Pipeline.scala:118)")).contains("relational"))
    assert(Layers.of(site(
      "graft.operators.Dedup$.writePairGraph(Dedup.scala:12)",
      "graft.EntryHelpers$.$anonfun$simhashEdges$1(EntryHelpers.scala:441)",
      "java.util.concurrent.ConcurrentHashMap.computeIfAbsent(ConcurrentHashMap.java:1708)",
      "graft.EntryHelpers$SessionMemo.get(EntryHelpers.scala:125)",
      bench)).contains("entry.memo"))
    assert(Layers.of(site(
      "org.apache.spark.sql.classic.DataFrameWriter.save(DataFrameWriter.scala:1)",
      bench)).contains("bench"))
    assert(Layers.of(site(
      "app//graft.operators.TextOps$.tokenStats(TextOps.scala:5)", bench))
      .contains("textops"))
    // Engine files outside the module map fall through to the next frame.
    assert(Layers.of(site("graft.model.Tables$.load(Tables.scala:20)",
      "graft.operators.Epoch$.advance(Epoch.scala:50)")).contains("epoch"))
    assert(Layers.of(site("java.lang.Thread.run(Thread.java:840)")).isEmpty)
  }
}
