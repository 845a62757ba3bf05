package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Xlsx

class XlsxSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("write → read round-trip: sheet order, headers, values, escaping") {
    val path = Files.createTempDirectory("graft_xlsx")
      .resolve("t.xlsx").toString
    val a = Seq(("T1", 10.5, 3L), ("T<2>&\"", 11.0, 4L))
      .toDF("id", "amount", "n")
    val b = Seq(("x", "y")).toDF("c1", "c2")
    Xlsx.write(path, Seq("SheetA" -> a, "SheetB" -> b))

    val sheets = Xlsx.read(path)
    assert(sheets.map(_._1) === Seq("SheetA", "SheetB"))
    val rowsA = sheets.head._2
    assert(rowsA(0) === Vector("id", "amount", "n"))
    assert(rowsA(1) === Vector("T1", "10.5", "3"))
    assert(rowsA(2)(0) === "T<2>&\"")   // XML escaping survives
    assert(sheets(1)._2 === Vector(Vector("c1", "c2"), Vector("x", "y")))
  }

  test("readSheets: _row_idx + string columns, nulls for missing cells") {
    val path = Files.createTempDirectory("graft_xlsx2")
      .resolve("t.xlsx").toString
    val df = Seq(("a", "b"), ("c", null)).toDF("h1", "h2")
    Xlsx.write(path, Seq("S" -> df))
    val got = Xlsx.toFrame(spark, Xlsx.read(path).toMap.apply("S"))
    assert(got.columns.toSeq === Seq("_row_idx", "_c0", "_c1"))
    val rows = got.orderBy("_row_idx").collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(0L, 1L, 2L))
    assert(rows(2).getString(1) === "c")
    assert(rows(2).isNullAt(2))
  }

  test("writeSharded: one shard per partition, union equals the frame") {
    val dir = Files.createTempDirectory("graft_shardwb").resolve("out").toString
    val df = (1 to 100).map(i => (s"id$i", i.toLong))
      .toDF("k", "v").repartition(4)
    val shards = Xlsx.writeSharded(df, dir, sheet = "S")
    assert(shards.nonEmpty && shards.size <= 4)
    val all = shards.flatMap { p =>
      val rows = Xlsx.read(p)
      assert(rows.map(_._1) === Seq("S"))
      assert(rows.head._2.head === Vector("k", "v"))
      rows.head._2.drop(1)   // strip per-shard header
    }
    assert(all.size === 100)
    assert(all.map(_(0)).toSet === (1 to 100).map(i => s"id$i").toSet)

    // merge the shards back into one workbook: single header, rows =
    // shard concatenation in path order, one streaming pass
    val merged = s"$dir/merged.xlsx"
    Xlsx.mergeShards(shards, merged, sheet = "S")
    val m = Xlsx.read(merged)
    assert(m.map(_._1) === Seq("S"))
    assert(m.head._2.head === Vector("k", "v"))
    assert(m.head._2.drop(1) === all)
  }

  test("survives a 20k-row workbook end-to-end through the pipeline") {
    val dir = Files.createTempDirectory("graft_bigwb").toString
    val n = 20000
    val rnd = new scala.util.Random(11)
    val txRows = (1 to n).map(i => (s"TXN$i", s"C${rnd.nextInt(500)}",
      (45000 + rnd.nextInt(300)).toString, s"P${rnd.nextInt(8)}",
      (rnd.nextInt(100000) / 100.0).toString, "Cash"))
      .toDF("transaction_id", "customer_id", "transaction_date",
        "product_code", "amount", "payment_type")
    val custRows = (0 until 500)
      .map(i => s"{C${i}_Name ${i}_n${i}@x_1990-01-01_Addr ${i}_43899.5}")
      .map(Tuple1(_)).toDF("customer_id-name-email-dob-address-created-date")
    val prodRows = (0 until 8).map(i =>
      (s"P$i", s"Prod $i", s"Cat${i % 4}", "10")).toDF(
      "product_code", "product_name", "category", "unit_price")
    val wb = s"$dir/big.xlsx"
    Xlsx.write(wb, Seq("Transactions" -> txRows, "Customers" -> custRows,
                       "Products" -> prodRows))

    val p = new graft.Pipeline(spark, s"$dir/state", s"$dir/processed")
    val r = p.runBatch(wb, timestamp = "2026-01-01T00:00:00")
    assert(r.merged.count() === n)         // every txn matches 1:1
    assert(p.store.customers.count() === 500)
    assert(r.summary.count() === 500)
  }

  test("reads the reference sample workbook shape") {
    val sample = "/root/reference/uploads/Txn_Details.xlsx"
    assume(Files.exists(java.nio.file.Paths.get(sample)))
    val sheets = Xlsx.read(sample).toMap
    assert(sheets.keySet === Set("Transactions", "Customers", "Products"))
    assert(sheets("Transactions").length === 1001)  // header + 1000
    assert(sheets("Customers").length === 105)      // header + 104
    assert(sheets("Products").length === 9)         // header + 8
    // packed record format in the customers sheet
    assert(sheets("Customers")(1)(0).startsWith("{"))
  }
}
