package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end golden test: run the full micro-batch pipeline on the
  * reference's own sample workbook and assert the reference's observed
  * outputs (FIXTURES.md §3 — values derived by faithful re-execution of
  * /root/reference/app.py on Txn_Details.xlsx).
  */
class GoldenPipelineSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private val sample = "/root/reference/uploads/Txn_Details.xlsx"

  private def withPipeline(f: Pipeline => Unit): Unit = {
    val tmp = Files.createTempDirectory("graft_golden").toString
    f(new Pipeline(spark, s"$tmp/state", s"$tmp/processed"))
  }

  test("golden: first upload reproduces the reference's outputs") {
    assume(Files.exists(Paths.get(sample)), s"sample workbook missing")
    withPipeline { p =>
      val r = p.runBatch(sample, timestamp = "2026-01-01T00:00:00")

      // merged: 1,041 rows (m:m duplicate inflation), $177,663.67 total
      assert(r.merged.count() === 1041L)
      val total = r.merged.agg(bround(sum("amount"), 2)).head().getDouble(0)
      assert(total === 177663.67)

      // rank table: 100 customers, golden top-3 and bottom
      val rows = r.summary.collect()
      assert(rows.length === 100)
      val top3 = rows.take(3).map(x =>
        (x.getAs[String]("customer_id"), x.getAs[String]("name"),
         x.getAs[Double]("amount"), x.getAs[Int]("rank")))
      assert(top3(0) === (("C0012", "Matthew Fernandez", 8139.46, 1)))
      assert(top3(1) === (("C0036", "Mr. David Ramirez", 4825.09, 2)))
      assert(top3(2) === (("C0079", "Nicole Bowers", 4590.58, 3)))
      val bottom = rows.last
      assert(bottom.getAs[String]("customer_id") === "C0082")
      assert(bottom.getAs[Double]("amount") === 120.08)
      assert(bottom.getAs[Int]("rank") === 100)

      // top spenders per category (4 categories)
      val tops = r.topSpenders.orderBy("category").collect().map(x =>
        (x.getAs[String]("category"), x.getAs[String]("customer_id"),
         x.getAs[Double]("amount"))).toSeq
      assert(tops === Seq(
        ("Accessories", "C0042", 182.30),
        ("Equipment", "C0012", 7632.74),
        ("Fitness", "C0055", 296.98),
        ("Supplements", "C0071", 266.92)))

      // state: upload row counts, 4 intra-batch address changes, 100
      // distinct customers upserted
      val up = p.store.uploads.head()
      assert((up.getAs[Long]("transactions_rows"),
              up.getAs[Long]("customers_rows"),
              up.getAs[Long]("products_rows")) === ((1000L, 104L, 8L)))
      assert(r.nChanges === 4L)
      assert(p.store.customers.count() === 100L)
    }
  }

  test("golden: repeat upload re-toggles addresses (4 then 8 changes)") {
    assume(Files.exists(Paths.get(sample)), s"sample workbook missing")
    withPipeline { p =>
      val r1 = p.runBatch(sample, timestamp = "2026-01-01T00:00:00")
      val r2 = p.runBatch(sample, timestamp = "2026-01-02T00:00:00")
      assert(r1.nChanges === 4L)
      assert(r2.nChanges === 8L)
      assert(p.store.addressChanges.count() === 12L)
      assert(p.store.customers.count() === 100L)
      // dense upload ids, audit scan newest-first
      assert(p.store.uploadsOrdered.select("id").collect()
        .map(_.getLong(0)).toSeq === Seq(2L, 1L))
      // change ids are dense 1..12
      assert(p.store.addressChanges.select("id").collect()
        .map(_.getLong(0)).sorted.toSeq === (1L to 12L))
    }
  }

  test("golden: 39-upload replay reproduces the reference's end state") {
    // The reference ships upload_logs.db materialized after 39 uploads of
    // the sample workbook: 39 upload rows (1000/104/8 each), 100 customers,
    // 308 address_changes (4 on the first batch, 8 per repeat — SURVEY §5).
    assume(Files.exists(Paths.get(sample)), s"sample workbook missing")
    withPipeline { p =>
      val changes = (1 to 39).map { i =>
        p.runBatch(sample, timestamp = f"2026-01-01T00:00:$i%02d").nChanges
      }
      assert(changes.head === 4L)
      assert(changes.tail.forall(_ === 8L))
      assert(p.store.uploads.count() === 39L)
      assert(p.store.customers.count() === 100L)
      assert(p.store.addressChanges.count() === 308L)  // 4 + 38×8
      // dense id sequences survive the replay
      assert(p.store.uploads.select("id").collect()
        .map(_.getLong(0)).sorted.toSeq === (1L to 39L))
      assert(p.store.addressChanges.select("id").collect()
        .map(_.getLong(0)).sorted.toSeq === (1L to 308L))
    }
  }

  test("job budget: one steady-state upload stays within its Spark jobs") {
    // Measured when the upload's actions were fused; a change that adds
    // jobs to the upload path must raise it knowingly.
    val budget = 20
    // A workbook of the reference's shape, so the budget is checked
    // without the sample: repeat customer ids (the m:m fan-out and
    // intra-batch toggles) make the change append run on every repeat
    // upload, as on the sample.
    val dir = Files.createTempDirectory("graft_jobs").toString
    val wb = s"$dir/jobs.xlsx"
    val shape = TestWorkbooks.referenceShaped(wb)

    withPipeline { p =>
      p.runBatch(wb, timestamp = "2026-01-01T00:00:00")  // creates state
      import TestSpark.withJobs
      val (r, one) =
        withJobs(p.runBatch(wb, timestamp = "2026-01-02T00:00:00"))
      assert(r.nChanges > 0)
      assert(one <= budget, s"$one jobs for one upload")

      // Four workbooks in one call share ONE state application; only the
      // per-file render repeats. Measured when the N-file engine landed.
      val fourBudget = 50
      val copies = (1 to 4).map { i =>
        val c = s"$dir/jobs_$i.xlsx"
        Files.copy(Paths.get(wb), Paths.get(c))
        c
      }
      val (rs, four) = withJobs(p.runUploads(copies,
        copies.indices.map(i => s"2026-01-03T00:00:0$i")))
      assert(rs.map(_.nChanges) === Seq.fill(4)(2 * shape.repeats))
      info(s"$one jobs for one upload, $four for four in one call")
      assert(four <= fourBudget, s"$four jobs for four uploads")
    }
  }

  test("rejects workbooks without the required sheets (S2) and bad extensions (S3)") {
    val tmp = Files.createTempDirectory("graft_badwb").toString
    val p = new Pipeline(spark, s"$tmp/state", s"$tmp/processed")
    // wrong extension
    assertThrows[IllegalArgumentException] {
      p.runBatch(s"$tmp/data.csv")
    }
    // xlsx missing required sheets
    import spark.implicits._
    val wb = s"$tmp/partial.xlsx"
    graft.sources.Xlsx.write(wb,
      Seq("Transactions" -> Seq(("a", "b")).toDF("c1", "c2")))
    val e = intercept[IllegalArgumentException] { p.runBatch(wb) }
    assert(e.getMessage.contains("must contain"))
    // nothing was recorded against state on the failed batches
    assert(p.store.uploads.count() === 0)
  }

  test("a Customers sheet whose rows hold no cell uploads with no " +
       "customers, as the reference skips rows that are not records") {
    val tmp = Files.createTempDirectory("graft_nocells").toString
    TestWorkbooks.referenceShaped(s"$tmp/wb.xlsx")
    TestWorkbooks.editSheet(s"$tmp/wb.xlsx", s"$tmp/empty_rows.xlsx", 2)(
      TestWorkbooks.withRows("""<row r="1"/><row r="2"/>"""))
    val p = new Pipeline(spark, s"$tmp/state", s"$tmp/processed")
    val r = p.runBatch(s"$tmp/empty_rows.xlsx")
    assert(p.store.uploads.head().getAs[Long]("customers_rows") === 1L)
    assert(p.store.customers.count() === 0L)
    assert(r.nChanges === 0L)
    assert(r.merged.count() === 0L)
  }

  test("golden: processed xlsx export round-trips the rank table") {
    assume(Files.exists(Paths.get(sample)), s"sample workbook missing")
    val tmp = Files.createTempDirectory("graft_golden_x").toString
    val p = new Pipeline(spark, s"$tmp/state", s"$tmp/processed")
    val r = p.runBatch(sample, timestamp = "2026-01-01T00:00:00")
    val sheets = graft.sources.Xlsx.read(s"$tmp/processed/processed_${r.uploadId}.xlsx")
    assert(sheets.map(_._1) ===
      Seq("CategoryTotalsSummary", "TopSpenders", "MergedData"))
    val summaryRows = sheets.head._2
    assert(summaryRows.head === Vector("customer_id", "name", "amount", "rank"))
    assert(summaryRows(1)(0) === "C0012")
    assert(summaryRows(1)(2).toDouble === 8139.46)
    assert(summaryRows.length === 101) // header + 100
    assert(sheets(2)._2.length === 1042) // header + 1041 merged rows
  }
}
