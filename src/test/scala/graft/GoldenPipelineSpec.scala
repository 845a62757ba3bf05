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
    // A workbook of the reference's shape, built here so the budget is
    // checked without the sample: repeat customer ids (the m:m fan-out
    // and intra-batch toggles) make the change append run on every
    // repeat upload, as on the sample.
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_jobs").toString
    val rnd = new scala.util.Random(7)
    val wb = s"$dir/jobs.xlsx"
    graft.sources.Xlsx.write(wb, Seq(
      "Transactions" -> (1 to 400).map(i => (s"TXN$i",
          s"C${rnd.nextInt(60)}", (45000 + rnd.nextInt(300)).toString,
          s"P${rnd.nextInt(8)}", (rnd.nextInt(100000) / 100.0).toString,
          "Cash"))
        .toDF("transaction_id", "customer_id", "transaction_date",
          "product_code", "amount", "payment_type"),
      "Customers" -> ((0 until 60) ++ (0 until 6)).zipWithIndex
        .map { case (c, i) =>
          Tuple1(s"{C${c}_Name ${c}_n$c@x_1990-01-01_Addr $c-${i / 60}_43899.5}")
        }.toDF("customer_id-name-email-dob-address-created-date"),
      "Products" -> (0 until 8).map(i =>
          (s"P$i", s"Prod $i", s"Cat${i % 4}", "10"))
        .toDF("product_code", "product_name", "category", "unit_price")))

    withPipeline { p =>
      p.runBatch(wb, timestamp = "2026-01-01T00:00:00")  // creates state
      val sc = spark.sparkContext
      // The listener bus is asynchronous: empty it before and after, the
      // way a profiler does (its waitUntilEmpty is not public API).
      def drain(): Unit = {
        val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
        bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
          .invoke(bus, java.lang.Long.valueOf(10000L))
      }
      val jobs = new java.util.concurrent.atomic.AtomicInteger()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      drain()
      sc.addSparkListener(listener)
      val r = try {
        val r = p.runBatch(wb, timestamp = "2026-01-02T00:00:00")
        drain()
        r
      } finally sc.removeSparkListener(listener)
      assert(r.nChanges > 0)
      assert(jobs.get() <= budget,
        s"${jobs.get()} jobs for one upload")
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
