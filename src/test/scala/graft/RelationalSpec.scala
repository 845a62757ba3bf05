package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Relational

class RelationalSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("parseCustomers: well-formed, malformed, arity, trim, pipe edge") {
    val lines = Seq(
      "{C1_Ann_a@x_1990_12 Main St_100.5}",          // good
      "  {C2_Bob_b@x_1991_3 Oak Ave_101}  ",         // needs trim
      "C3_NoBraces_c@x_1992_4 Elm_102",              // P3 drop
      "{C4_short_only_four_parts}",                  // P6 drop (5 parts)
      "{C5_Dan_d@x_1993_5 Pine_103_extra_tail}",     // limit split: tail glued
      "{C6_P|pe_e@x_1994_6 Fir_104}")                // P7: '|' shifts columns
      .toDF("line")
    val out = Relational.parseCustomers(lines, "line").collect()
    val byId = out.map(r => r.getString(0) -> r.toSeq).toMap

    assert(out.length === 4)
    // null lines are dropped like any non-brace line (reference: str(nan)
    // fails the brace predicate, app.py:96-97)
    assert(Relational.parseCustomers(
      Seq(Option.empty[String], Some("{A_b_c_d_e_f}")).toDF("line"), "line")
      .count() === 1)
    assert(byId("C1") === Seq("C1", "Ann", "a@x", "1990", "12 Main St", "100.5"))
    assert(byId("C2") === Seq("C2", "Bob", "b@x", "1991", "3 Oak Ave", "101"))
    // maxsplit keeps the remainder in the last field (Python split("_", 5))
    assert(byId("C5").last === "103_extra_tail")
    // the join+resplit identity breaks on '|': the split-out fragment
    // shifts every later field right, exactly like the reference's
    // tokenizer (app.py:101-102)
    assert(byId("C6") === Seq("C6", "P", "pe", "e@x", "1994", "6 Fir"))
  }

  // P10, P11 on an upload: mixed-case headers and an empty header cell.
  test("header promotion: lowercased names, _c$i for an empty cell") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft_header").toString
    val raw = s"$dir/raw.xlsx"
    val tx = Seq(("T1", "C1", "45000", "P1", "10.5", "Cash", "x"),
                 ("T2", "C1", "45001", "P1", "2.25", "Card", "y"))
      .toDF("Transaction_ID", "Customer_ID", "Transaction_Date",
        "PRODUCT_CODE", "Amount", "payment_Type", "note")
    graft.sources.Xlsx.write(raw, Seq(
      "Transactions" -> tx,
      "Customers" -> Seq(Tuple1("{C1_Ann_a@x_1990_1 Main St_100.5}"))
        .toDF("Customer_Info"),
      "Products" -> Seq(("P1", "Prod 1", "Cat1", "10"))
        .toDF("Product_Code", "Product_Name", "Category", "Unit_Price")))
    // Drop the header cell of the Transactions sheet's last column (G1):
    // the sheet then has a column whose first row is empty.
    val wb = s"$dir/upload.xlsx"
    TestWorkbooks.editSheet(raw, wb, 1)(
      _.replaceFirst("""<c r="G1"[^>]*>.*?</c>""", ""))

    val p = new graft.Pipeline(spark, s"$dir/state", s"$dir/processed")
    val rows = graft.sources.Xlsx.read(wb).toMap.apply("Transactions")
    assert(rows.head.last === null)
    assert(p.promoted(rows).columns.toSeq === Seq("transaction_id",
      "customer_id", "transaction_date", "product_code", "amount",
      "payment_type", "_c6", "_row_idx"))
    // The upload reads the lowercased names: both rows join and sum.
    val r = p.runBatch(wb, timestamp = "2026-01-01T00:00:00")
    assert(r.merged.count() === 2L)
    assert(r.merged.select("payment_type").as[String].collect().toSeq ===
      Seq("Cash", "Card"))
    assert(r.summary.select("amount").as[Double].collect().toSeq ===
      Seq(12.75))
  }

  test("bround is banker's rounding (pandas parity on ties), round is not") {
    val df = Seq(0.125, 0.375, 2.675).toDF("x")
      .select(bround($"x", 2).as("b"), round($"x", 2).as("r"))
    val rows = df.collect().map(r => (r.getDouble(0), r.getDouble(1)))
    assert(rows(0) === ((0.12, 0.13)))  // exact tie: half-even vs half-up
    assert(rows(1) === ((0.38, 0.38)))  // 0.375 → even is 0.38
    // Spark rounds the shortest decimal repr ("2.675" → 2.68), while
    // numpy rounds the binary value (2.6749999… → 2.67). Documented
    // divergence on non-representable pseudo-ties; the golden pipeline
    // spec shows it does not affect the reference workload.
    assert(rows(2) === ((2.68, 2.68)))
  }

  test("enrich preserves m:m duplicate inflation (J2)") {
    val txns = Seq(("T1", "C1", "P1", "10"), ("T2", "C1", "P1", "20"))
      .toDF("transaction_id", "customer_id", "product_code", "amount")
    val products = Seq(("P1", "Widget", "Cat")).toDF(
      "product_code", "product_name", "category")
    val dupCustomers = Seq(("C1", "Ann A"), ("C1", "Ann B")).toDF(
      "customer_id", "name")
    val merged = Relational.enrich(txns, products, dupCustomers)
    assert(merged.count() === 4)  // 2 txns × 2 duplicate customer rows
    val totals = Relational.summaryRanked(Relational.categoryTotals(
      Relational.castAmount(merged))).collect()
    // both duplicate names see the full (inflated) total
    assert(totals.map(_.getAs[Double]("amount")).toSeq === Seq(30.0, 30.0))
  }

  test("castAmount nulls unparseable values; sum ignores them (P12)") {
    val df = Seq("10.5", "garbage", "2.5", null).toDF("amount")
    val cast = Relational.castAmount(df)
    assert(cast.where($"amount".isNull).count() === 2)
    assert(cast.agg(sum("amount")).head().getDouble(0) === 13.0)
  }

  test("topSpenders argmax tiebreak is (customer_id, name) ascending") {
    val ct = Seq(
      ("C2", "Zed", "Cat", 50.0),
      ("C1", "Amy", "Cat", 50.0),   // tie → C1 wins (lower id)
      ("C3", "Bob", "Cat", 10.0),
      ("C9", "Eve", "Dog", 7.0)).toDF(
      "customer_id", "name", "category", "amount")
    val top = Relational.topSpenders(ct).orderBy("category").collect()
    assert(top.map(r => (r.getAs[String]("category"),
      r.getAs[String]("customer_id"))).toSeq ===
      Seq(("Cat", "C1"), ("Dog", "C9")))
  }

  test("summaryRanked: dense ranks on rounded totals, ties share rank") {
    val ct = Seq(
      ("C1", "A", "X", 10.004),  // rounds to 10.0
      ("C2", "B", "X", 10.001),  // rounds to 10.0 → same rank as C1
      ("C3", "C", "X", 5.0)).toDF("customer_id", "name", "category", "amount")
    val s = Relational.summaryRanked(ct).collect()
    assert(s.map(r => (r.getAs[String]("customer_id"),
      r.getAs[Int]("rank"))).toSeq ===
      Seq(("C1", 1), ("C2", 1), ("C3", 2)))  // dense: no gap
  }

  test("tableChecksum: row-order- and partitioning-invariant, " +
       "any row change flips the digest") {
    import org.apache.spark.sql.functions.col
    val rows = Seq((1L, "a", "g1"), (2L, "b", "g1"), (3L, "c", "g2"))
    val base = rows.toDF("id", "v", "grp")
    val cols = Seq(col("id"), col("v"), col("grp"))
    val digest = Relational.tableChecksum(base, "grp", cols).collect()
      .map(r => (r.getAs[String]("grp"), r.getAs[Long]("n_rows"),
        r.getAs[Long]("checksum")))
    // reversed row order, different partitioning → identical digests
    val shuffled = Relational.tableChecksum(
        rows.reverse.toDF("id", "v", "grp").repartition(7), "grp", cols)
      .collect().map(r => (r.getAs[String]("grp"), r.getAs[Long]("n_rows"),
        r.getAs[Long]("checksum")))
    assert(digest.toSeq === shuffled.toSeq)
    // a single changed value flips its group's checksum, not the other's
    val changed = Relational.tableChecksum(
        Seq((1L, "a", "g1"), (2L, "X", "g1"), (3L, "c", "g2"))
          .toDF("id", "v", "grp"), "grp", cols)
      .collect().map(r => (r.getAs[String]("grp"), r.getAs[Long]("checksum")))
    assert(changed(0)._2 !== digest(0)._3)
    assert(changed(1)._2 === digest(1)._3)
  }

  test("twoPhaseDenseRank matches the single-window dense_rank") {
    val totals = Seq(("C1", 30.0), ("C2", 20.0), ("C3", 30.0), ("C4", 10.0))
      .toDF("customer_id", "amount")
    val got = Relational.twoPhaseDenseRank(totals)
      .orderBy("customer_id").collect()
      .map(r => (r.getAs[String]("customer_id"), r.getAs[Int]("rank")))
    assert(got.toSeq === Seq(("C1", 1), ("C2", 2), ("C3", 1), ("C4", 3)))
  }

  test("summaryRanked (two-phase default) ≡ summaryRankedWindow (W1 form)") {
    val ct = ((1 to 200).map { i =>
      (s"C$i", s"N$i", if (i % 2 == 0) "A" else "B",
        Some((i % 17) * 10.0 + 0.004))
    } :+ (("C999", "N999", "A", Option.empty[Double])))  // all-null total
      .toDF("customer_id", "name", "category", "amount")
    val a = Relational.summaryRanked(ct).collect()
      .map(r => (r.getString(0), r.getString(1), Option(r.get(2)), r.getInt(3)))
    val b = Relational.summaryRankedWindow(ct).collect()
      .map(r => (r.getString(0), r.getString(1), Option(r.get(2)), r.getInt(3)))
    assert(a.sortBy(x => (x._4, x._1)).toSeq === b.sortBy(x => (x._4, x._1)).toSeq)
    assert(a.exists(x => x._1 == "C999" && x._3.isEmpty))  // null row kept
  }

  test("summaryRanked picks the rank plan by the estimatedKeys bound") {
    val ct = Seq(("C1", "A", "X", 10.0), ("C2", "B", "X", 5.0))
      .toDF("customer_id", "name", "category", "amount")
    // Small bound → literal W1 window form (a dense_rank window, no
    // two-phase partition-id machinery).
    val small = Relational.summaryRanked(ct, estimatedKeys = Some(100L))
    val smallPlan = small.queryExecution.analyzed.toString
    assert(smallPlan.contains("dense_rank"))
    assert(!smallPlan.contains("SPARK_PARTITION_ID"))
    // Unknown or above-threshold → two-phase path (partition-id ranking,
    // no dense_rank window anywhere).
    val large = Relational.summaryRanked(ct,
      estimatedKeys = Some(Relational.WindowRankMaxRows + 1))
    val largePlan = large.queryExecution.analyzed.toString
    assert(largePlan.contains("SPARK_PARTITION_ID"))
    assert(!largePlan.contains("dense_rank"))
    // Both paths produce the identical relation.
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getAs[String]("customer_id"), r.getAs[Int]("rank"))
    assert(small.collect().map(key).sorted.toSeq ===
           large.collect().map(key).sorted.toSeq)
  }

  test("nestDetails: per-customer lists ordered by (name, category)") {
    val ct = Seq(
      ("C1", "A", "Zoo", 2.0), ("C1", "A", "Art", 1.0), ("C2", "B", "Art", 3.0),
      // duplicate customer id with differing names: pandas' A1 key order
      // puts name "A" rows before "B" rows regardless of category
      ("C3", "B", "Aaa", 1.0), ("C3", "A", "Zzz", 2.0))
      .toDF("customer_id", "name", "category", "amount")
    val nested = Relational.nestDetails(ct).orderBy("customer_id").collect()
    assert(nested.length === 3)
    val c1 = nested(0).getSeq[org.apache.spark.sql.Row](1)
    assert(c1.map(r => (r.getString(0), r.getString(1))) ===
      Seq(("A", "Art"), ("A", "Zoo")))
    val c3 = nested(2).getSeq[org.apache.spark.sql.Row](1)
    assert(c3.map(r => (r.getString(0), r.getString(1))) ===
      Seq(("A", "Zzz"), ("B", "Aaa")))
  }
}
