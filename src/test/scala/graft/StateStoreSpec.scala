package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.state.StateStore

class StateStoreSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def newStore() =
    new StateStore(spark, Files.createTempDirectory("graft_state").toString)

  private def batch(rows: (String, String, Long)*) =
    rows.map { case (id, addr, idx) =>
      (id, s"name-$id", s"$id@x", "1990", addr, "100", idx) }
      .toDF("customer_id", "name", "email", "dob", "address",
            "created_date", "_row_idx")

  test("swap recovery: a crash between the two renames loses no state") {
    val dir = Files.createTempDirectory("graft_state_rec")
    val s = new StateStore(spark, dir.toString)
    s.applyCustomerBatch(batch(("C1", "addr-1", 1L)), "t1", 1)
    assert(s.customers.count() === 1)

    // Simulate the crash window of swapWrite: the new state sits fully
    // committed in __tmp, the live dir was renamed away, the JVM died
    // before tmp -> live.
    val live = dir.resolve("customers")
    val tmp = dir.resolve("customers__tmp")
    val old = dir.resolve("customers__old")
    java.nio.file.Files.move(live, tmp)
    java.nio.file.Files.createDirectories(old)

    val reopened = new StateStore(spark, dir.toString)
    assert(reopened.customers.count() === 1)   // recovered, not empty
    assert(!java.nio.file.Files.exists(tmp))
    assert(!java.nio.file.Files.exists(old))

    // A stale, uncommitted tmp (no _SUCCESS) next to a live dir is
    // discarded, not swapped in.
    java.nio.file.Files.createDirectories(tmp)
    val again = new StateStore(spark, dir.toString)
    assert(again.customers.count() === 1)
    assert(!java.nio.file.Files.exists(tmp))
  }

  test("pluggable StateBackend: a custom backend carries the full upsert/" +
       "CDC flow with unchanged semantics, and every IO routes through it") {
    // Instrumented wrapper around the default parquet-swap backend: the
    // MERGE-backend integration slot — a table-format backend drops in
    // exactly like this, with the operator semantics above untouched.
    val dir = Files.createTempDirectory("graft_state_be")
    val calls = scala.collection.mutable.ArrayBuffer.empty[String]
    val inner = new graft.state.ParquetSwapBackend(spark, dir)
    val wrapped = new graft.state.StateBackend {
      def read(name: String, schema: org.apache.spark.sql.types.StructType) =
        { calls += s"read:$name"; inner.read(name, schema) }
      def append(name: String, df: org.apache.spark.sql.DataFrame) =
        { calls += s"append:$name"; inner.append(name, df) }
      def rewrite(name: String, df: org.apache.spark.sql.DataFrame) =
        { calls += s"rewrite:$name"; inner.rewrite(name, df) }
      def recoverAll() = { calls += "recoverAll"; inner.recoverAll() }
    }
    val s = new StateStore(spark, dir.toString, Some(wrapped))
    assert(calls.headOption === Some("recoverAll"))
    val id = s.recordUpload("f.xlsx", "t1", 10L, 2L, 3L)
    assert(id === 1L)
    val n = s.applyCustomerBatch(
      batch(("C1", "a1", 1L), ("C1", "a2", 2L)), "t1", id)
    assert(n === 1L)                      // intra-batch toggle captured
    assert(s.customers.count() === 1L)    // last-wins upsert through it
    assert(s.customers.head().getAs[String]("address") === "a2")
    assert(calls.contains("append:uploads") &&
      calls.contains("append:address_changes") &&
      calls.contains("rewrite:customers"))
    // no parquet IO happened outside the backend: the live dirs exist
    // exactly as the default backend lays them out
    assert(java.nio.file.Files.exists(dir.resolve("customers")))
  }

  test("applyCustomerBatchMulti is equivalent to folding applyCustomerBatch " +
       "over the files, in one state application") {
    import org.apache.spark.sql.functions.{col, lit}
    // Three files with cross-file toggles, intra-file duplicates, a
    // fresh customer mid-batch, and a customer untouched after file 1.
    val files = Seq(
      batch(("C1", "a", 0), ("C2", "x", 1), ("C1", "b", 2)),
      batch(("C1", "a", 0), ("C3", "z", 1)),
      batch(("C2", "y", 0), ("C3", "z", 1), ("C3", "w", 2)))

    // Sequential fold (the reference semantics).
    val seqStore = newStore()
    val seqIds = files.zipWithIndex.map { case (f, i) =>
      val id = seqStore.recordUpload(s"f$i.xlsx", "t", 1, 1, 1)
      id -> seqStore.applyCustomerBatch(f, "t", id)
    }

    // One set-based application of the concatenated batch.
    val multiStore = newStore()
    val ids = multiStore.recordUploads(
      files.indices.map(i => (s"f$i.xlsx", "t", 1L, 1L, 1L)))
    val concat = files.zipWithIndex.map { case (f, i) =>
      f.withColumn("_upload_seq", lit(i)) }.reduce(_ unionByName _)
    val counts = multiStore.applyCustomerBatchMulti(concat, "t", ids)

    assert(ids === seqIds.map(_._1))
    assert(counts === seqIds.toMap)
    // identical final customer state (incl. winning upload_id) …
    def state(s: StateStore) = s.customers.collect().map(r =>
      (r.getAs[String]("customer_id"), r.getAs[String]("address"),
       r.getAs[Long]("upload_id"))).toSet
    assert(state(multiStore) === state(seqStore))
    // … and an identical change log: same rows, same dense id order.
    def log(s: StateStore) = s.addressChanges.orderBy("id").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("customer_id"),
        r.getAs[String]("old_address"), r.getAs[String]("new_address"),
        r.getAs[Long]("upload_id"))).toSeq
    assert(log(multiStore) === log(seqStore))
    assert(log(multiStore).nonEmpty)
    // replay absorption works on the whole id set: re-applying the same
    // concatenated batch under the same ids does not double-log
    val before = multiStore.addressChanges.count()
    multiStore.applyCustomerBatchMulti(concat, "t2", ids)
    assert(multiStore.addressChanges
      .where(col("upload_id").isin(ids: _*)).count() >= before)
    assert(multiStore.addressChanges.groupBy("id").count()
      .where(col("count") > 1).isEmpty)
  }

  test("upsert is last-writer-wins within a batch; CDC sees intra-batch mutations") {
    val s = newStore()
    // C1 appears twice with different addresses: 1 intra-batch change,
    // final state = second address (mirrors the reference sample's
    // duplicate-id behavior, app.py:110-123)
    val n1 = s.applyCustomerBatch(
      batch(("C1", "addr-A", 0), ("C2", "addr-X", 1), ("C1", "addr-B", 2)),
      "t1", uploadId = 1)
    assert(n1 === 1)
    val state = s.customers.collect().map(r =>
      r.getAs[String]("customer_id") -> r.getAs[String]("address")).toMap
    assert(state === Map("C1" -> "addr-B", "C2" -> "addr-X"))

    // replay the same batch: stored addr-B vs first occurrence addr-A →
    // change; then A→B again → second change. 2 changes per replay.
    val n2 = s.applyCustomerBatch(
      batch(("C1", "addr-A", 0), ("C2", "addr-X", 1), ("C1", "addr-B", 2)),
      "t2", uploadId = 2)
    assert(n2 === 2)
    assert(s.addressChanges.count() === 3)
    // ids dense in file order
    assert(s.addressChanges.orderBy("id").collect().map(r =>
      (r.getAs[Long]("id"), r.getAs[String]("old_address"),
       r.getAs[String]("new_address"))).toSeq ===
      Seq((1L, "addr-A", "addr-B"), (2L, "addr-B", "addr-A"),
          (3L, "addr-A", "addr-B")))
  }

  test("ledger replay under the SAME upload id absorbs orphaned changes") {
    val s = newStore()
    s.applyCustomerBatch(batch(("C1", "addr-A", 0)), "t1", uploadId = 1)
    s.applyCustomerBatch(batch(("C1", "addr-B", 0)), "t2", uploadId = 2)
    assert(s.addressChanges.count() === 1)
    // A crash between the change append and the customers swap makes the
    // ledger replay the batch under the same upload id; the second
    // attempt must replace upload 2's rows, not double-log them.
    s.applyCustomerBatch(batch(("C1", "addr-C", 0)), "t2b", uploadId = 2)
    val rows = s.addressChanges.orderBy("id").collect().map(r =>
      (r.getAs[Long]("id"), r.getAs[Long]("upload_id"),
       r.getAs[String]("new_address"))).toSeq
    // upload 2 appears once (the replayed attempt), ids still dense
    assert(rows === Seq((1L, 2L, "addr-C")))
    // a NEW upload id appends as usual (cross-upload non-idempotence)
    s.applyCustomerBatch(batch(("C1", "addr-D", 0)), "t3", uploadId = 3)
    assert(s.addressChanges.count() === 2)
    assert(s.addressChanges.orderBy("id").collect()
      .map(_.getAs[Long]("id")).toSeq === Seq(1L, 2L))
  }

  test("a crash at the customers swap replays under the SAME upload id: " +
       "one uploads row, dense change ids, no doubled change rows") {
    import org.apache.spark.sql.functions.lit
    val dir = Files.createTempDirectory("graft_state_crash")
    val inner = new graft.state.ParquetSwapBackend(spark, dir)
    var crashes = 0
    // Fails the next `crashes` customers rewrites — after the change
    // rows of the same application were appended.
    val flaky = new graft.state.StateBackend {
      def read(name: String, schema: org.apache.spark.sql.types.StructType) =
        inner.read(name, schema)
      def append(name: String, df: org.apache.spark.sql.DataFrame) =
        inner.append(name, df)
      def rewrite(name: String, df: org.apache.spark.sql.DataFrame) = {
        if (name == "customers" && crashes > 0) {
          crashes -= 1
          throw new IllegalStateException("crash before the customers swap")
        }
        inner.rewrite(name, df)
      }
      def recoverAll() = inner.recoverAll()
    }
    def upload(s: StateStore, file: String,
               rows: (String, String, Long)*): Seq[(Long, Long)] =
      s.applyUploads(Seq((file, 1L, rows.size.toLong, 1L)),
        batch(rows: _*).withColumn("_upload_seq", lit(0)), "t")

    val s = new StateStore(spark, dir.toString, Some(flaky))
    assert(upload(s, "f1.xlsx", ("C1", "a", 0), ("C2", "x", 1)) ===
      Seq((1L, 0L)))
    val second = Seq(("C1", "b", 0L), ("C2", "y", 1L), ("C1", "c", 2L))
    crashes = 1
    intercept[IllegalStateException](upload(s, "f2.xlsx", second: _*))
    assert(s.addressChanges.count() === 3L)   // the orphaned attempt

    // The at-least-once replay, in a restarted store.
    val replay = new StateStore(spark, dir.toString, Some(flaky))
    assert(upload(replay, "f2.xlsx", second: _*) === Seq((2L, 3L)))
    assert(replay.uploadsOrdered.collect().map(r =>
      (r.getAs[Long]("id"), r.getAs[String]("filename"))).toSeq ===
      Seq((2L, "f2.xlsx"), (1L, "f1.xlsx")))
    assert(replay.addressChanges.orderBy("id").collect().map(r =>
      (r.getAs[Long]("id"), r.getAs[String]("customer_id"),
       r.getAs[String]("new_address"), r.getAs[Long]("upload_id"))).toSeq ===
      Seq((1L, "C1", "b", 2L), (2L, "C2", "y", 2L), (3L, "C1", "c", 2L)))
    assert(replay.customers.collect().map(r =>
      (r.getAs[String]("customer_id"), r.getAs[String]("address"),
       r.getAs[Long]("upload_id"))).toSet ===
      Set(("C1", "c", 2L), ("C2", "y", 2L)))
  }

  test("no change rows for brand-new customers or unchanged addresses") {
    val s = newStore()
    assert(s.applyCustomerBatch(batch(("C1", "a", 0)), "t1", 1) === 0)
    assert(s.applyCustomerBatch(batch(("C1", "a", 0)), "t2", 2) === 0)
    assert(s.applyCustomerBatch(batch(("C1", "b", 0)), "t3", 3) === 1)
  }

  test("recordUpload: dense driver-side sequence, ordered audit scan") {
    val s = newStore()
    assert(s.recordUpload("f1.xlsx", "2026-01-01T00:00:00", 10, 2, 3) === 1L)
    assert(s.recordUpload("f2.xlsx", "2026-01-02T00:00:00", 11, 2, 3) === 2L)
    assert(s.recordUpload("f3.xlsx", "2026-01-03T00:00:00", 12, 2, 3) === 3L)
    assert(s.uploadsOrdered.select("filename").collect()
      .map(_.getString(0)).toSeq === Seq("f3.xlsx", "f2.xlsx", "f1.xlsx"))
  }

  test("upsert retains prior upload_id only for untouched customers") {
    val s = newStore()
    s.applyCustomerBatch(batch(("C1", "a", 0), ("C2", "b", 1)), "t1", 1)
    s.applyCustomerBatch(batch(("C2", "b2", 0)), "t2", 2)
    val byId = s.customers.collect().map(r =>
      r.getAs[String]("customer_id") -> r.getAs[Long]("upload_id")).toMap
    assert(byId === Map("C1" -> 1L, "C2" -> 2L))
  }
}
