package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.Tables

/** The per-session parquet schema memo behind [[Tables.load]]: its key
  * is (session, table path), and a memoized read is the same relation
  * as an inferred one.
  */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  import TestSpark.withJobs

  /** Expression and exchange ids come from JVM-wide counters. */
  private def masked(plan: String): String =
    plan.replaceAll("#\\d+", "#").replaceAll("plan_id=\\d+", "plan_id")

  test("a same-named table in another directory resolves its own schema") {
    import spark.implicits._
    val a = Files.createTempDirectory("graft_tables_a").toString
    val b = Files.createTempDirectory("graft_tables_b").toString
    Seq((1L, "x")).toDF("k", "v").write.parquet(s"$a/customer.parquet")
    Seq((1.5, 2, true)).toDF("w", "n", "f")
      .write.parquet(s"$b/customer.parquet")
    assert(Tables.load(spark, a, "customer").columns.toSeq === Seq("k", "v"))
    assert(Tables.load(spark, b, "customer").columns.toSeq ===
      Seq("w", "n", "f"))
    assert(Tables.load(spark, b, "customer").as[(Double, Int, Boolean)]
      .collect().toSeq === Seq((1.5, 2, true)))
    assert(Tables.load(spark, a, "customer").as[(Long, String)]
      .collect().toSeq === Seq((1L, "x")))
  }

  test("a session infers a schema once; a new session infers it again") {
    import spark.implicits._
    val d = Files.createTempDirectory("graft_tables_s").toString
    Seq((1L, "x")).toDF("k", "v").write.parquet(s"$d/t.parquet")
    val (_, first) = withJobs(Tables.load(spark, d, "t"))
    val (_, again) = withJobs(Tables.load(spark, d, "t"))
    assert(first >= 1, "the first read infers the schema (a footer job)")
    assert(again === 0, s"a memoized read started $again jobs")
    // The memo assumes a table does not change within a session: the
    // same session keeps the schema it resolved, a new one sees the
    // rewritten table.
    Seq((2L, "y", 3.0)).toDF("k", "v", "w")
      .write.mode("overwrite").parquet(s"$d/t.parquet")
    assert(Tables.load(spark, d, "t").columns.toSeq === Seq("k", "v"))
    val other = spark.newSession()
    val (cols, fresh) = withJobs(Tables.load(other, d, "t").columns.toSeq)
    assert(cols === Seq("k", "v", "w"))
    assert(fresh >= 1, "a new session infers the schema again")
  }

  test("a memoized read equals a fresh inferred read: schema, optimized " +
       "plan and physical plan") {
    def plans(df: DataFrame): Seq[String] = {
      val q = df.where(col("event_type") === "click")
        .groupBy("user_id").agg(max("ts").as("last"), count(lit(1)))
        .queryExecution
      Seq(q.optimizedPlan.toString, q.explainString(FormattedMode))
        .map(masked)
    }
    for (name <- Seq("events", "embeddings", "documents")) {
      Tables.load(spark, sfDir, name)
      assert(Tables.load(spark, sfDir, name).schema ===
        spark.read.parquet(s"$sfDir/$name.parquet").schema, name)
    }
    val memo = Tables.load(spark, sfDir, "events")
    val inferred = spark.read.parquet(s"$sfDir/events.parquet")
    assert(plans(memo) === plans(inferred))
    assert(memo.exceptAll(inferred).isEmpty)
    assert(inferred.exceptAll(memo).isEmpty)
  }

  test("a read-back under the written frame's schema equals the inferred " +
       "read-back, nullability included") {
    // the write-then-read posture of the sliced operators: a count() is
    // non-nullable in the frame, and parquet reads every column nullable
    val d = Files.createTempDirectory("graft_tables_w").toString
    val df = spark.read.parquet(s"$sfDir/documents.parquet")
      .groupBy("source").agg(count(lit(1)).as("n"),
        collect_list(lit(1)).as("ones"))
    df.write.parquet(s"$d/w")
    assert(!df.schema("n").nullable)
    val given = spark.read.schema(df.schema).parquet(s"$d/w")
    val inferred = spark.read.parquet(s"$d/w")
    assert(given.schema === inferred.schema)
    assert(masked(given.queryExecution.optimizedPlan.toString) ===
      masked(inferred.queryExecution.optimizedPlan.toString))
  }
}
