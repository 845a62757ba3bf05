package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** The `analytics` workload: one session runs a fixed mix of
  * `SparkEntry.queries` entries through the `noop` sink, pass after pass,
  * over tables the benchmark generated. The seed permutes the order
  * within each pass.
  */
object Analytics {
  /** The eight reference-parity queries, then one each from the events,
    * ANN and text families.
    */
  val Mix: Vector[String] = Vector(
    "parse_customers", "merged_detail", "category_totals", "flagship_rank",
    "top_spenders", "nested_details", "audit_uploads", "audit_address_changes",
    "sessionize", "ann_topk_ivf_kmeans", "token_stats")

  /** Burst: the four merged-detail analytics back to back, no resets. */
  val Burst: Vector[String] = Vector("merged_detail", "category_totals",
    "flagship_rank", "top_spenders")

  /** Warm-up tables (checked against stored digests) and timed tables. */
  val WarmScale = 0.001
  val WarmDataSeed = 11L
  val MainScale = 0.01
  val MainDataSeed = 12L
  val TimedPasses = 1
  /** One audit read is the /uploads plus the /address_changes listing. */
  val ExtraAudits = 14

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def order(seed: Long, pass: Int): Vector[String] =
    new Random(seed * 31L + pass).shuffle(Mix)

  private def dirs(root: Path): (String, String) =
    (root.resolve("warm").toString, root.resolve("main").toString)

  /** Writes both table sets under `root`. They depend on no seed of the
    * run, so `run.py` writes them once per build and every run reads them.
    */
  def generate(spark: SparkSession, root: Path): Unit = {
    val (warm, main) = dirs(root)
    DataGen.write(spark, Seq((warm, WarmScale, WarmDataSeed),
      (main, MainScale, MainDataSeed)))
  }

  def run(ctx: Ctx, tables: Path): Unit = {
    val (warmDir, mainDir) = dirs(tables)
    // JIT warm-up on the warm tables, which is also the output check:
    // each query's digest must equal the stored one. Memos are keyed by
    // (session, dir), so none of the timed tables' memos are built here.
    order(ctx.seed, 0).foreach { q =>
      ctx.attempt(s"check $q") {
        var got = ""
        val sec = Ctx.seconds {
          got = Digest.of(SparkEntry.queries(q)(ctx.spark, warmDir)) }
        ctx.phase(f"check $q $sec%.2f s")
        ctx.digests.get(s"warm/$q") match {
          case Some(want) if want == got => Nil
          case Some(want) => Seq(s"digest $got, expected $want")
          case None => Seq("no expected digest")
        }
      }
    }
    ctx.reset()
    ctx.phase("warm-up and check pass")
    ctx.setupDone()

    def pass(p: Int, spanName: String): Map[String, Double] =
      order(ctx.seed, p).map { q =>
        var sec = Double.NaN
        ctx.attempt(s"pass $p $q") {
          ctx.reset()
          val df = () => noop(SparkEntry.queries(q)(ctx.spark, mainDir))
          sec = ctx.span(spanName, p) { _ =>
            if (spanName == "first") Ctx.seconds(df()) else ctx.timed(df())
          }
          ctx.phase(f"$spanName $q $sec%.2f s")
          Nil
        }
        q -> sec
      }.toMap
    val first = pass(1, "first")
    ctx.metrics("first_op_s") = (first.values.sum, "s")
    ctx.phase("first pass")
    val timed = (2 until 2 + TimedPasses).map(pass(_, "query"))
    ctx.metrics("op_s") = (Mix.map(q => Stats.median(timed.map(_(q)))).sum, "s")
    ctx.phase("timed passes")
    val p = 2 + TimedPasses
    ctx.reset()
    var burst = 0.0
    new Random(ctx.seed * 31L + p).shuffle(Burst).foreach { q =>
      ctx.attempt(s"burst $q") {
        burst += ctx.span("burst", p) { _ =>
          Ctx.seconds(noop(SparkEntry.queries(q)(ctx.spark, mainDir)))
        }
        Nil
      }
    }
    ctx.metrics("burst_s") = (burst, "s")
    // More audit reads after the burst, each after one reset.
    val audits = (1 to ExtraAudits).map { k =>
      var sec = 0.0
      ctx.attempt(s"audit $k") {
        ctx.reset()
        sec = ctx.span("audit", p + k) { _ =>
          Ctx.seconds(Seq("audit_uploads", "audit_address_changes").foreach(
            q => noop(SparkEntry.queries(q)(ctx.spark, mainDir))))
        }
        Nil
      }
      sec
    }
    ctx.metrics("audit_s") = (Stats.median(audits ++ timed.map(t =>
      t("audit_uploads") + t("audit_address_changes"))), "s")
  }

  /** Writes each mix query's output on both table sets as parquet under
    * `dir/<set>/<query>/`, with the tables, the oracle SQL and the
    * digests, for the one-off DuckDB check in `make_digests.py`.
    */
  def dump(ctx: Ctx, dir: String): Unit = {
    val tables = ctx.work.resolve("data")
    generate(ctx.spark, tables)
    val (warmDir, mainDir) = dirs(tables)
    val lines = Seq("warm" -> warmDir, "main" -> mainDir).flatMap { case (set, tables) =>
      Mix.map { q =>
        val df = SparkEntry.queries(q)(ctx.spark, tables)
        df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$set/$q")
        val d = Digest.of(SparkEntry.queries(q)(ctx.spark, tables))
        ctx.reset()
        s"${Json.str(s"$set/$q")}: ${Json.str(d)}"
      } :+ s"${Json.str(s"$set/tables")}: ${Json.str(tables)}"
    }
    val oracle = Mix.map(q => s"${Json.str(q)}: " +
      Json.str(SparkEntry.oracleSql.getOrElse(q, ""))).mkString("{", ",\n", "}")
    Files.writeString(Paths.get(dir, "digests.json"), lines.mkString("{", ",\n", "}"))
    Files.writeString(Paths.get(dir, "oracle_sql.json"), oracle)
    ctx.attempted += 1
  }
}
