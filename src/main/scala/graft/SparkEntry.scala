package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables
import graft.operators._


/** Driver contract: every implemented operator from SURVEY.md §2 (plus the
  * LLM-pipeline extensions) surfaces here as a `queries` entry, with
  * equivalent DuckDB SQL in `oracleSql` where the operator is
  * SQL-expressible.
  *
  * Determinism rules used throughout (so the DuckDB hash-compare is exact):
  *  - money aggregates are summed as DECIMAL(18,4) (exact integer
  *    arithmetic — identical at any partition count and in any engine),
  *    banker's-rounded (`bround` ↔ `roundbankers`), then cast to double;
  *  - ratio columns are single IEEE divisions of integer counts;
  *  - window/order keys avoid raw nanosecond timestamps (epoch millis);
  *  - every query ends in a total-order `ORDER BY`.
  *
  * The reference-parity path (pandas float64 + banker's rounding on xlsx
  * batches) lives in [[graft.Pipeline]] and is exercised by the golden
  * ScalaTest suite instead — see Relational.scala's scaladoc.
  */
object SparkEntry {

  /** Flagship query (SURVEY.md §7.1) on sf0.001; driver smoke-checks rows>0:
    * scan → broadcast join → m:m join → exact sum → bround → dense rank →
    * sort.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("flagship_rank")(spark, "/root/testdata/sf0.001")


  /** The session every main starts from: `local[N]` with N from
    * `SPARK_GRAFT_CPUS` (default `defaultCpus`), shuffle partitions = N,
    * UTC session time zone and the UI off. `nanosAsLong` tolerates a
    * historical testdata encoding: if events.parquet ever stores
    * TIMESTAMP(NANOS) again it reads as LongType nanos
    * (EventOps.eventMs handles Long / TIMESTAMP / TIMESTAMP_NTZ alike;
    * the conf is a no-op for the current TIMESTAMP_NTZ micros file).
    * Callers add their own configs before `getOrCreate()`.
    */
  def localSession(defaultCpus: Int = 4): SparkSession.Builder = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
  }

  /** Parsed-and-validated `SPARK_GRAFT_ONLY` filter (comma-separated
    * query names) — the single iteration contract shared by the Verify
    * and Bench mains.
    */
  def onlyFilter(): Option[Set[String]] = {
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(',').map(_.trim).toSet)
    only.foreach { names =>
      val unknown = names -- queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names unknown queries: ${unknown.mkString(",")}")
    }
    only
  }

  /** One entry per implemented operator (SURVEY.md §2) — composed from
    * the per-family registry files (EntryHelpers / EntryQueries /
    * EntryOracleSql / EntryOracles; round-8 split of the former
    * 3.5k-line single file). The driver contract — names, semantics,
    * column alignment with `oracleSql` — is unchanged.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    EntryQueries.all

  /** DuckDB oracle SQL per `queries` entry (omitted → rows-only check). */
  def oracleSql: Map[String, String] = EntryOracles.all
}
