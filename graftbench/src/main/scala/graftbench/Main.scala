package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, md5, struct, to_json}

/** State shared by a workload run: the session, the trace (traced runs
  * only), op accounting and the metrics the run reports.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val work: Path,
                val trace: Option[Trace], val digests: Map[String, String]) {
  var attempted = 0L
  var failed = 0L
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Per-op layer figures a workload measures itself (traced runs). */
  val layerExtra = mutable.LinkedHashMap[String, Double](
    "state.bytes_written" -> 0.0, "state.write_amp" -> 0.0,
    "state.files" -> 0.0)
  private var setupEnd = Double.NaN
  private var opCount = 0
  private var gcSum = 0.0
  private var heapSum = 0.0

  /** Cold reset before each timed op, outside the timed interval. */
  def reset(): Unit = {
    spark.catalog.clearCache()
    System.gc()
    Engine.noteReclaim(spark)
  }

  /** Logs a phase boundary with the seconds since JVM start. */
  def phase(name: String): Unit =
    System.err.println(f"[graftbench] ${(System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0}%.1f s: $name")

  /** Marks the end of set-up: JVM start to now. */
  def setupDone(): Unit = if (setupEnd.isNaN) {
    setupEnd = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    metrics("setup_s") = (setupEnd, "s")
  }

  def span[T](name: String, op: Int, parent: Int = -1)(body: Int => T): T =
    trace match {
      case Some(t) => t.span(name, op, parent)(body)
      case None => body(-1)
    }

  /** Wall seconds of `body`, with the JVM's GC time and heap use over it
    * added to the per-op JVM figures.
    */
  def timed(body: => Unit): Double = {
    val gc0 = gcMillis()
    val t0 = System.nanoTime()
    body
    val s = (System.nanoTime() - t0) / 1e9
    gcSum += (gcMillis() - gc0) / 1000.0
    heapSum += ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed /
      1048576.0
    opCount += 1
    s
  }

  def jvmPerOp: Map[String, Double] = {
    val n = math.max(1, opCount)
    Map("jvm.gc_s" -> gcSum / n, "jvm.heap_after_mb" -> heapSum / n)
  }

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Counts one op; a thrown error or returned mismatch marks it failed. */
  def attempt(what: String)(body: => Seq[String]): Unit = {
    attempted += 1
    val problems =
      try body
      catch { case e: Throwable =>
        Seq(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)) }
    if (problems.nonEmpty) {
      failed += 1
      problems.take(5).foreach(p => System.err.println(s"[graftbench] $what: $p"))
    }
  }
}

object Ctx {
  def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }
}

/** Engine hooks the benchmark needs that are package-private in the
  * engine; called reflectively so the benchmark stays outside `graft`.
  */
object Engine {
  private lazy val scratch = Class.forName("graft.operators.Scratch$")
  private def call(method: String, spark: SparkSession): Unit = {
    val module = scratch.getField("MODULE$").get(null)
    scratch.getMethod(method, classOf[SparkSession]).invoke(module, spark)
    ()
  }
  def install(spark: SparkSession): Unit = call("install", spark)
  def noteReclaim(spark: SparkSession): Unit = call("noteReclaim", spark)
}

/** Order-sensitive digest of a query's output: SHA-256 over the md5 of
  * each row's JSON (columns sorted by name), in output order, plus the
  * row count.
  */
object Digest {
  def of(df: DataFrame): String = {
    val cols = df.columns.sorted.map(c => col(s"`$c`"))
    val rows = df.select(md5(to_json(struct(cols.toIndexedSeq: _*)))).collect()
    val md = MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update(r.getString(0).getBytes("UTF-8")))
    md.update(s"rows=${rows.length}".getBytes("UTF-8"))
    md.digest().map(b => f"$b%02x").mkString
  }
}

/** Entry point: `Main --workload <name> --seed <n> --trace <0|1>
  * --work <dir> [--tables <dir>] [--digests <file>]`. Prints one line
  * `RESULT {json}` with op counts and every measured metric.
  * `--generate <dir>` writes the analytics tables instead, and
  * `--dump <dir>` the outputs `make_digests.py` checks.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = opts("workload")
    val work = Paths.get(opts("work")).toAbsolutePath
    Files.createDirectories(work)
    val cores = Runtime.getRuntime.availableProcessors()
    val traced = opts.get("trace").contains("1")
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    val spark =
      (if (traced) builder.withExtensions(Trace.extensions) else builder)
        .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Engine.install(spark)
    val digests = opts.get("digests").map(f =>
      Json.flatStrings(new String(Files.readAllBytes(Paths.get(f)), "UTF-8")))
      .getOrElse(Map.empty)
    val trace = if (traced) Some(new Trace(spark)) else None
    val ctx = new Ctx(spark, opts("seed").toLong, work, trace, digests)
    ctx.phase("session ready")
    val ok =
      try {
        (opts.get("dump"), opts.get("generate")) match {
          case (Some(dir), _) => Analytics.dump(ctx, dir)
          case (_, Some(dir)) =>
            Analytics.generate(spark, Paths.get(dir))
            ctx.attempted += 1
          case _ => workload match {
            case "upload" => Upload.run(ctx)
            case "analytics" => Analytics.run(ctx, Paths.get(opts("tables")))
            case other => throw new IllegalArgumentException(
              s"unknown workload '$other'")
          }
        }
        true
      } catch { case e: Throwable =>
        e.printStackTrace()
        false
      }
    trace.foreach { t =>
      val (opName, burstFiles) =
        if (workload == "upload") ("upload", Upload.Burst) else ("query", 0)
      t.summary(opName, "first", cores, burstFiles,
          ctx.jvmPerOp ++ ctx.layerExtra)
        .foreach { case (k, v) => ctx.metrics(k) = (v, unitOf(k)) }
      t.writeSpans(work.resolve(s"spans-$workload.jsonl"))
    }
    ctx.phase("done")
    ctx.metrics("peak_rss_mb") = (peakRssMb(), "MB")
    spark.stop()
    val correct = ok && ctx.failed == 0 && ctx.attempted > 0
    val metrics = ctx.metrics.map { case (k, (v, u)) =>
      s""""$k":{"value":${Json.num(v)},"unit":"$u"}""" }.mkString(",")
    println(s"""RESULT {"correct":$correct,"attempted":${ctx.attempted},""" +
      s""""failed":${ctx.failed},"metrics":{$metrics}}""")
    System.out.flush()
    if (!correct) sys.exit(1)
  }

  def unitOf(metric: String): String = metric.split('.').last match {
    case m if m.endsWith("_s") => "s"
    case m if m.endsWith("_bytes") || m == "bytes_written" => "bytes"
    case m if m.endsWith("_mb") => "MB"
    case m if m.endsWith("_util") || m == "write_amp" || m == "files_per_batch" => "ratio"
    case _ => "count"
  }

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
}

/** Just enough JSON for the benchmark's own files. */
object Json {
  /** Every `"key": "string"` pair in a JSON object, at any depth. */
  def flatStrings(s: String): Map[String, String] =
    """"([^"]+)"\s*:\s*"([^"]*)"""".r.findAllMatchIn(s)
      .map(m => m.group(1) -> m.group(2)).toMap

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
