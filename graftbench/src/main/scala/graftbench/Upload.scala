package graftbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.StreamingQuery

import graft.state.StateStore
import graft.streaming.StreamingPipeline

/** The `upload` workload: a long-lived `workbookStream` on an empty state
  * dir: after the first upload, a burst of workbooks landed together,
  * then one workbook at a time (interactive phase), each followed by
  * one audit read.
  */
object Upload {
  val WarmUploads = 2
  val Interactive = 3
  val Burst = 4

  private final class Dirs(root: Path) {
    val landing: Path = root.resolve("landing")
    val state: Path = root.resolve("state")
    val processed: Path = root.resolve("processed")
    val checkpoint: Path = root.resolve("checkpoint")
    Files.createDirectories(landing)
  }

  private def snapshot(dir: Path): Map[Path, (Long, Long)] =
    if (!Files.exists(dir)) Map.empty
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(p =>
        p -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)).toMap
      finally s.close()
    }

  private def start(ctx: Ctx, d: Dirs): StreamingQuery =
    StreamingPipeline.workbookStream(ctx.spark, d.landing.toString,
      d.state.toString, d.processed.toString, d.checkpoint.toString)

  /** Lands `files` by atomic rename, then drains until the stream's
    * ledger lists every one of them.
    */
  private def landAndDrain(q: StreamingQuery, d: Dirs, files: Seq[Path]): Unit = {
    files.foreach(f => Files.move(f, d.landing.resolve(f.getFileName),
      StandardCopyOption.ATOMIC_MOVE))
    val ledger = d.checkpoint.resolve("processed_paths.txt")
    def done: Boolean = Files.exists(ledger) && {
      val seen = Files.readAllLines(ledger).asScala.map(_.split('/').last).toSet
      files.forall(f => seen.contains(f.getFileName.toString))
    }
    while (!done) {
      q.processAllAvailable()
      q.exception.foreach(e => throw e)
    }
  }

  /** Uploads as (id, tx rows, customer rows, product rows) and changes as
    * (id, customer, old, new, upload id), both newest first.
    */
  private type Audit =
    (Seq[(Long, Long, Long, Long)], Seq[(Long, String, String, String, Long)])

  private def auditRead(store: StateStore): Audit = {
    val uploads = store.uploadsOrdered.collect().toSeq.map(r =>
      (r.getAs[Long]("id"), r.getAs[Long]("transactions_rows"),
        r.getAs[Long]("customers_rows"), r.getAs[Long]("products_rows")))
    val changes = store.addressChangesOrdered.collect().toSeq.map(r =>
      (r.getAs[Long]("id"), r.getAs[String]("customer_id"),
        r.getAs[String]("old_address"), r.getAs[String]("new_address"),
        r.getAs[Long]("upload_id")))
    (uploads, changes)
  }

  private def exportOf(d: Dirs, id: Long): Map[String, Vector[Vector[String]]] =
    Workbook.read(Files.readAllBytes(d.processed.resolve(s"processed_$id.xlsx")))

  def run(ctx: Ctx): Unit = {
    val root = ctx.work.resolve("upload")
    val staging = root.resolve("staging")
    Files.createDirectories(staging)
    def stage(prefix: String, books: Seq[UploadBook]): Vector[Path] =
      books.zipWithIndex.map { case (b, i) =>
        val p = staging.resolve(f"$prefix%s_${i + 1}%04d.xlsx")
        Files.write(p, b.bytes)
        p
      }.toVector
    val books = UploadGen.books(ctx.seed, 1 + Interactive + Burst)
    val files = stage("wb", books)
    // The JIT warm-up runs another seed's smaller workbooks on scratch
    // state: the per-job driver code it warms does not depend on size.
    val warmFiles = stage("warm",
      UploadGen.books(ctx.seed + 7919L, WarmUploads, UploadGen.Small))
    ctx.phase("workbooks written")
    val warm = new Dirs(root.resolve("warm"))
    val wq = start(ctx, warm)
    try warmFiles.foreach { f =>
      landAndDrain(wq, warm, Seq(f))
      ctx.phase("warm-up upload")
      auditRead(new StateStore(ctx.spark, warm.state.toString))
    } finally wq.stop()
    ctx.reset()

    val live = new Dirs(root.resolve("live"))
    val model = new UploadModel
    val expects = scala.collection.mutable.Map.empty[Long, UploadExpect]
    def expect(i: Int): UploadExpect = {
      val e = model(books(i))
      expects(e.uploadId) = e
      e
    }
    def checkExport(e: UploadExpect): Seq[String] =
      UploadCheck.exportSheets(e, exportOf(live, e.uploadId))
    lazy val store = new StateStore(ctx.spark, live.state.toString)
    def checkAudit(read: Audit): Seq[String] =
      UploadCheck.audit(model, expects.view.mapValues(_.counts).toMap,
        read._1, read._2)
    // State-dir bytes written and files present per interactive upload.
    var stateBytes, stateFiles, bookBytes = 0L
    def stateDelta[T](body: => T): T = {
      val before = snapshot(live.state)
      val r = body
      val after = snapshot(live.state)
      stateBytes += after.collect {
        case (p, (size, mtime)) if !before.get(p).contains((size, mtime)) => size
      }.sum
      stateFiles += after.size
      r
    }

    ctx.setupDone()
    var q: StreamingQuery = null
    ctx.attempt("first upload") {
      val first = ctx.span("first", 0) { _ =>
        Ctx.seconds {
          q = start(ctx, live)
          landAndDrain(q, live, Seq(files(0)))
        }
      }
      ctx.metrics("first_op_s") = (first, "s")
      checkExport(expect(0))
    }
    ctx.phase("first upload")
    val opTimes = Vector.newBuilder[Double]
    val auditTimes = Vector.newBuilder[Double]
    try {
      // The burst runs before the interactive phase: its four uploads
      // warm the JIT further, which steadies the interactive timings.
      val burst = 1 to Burst
      ctx.attempt("burst") {
        ctx.reset()
        val s = ctx.span("burst", 1) { _ =>
          Ctx.seconds(landAndDrain(q, live, burst.map(files)))
        }
        ctx.metrics("burst_s") = (s, "s")
        burst.flatMap(i => checkExport(expect(i))) ++ checkAudit(auditRead(store))
      }
      ctx.phase("burst")
      for (i <- Burst + 1 to Burst + Interactive) {
        ctx.attempt(s"upload ${i + 1}") {
          ctx.reset()
          bookBytes += Files.size(files(i))
          opTimes += stateDelta(ctx.span("upload", i) { id =>
            ctx.timed(ctx.span("land_drain", i, id)(_ =>
              landAndDrain(q, live, Seq(files(i)))))
          })
          checkExport(expect(i))
        }
        ctx.attempt(s"audit ${i + 1}") {
          ctx.reset()
          var read: Audit = null
          auditTimes += ctx.span("audit", i) { _ =>
            Ctx.seconds { read = auditRead(store) }
          }
          checkAudit(read)
        }
      }
      ctx.phase("interactive phase")
    } finally if (q != null) q.stop()
    ctx.layerExtra ++= Map(
      "state.bytes_written" -> stateBytes.toDouble / Interactive,
      "state.write_amp" -> stateBytes.toDouble / math.max(1L, bookBytes),
      "state.files" -> stateFiles.toDouble / Interactive)
    ctx.metrics("op_s") = (Stats.median(opTimes.result()), "s")
    ctx.metrics("audit_s") = (Stats.median(auditTimes.result()), "s")
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val m = s.size / 2
      if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }
}
