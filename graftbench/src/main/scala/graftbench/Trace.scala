package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, SparkPlan}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Maps a job's long call site to the engine module that started it. */
object Layers {
  val All: Seq[String] = Seq("sources", "state", "pipeline", "streaming",
    "relational", "textops", "dedup", "epoch", "entry", "entry.memo", "bench")

  val ByFile: Map[String, String] = Map(
    "Xlsx.scala" -> "sources", "Jsonl.scala" -> "sources",
    "Csv.scala" -> "sources",
    "StateStore.scala" -> "state", "StateBackend.scala" -> "state",
    "Pipeline.scala" -> "pipeline",
    "StreamingPipeline.scala" -> "streaming",
    "Relational.scala" -> "relational", "Scale.scala" -> "relational",
    "EventOps.scala" -> "relational",
    "TextOps.scala" -> "textops",
    "Dedup.scala" -> "dedup", "Similarity.scala" -> "dedup",
    "Epoch.scala" -> "epoch", "Export.scala" -> "epoch",
    "Multimodal.scala" -> "epoch", "Scratch.scala" -> "epoch",
    "SparkEntry.scala" -> "entry", "EntryQueries.scala" -> "entry",
    "EntryHelpers.scala" -> "entry")

  /** `pkg.Class.method(File.scala:12)`, with any `loader/module/` prefix
    * removed, split into (class and method, file).
    */
  private def parse(frame: String): (String, String) = {
    val f = frame.trim.stripPrefix("at ")
    val open = f.indexOf('(')
    if (open < 0) (f, "")
    else {
      val name = f.substring(f.lastIndexOf('/', open) + 1, open)
      val file = f.substring(open + 1).takeWhile(c => c != ':' && c != ')')
      (name, file)
    }
  }

  /** Layer of a job from its call site, innermost frame first: any frame
    * under `SessionMemo.get` makes it `entry.memo`; otherwise the
    * innermost engine frame of a known file decides; otherwise a
    * benchmark frame makes it `bench`. None when no frame matches.
    */
  def of(callSite: String): Option[String] = {
    val frames = callSite.split('\n').iterator.map(parse).toVector
    if (frames.exists(_._1.endsWith("SessionMemo.get"))) Some("entry.memo")
    else frames.collectFirst {
      case (name, file) if name.startsWith("graft.") && ByFile.contains(file) =>
        ByFile(file)
    }.orElse(
      if (frames.exists(_._1.startsWith("graftbench."))) Some("bench")
      else None)
  }
}

/** One timed span recorded by the benchmark around a call into the
  * engine. Times are epoch milliseconds (fractional).
  */
final case class Span(id: Int, name: String, parent: Int, op: Int,
                      start: Double, end: Double)

/** In-memory spans plus Spark job, stage, task, SQL-execution and
  * streaming-progress records, from listeners the benchmark registers.
  * Nothing is written until [[summary]] / [[writeSpans]] at run end.
  */
final class Trace(spark: SparkSession) {
  import Trace._

  private val jobs = new ConcurrentLinkedQueue[Job]()
  private val stageSubmit = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val phases = new ConcurrentLinkedQueue[Phases]()
  private val progress = new ConcurrentLinkedQueue[Progress]()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextSpan = 0

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      // A SQL job's stack is the one captured when its execution was
      // planned; the call-site property is the fallback, because a
      // streaming query pins it to the query's start for every batch.
      val props = Option(e.properties)
      val site = props.flatMap(p => Option(p.getProperty(ExecutionIdKey)))
        .flatMap(id => Option(stacks.get(id)))
        .orElse(props.flatMap(p => Option(p.getProperty("callSite.long"))))
        .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.details))
        .getOrElse("")
      jobs.add(Job(e.jobId, e.time, -1L, Layers.of(site),
        e.stageInfos.map(_.stageId)))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.asScala.find(_.id == e.jobId).foreach(_.end = e.time)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageSubmit.putIfAbsent(e.stageInfo.stageId,
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m != null) tasks.add(Task(e.stageId, info.launchTime,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.bytesRead, info.failed || info.killed))
      else tasks.add(Task(e.stageId, info.launchTime, 0, 0, 0, 0, 0, 0, 0,
        info.failed || info.killed))
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val p = qe.tracker.phases
      def ms(k: String) = p.get(k).map(_.durationMs).getOrElse(0L)
      val start = if (p.isEmpty) System.currentTimeMillis()
        else p.values.map(_.startTimeMs).min
      phases.add(Phases(start, ms("analysis"), ms("optimization"),
        ms("planning")))
    }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution,
                           e: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val trigger = d.getOrElse("triggerExecution", 0L)
      progress.add(Progress(
        java.time.Instant.parse(p.timestamp).toEpochMilli + trigger,
        p.numInputRows, trigger,
        d.getOrElse("addBatch", 0L), d.getOrElse("latestOffset", 0L),
        d.getOrElse("walCommit", 0L)))
    }
  }

  spark.sparkContext.addSparkListener(jobListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  /** Runs `body` inside a span named `name`; `body` gets the span id. */
  def span[T](name: String, op: Int, parent: Int = -1)(body: Int => T): T = {
    val id = nextSpan
    nextSpan += 1
    val t0 = Trace.nowMs()
    try body(id)
    finally spans += Span(id, name, parent, op, t0, Trace.nowMs())
  }

  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = spans.map(s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
      s""""op":${s.op},"start":${s.start},"end":${s.end}}""")
    java.nio.file.Files.write(path, lines.asJava)
  }

  /** Per-op averages over the top-level spans named `opName` (and the
    * `entry.memo` totals over the spans named `firstName`), plus extra
    * per-op figures the workload measured itself. `burstFiles` is the
    * number of files landed in the `burst` span.
    */
  def summary(opName: String, firstName: String, slots: Int, burstFiles: Int,
              extra: Map[String, Double]): Map[String, Double] = {
    Trace.drain(spark.sparkContext)
    val ops = spans.filter(s => s.name == opName && s.parent < 0).toVector
    val firsts = spans.filter(s => s.name == firstName && s.parent < 0).toVector
    val allJobs = jobs.asScala.toVector
    // A shared stage runs in the first job that lists it; later ones skip it.
    val stageJob = allJobs.sortBy(-_.id).flatMap(j => j.stages.map(_ -> j.id)).toMap
    val tasksByJob = tasks.asScala.toVector.groupBy(t => stageJob.get(t.stage))
    def within(s: Span, t: Long) = t >= s.start - 1 && t <= s.end + 1
    def jobsIn(ss: Vector[Span]) =
      allJobs.filter(j => ss.exists(s => within(s, j.submit)))
    def busy(js: Vector[Job], ss: Vector[Span]): Double = {
      // Union of the jobs' [submit, end] intervals, clipped to the spans.
      val iv = js.flatMap { j =>
        ss.find(s => within(s, j.submit)).map(s =>
          (j.submit.toDouble, math.min(if (j.end < 0) s.end else j.end.toDouble, s.end)))
      }.sortBy(_._1)
      var total = 0.0
      var cur = (Double.NaN, Double.NaN)
      iv.foreach { case (a, b) =>
        if (cur._1.isNaN || a > cur._2) {
          if (!cur._1.isNaN) total += cur._2 - cur._1
          cur = (a, b)
        } else cur = (cur._1, math.max(cur._2, b))
      }
      if (!cur._1.isNaN) total += cur._2 - cur._1
      total / 1000.0
    }
    def taskSum(js: Vector[Job]): Vector[Task] =
      js.flatMap(j => tasksByJob.getOrElse(Some(j.id), Vector.empty))
    val n = math.max(1, ops.size).toDouble
    val opJobs = jobsIn(ops)
    val opTasks = taskSum(opJobs)
    val out = mutable.LinkedHashMap.empty[String, Double]
    Layers.All.filter(_ != "entry.memo").foreach { l =>
      val js = opJobs.filter(_.layer.contains(l))
      out(s"$l.jobs") = js.size / n
      out(s"$l.busy_s") = busy(js, ops) / n
      out(s"$l.task_s") = taskSum(js).map(_.run).sum / 1000.0 / n
    }
    // Memo builds happen on the first run of a query, so entry.memo is
    // the total over the first op rather than a per-op average.
    val memoJobs = jobsIn(firsts).filter(_.layer.contains("entry.memo"))
    out("entry.memo.jobs") = memoJobs.size.toDouble
    out("entry.memo.busy_s") = busy(memoJobs, firsts)
    out("entry.memo.task_s") = taskSum(memoJobs).map(_.run).sum / 1000.0
    val wall = ops.map(s => s.end - s.start).sum / 1000.0
    val schedBusy = busy(opJobs, ops)
    val stageIds = opJobs.flatMap(_.stages).distinct
    val submitted = stageIds.filter(id => stageSubmit.containsKey(id))
    out("scheduler.jobs") = opJobs.size / n
    out("scheduler.stages") = submitted.size / n
    out("scheduler.stages_skipped") = (stageIds.size - submitted.size) / n
    out("scheduler.tasks") = opTasks.size / n
    out("scheduler.busy_s") = schedBusy / n
    out("scheduler.task_wait_s") = opTasks.map(t =>
      math.max(0L, t.launch - stageSubmit.getOrDefault(t.stage, t.launch))).sum / 1000.0 / n
    val taskS = opTasks.map(_.run).sum / 1000.0
    out("executor.task_s") = taskS / n
    out("executor.cpu_s") = opTasks.map(_.cpuNs).sum / 1e9 / n
    out("executor.gc_s") = opTasks.map(_.gc).sum / 1000.0 / n
    out("executor.slot_util") = if (schedBusy > 0) taskS / (schedBusy * slots) else 0.0
    out("executor.op_util") = if (wall > 0) taskS / (wall * slots) else 0.0
    out("executor.failed_tasks") = opTasks.count(_.failed) / n
    out("executor.shuffle_write_bytes") = opTasks.map(_.shWrite).sum / n
    out("executor.shuffle_read_bytes") = opTasks.map(_.shRead).sum / n
    out("executor.spill_bytes") = opTasks.map(_.spill).sum / n
    out("executor.input_bytes") = opTasks.map(_.input).sum / n
    out("driver.gap_s") = (wall - schedBusy) / n
    val ph = phases.asScala.toVector.filter(p => ops.exists(s => within(s, p.start)))
    out("catalyst.analysis_s") = ph.map(_.analysis).sum / 1000.0 / n
    out("catalyst.optimization_s") = ph.map(_.optimization).sum / 1000.0 / n
    out("catalyst.planning_s") = ph.map(_.planning).sum / 1000.0 / n
    out("catalyst.executions") = ph.size / n
    val pr = progress.asScala.toVector
      .filter(p => p.rows > 0 && ops.exists(s => within(s, p.end)))
    out("streaming.batches") = pr.size / n
    // Files per data batch in the burst, where several files land at once.
    val bursts = spans.filter(s => s.name == "burst" && s.parent < 0)
    val burstBatches = progress.asScala.count(p =>
      p.rows > 0 && bursts.exists(s => within(s, p.end)))
    out("streaming.files_per_batch") =
      if (burstBatches == 0) 0.0 else burstFiles.toDouble / burstBatches
    out("streaming.trigger_s") = pr.map(_.trigger).sum / 1000.0 / n
    out("streaming.add_batch_s") = pr.map(_.addBatch).sum / 1000.0 / n
    out("streaming.latest_offset_s") = pr.map(_.latestOffset).sum / 1000.0 / n
    out("streaming.wal_commit_s") = pr.map(_.walCommit).sum / 1000.0 / n
    out("trace.unattributed_jobs") = opJobs.count(_.layer.isEmpty) / n
    out ++= extra
    out.toMap
  }
}

object Trace {
  private val ExecutionIdKey = "spark.sql.execution.id"

  /** SQL execution id -> the planning thread's stack, one line a frame. */
  private val stacks = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Session extension for traced runs: a no-op physical-plan rule that
    * records the calling thread's stack the first time an execution is
    * prepared. Preparation runs on the thread that started the action,
    * so the stack shows the engine code that ran it.
    */
  def extensions(ext: SparkSessionExtensions): Unit =
    ext.injectColumnar(session => new ColumnarRule {
      override def preColumnarTransitions: Rule[SparkPlan] = new Rule[SparkPlan] {
        def apply(plan: SparkPlan): SparkPlan = {
          val id = session.sparkContext.getLocalProperty(ExecutionIdKey)
          if (id != null && !stacks.containsKey(id))
            stacks.putIfAbsent(id, Thread.currentThread.getStackTrace
              .iterator.drop(1).map(_.toString).mkString("\n"))
          plan
        }
      }
    })

  private[graftbench] final case class Job(id: Int, submit: Long, var end: Long,
                               layer: Option[String], stages: Seq[Int])
  private[graftbench] final case class Task(stage: Int, launch: Long, run: Long,
                                cpuNs: Long, gc: Long, shWrite: Long,
                                shRead: Long, spill: Long, input: Long,
                                failed: Boolean)
  private[graftbench] final case class Phases(start: Long, analysis: Long,
                                  optimization: Long, planning: Long)
  private[graftbench] final case class Progress(end: Long, rows: Long, trigger: Long,
                                    addBatch: Long, latestOffset: Long,
                                    walCommit: Long)

  private val t0Ms = System.currentTimeMillis().toDouble
  private val t0Ns = System.nanoTime()

  /** Epoch milliseconds with sub-millisecond resolution. */
  def nowMs(): Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  /** Blocks until the listener bus has delivered every queued event
    * (`LiveListenerBus.waitUntilEmpty` is not public API).
    */
  def drain(sc: SparkContext): Unit =
    try {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
        .invoke(bus, java.lang.Long.valueOf(10000L))
      ()
    } catch { case _: Throwable => Thread.sleep(200L) }
}
