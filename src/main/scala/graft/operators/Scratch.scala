package graft.operators

/** Shared scratch-reclamation helper for the bounded-scratch sliced
  * operators ([[Dedup.nearDupPairsBandedSliced]],
  * [[Dedup.contaminationOverlapSliced]], [[Dedup.duplicateSpansSliced]],
  * [[TextOps.lmScoreSliced]]): each slice ends with a GC hint so the
  * ContextCleaner's weak references fire and the slice's shuffle files
  * are deleted BEFORE the next slice starts — that bound on peak
  * scratch is the whole point of slicing (measured ~60 GB of spill per
  * unsliced build stride at sf1000). The shuffle-write counter behind
  * that gate is the engine's one SparkListener; Bench and ScaleProbe
  * read their shuffle figures from it too ([[shuffleBytesWritten]]).
  */
private[graft] object Scratch {

  /** Per-context shuffle-write bytes: a monotonic `total`, fed by the
    * one stage-completion listener of the engine, and the `baseline`
    * the total stood at when scratch was last reclaimed. Exact in local
    * mode — one JVM sees every task; on a cluster the driver-side stage
    * metrics are the same aggregate the UI reports.
    */
  private final class Counter {
    val total = new java.util.concurrent.atomic.AtomicLong(0L)
    val baseline = new java.util.concurrent.atomic.AtomicLong(0L)
  }

  private val counters = new java.util.concurrent.ConcurrentHashMap[
    org.apache.spark.SparkContext, Counter]()

  /** Eagerly install the stage listener for `spark`'s context (round-14
    * ADVICE): lazily installed on the first [[gcIfPressured]] call, the
    * shuffle bytes of the FIRST slice of the first sliced query in a
    * session were never counted. Bench/Verify call this right after
    * building their session so slice #1 counts like every other. The
    * counter is deliberately context-global: concurrent jobs in one
    * session cross-attribute bytes between callers, which is acceptable
    * for a GC hint (any caller reclaiming scratch reclaims it for all).
    */
  private[graft] def install(spark: org.apache.spark.sql.SparkSession): Unit = {
    counter(spark.sparkContext)
    ()
  }

  private def counter(sc: org.apache.spark.SparkContext): Counter = {
    // stopped contexts can never fire their listener again — drop them
    // so the map cannot grow across session lifetimes
    counters.keySet.removeIf(_.isStopped)
    counters.computeIfAbsent(sc, { sc2 =>
      val c = new Counter
      sc2.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            e: org.apache.spark.scheduler
              .SparkListenerStageCompleted): Unit = {
          c.total.addAndGet(
            e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
          ()
        }
      })
      c
    })
  }

  /** Blocks until the SparkListener event bus has delivered every queued
    * event (reflection: `LiveListenerBus.waitUntilEmpty` is
    * private[spark]). Stage-completed events arrive on an async bus, so
    * reading a metrics counter right after an action returns can
    * undercount the query just run and bleed the stragglers into the
    * next query's window; draining first makes the read boundary exact.
    * Falls back to a short settle sleep if the private API ever moves.
    */
  private[graft] def drainListenerBus(
      sc: org.apache.spark.SparkContext): Unit =
    try {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
        .invoke(bus, java.lang.Long.valueOf(10000L))
      ()
    } catch { case _: Throwable => Thread.sleep(200L) }

  /** Total shuffle-write bytes of `spark`'s context since the counter
    * was installed, with the listener bus drained first: callers that
    * measure a run (Bench's per-query `shuffle_bytes`, ScaleProbe) read
    * it before and after and take the difference.
    */
  private[graft] def shuffleBytesWritten(
      spark: org.apache.spark.sql.SparkSession): Long = {
    drainListenerBus(spark.sparkContext)
    counter(spark.sparkContext).total.get()
  }

  /** Default scratch threshold below which the per-slice GC hint is
    * skipped (256 MiB; override `SPARK_GRAFT_SCRATCH_GC_MIN_BYTES`).
    * At the ladder decades where slicing matters each slice writes
    * gigabytes; a bench-scale slice writes single-digit MB.
    */
  val DefaultMinScratchBytes: Long = 256L << 20

  /** Shuffle-write bytes accumulated in `spark`'s context since the
    * last reclaim — a [[gcIfPressured]] firing or a [[noteReclaim]]
    * (test hook; drains listener-bus stragglers first so a
    * just-finished job is fully counted).
    */
  private[graft] def pendingScratchBytes(
      spark: org.apache.spark.sql.SparkSession): Long = {
    drainListenerBus(spark.sparkContext)
    val c = counter(spark.sparkContext)
    c.total.get() - c.baseline.get()
  }

  /** Record that a full GC just ran OUTSIDE the gate (Bench's cold-cache
    * reset before every timed run, Verify's per-query nudge): the
    * accumulated scratch has had its reclaim opportunity, so the gate
    * restarts from the current total — otherwise the bytes of every
    * PRIOR query in a long run would count against the first slice of
    * the next sliced query and fire a redundant GC inside its timed
    * region.
    */
  private[graft] def noteReclaim(
      spark: org.apache.spark.sql.SparkSession): Unit = {
    drainListenerBus(spark.sparkContext)
    val c = counter(spark.sparkContext)
    c.baseline.set(c.total.get())
  }

  /** `System.gc()` only when the slices have actually produced scratch
    * worth reclaiming: ≥ `SPARK_GRAFT_SCRATCH_GC_MIN_BYTES` (default
    * 256 MiB) of shuffle-write bytes since the last reclaim, measured
    * by a per-context stage listener. The GC hint exists solely so the
    * ContextCleaner deletes dead shuffle files between slices — so the
    * gate is the size of that scratch, not JVM heap fill: the round-13
    * heap gate (`used > max/2`) counted garbage, and a long bench run
    * with a slowly filling 24 g heap fired all 5 full GCs inside the
    * timed sliced query anyway (~0.3–0.6 s each) against ~3 MB of
    * scratch. At ladder scale (~GBs per slice) the new gate fires
    * exactly as the old one did. Periodic cleanup still backstops the
    * skipped case (`spark.cleaner.periodicGC.interval`, default
    * 30 min).
    */
  def gcIfPressured(spark: org.apache.spark.sql.SparkSession): Unit = {
    val c = counter(spark.sparkContext)
    // stage-completed events arrive on the async listener bus — drain
    // so the slice that just finished is fully counted before deciding
    drainListenerBus(spark.sparkContext)
    // Malformed override falls back to the default instead of throwing
    // NumberFormatException out of the per-slice loop (round-14 ADVICE).
    val thr = sys.env.get("SPARK_GRAFT_SCRATCH_GC_MIN_BYTES")
      .flatMap(s => scala.util.Try(s.toLong).toOption)
      .getOrElse(DefaultMinScratchBytes)
    // Accumulate-until-reclaim (round-14 ADVICE): the baseline moves
    // only when the GC actually fires, so N sub-threshold slices still
    // add up to a reclaim. Moving it by compare-and-set means that of
    // concurrent slices (the slice pool) only one fires the GC for the
    // same scratch, and bytes recorded after the read stay pending.
    val base = c.baseline.get()
    val total = c.total.get()
    if (total - base >= thr && c.baseline.compareAndSet(base, total))
      System.gc()
  }
}
