package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Spans around the benchmark's calls into graft, plus a listener that
  * sees what Spark ran underneath them.
  *
  * Spans are opened only by the benchmark's own (single) driver thread:
  * one `iteration` root per measured iteration, one child per call into
  * a layer. Jobs are attributed to the span whose interval held the
  * job's submission time, not to a thread-local job group, because
  * graft's background futures (`Pipeline.prefetchEvalGrams`, the stage
  * landings, `Dedup.prefetchSigs`) submit from pooled threads whose
  * inherited local properties are stale.
  */
final case class Span(layer: String, name: String, parent: String,
    start: Long, end: Long) {
  def seconds: Double = (end - start) / 1e9
}

private final class Job(val id: Int, val submit: Long, var end: Long, val stages: Int)

private final class Totals {
  var tasks = 0L; var failed = 0L
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var waitMs = 0L
  var inBytes = 0L; var inRows = 0L
  var shWrite = 0L; var shRead = 0L; var spill = 0L
}

final class Tracer(val cores: Int) extends SparkListener {
  @volatile var enabled = false

  // Wall-clock anchor, so listener timestamps (epoch ms) and span
  // timestamps (nanoTime) share one axis: taken on a millisecond tick,
  // it is exact to microseconds.
  private val nanoAtEpoch = {
    val ms0 = System.currentTimeMillis()
    var ms = ms0
    while (ms == ms0) ms = System.currentTimeMillis()
    System.nanoTime() - ms * 1000000L
  }
  private def epochMsToNano(ms: Long): Long = ms * 1000000L + nanoAtEpoch

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[String]

  /** Time `body` as a call named `name` into `layer`. */
  def span[A](layer: String, name: String)(body: => A): A =
    if (!enabled) body
    else {
      val parent = open.headOption.getOrElse("")
      open = name :: open
      val t0 = System.nanoTime()
      try body
      finally {
        open = open.tail
        synchronized(spans += Span(layer, name, parent, t0, System.nanoTime()))
      }
    }

  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val stageSubmit = mutable.Map.empty[(Int, Int), Long]
  private var stages = 0L
  private var t = new Totals
  private val cached = mutable.Map.empty[String, Long]
  private var cachedNow = 0L
  private var cachedPeak = 0L

  def reset(): Unit = synchronized {
    spans.clear(); open = Nil; jobs.clear(); stageSubmit.clear()
    stages = 0L; t = new Totals
    cachedPeak = cachedNow
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (enabled) jobs += new Job(e.jobId, epochMsToNano(e.time), -1L, e.stageIds.size)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = epochMsToNano(e.time))
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    if (enabled) {
      stages += 1
      val i = e.stageInfo
      stageSubmit((i.stageId, i.attemptNumber())) =
        i.submissionTime.getOrElse(System.currentTimeMillis())
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (enabled) {
      t.tasks += 1
      if (e.reason != org.apache.spark.Success) t.failed += 1
      val info = e.taskInfo
      t.runMs += info.duration
      stageSubmit.get((e.stageId, e.stageAttemptId))
        .foreach(s => t.waitMs += math.max(0L, info.launchTime - s))
      val m = e.taskMetrics
      if (m != null) {
        t.cpuNs += m.executorCpuTime
        t.gcMs += m.jvmGCTime
        t.inBytes += m.inputMetrics.bytesRead
        t.inRows += m.inputMetrics.recordsRead
        t.shWrite += m.shuffleWriteMetrics.bytesWritten
        t.shRead += m.shuffleReadMetrics.totalBytesRead
        t.spill += m.diskBytesSpilled
      }
    }
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) {
      val key = b.blockManagerId.toString + "/" + b.blockId.name
      cachedNow -= cached.getOrElse(key, 0L)
      if (b.memSize > 0) cached(key) = b.memSize else cached -= key
      cachedNow += b.memSize
      cachedPeak = math.max(cachedPeak, cachedNow)
    }
  }

  /** Per-layer figures of the iteration recorded since `reset()`. The
    * caller waits for the listener bus to drain first.
    */
  def iterationMetrics(sinkBytes: Long, sinkFiles: Long): Map[String, Double] =
    synchronized {
      val root = spans.find(_.layer == "iteration")
        .getOrElse(sys.error("traced iteration has no root span"))
      val calls = spans.filterNot(_ eq root).toSeq
      def self(layer: String): Double = calls.filter(_.layer == layer).map(_.seconds).sum
      // The latest-starting span whose interval holds the submission:
      // a job submitted on a boundary belongs to the call just begun.
      // Submission times are whole milliseconds, so a job may read up
      // to 1 ms before the span it was submitted in.
      def owner(submit: Long): String = calls
        .filter(s => s.start <= submit + 1000000L && submit <= s.end)
        .sortBy(-_.start).headOption.map(_.layer).getOrElse("iteration")
      def jobsOf(layer: String): Double = jobs.count(j => owner(j.submit) == layer).toDouble
      val wall = root.seconds
      // Union of the job intervals: time in which at least one job ran.
      var busy = 0L; var reach = Long.MinValue
      jobs.map(j => (j.submit, if (j.end < 0) root.end else j.end)).sortBy(_._1)
        .foreach { case (s, e) =>
          val from = math.max(s, reach)
          if (e > from) busy += e - from
          reach = math.max(reach, e)
        }
      val mb = 1024.0 * 1024.0
      val layerSelf = Seq("sources", "operators", "functions", "plans", "sink", "check")
        .map(l => l -> self(l)).toMap
      Map(
        "trace.wall_s" -> wall,
        "sources.call_s" -> layerSelf("sources"),
        "sources.read_mb" -> t.inBytes / mb,
        "sources.read_rows" -> t.inRows.toDouble,
        "operators.call_s" -> layerSelf("operators"),
        "operators.call_jobs" -> jobsOf("operators"),
        "functions.call_s" -> layerSelf("functions"),
        "functions.call_jobs" -> jobsOf("functions"),
        "plans.plan_s" -> layerSelf("plans"),
        "sink.call_s" -> layerSelf("sink"),
        "sink.write_mb" -> sinkBytes / mb,
        "sink.files" -> sinkFiles.toDouble,
        "check.call_s" -> layerSelf("check"),
        "bench.self_s" -> (wall - layerSelf.values.sum),
        "spark.jobs" -> jobs.size.toDouble,
        "spark.stages" -> stages.toDouble,
        "spark.tasks" -> t.tasks.toDouble,
        "spark.job_busy_s" -> busy / 1e9,
        "spark.driver_gap_s" -> (wall - busy / 1e9),
        "spark.task_run_s" -> t.runMs / 1e3,
        "spark.task_cpu_s" -> t.cpuNs / 1e9,
        "spark.task_gc_s" -> t.gcMs / 1e3,
        "spark.task_wait_s" -> t.waitMs / 1e3,
        "spark.slot_util" -> (t.runMs / 1e3) / (cores * wall),
        "spark.shuffle_write_mb" -> t.shWrite / mb,
        "spark.shuffle_read_mb" -> t.shRead / mb,
        "spark.spill_mb" -> t.spill / mb,
        "spark.cache_peak_mb" -> cachedPeak / mb,
        "spark.task_failed" -> t.failed.toDouble)
    }

  /** Spans and job submissions of the iteration since `reset()`, as
    * JSON lines for the trace file (times in seconds from the root).
    */
  def records: Seq[String] = synchronized {
    val t0 = spans.find(_.layer == "iteration").map(_.start).getOrElse(0L)
    def s(ns: Long) = f"${(ns - t0) / 1e9}%.6f"
    spans.toSeq.sortBy(_.start).map(x =>
      s"""{"span":"${x.name}","layer":"${x.layer}","parent":"${x.parent}",""" +
        s""""start_s":${s(x.start)},"end_s":${s(x.end)}}""") ++
      jobs.toSeq.map(j => s"""{"job":${j.id},"submit_s":${s(j.submit)},""" +
        s""""end_s":${if (j.end < 0) "null" else s(j.end)},"stages":${j.stages}}""")
  }
}
