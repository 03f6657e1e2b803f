package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler._

/** One timed call into a layer. `startMs` is wall-clock (it lines up with
  * Spark's job submission times); the duration comes from nanoTime.
  */
final case class Span(id: Long, parent: Long, name: String, rid: String,
    startMs: Long, durNs: Long)

/** In-memory span recorder. Spans are kept until the run ends and are then
  * written out in one go; the parent is the innermost open span on the
  * same thread, and `rid` groups the spans of one request. Recording is
  * switched on per thread, so traced and untraced requests can share one
  * server.
  */
object Trace {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  private val on = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = false
  }
  private val open = new ThreadLocal[List[(Long, String)]] {
    override def initialValue(): List[(Long, String)] = Nil
  }

  /** Runs `body` with span recording on or off on this thread. */
  def traced[T](enabled: Boolean)(body: => T): T = {
    val was = on.get
    on.set(enabled)
    try body finally on.set(was)
  }

  def span[T](name: String, rid: String = null)(body: => T): T =
    if (!on.get) body
    else {
      val id = ids.incrementAndGet()
      val stack = open.get
      val parent = stack.headOption.map(_._1).getOrElse(0L)
      val r = if (rid != null) rid else stack.headOption.map(_._2).orNull
      open.set((id, r) :: stack)
      val ms = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val dur = System.nanoTime() - t0
        open.set(stack)
        spans.add(Span(id, parent, name, r, ms, dur))
      }
    }

  def all: Seq[Span] = {
    val b = Seq.newBuilder[Span]
    spans.forEach(s => b += s)
    b.result().sortBy(_.id)
  }
}

/** Spark listener counters: one record per job with the task metrics of
  * every stage it ran, plus the queueing delay of each task (stage
  * submitted to task launched). Jobs are matched to spans afterwards by
  * submission time.
  */
final class SparkCounters extends SparkListener {
  final class JobRec(val id: Int, val timeMs: Long, val stages: Seq[Int]) {
    val tasks = new AtomicLong()
    val cpuNs = new AtomicLong()
    val gcMs = new AtomicLong()
    val shuffleWrite = new AtomicLong()
    val spill = new AtomicLong()
    val output = new AtomicLong()
  }
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  private val stageSubmitted = new ConcurrentHashMap[Int, java.lang.Long]()
  /** (task launch wall ms, wait ms) per finished task. */
  val taskWaits = new ConcurrentLinkedQueue[(Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val rec = new JobRec(e.jobId, e.time, e.stageIds)
    jobs.put(e.jobId, rec)
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, rec))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    e.stageInfo.submissionTime.foreach(t =>
      stageSubmitted.put(e.stageInfo.stageId, java.lang.Long.valueOf(t)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val rec = stageJob.get(e.stageId)
    val m = e.taskMetrics
    if (rec != null) {
      rec.tasks.incrementAndGet()
      if (m != null) {
        rec.cpuNs.addAndGet(m.executorCpuTime)
        rec.gcMs.addAndGet(m.jvmGCTime)
        rec.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        rec.spill.addAndGet(m.diskBytesSpilled)
        rec.output.addAndGet(m.outputMetrics.bytesWritten)
      }
    }
    val submitted = stageSubmitted.get(e.stageId)
    if (submitted != null)
      taskWaits.add((e.taskInfo.launchTime,
        math.max(0L, e.taskInfo.launchTime - submitted.longValue)))
  }

  def jobCount: Int = jobs.size

  def taskCount: Long = {
    var n = 0L
    jobs.values.forEach(j => n += j.tasks.get)
    n
  }
}
