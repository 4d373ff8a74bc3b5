package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval. Times are epoch milliseconds with a microsecond
  * fraction; `op` is the request or gate id the span belongs to and
  * `parent` the id of the span that caused it (0 for a root).
  */
final case class Span(id: Long, parent: Long, name: String, op: String,
    start: Double, end: Double) {
  def ms: Double = end - start
}

/** Spans from the harness's own calls into graft, kept in memory and
  * written out when the run ends. Disabled, `span` only runs its body.
  */
final class Tracer(@volatile var enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val seq = new java.util.concurrent.atomic.AtomicLong(0)
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  def span[T](name: String, op: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = seq.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0L)
      stack.set(id :: stack.get)
      val t0 = Tracer.now()
      try body
      finally {
        stack.set(stack.get.tail)
        synchronized { spans += Span(id, parent, name, op, t0, Tracer.now()) }
      }
    }

  def nextId(): Long = seq.incrementAndGet()
  def all: Seq[Span] = synchronized(spans.toList)
}

object Tracer {
  private val base = System.currentTimeMillis() - System.nanoTime() / 1e6

  /** Epoch milliseconds from the monotonic clock, sub-millisecond. */
  def now(): Double = base + System.nanoTime() / 1e6
}

/** One Spark stage or task interval as the listener reported it. */
final case class Interval(stageId: Int, start: Long, end: Long)

/** What the listener saw of one Spark job: the operation it ran for (the
  * job group the client thread set, if any), task totals over its
  * stages, and its stage and task intervals.
  */
final class JobRec(val jobId: Int, val group: Option[String], val start: Long) {
  var end: Long = start
  var tasks = 0
  var runMs = 0L
  var cpuMs = 0.0
  var gcMs = 0L
  var schedDelayMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var recordsRead = 0L
  var longestTaskMs = 0L
  val stages = mutable.ArrayBuffer.empty[Interval]
  val taskSpans = mutable.ArrayBuffer.empty[Interval]
}

/** Spark's own counters, read through a listener the harness registers
  * itself. Jobs map to operations through the job group the client
  * thread set; work run on another thread (the HTTP server's) maps by
  * the time interval of the request that contained it.
  */
final class Ledger extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageToJob = mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = new JobRec(e.jobId,
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))), e.time)
    e.stageIds.foreach(s => stageToJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val si = e.stageInfo
      for {
        j <- stageToJob.get(si.stageId).flatMap(jobs.get)
        t0 <- si.submissionTime
        t1 <- si.completionTime
      } j.stages += Interval(si.stageId, t0, t1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val info = e.taskInfo
    for (j <- stageToJob.get(e.stageId).flatMap(jobs.get); if m != null) {
      val run = m.executorRunTime
      j.tasks += 1
      j.runMs += run
      j.cpuMs += m.executorCpuTime / 1e6
      j.gcMs += m.jvmGCTime
      j.schedDelayMs += math.max(0L, info.duration - run -
        m.executorDeserializeTime - m.resultSerializationTime)
      j.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
        m.shuffleWriteMetrics.bytesWritten
      j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      j.recordsRead += m.inputMetrics.recordsRead
      j.longestTaskMs = math.max(j.longestTaskMs, info.duration)
      j.taskSpans += Interval(e.stageId, info.launchTime, info.finishTime)
    }
  }

  def all: Seq[JobRec] = synchronized(jobs.values.toList)
}

object Ledger {
  /** Block-manager memory plus disk held by cached and checkpointed
    * data, in MB.
    */
  def storageMb(sc: SparkContext): Double =
    sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1e6
}
