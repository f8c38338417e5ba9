package graft

import java.util.concurrent.atomic.{AtomicInteger, LongAdder}

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerTaskEnd, SparkListenerTaskStart}

/** The one job/task-metering listener (Bench, JobProfile).
  *
  * Window totals: shuffle-write bytes/records and spill of every
  * successful task, which callers snapshot around a run after draining
  * the listener bus. Task metrics are exact counters, so identical
  * plans give identical bytes run over run — what the shuffle budget
  * gates. Plus the running and high-water task counts since
  * [[resetConc]].
  *
  * Per job: id, `spark.jobGroup.id`, the action's call site and the
  * start/end times. AQE stage jobs land on an anonymous call site but
  * carry the group of the thread that ran the action (Par propagates
  * it); streaming micro-batch jobs carry their query's runId group.
  */
final class WorkMeter extends SparkListener {
  private val bytes, records, spill = new LongAdder
  // listener events arrive in posting order on one queue, so the
  // running count is consistent with the scheduler's own ordering
  private val active, high = new AtomicInteger
  private val jobLog = mutable.LinkedHashMap.empty[Int, WorkMeter.Job]

  override def onTaskStart(e: SparkListenerTaskStart): Unit =
    high.getAndAccumulate(active.incrementAndGet(), Math.max(_: Int, _: Int))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    active.decrementAndGet()
    val m = e.taskMetrics
    // successful tasks only: a failed-then-retried task would count its
    // shuffle writes twice and fabricate a budget flag
    if (m != null && e.taskInfo != null && e.taskInfo.successful) {
      bytes.add(m.shuffleWriteMetrics.bytesWritten)
      records.add(m.shuffleWriteMetrics.recordsWritten)
      spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    // the result stage's name IS the triggering action's call site
    val site = e.stageInfos.lastOption.map(_.name.takeWhile(_ != '(').trim).getOrElse("?")
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    synchronized { jobLog(e.jobId) = WorkMeter.Job(e.jobId, group, site, e.time) }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    synchronized { jobLog.get(e.jobId).foreach(_.end = e.time) }

  /** (shuffle bytes written, shuffle records written, spill bytes). */
  def snap: (Long, Long, Long) = (bytes.sum, records.sum, spill.sum)
  def resetConc(): Unit = high.set(active.get)
  def maxConc: Int = high.get
  /** Every job seen since the meter was added, in start order. */
  def jobs: Seq[WorkMeter.Job] = synchronized(jobLog.values.toSeq)
}

object WorkMeter {
  /** Times are event epoch millis; `end` is -1 while the job runs. */
  final case class Job(id: Int, group: String, site: String, start: Long,
      var end: Long = -1L) {
    def ms: Long = end - start
  }
}
