package graft.perfbench

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable

import org.apache.spark.scheduler._

/** One span of the trace: a named interval on the harness clock
  * (milliseconds since the run started) with the span that caused it.
  */
final case class Span(id: Long, parent: Long, kind: String, name: String, startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

/** In-memory span store; written out once, when the run ends. */
final class Spans(val epochMs: Long, val epochNs: Long) {
  private val next = new AtomicLong(1)
  private val buf = mutable.ArrayBuffer.empty[Span]
  def now: Double = (System.nanoTime() - epochNs) / 1e6
  def fromEpochMs(ms: Long): Double = (ms - epochMs).toDouble
  def newId(): Long = next.getAndIncrement()
  def add(s: Span): Unit = synchronized { buf += s }
  def all: Seq[Span] = synchronized { buf.toList }

  /** Self time per span kind: each span's duration minus the part of its
    * interval that its children cover (children are merged first, so
    * overlapping children, e.g. jobs run in parallel, count once).
    */
  def selfMsByKind: Map[String, Double] = {
    val spans = all
    val kids = spans.groupBy(_.parent)
    spans.groupMapReduce(_.kind) { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0.0; var curA = Double.NaN; var curB = Double.NaN
      iv.foreach { case (a, b) =>
        if (curA.isNaN) { curA = a; curB = b }
        else if (a <= curB) curB = math.max(curB, b)
        else { covered += curB - curA; curA = a; curB = b }
      }
      if (!curA.isNaN) covered += curB - curA
      s.durMs - covered
    }(_ + _)
  }
}

/** Counters taken at the executor and scheduler boundary. Job counts are
  * attributed through the `spark.jobGroup.id` local property, which the
  * harness sets before each entry call and `graft.functions.Par`
  * propagates to its pool threads.
  */
final class Meter(spans: Spans, cores: Int) extends SparkListener {
  @volatile var tracing = false
  /** Job group -> parent span id, for attributing job spans. */
  val groupSpan = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  val jobs = new AtomicLong; val tasks = new AtomicLong
  val cpuNs = new AtomicLong; val runMs = new AtomicLong; val gcMs = new AtomicLong
  val shuffleBytes = new AtomicLong; val spillBytes = new AtomicLong; val inputBytes = new AtomicLong
  val unattributedJobMs = new AtomicLong
  val jobsByGroup = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()

  private val activeTasks = new AtomicInteger; private val maxTasks = new AtomicInteger
  private val activeJobs = new AtomicInteger; private val maxJobs = new AtomicInteger
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs.incrementAndGet()
    jobsByGroup.computeIfAbsent(group, _ => new AtomicLong).incrementAndGet()
    jobStart.put(e.jobId, (e.time, group))
    val a = activeJobs.incrementAndGet()
    maxJobs.getAndAccumulate(a, Math.max(_: Int, _: Int))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    activeJobs.decrementAndGet()
    Option(jobStart.remove(e.jobId)).foreach { case (t0, group) =>
      val parent = Option(groupSpan.get(group)).map(_.longValue)
      if (parent.isEmpty) unattributedJobMs.addAndGet(e.time - t0)
      if (tracing)
        spans.add(Span(spans.newId(), parent.getOrElse(0L), "job", group,
          spans.fromEpochMs(t0), spans.fromEpochMs(e.time)))
    }
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = {
    val a = activeTasks.incrementAndGet()
    maxTasks.getAndAccumulate(a, Math.max(_: Int, _: Int))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    activeTasks.decrementAndGet()
    val m = e.taskMetrics
    if (m != null && e.taskInfo != null && e.taskInfo.successful) {
      tasks.incrementAndGet()
      cpuNs.addAndGet(m.executorCpuTime)
      runMs.addAndGet(m.executorRunTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
    }
  }

  /** High-water marks since the last snapshot; task concurrency is
    * clamped to the core count as in the program's own bench record.
    */
  def takeMaxTasks(): Int = math.min(cores, maxTasks.getAndSet(activeTasks.get))
  def takeMaxJobs(): Int = maxJobs.getAndSet(activeJobs.get)

  def jobsOf(group: String): Long = Option(jobsByGroup.get(group)).map(_.get).getOrElse(0L)

  /** The exact counters as one vector, for per-pass deltas. */
  def counters: Map[String, Long] = Map(
    "jobs" -> jobs.get, "tasks" -> tasks.get, "executor_cpu_ms" -> cpuNs.get / 1000000L,
    "executor_run_ms" -> runMs.get, "task_gc_ms" -> gcMs.get,
    "shuffle_write_bytes" -> shuffleBytes.get, "spill_bytes" -> spillBytes.get,
    "input_bytes" -> inputBytes.get, "unattributed_job_ms" -> unattributedJobMs.get)
}
