package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.StreamingQueryListener

final class Span(val id: Int, val name: String, val parent: Int,
                 val startNs: Long, val startMs: Long, val startRead: Long) {
  var endNs: Long = startNs
  var endMs: Long = startMs
  var endRead: Long = startRead
  def durS: Double = (endNs - startNs) / 1e9
  /** Bytes the whole process read while the span was open. */
  def readBytes: Long = endRead - startRead
  def contains(ms: Long): Boolean = startMs <= ms && ms <= endMs
}

/** Spans around the benchmark's calls into each engine layer, kept in
  * memory and written out when the run ends. Spans share the run id; the
  * caller is single-threaded, so the open spans form a stack.
  */
final class Tracer(val runId: String) {
  val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  /** Spans are recorded only while on; off, a call costs one branch. */
  var on = false

  def apply[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = new Span(spans.size, name, stack.headOption.fold(-1)(_.id),
        System.nanoTime(), System.currentTimeMillis(), Tracer.readBytes())
      spans += s
      stack = s :: stack
      try body
      finally {
        s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
        s.endRead = Tracer.readBytes()
        stack = stack.tail
      }
    }

  /** Duration minus the part its child spans cover. */
  def selfS(s: Span): Double =
    s.durS - spans.iterator.filter(_.parent == s.id).map(_.durS).sum

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** The innermost span open when `ms` was reached. */
  def enclosing(ms: Long): Option[Span] =
    spans.filter(_.contains(ms)).maxByOption(s => (s.startNs, s.id))
}

object Tracer {
  /** Bytes read by this process so far (`rchar` of /proc/self/io): Spark's
    * task input metrics miss the Parquet reader's vectored reads, which run
    * on other threads.
    */
  def readBytes(): Long = {
    val io = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("/proc/self/io")))
    io.linesIterator.find(_.startsWith("rchar:")).fold(0L)(_.drop(6).trim.toLong)
  }
}

/** Task metrics summed over one Spark job. */
final class JobStats {
  var tasks = 0
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var outBytes = 0L
  var outRecords = 0L

  def add(o: JobStats): Unit = {
    tasks += o.tasks; cpuNs += o.cpuNs; runMs += o.runMs; gcMs += o.gcMs
    shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
    outBytes += o.outBytes; outRecords += o.outRecords
  }
}

final class JobRec(val id: Int, val startMs: Long) {
  var endMs: Long = startMs
  val stats = new JobStats
}

/** Job, stage and task metrics. Jobs are later attributed to the span open
  * at their SUBMISSION time: the fused runners submit from `Future` threads
  * of the global pool, where job-group properties do not reliably arrive.
  */
final class JobLog extends SparkListener {
  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.Map[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = new JobRec(e.jobId, e.time)
    e.stageIds.foreach(st => stageJob(st) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid); m <- Option(e.taskMetrics)) {
      val s = j.stats
      s.tasks += 1
      s.cpuNs += m.executorCpuTime
      s.runMs += m.executorRunTime
      s.gcMs += m.jvmGCTime
      s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.diskBytesSpilled
      s.outBytes += m.outputMetrics.bytesWritten
      s.outRecords += m.outputMetrics.recordsWritten
    }
  }

  def snapshot(): Seq[JobRec] = synchronized(jobs.values.toSeq)
  def clear(): Unit = synchronized { jobs.clear(); stageJob.clear() }
}

/** One streaming micro-batch, as its progress event reports it. */
final case class Trigger(runId: String, durations: Map[String, Long], stateRows: Long,
                         stateMemBytes: Long, stateCommitMs: Long) {
  def ms(phase: String): Long = durations.getOrElse(phase, 0L)
}

/** Progress of every streaming trigger, in order; queries in start order. */
final class TriggerLog extends StreamingQueryListener {
  private val triggers = mutable.ArrayBuffer[Trigger]()
  private val runs = mutable.ArrayBuffer[String]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    synchronized { runs += e.runId.toString; () }

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    val ops = p.stateOperators.toSeq
    triggers += Trigger(p.runId.toString,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum, ops.map(_.commitTimeMs).sum)
    ()
  }

  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  def snapshot(): (Seq[String], Seq[Trigger]) = synchronized((runs.toSeq, triggers.toSeq))
  def clear(): Unit = synchronized { triggers.clear(); runs.clear() }
}

/** Joins spans with the Spark jobs submitted inside them. */
final class Attribution(tr: Tracer, jobs: Seq[JobRec]) {
  private val bySpan: Map[Int, Seq[JobRec]] =
    jobs.flatMap(j => tr.enclosing(j.startMs).map(_.id -> j))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }

  /** Jobs submitted while the span itself was the innermost open span. */
  def ownJobs(s: Span): Seq[JobRec] = bySpan.getOrElse(s.id, Nil)

  /** Jobs submitted anywhere inside the span. */
  def jobsWithin(s: Span): Seq[JobRec] = jobs.filter(j => s.contains(j.startMs))

  /** Length of the union of the jobs' intervals, clipped to the span. */
  def jobCoverS(s: Span, js: Seq[JobRec]): Double = {
    val iv = js.map(j => (math.max(j.startMs, s.startMs), math.min(j.endMs, s.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    covered / 1000.0
  }

  def stats(js: Seq[JobRec]): JobStats = {
    val t = new JobStats
    js.foreach(j => t.add(j.stats))
    t
  }
}
