package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Executor-side work summed from task, stage and job events. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var failedTasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var waitMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var fetchWaitMs = 0L
  var outputBytes = 0L

  private def fields: Array[Long] = Array(jobs, stages, tasks, failedTasks,
    runMs, cpuNs, gcMs, waitMs, shuffleWrite, shuffleRead, spill,
    fetchWaitMs, outputBytes)

  private def set(a: Array[Long]): Counters = {
    jobs = a(0); stages = a(1); tasks = a(2); failedTasks = a(3)
    runMs = a(4); cpuNs = a(5); gcMs = a(6); waitMs = a(7)
    shuffleWrite = a(8); shuffleRead = a(9); spill = a(10)
    fetchWaitMs = a(11); outputBytes = a(12)
    this
  }

  def copy(): Counters = new Counters().set(fields)
  def minus(o: Counters): Counters =
    new Counters().set(fields.zip(o.fields).map { case (a, b) => a - b })
}

/** One call the benchmark made into a layer of graft. `op` is the
  * timed operation (cycle, rebuild or pass) the call belongs to. */
final case class Span(id: Long, name: String, parent: Long, op: Int,
                      thread: String, start: Long, end: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def seconds: Double = (end - start) / 1e9
}

/** A Spark job with the span whose call submitted it (0 when none). */
final case class JobRec(id: Int, span: Long, start: Long, var end: Long)

/** Listens to every job, stage and task and to every SQL action.
  *
  * Totals are always kept; they give the end-to-end executor CPU and
  * shuffle bytes. Per-span counters are attributed through job tags:
  * each open span adds a tag `pbspan-<id>` to its thread, threads
  * created inside a span inherit it, and a job belongs to the
  * innermost (highest-numbered) span among its tags.
  */
final class Recorder extends SparkListener with QueryExecutionListener {
  val total = new Counters
  private val bySpan = mutable.HashMap.empty[Long, Counters]
  private val stageSpan = mutable.HashMap.empty[Int, Long]
  private val jobsById = mutable.LinkedHashMap.empty[Int, JobRec]
  /** (end of the last phase, Catalyst milliseconds) per SQL action. */
  private val plans = mutable.ArrayBuffer.empty[(Long, Long)]

  private def spanOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .toSeq.flatMap(_.split(','))
      .filter(_.startsWith(Recorder.TagPrefix))
      .map(_.stripPrefix(Recorder.TagPrefix).toLong)
      .foldLeft(0L)(math.max)

  private def counters(span: Long): Counters =
    bySpan.getOrElseUpdate(span, new Counters)

  private def both(span: Long)(f: Counters => Unit): Unit = {
    f(total); if (span != 0L) f(counters(span))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = spanOf(e.properties)
    jobsById(e.jobId) = JobRec(e.jobId, span, e.time, e.time)
    e.stageIds.foreach(s => stageSpan.getOrElseUpdate(s, span))
    both(span)(_.jobs += 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobsById.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    both(stageSpan.getOrElse(e.stageInfo.stageId, 0L))(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val span = stageSpan.getOrElse(e.stageId, 0L)
    val info = e.taskInfo
    val m = e.taskMetrics
    both(span) { c =>
      c.tasks += 1
      if (info.failed) c.failedTasks += 1
      if (m != null) {
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.waitMs += math.max(0L, info.duration - m.executorRunTime)
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.diskBytesSpilled
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty) synchronized {
      plans += ((phases.map(_.endTimeMs).max, phases.map(_.durationMs).sum))
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit = ()

  def totals(): Counters = synchronized(total.copy())
  def spanCounters(span: Long): Counters =
    synchronized(bySpan.get(span).map(_.copy()).getOrElse(new Counters))
  def jobs(): Seq[JobRec] = synchronized(jobsById.values.map(_.copy()).toSeq)
  /** Catalyst milliseconds of SQL actions planned within [from, to]. */
  def planMs(from: Long, to: Long): Long = synchronized {
    plans.collect { case (end, ms) if end >= from && end <= to => ms }.sum
  }
}

object Recorder {
  val TagPrefix = "pbspan-"
}

/** Records a span around each call the benchmark makes into graft.
  * Spans are kept in memory and written once when the run ends.
  * With tracing off, [[span]] only runs its body.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  @volatile var enabled = false
  @volatile var op = -1
  private val ids = new AtomicLong(0L)
  private val stack = new InheritableThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  private val done = new ConcurrentLinkedQueue[Span]()

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get()
      val tag = Recorder.TagPrefix + id
      val t0 = System.nanoTime()
      sc.addJobTag(tag)
      stack.set(id :: outer)
      try body
      finally {
        stack.set(outer)
        sc.removeJobTag(tag)
        done.add(Span(id, name, outer.headOption.getOrElse(0L), op,
          Thread.currentThread.getName, t0, System.nanoTime()))
      }
    }

  def spans: Seq[Span] = {
    val b = Seq.newBuilder[Span]
    done.forEach(s => b += s)
    b.result().sortBy(_.id)
  }
}

object Intervals {
  /** Total length of the union of half-open intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    covered
  }

  /** Part of [s, e) covered by `iv`. */
  def coveredWithin(s: Long, e: Long, iv: Seq[(Long, Long)]): Long =
    union(iv.map { case (a, b) => (math.max(a, s), math.min(b, e)) })
}
