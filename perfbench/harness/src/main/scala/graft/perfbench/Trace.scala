package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. Times are epoch milliseconds
  * with sub-millisecond precision; `parent` is 0 for a root span and is
  * filled in for Spark job and plan spans by interval containment when
  * the trace is written (one client thread runs at a time in batch, so
  * the innermost harness span that contains a job's start caused it). */
final case class Span(id: Long, var parent: Long, name: String, qid: String,
    start: Double, end: Double)

/** Task-level counters summed from `SparkListenerTaskEnd` events. */
final case class TaskSample(finish: Double, busyMs: Long, scanBytes: Long,
    shuffleBytes: Long, spillBytes: Long, gcMs: Long, schedDelayMs: Long)

/** Spans and counters kept in memory and written out when the run ends.
  * Everything is observed through Spark's public hooks: a SparkListener,
  * a QueryExecutionListener and the CodegenMetrics source. */
final class Trace(val enabled: Boolean) {
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis().toDouble
  private val ids = new AtomicLong()
  val spans = new ConcurrentLinkedQueue[Span]()
  val tasks = new ConcurrentLinkedQueue[TaskSample]()
  val stageEnds = new ConcurrentLinkedQueue[java.lang.Double]()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Double]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }

  def now(): Double = originMs + (System.nanoTime() - originNs) / 1e6

  /** Time `body` as a span named `name`; nested calls on one thread
    * become children. Spans are only kept when tracing is enabled. */
  def span[T](name: String, qid: String)(body: => T): T = {
    if (!enabled) return body
    val id = ids.incrementAndGet()
    val parents = stack.get()
    stack.set(id :: parents)
    val t0 = now()
    try body
    finally {
      stack.set(parents)
      spans.add(Span(id, parents.headOption.getOrElse(0L), name, qid, t0, now()))
    }
  }

  private def add(name: String, qid: String, start: Double, end: Double): Unit =
    spans.add(Span(ids.incrementAndGet(), 0L, name, qid, start, end))

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobStarts.put(e.jobId, e.time.toDouble)
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach(s => add("spark.job", "", s, e.time.toDouble))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stageEnds.add(java.lang.Double.valueOf(e.stageInfo.completionTime.map(_.toDouble).getOrElse(now())))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m != null) {
        val overhead = m.executorRunTime + m.executorDeserializeTime + m.resultSerializationTime
        tasks.add(TaskSample(
          finish = info.finishTime.toDouble,
          busyMs = m.executorRunTime,
          scanBytes = m.inputMetrics.bytesRead,
          shuffleBytes = m.shuffleWriteMetrics.bytesWritten,
          spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled,
          gcMs = m.jvmGCTime,
          schedDelayMs = math.max(0L, info.duration - overhead - info.gettingResultTime)))
      }
    }
  }

  /** Catalyst phases of every successful QueryExecution, as child spans
    * named after the phase. */
  val qeListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qe.tracker.phases.foreach { case (phase, s) =>
        add(s"spark.plan.$phase", "", s.startTimeMs.toDouble, s.endTimeMs.toDouble)
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def attach(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Assign job and plan spans, recorded without a parent, to the
    * innermost harness span that contains their start. */
  def link(): Seq[Span] = {
    val all = spans.asScala.toSeq
    val owners = all.filter(s => s.parent != 0L || !s.name.startsWith("spark."))
      .sortBy(s => -(s.start))
    all.filter(s => s.parent == 0L && s.name.startsWith("spark.")).foreach { s =>
      owners.filter(o => o.start <= s.start && s.start <= o.end)
        .minByOption(o => o.end - o.start)
        .foreach(o => s.parent = o.id)
    }
    all
  }
}

object Trace {

  /** Self time per layer: each span's duration minus the part of it its
    * children cover, summed by span name. */
  def selfTime(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupMapReduce(_.name) { s =>
      val covered = kids.getOrElse(s.id, Nil).map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
        .foldLeft((0.0, Double.NegativeInfinity)) { case ((sum, reach), (a, b)) =>
          if (b <= reach) (sum, reach)
          else (sum + b - math.max(a, reach), b)
        }._1
      math.max(0.0, s.end - s.start - covered)
    }(_ + _)
  }

  def writeSpans(spans: Seq[Span], path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.sortBy(_.start).foreach { s =>
      w.println(f"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","qid":"${s.qid}","start_ms":${s.start}%.3f,"end_ms":${s.end}%.3f}""")
    } finally w.close()
  }

  /** Codegen compile count and total compile milliseconds so far. The
    * histogram keeps every sample until it holds 1028; past that it
    * samples, and the total is estimated as count × mean. */
  def codegen(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val snap = h.getSnapshot
    val n = h.getCount
    (n, if (n <= snap.size) snap.getValues.map(_.toDouble).sum else snap.getMean * n)
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  def heapAfterGcMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == MemoryType.HEAP && p.getCollectionUsage != null)
      .map(_.getCollectionUsage.getUsed).sum / 1048576.0
}
