package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are `System.nanoTime`; `parent` is 0 for a
  * root. Counters are Spark task metrics of the jobs the span issued
  * (attributed through the job group its thread carried). */
final class Span(val id: Long, val parent: Long, val layer: String,
                 val name: String, val start: Long) {
  @volatile var end: Long = 0L
  private val counters = new ConcurrentHashMap[String, DoubleAdder]()
  def add(k: String, v: Double): Unit =
    counters.computeIfAbsent(k, _ => new DoubleAdder).add(v)
  def counter(k: String): Double = Option(counters.get(k)).map(_.sum).getOrElse(0.0)
  def counterMap: Map[String, Double] = counters.asScala.map { case (k, v) => k -> v.sum }.toMap
  def secs: Double = (end - start) / 1e9
}

/** In-memory span recorder, written out when the run ends. Off unless
  * `enabled`; when off, a span costs one volatile read and runs its body
  * directly. The current span is kept per thread
  * in an inheritable thread local, so a pool thread started inside a span
  * (the transfer engine's table workers) starts under it. */
object Trace {
  @volatile var enabled = false
  private var sc: SparkContext = _
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val byId = new ConcurrentHashMap[java.lang.Long, Span]()
  private val current = new InheritableThreadLocal[List[Span]] {
    override def initialValue(): List[Span] = Nil
  }
  val GroupPrefix = "graftbench-"
  private val GroupKeys = Seq("spark.jobGroup.id", "spark.job.description",
    "spark.job.interruptOnCancel")

  def init(context: SparkContext): Unit = sc = context
  def all: Seq[Span] = spans.asScala.toSeq
  def get(id: Long): Option[Span] = Option(byId.get(id))
  def currentSpan: Option[Span] = current.get.headOption

  /** Span of a job group id set by [[span]], if any. */
  def ofGroup(group: String): Option[Span] =
    Option(group).filter(_.startsWith(GroupPrefix))
      .flatMap(g => g.stripPrefix(GroupPrefix).toLongOption).flatMap(get)

  def record(layer: String, name: String, parent: Long, start: Long, end: Long): Span = {
    val s = new Span(ids.incrementAndGet(), parent, layer, name, start)
    s.end = end
    spans.add(s); byId.put(s.id, s)
    s
  }

  /** Run `body` inside a span; its Spark jobs carry the span's job group.
    * `parent` overrides the thread's current span (executor-side code has
    * none). */
  def span[T](layer: String, name: String, parent: Option[Span] = None)(body: => T): T = {
    if (!enabled) return body
    val p = parent.orElse(currentSpan)
    val s = new Span(ids.incrementAndGet(), p.map(_.id).getOrElse(0L), layer, name, System.nanoTime())
    spans.add(s); byId.put(s.id, s)
    val saved = current.get
    current.set(s :: saved)
    val onDriver = sc != null && org.apache.spark.TaskContext.get() == null
    val prev = if (onDriver) GroupKeys.map(k => k -> sc.getLocalProperty(k)) else Nil
    if (onDriver) sc.setJobGroup(s"$GroupPrefix${s.id}", s"$layer:$name")
    try body
    finally {
      s.end = System.nanoTime()
      current.set(saved)
      prev.foreach { case (k, v) => sc.setLocalProperty(k, v) }
    }
  }

  /** Self time: duration minus the union of the children's intervals,
    * clipped to the span. */
  def selfTimes(all: Seq[Span]): Map[Long, Double] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var (curA, curB) = (Long.MinValue, Long.MinValue)
      iv.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.end - s.start - covered) / 1e9
    }.toMap
  }

  def descendants(all: Seq[Span], root: Long): Seq[Span] = {
    val kids = all.groupBy(_.parent)
    def walk(id: Long): Seq[Span] = kids.getOrElse(id, Nil).flatMap(c => c +: walk(c.id))
    walk(root)
  }
}

/** Spark-side counters, attributed to the span whose job group the job
  * carried. Jobs become child spans of that span. Attached only around
  * traced passes. */
final class SpanCounters extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val jobSpan = new ConcurrentHashMap[Int, Span]()
  /** Wall-clock ms of a listener event → the nanoTime scale of spans. */
  private val (baseNanos, baseMillis) = (System.nanoTime(), System.currentTimeMillis())
  private def nanos(ms: Long): Long = baseNanos + (ms - baseMillis) * 1000000L

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val owner = Option(e.properties).flatMap(p => Trace.ofGroup(p.getProperty("spark.jobGroup.id")))
    owner.foreach { s =>
      s.add("jobs", 1)
      val js = Trace.record("spark.job", s"job ${e.jobId}", s.id, nanos(e.time), nanos(e.time))
      jobSpan.put(e.jobId, js)
      e.stageIds.foreach(id => stageSpan.put(id, s))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobSpan.remove(e.jobId)).foreach(_.end = nanos(e.time))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageSpan.get(e.stageInfo.stageId)).foreach(_.add("stages", 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      Option(stageSpan.get(e.stageId)).foreach { s =>
        s.add("tasks", 1)
        s.add("input_bytes", m.inputMetrics.bytesRead.toDouble)
        s.add("output_bytes", m.outputMetrics.bytesWritten.toDouble)
        s.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        s.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        s.add("shuffle_fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        s.add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        s.add("executor_cpu_s", m.executorCpuTime / 1e9)
        s.add("gc_s", m.jvmGCTime / 1e3)
      }
    }
  }
}

/** One finished query execution: when its planning started, how long the
  * planner phases took, and what its file scans did. */
final case class PlanRecord(startNanos: Long, planSecs: Double,
                            filesRead: Double, scanMetadataSecs: Double)

/** Planner phase times (`QueryExecution.tracker`) and scan-node metrics of
  * every completed query execution. Attributed to spans afterwards by the
  * planning start time, which is exact for the serial query loop. */
final class PlanRecorder extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  private val (baseNanos, baseMillis) = (System.nanoTime(), System.currentTimeMillis())
  val records = new ConcurrentLinkedQueue[PlanRecord]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty) {
      val startMs = phases.map(_.startTimeMs).min
      val planMs = phases.map(_.durationMs).sum
      val scans = scanNodes(qe.executedPlan)
      def metric(n: String) = scans.flatMap(_.metrics.get(n)).map(_.value.toDouble).sum
      records.add(PlanRecord(baseNanos + (startMs - baseMillis) * 1000000L, planMs / 1e3,
        metric("numFiles"), metric("metadataTime") / 1e3))
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  private def scanNodes(plan: SparkPlan): Seq[FileSourceScanExec] =
    scala.util.Try(collectWithSubqueries(plan) { case s: FileSourceScanExec => s })
      .getOrElse(Nil)
}
