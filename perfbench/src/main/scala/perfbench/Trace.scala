package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spark listener totals since the listener was registered. */
final class ExecCounts extends SparkListener {
  private val c = Map(
    "jobs" -> new AtomicLong, "stages" -> new AtomicLong,
    "tasks" -> new AtomicLong, "task_run_ms" -> new AtomicLong,
    "task_cpu_ns" -> new AtomicLong, "task_gc_ms" -> new AtomicLong,
    "shuffle_write_bytes" -> new AtomicLong,
    "shuffle_read_bytes" -> new AtomicLong, "spill_bytes" -> new AtomicLong)
  /** Largest peak execution memory of one task since the last reset. */
  val peakExecMemory = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = c("jobs").incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    c("stages").incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    c("tasks").incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      c("task_run_ms").addAndGet(m.executorRunTime)
      c("task_cpu_ns").addAndGet(m.executorCpuTime)
      c("task_gc_ms").addAndGet(m.jvmGCTime)
      c("shuffle_write_bytes").addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c("shuffle_read_bytes").addAndGet(m.shuffleReadMetrics.totalBytesRead)
      c("spill_bytes").addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      peakExecMemory.accumulateAndGet(m.peakExecutionMemory, math.max)
    }
  }

  def snapshot: Map[String, Long] = c.map { case (k, v) => k -> v.get }
}

/** Streaming progress, summed since the last reset. */
final class StreamCounts extends StreamingQueryListener {
  @volatile var startedAtMs: Long = -1L
  private val durations = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
  val batches = new AtomicLong

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    startedAtMs = java.time.Instant.parse(e.timestamp).toEpochMilli
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    batches.incrementAndGet()
    e.progress.durationMs.asScala.foreach { case (k, v) =>
      durations.computeIfAbsent(k, _ => new AtomicLong).addAndGet(v)
    }
  }
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  def reset(): Unit = { startedAtMs = -1L; durations.clear(); batches.set(0) }
  def durationMs(k: String): Long = Option(durations.get(k)).map(_.get).getOrElse(0L)
}

/** Counts read from an executed physical plan after its action. */
object PlanCounts extends AdaptiveSparkPlanHelper {
  def apply(plan: SparkPlan): Map[String, Double] = {
    val nodes = collectWithSubqueries(plan) { case p => p }
    val scans = nodes.collect { case s: FileSourceScanExec => s }
    def metric(name: String): Double =
      scans.flatMap(_.metrics.get(name)).map(_.value.toDouble).sum
    Map(
      "catalyst.exchanges" -> nodes.count(_.isInstanceOf[Exchange]).toDouble,
      "catalyst.nested_loop_joins" ->
        nodes.count(_.isInstanceOf[BroadcastNestedLoopJoinExec]).toDouble,
      "scan.files" -> metric("numFiles"),
      "scan.bytes_read" -> metric("filesSize"),
      "scan.rows" -> metric("numOutputRows"),
      // scanTime is reported in milliseconds
      "scan.time_s" -> metric("scanTime") / 1000.0)
  }
}

/** One recorded span. `op` is the index of the operation it belongs to
  * (-1 for set-up spans); `values` holds counts read at its boundaries
  * and any value a caller attached. */
final case class Span(id: Int, name: String, op: Int, parent: Int,
    startNs: Long, endNs: Long, values: Map[String, Double])

/** In-memory span recorder for the traced run. Spans nest by call
  * structure; every span of one operation carries that operation's
  * index. Listener counts are read at the boundary of every span, after
  * the listener bus has drained, so each span's values are the counts of
  * the work done inside it. */
final class Tracer(spark: SparkSession) {
  val exec = new ExecCounts
  val stream = new StreamCounts
  spark.sparkContext.addSparkListener(exec)
  spark.streams.addListener(stream)

  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  var op: Int = -1
  private val pending = scala.collection.mutable.Map.empty[Int, Map[String, Double]]

  private def drained(): Map[String, Long] = {
    PerfbenchBus.drain(spark.sparkContext)
    exec.snapshot
  }

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    val before = drained()
    stack = id :: stack
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      val after = drained()
      val deltas = after.map { case (k, v) => s"exec.$k" -> (v - before(k)).toDouble }
      spans += Span(id, name, op, parent, t0, t1,
        deltas ++ pending.remove(id).getOrElse(Map.empty))
    }
  }

  /** Attach values to the innermost open span. */
  def attach(values: Map[String, Double]): Unit = stack.headOption.foreach { id =>
    pending(id) = pending.getOrElse(id, Map.empty) ++ values
  }
}

/** Span entry points; each is a plain call when tracing is off. */
object Trace {
  @volatile var tracer: Tracer = null

  @inline def span[T](name: String)(body: => T): T =
    if (tracer == null) body else tracer.span(name)(body)

  def attach(values: => Map[String, Double]): Unit =
    if (tracer != null) tracer.attach(values)

  def on: Boolean = tracer != null
}
