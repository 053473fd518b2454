package graftbench

import java.lang.management.ManagementFactory
import java.time.Instant
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Everything the benchmark measures, taken from outside the engine:
  * spans the benchmark opens around each public call, Spark's public
  * listeners, and the JVM's GC notifications.
  *
  * Always on (cheap): spans, the heap-after-GC peak, and streaming
  * progress. Only while [[tracing]]: the SparkListener and the
  * QueryExecutionListener whose totals make the per-layer metrics. */
final class Probe(spark: SparkSession) {
  import Probe._

  private val sc = spark.sparkContext

  // ------------------------------------------------------------- spans

  private val spans = ArrayBuffer[Span]()
  private var open: List[Int] = Nil
  /** Pass being measured; spans outside a measured pass carry -1. */
  var pass: Int = -1
  private var traced = false

  /** Run `f` inside a span. A root span is one operation: it sets the job
    * group, which Spark jobs started on helper threads inherit. */
  def span[T](name: String, layer: String)(f: => T): T = {
    val id = spans.size
    val parent = open.headOption.getOrElse(-1)
    spans += Span(id, parent, name, layer, pass, traced, System.currentTimeMillis(), 0L, 0.0, 0.0)
    layerOf.put(id, layer)
    inOp.put(id, layer == "op" || (parent >= 0 && inOp.get(parent)))
    open = id :: open
    if (parent < 0) sc.setJobGroup(s"op$id", name, interruptOnCancel = false)
    sc.setLocalProperty(SpanKey, id.toString)
    val t0 = System.nanoTime()
    val cpu0 = processCpuNs()
    try f
    finally {
      val dur = (System.nanoTime() - t0) / 1e9
      spans(id) = spans(id).copy(endMs = System.currentTimeMillis(), seconds = dur,
        cpuSeconds = (processCpuNs() - cpu0) / 1e9)
      open = open.tail
      sc.setLocalProperty(SpanKey, open.headOption.map(_.toString).orNull)
      if (parent < 0) sc.clearJobGroup()
    }
  }

  def allSpans: Seq[Span] = spans.toSeq

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time of the whole JVM (planning and scheduling, task threads, GC, JIT). */
  private def processCpuNs(): Long = os.getProcessCpuTime

  // span id -> layer, and whether the span lies inside an operation; read
  // from the listener thread
  private val layerOf = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val inOp = new java.util.concurrent.ConcurrentHashMap[Int, Boolean]()

  // ------------------------------------------------------- heap and GC

  @volatile private var heapWindow = false
  @volatile private var heapPeak = 0L
  private val gcListener = new NotificationListener {
    def handleNotification(n: Notification, hb: Any): Unit =
      if (heapWindow && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
        if (used > heapPeak) heapPeak = used
      }
  }
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  gcBeans.foreach {
    case e: NotificationEmitter => e.addNotificationListener(gcListener, null, null)
    case _ =>
  }
  def gcMillis(): Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Track the largest heap-in-use-after-GC while `on`. Turning it off
    * collects once more, so the window holds at least one reading. */
  def heapWatch(on: Boolean): Unit = {
    if (!on) {
      System.gc()
      heapPeak = math.max(heapPeak, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
    }
    heapWindow = on
  }
  def peakHeapMb: Double = heapPeak / 1048576.0

  // --------------------------------------------------------- streaming

  private val batchRecs = ArrayBuffer[Batch]()
  private val streamListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs
      if (d.containsKey("addBatch")) batchRecs.synchronized {
        batchRecs += Batch(Instant.parse(e.progress.timestamp).toEpochMilli,
          d.get("triggerExecution") / 1000.0, d.get("addBatch") / 1000.0)
      }
    }
  }
  spark.streams.addListener(streamListener)

  /** Micro-batches whose trigger started at or after `sinceMs`. */
  def batches(sinceMs: Long): Seq[Batch] = {
    BenchBus.drain(sc)
    batchRecs.synchronized(batchRecs.filter(_.startMs >= sinceMs).toSeq)
  }

  // ----------------------------------------------------------- tracing

  private val t = new Totals
  private val executions = ArrayBuffer[Execution]()
  private val stageSpan = scala.collection.mutable.HashMap[Int, Int]()
  private val taskSpans = ArrayBuffer[(Long, Long)]()

  /** Spark work counts only when its job started inside an operation. */
  private def opSpan(span: Int): Boolean = span >= 0 && inOp.getOrDefault(span, false)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = t.synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .map(_.toInt).getOrElse(-1)
      e.stageIds.foreach(stageSpan(_) = span)
      if (opSpan(span)) {
        t.jobs += 1
        if (layerOf.get(span) == "queries") t.buildJobs += 1
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = t.synchronized {
      if (opSpan(stageSpan.getOrElse(e.stageInfo.stageId, -1)) && e.stageInfo.numTasks > 0)
        t.stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = t.synchronized {
      val m = e.taskMetrics
      if (opSpan(stageSpan.getOrElse(e.stageId, -1)) && m != null) {
        t.tasks += 1
        taskSpans += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
        t.runMs += m.executorRunTime
        t.cpuNs += m.executorCpuTime
        t.gcMs += m.jvmGCTime
        t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.spill += m.diskBytesSpilled
        t.outBytes += m.outputMetrics.bytesWritten
        t.peakExecMem = math.max(t.peakExecMem, m.peakExecutionMemory)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.values
      val files = qe.executedPlan.collect {
        case p if p.metrics.contains("numFiles") => p.metrics("numFiles").value
      }.sum
      if (phases.nonEmpty) t.synchronized {
        executions += Execution(phases.map(_.startTimeMs).min,
          phases.map(p => p.endTimeMs - p.startTimeMs).sum, files)
      }
    }
  }

  /** Turn the per-layer listeners on or off. Events already posted are
    * delivered first, so each traced pass is counted whole. */
  def tracing(on: Boolean): Unit = if (on != traced) {
    BenchBus.drain(sc)
    if (on) {
      sc.addSparkListener(sparkListener)
      spark.listenerManager.register(qeListener)
    } else {
      sc.removeSparkListener(sparkListener)
      spark.listenerManager.unregister(qeListener)
    }
    traced = on
  }

  def totals: Totals = { BenchBus.drain(sc); t }

  /** Query executions whose planning began inside a traced operation
    * (execution events carry no job group, so they are placed by time). */
  def opExecutions: Seq[Execution] = {
    BenchBus.drain(sc)
    val ops = spans.filter(s => s.layer == "op" && s.traced)
    t.synchronized(executions.toSeq).filter(e => ops.exists(s => e.startMs >= s.startMs && e.startMs <= s.endMs))
  }

  /** Wall seconds of the traced operations during which no task ran. */
  def idleSeconds: Double = {
    val merged = t.synchronized(taskSpans.toSeq).sortBy(_._1)
      .foldLeft(List.empty[(Long, Long)]) {
        case ((s, e) :: rest, (a, b)) if a <= e => (s, math.max(e, b)) :: rest
        case (acc, iv) => iv :: acc
      }.reverse
    spans.filter(s => s.layer == "op" && s.traced).map { s =>
      val busyMs = merged.map { case (a, b) =>
        math.max(0L, math.min(b, s.endMs) - math.max(a, s.startMs)) }.sum
      math.max(0.0, s.seconds - busyMs / 1000.0)
    }.sum
  }

  def close(): Unit = {
    tracing(on = false)
    spark.streams.removeListener(streamListener)
    gcBeans.foreach {
      case e: NotificationEmitter => e.removeNotificationListener(gcListener)
      case _ =>
    }
  }
}

object Probe {
  private val SpanKey = "graftbench.span"

  final case class Span(id: Int, parent: Int, name: String, layer: String, pass: Int,
      traced: Boolean, startMs: Long, endMs: Long, seconds: Double, cpuSeconds: Double)

  /** One streaming micro-batch: trigger start, trigger and addBatch time. */
  final case class Batch(startMs: Long, triggerS: Double, addBatchS: Double)

  /** One query execution: when its planning began, planning time, files written. */
  final case class Execution(startMs: Long, planMs: Long, files: Long)

  /** Listener totals over the traced passes. */
  final class Totals {
    var jobs, buildJobs, stages, tasks = 0L
    var runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill, outBytes, peakExecMem = 0L
  }
}
