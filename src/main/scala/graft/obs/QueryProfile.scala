package graft.obs

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.graftshim.Shims

/** One Spark job seen inside a [[QueryProfile]] window: its call site,
  * wall time start → end, tasks run, and shuffle bytes and records
  * written. The call
  * site is the one the submitting thread set (`callSite.short`: a
  * stream's query thread sets its `start` site, [[graft.plans.Pins.pin]]
  * the pinning operator's), else its SQL execution's (e.g. a recovery's
  * `parquet at StreamingWarehouse.scala:<line>`), since AQE submits its
  * stage jobs from pool threads whose own call site names no engine
  * code; a job outside any SQL execution keeps its final stage's name. */
final case class JobProfile(id: Int, callSite: String, wallMs: Long,
    tasks: Int, shuffleWriteBytes: Long, shuffleWriteRecords: Long)

/** What the engine ran while one block of code ran: jobs started,
  * shuffle-map stages executed, tasks, executor run/CPU time, shuffle
  * bytes, shuffle records written, spill and peak execution memory, plus
  * one [[JobProfile]] per job.
  *
  * A stage counts as a shuffle stage when it ran at least one
  * ShuffleMapTask. Counting tasks — not stage submissions — makes the
  * metric AQE-proof: an AQE-materialized exchange runs as a map-stage JOB
  * (submitMapStage, no result stage), and skipped/reused exchanges run no
  * tasks at all. This is the materialized-exchange metric PlanGuardSpec's
  * loop budgets pin. */
final case class QueryProfile(jobs: Int, shuffleStages: Int, tasks: Int,
    runMs: Long, cpuMs: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long,
    shuffleWriteRecords: Long, memorySpillBytes: Long, diskSpillBytes: Long, peakExecMemBytes: Long,
    perJob: Seq[JobProfile])

object QueryProfile {

  /** Profile one run of `f`. The listener bus is drained before the
    * listener is added and again before it is removed — no sleeps — so
    * the window holds exactly the jobs `f` started. Jobs that other
    * threads start in the same session during `f` are counted too:
    * callers keep the session otherwise idle. */
  def during(spark: SparkSession)(f: => Unit): QueryProfile = {
    val sc = spark.sparkContext
    val acc = new Acc
    Shims.drainListenerBus(spark)
    sc.addSparkListener(acc)
    try { f; Shims.drainListenerBus(spark) }
    finally sc.removeSparkListener(acc)
    acc.result
  }

  /** Listener events arrive on one bus thread; `result` reads after the
    * drain, and `synchronized` publishes the fields to the reader. */
  private final class Acc extends SparkListener {
    private final class Job(val callSite: String, val startMs: Long) {
      var endMs = startMs; var tasks = 0; var shuffleWrite, shuffleRecords = 0L
    }
    private val jobs = mutable.LinkedHashMap[Int, Job]()
    private val executionSite = mutable.HashMap[String, String]()
    private val stageJob = mutable.HashMap[Int, Int]()
    private val shuffleStages = mutable.HashSet[Int]()
    private var tasks, runMs, cpuNs, read, write, records, memSpill, diskSpill, peak = 0L

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        synchronized { executionSite(s.executionId.toString) = s.description }
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      def property(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      val site = property("callSite.short")
        .orElse(property("spark.sql.execution.id").flatMap(executionSite.get))
        .getOrElse(e.stageInfos.maxByOption(_.stageId).fold("")(_.name))
      jobs(e.jobId) = new Job(site, e.time)
      // a shared stage runs for the latest job that lists it
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      if (e.taskType == "ShuffleMapTask") shuffleStages += e.stageId
      tasks += 1
      val job = stageJob.get(e.stageId).flatMap(jobs.get)
      job.foreach(_.tasks += 1)
      val m = e.taskMetrics
      if (m != null) {
        runMs += m.executorRunTime
        cpuNs += m.executorCpuTime
        read += m.shuffleReadMetrics.totalBytesRead
        write += m.shuffleWriteMetrics.bytesWritten
        records += m.shuffleWriteMetrics.recordsWritten
        memSpill += m.memoryBytesSpilled
        diskSpill += m.diskBytesSpilled
        peak = math.max(peak, m.peakExecutionMemory)
        job.foreach { j =>
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        }
      }
    }

    def result: QueryProfile = synchronized {
      QueryProfile(jobs.size, shuffleStages.size, tasks.toInt, runMs,
        cpuNs / 1000000L, read, write, records, memSpill, diskSpill, peak,
        jobs.toSeq.map { case (id, j) =>
          JobProfile(id, j.callSite, j.endMs - j.startMs, j.tasks, j.shuffleWrite,
            j.shuffleRecords)
        })
    }
  }
}
