package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (sbt forks one test JVM). */
object TestSpark {
  lazy val spark: SparkSession = Sessions.local("2", "graft-test")

  /** Exact count of Spark jobs started while `f` runs (listener bus
    * drained before and after — no sleeps). Suites run sequentially in
    * the forked test JVM, so the counter can't see other suites' jobs. */
  def jobsDuring(f: => Unit): Int = jobsAndShuffleStagesDuring(f)._1

  /** ONE listener over ONE run of `f`: (jobs started, as in
    * [[jobsDuring]]; SHUFFLE-MAP stages executed). A stage counts when
    * it ran at least one ShuffleMapTask. Counting tasks — not stage
    * submissions — makes the metric AQE-proof: an AQE-materialized
    * exchange runs as a map-stage JOB (submitMapStage, no result stage),
    * and skipped/reused exchanges run no tasks at all. The
    * materialized-exchange metric PlanGuardSpec's loop budgets pin. */
  def jobsAndShuffleStagesDuring(f: => Unit): (Int, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        if (t.taskType == "ShuffleMapTask") { stages.add(t.stageId) }; ()
      }
    }
    org.apache.spark.sql.graftshim.Shims.drainListenerBus(spark)
    sc.addSparkListener(l)
    try { f; org.apache.spark.sql.graftshim.Shims.drainListenerBus(spark) }
    finally sc.removeSparkListener(l)
    (jobs.get(), stages.size())
  }
}
