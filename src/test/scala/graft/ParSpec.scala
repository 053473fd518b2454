package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.graftshim.Shims
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.Par

/** The driver-side job-overlap helper (guide §2.6): values come back
  * exactly as when sequential, and a failure in EITHER leg surfaces to
  * the caller (never a silently-dropped thread death). The callers'
  * value contract — overlapped legs compute the same frames as
  * sequential — is covered by the oracle rows of every query that uses
  * Par (g_pipe_communities, g_scc, g_articlerank_tightcap,
  * sim_ivf_pq_topk, sim_recall_eval, the walk family, g_hits).
  */
class ParSpec extends AnyFunSuite {

  test("both returns both legs' values") {
    assert(Par.both(1 + 1, "x" * 3) === ((2, "xxx")))
  }

  test("three returns all three legs' values") {
    assert(Par.three(1, 2L, "3") === ((1, 2L, "3")))
  }

  test("both actually overlaps the legs (second starts before first ends)") {
    val gate = new java.util.concurrent.CountDownLatch(1)
    // leg A blocks until leg B has demonstrably started — deadlocks (and
    // times out) if both ran on one thread sequentially
    val (a, b) = Par.both(
      { assert(gate.await(30, java.util.concurrent.TimeUnit.SECONDS)); "a" },
      { gate.countDown(); "b" })
    assert((a, b) === (("a", "b")))
  }

  test("an exception in the threaded leg propagates") {
    val e = intercept[IllegalStateException] {
      Par.both(1, throw new IllegalStateException("boom"))
    }
    assert(e.getMessage === "boom")
  }

  test("an exception in the caller leg propagates after joining the thread") {
    @volatile var bRan = false
    val e = intercept[IllegalStateException] {
      Par.both({ throw new IllegalStateException("boom-a") }: Int,
        { Thread.sleep(50); bRan = true; 2 })
    }
    assert(e.getMessage === "boom-a")
    assert(bRan, "the second leg must be joined, not abandoned")
  }

  test("both legs run Spark actions concurrently and agree with sequential") {
    val spark = TestSpark.spark
    import spark.implicits._
    val df = (1L to 1000L).toDF("x")
    val (s1, s2) = Par.both(
      graft.plans.Pins.pin(df.selectExpr("sum(x) as s")).head.getLong(0),
      graft.plans.Pins.pin(df.selectExpr("count(x) as c")).head.getLong(0))
    assert(s1 === 500500L)
    assert(s2 === 1000L)
  }

  test("a failed leg cancels its sibling's running Spark jobs before both throws") {
    val spark = TestSpark.spark
    val sc = spark.sparkContext
    val running = ConcurrentHashMap.newKeySet[Int]()
    val started = new CountDownLatch(1)
    val sibling = "par-spec-sibling"
    // only the sibling's jobs count: a stray job of another suite must
    // neither release leg a early nor show up as still running
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty("spark.job.description") == sibling)) {
          running.add(e.jobId); started.countDown()
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = running.remove(e.jobId)
    }
    Shims.drainListenerBus(spark)
    sc.addSparkListener(listener)
    try {
      val e = intercept[IllegalStateException] {
        Par.both(
          {
            assert(started.await(60, TimeUnit.SECONDS), "sibling job never started")
            throw new IllegalStateException("leg a failed")
          }: Long,
          // one task that runs until it is killed (capped past both's
          // 60 s bounded join, so an uncancelled job outlives the call)
          { sc.setJobDescription(sibling); sc.parallelize(Seq(1), 1) }.map { x =>
            val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(90)
            while (System.nanoTime() < deadline &&
                !TaskContext.get().isInterrupted()) Thread.sleep(20)
            x
          }.count())
      }
      assert(e.getMessage === "leg a failed", "the first failure is rethrown")
      assert(e.getSuppressed.nonEmpty, "the cancelled sibling's failure rides along")
      Shims.drainListenerBus(spark)
      assert(running.isEmpty, s"sibling jobs still running: $running")
    } finally sc.removeSparkListener(listener)
  }
}
