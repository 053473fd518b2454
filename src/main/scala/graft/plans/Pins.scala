package graft.plans

import org.apache.spark.sql.{DataFrame, classic}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graftshim.Shims

/** The engine's standard iterative-frame pin: eager `localCheckpoint`
  * (truncate lineage, materialize once) PLUS origin-statistics reset
  * (`Shims.dropCheckpointStats`).
  *
  * Why the second half matters: `localCheckpoint` preserves the source
  * plan's estimated statistics, and Catalyst's size-only estimator
  * multiplies child sizes at every join — so in a loop that pins each
  * round's result and joins it again, the carried sizeInBytes is a
  * product of products whose BigInt DIGIT COUNT grows with every round.
  * At sf0.1, louvain level-2's round 6 spent >100 s of driver CPU inside
  * `BigInteger.multiplyToomCook3` computing million-digit size estimates
  * for 6 k-row frames (round-8 jstack profile; 403 s → ~25 s after the
  * reset, BASELINE.md). Every iterative operator pins through here so
  * none can regress into that mode. */
object Pins {
  def pin(df: DataFrame): DataFrame =
    atCaller(df)(Shims.dropCheckpointStats(df.localCheckpoint(true)))

  /** Run `f`, a pin's eager checkpoint, with the thread's short call site
    * set to `localCheckpoint at <File>:<line>` of the first stack frame
    * outside the pin helpers (this object and
    * [[graft.operators.Ranking]]) and the JDK and Scala libraries, then
    * restore the previous one: the pin's jobs then name the operator that
    * pinned, not this file. */
  private[graft] def atCaller[T](df: DataFrame)(f: => T): T = {
    val sc = df.sparkSession.sparkContext
    val previous = sc.getLocalProperty(ShortCallSite)
    Thread.currentThread.getStackTrace.iterator
      .find(e => !helpers.exists(e.getClassName.startsWith))
      .foreach(e => sc.setLocalProperty(ShortCallSite,
        s"localCheckpoint at ${e.getFileName}:${e.getLineNumber}"))
    try f finally sc.setLocalProperty(ShortCallSite, previous)
  }

  private val ShortCallSite = "callSite.short"
  private val helpers = Seq("graft.plans.Pins", "graft.operators.Ranking",
    "java.", "jdk.", "scala.")

  implicit class PinnedOps(private val df: DataFrame) extends AnyVal {
    /** `df.localCheckpoint(true)` with origin stats dropped. */
    def pinned: DataFrame = pin(df)
  }

  /** A materialized checkpoint leaf re-stated with the statistics of its
    * known row count (Spark's own per-row size estimate for its schema),
    * so the planner sizes it like a materialized cached frame — a small
    * frame is broadcast into the next join instead of shuffled beside
    * its large side. For loops that count each round's frame anyway. */
  private[graft] def withRowCount(pin: DataFrame, rows: Long): DataFrame =
    pin.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        val stats = Statistics(EstimationUtils.getSizePerRow(lr.output) * rows,
          Some(BigInt(rows)))
        Shims.ofRows(pin.sparkSession, lr.copy()(
          pin.sparkSession.asInstanceOf[classic.SparkSession], Some(stats), None))
      case _ => pin
    }

  /** Drop a pin's checkpoint blocks (non-blocking, no WARN:
    * `Shims.releaseCheckpoint`). Only for a pin that no returned plan
    * reads any more. */
  private[graft] def release(pin: DataFrame): Unit =
    pin.queryExecution.analyzed match {
      case lr: LogicalRDD => Shims.releaseCheckpoint(lr.rdd)
      case _ => ()
    }
}
// Note (round-11 negative result, BASELINE.md): disabling AQE for the
// scope of the iterative pin loops was measured BOTH ways at sf0.1 —
// g_hits min −21% (its round has two independent branches AQE
// serializes), but g_scc 4.8→16.4 s and g_louvain2 19→47 s. With pins
// stats-dropped, AQE's runtime broadcast-join conversion is what keeps
// the loop joins hash-broadcast; statically planned they fall back to
// 32-partition sort-merge joins. AQE stays ON everywhere.
