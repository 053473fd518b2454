package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils

/** Accessor shim for `private[sql]` Column↔Expression conversion in
  * Spark 4 (the public constructor went away with the sql-api split).
  * Lives in a nested package of org.apache.spark.sql so the qualifier
  * admits it; the one sanctioned hole between the engine's package and
  * Spark internals. */
object Shims {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap an analyzed [[LogicalPlan]] back into a DataFrame —
    * `Dataset.ofRows` went `private[sql]` with the classic/connect split. */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Drain the async listener bus (`private[spark]`) — lets tests make
    * exact "this launched N Spark jobs" assertions without sleeps. */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Drop a locally checkpointed RDD's blocks (non-blocking) the way
    * Spark's `ContextCleaner` drops an unreachable RDD's, through
    * `SparkContext.unpersistRDD` (`private[spark]`). `RDD.unpersist`
    * would also log a WARN that the RDD's lineage is truncated, true of
    * every local checkpoint and noise for one nothing reads any more.
    * Only for an RDD no plan or job reads again. */
  def releaseCheckpoint(rdd: org.apache.spark.rdd.RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)

  /** Strip the origin statistics a `localCheckpoint` carries over from
    * its source plan (`LogicalRDD.fromDataset` preserves them). In an
    * iterative algorithm each round's joins MULTIPLY the carried
    * sizeInBytes products (`SizeInBytesOnlyStatsPlanVisitor.visitJoin`),
    * so the BigInt stats of round N are a product of products — by round
    * 6 of louvain level-2 the driver was spending MINUTES per job inside
    * `BigInteger.multiplyToomCook3` on million-digit "statistics"
    * (round-8 jstack profile, BASELINE.md). Dropping originStats resets
    * the frame to `defaultSizeInBytes`: constant-size stats per round,
    * no auto-broadcast surprises (the default is conservatively huge),
    * AQE still sizes the real exchanges at runtime. */
  def dropCheckpointStats(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    ds.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        classic.Dataset.ofRows(ds.sparkSession,
          lr.copy()(ds.sparkSession, None, None))
      case _ => df
    }
  }

  // ---- cache-pin plumbing for graft.operators.Ranking's rule mode ------
  // CachedRDDBuilder is `private[sql]`; it crosses into graft code erased
  // to AnyRef so only this file names the internal type.

  /** The builder the CacheManager registered for a persisted `df`, if any
    * (the SAME builder instance every InMemoryRelation copy shares). */
  def cacheBuilderOf(df: DataFrame): Option[AnyRef] = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    ds.sparkSession.sharedState.cacheManager.lookupCachedData(ds)
      .map(_.cachedRepresentation.cacheBuilder)
  }

  /** Cache builders of every InMemoryRelation in a completed query's
    * optimized plan (where GlobalRankRewrite splices its pinned frame). */
  def inMemoryCacheBuilders(
      qe: org.apache.spark.sql.execution.QueryExecution): Seq[AnyRef] =
    qe.optimizedPlan.collect {
      case i: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
        i.cacheBuilder
    }

  /** Drop a builder's materialized column-buffer RDD (non-blocking, and a
    * no-op when nothing is materialized). The CacheManager entry is left
    * alone on purpose: a later re-execution of the same plan simply
    * re-materializes through the same builder — and is swept again. */
  def clearBuilderCache(b: AnyRef): Unit = {
    val builder =
      b.asInstanceOf[org.apache.spark.sql.execution.columnar.CachedRDDBuilder]
    if (builder.isCachedColumnBuffersLoaded) builder.clearCache(false)
  }
}
