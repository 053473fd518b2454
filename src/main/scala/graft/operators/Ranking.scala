package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shims

import graft.plans.Pins

/** Scale-safe global ranking (SURVEY §7 risk 2).
  *
  * `DENSE_RANK() OVER (ORDER BY v)` with no PARTITION BY — the reference's
  * own BI idiom (dags/sql/queries.sql:43-45) — moves EVERY row into one
  * window partition. That is fine when the ranked input is an aggregate
  * whose cardinality is a dimension's (q01–q14), but ranking a full fact
  * table single-threads the whole dataset at 100 TB.
  *
  * [[globalDenseRank]] is the two-pass rewrite: dense rank depends only on
  * the DISTINCT values of the ordering column, so
  *  1. distinct values are range-partitioned and ranked LOCALLY per
  *     partition (row_number within spark_partition_id);
  *  2. per-partition counts — one row per range partition, not data —
  *     turn into running offsets via a triangular self-join (no
  *     unpartitioned window anywhere, so nothing ever sits in a single
  *     partition);
  *  3. value→rank maps back onto the fact rows with a plain join that AQE
  *     broadcasts while the distinct-value set is small.
  * Output is bit-identical to the single-partition window; only the
  * physical plan changes. Range boundaries come from sampling, but ranks
  * are boundary-independent, so the result is deterministic. The range
  * partition count is the session's `spark.sql.shuffle.partitions`.
  */
object Ranking {

  /** Every temporary column name the two-pass rewrite introduces (plus the
    * `_v_` prefix for renamed value columns). [[graft.plans.GlobalRankRewrite]]
    * gates on this set so a user column can never collide with a rewrite
    * temporary — keep it in sync with the `withColumn`/`as` calls below. */
  private[graft] val tempNames: Set[String] =
    Set("_pid", "_lr", "_n", "_q", "_qn", "_off", "_vn", "_prior")

  /** Pin pass 1's range partitioning so both consumers (counts and
    * valueRank) see identical boundaries — RangePartitioner samples
    * nondeterministically ordered shuffle output, so two independently
    * executed exchanges could split values differently and corrupt ranks.
    *
    * Two modes, chosen by the caller's context:
    *  - DEFAULT (`jobFreePlanning = false`): eager `localCheckpoint` — one
    *    small job at construction time, and the plan is TRUNCATED to a
    *    `LogicalRDD` leaf. Truncation is load-bearing beyond lineage
    *    hygiene: Spark's `SparkPlanInfo.fromSparkPlan` (run per SQL
    *    listener event, including every AQE stage update) re-serializes an
    *    `InMemoryTableScanExec`'s ENTIRE cachedPlan at each occurrence, so
    *    a lazily-persisted rank spliced several times into a larger plan
    *    (the Warehouse load reads its one key-minting rank from every
    *    minted dim, the group keys, the fact and both bridges)
    *    re-expands multiplicatively — measured as minutes of
    *    listener-side `nodeName` regex work per micro-batch when round 6
    *    briefly made this path lazy (then one rank per minted dim).
    *  - `jobFreePlanning = true`: lazy `persist()` — NOTHING runs at
    *    construction, which is the contract [[graft.plans.GlobalRankRewrite]]
    *    needs (an optimizer rule must not launch jobs from inside
    *    `explain()`/re-planning). Both consumers share the one
    *    InMemoryRelation, so boundary consistency holds without the eager
    *    job; the rule's spliced child is a user query plan, not a nested
    *    pipeline, so the cachedPlan re-serialization stays bounded. */
  private def pin(df: DataFrame, jobFreePlanning: Boolean): DataFrame =
    if (jobFreePlanning) {
      val p = df.persist()
      RankPins.register(p)
      p
    } else Pins.atCaller(df)(df.localCheckpoint(true))

  /** Global dense rank of `df` by `valueCol` (descending by default),
    * appended as `rankName`. `valueCol` must be non-null. */
  def globalDenseRank(df: DataFrame, valueCol: String, rankName: String,
      ascending: Boolean = false): DataFrame =
    globalDenseRankCols(df, Seq(valueCol), rankName, ascending)

  /** Multi-column form; ranks the distinct `valueCols` combinations.
    * When the combinations are UNIQUE per row (e.g. natural keys being
    * minted surrogate ids), dense rank ≡ row_number ≡ rank — so this is
    * also the scale-safe global `row_number` for key-minting. NULL values
    * rank like SQL's DENSE_RANK (default null ordering); the rank joins
    * back null-safely so null-valued rows are never dropped. */
  def globalDenseRankCols(df: DataFrame, valueCols: Seq[String], rankName: String,
      ascending: Boolean = false, jobFreePlanning: Boolean = false): DataFrame =
    joinBack(df, denseRankedValues(df, valueCols, rankName, ascending,
      jobFreePlanning), valueCols, rankName)

  /** The ranked distinct value set of [[globalDenseRankCols]]: one row
    * per distinct `valueCols` combination of `df`, that combination plus
    * its dense rank `rankName`. An input already distinct on `valueCols`
    * takes its ranks from here, without the join back onto itself. */
  private[graft] def denseRankedValues(df: DataFrame, valueCols: Seq[String],
      rankName: String, ascending: Boolean,
      jobFreePlanning: Boolean = false): DataFrame = {
    def sortCols = valueCols.map(c => if (ascending) col(c).asc else col(c).desc)
    // Pass 1: local dense rank per range partition. _pid is materialized
    // BEFORE the window's exchange; AQE may coalesce range partitions but
    // coalesced partitions stay contiguous ranges, so "all values in a
    // lower _pid sort strictly earlier" still holds. The [[pin]] keeps ONE
    // set of range-partition boundaries for both consumers below (counts
    // and valueRank) — see its scaladoc for the two modes. The pinned
    // frame is the distinct value set — small.
    val local = pin(df.select(valueCols.map(col): _*).distinct()
      .repartitionByRange(parts(df), sortCols: _*)
      .withColumn("_pid", spark_partition_id())
      .withColumn("_lr",
        row_number().over(Window.partitionBy(col("_pid")).orderBy(sortCols: _*))),
      jobFreePlanning)
    // Pass 2: rank offset per partition = distinct values in earlier
    // partitions. Triangular join over one single-row group per partition
    // — O(partitions²) tiny rows, fully parallel, no global window.
    val counts = local.groupBy(col("_pid")).agg(count(lit(1)).as("_n"))
    val offsets = counts.select(col("_pid"), col("_n"))
      .join(counts.select(col("_pid").as("_q"), col("_n").as("_qn")),
        col("_q") < col("_pid"), "left")
      .groupBy(col("_pid"))
      .agg(coalesce(sum(col("_qn")), lit(0L)).as("_off"))
    local.join(offsets, "_pid")
      .select(valueCols.map(col) :+
        (col("_lr") + col("_off")).cast("int").as(rankName): _*)
  }

  /** Scale-safe global RANK() (gap semantics): rank = 1 + number of ROWS
    * ordered strictly before. Same two-pass shape as
    * [[globalDenseRankCols]], but pass 1 carries each distinct value's ROW
    * COUNT: the within-partition prior is a running sum of counts, and the
    * partition offset is the total row count of earlier partitions. */
  def globalRankCols(df: DataFrame, valueCols: Seq[String], rankName: String,
      ascending: Boolean = false, jobFreePlanning: Boolean = false): DataFrame = {
    def sortCols = valueCols.map(c => if (ascending) col(c).asc else col(c).desc)
    val local = pin(df.groupBy(valueCols.map(col): _*)
      .agg(count(lit(1)).as("_vn"))
      .repartitionByRange(parts(df), sortCols: _*)
      .withColumn("_pid", spark_partition_id())
      .withColumn("_prior", coalesce(
        sum(col("_vn")).over(Window.partitionBy(col("_pid"))
          .orderBy(sortCols: _*)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L))),
      jobFreePlanning) // pin ONE range partitioning (see pin's scaladoc)
    val counts = local.groupBy(col("_pid")).agg(sum(col("_vn")).as("_n"))
    val offsets = counts.select(col("_pid"), col("_n"))
      .join(counts.select(col("_pid").as("_q"), col("_n").as("_qn")),
        col("_q") < col("_pid"), "left")
      .groupBy(col("_pid"))
      .agg(coalesce(sum(col("_qn")), lit(0L)).as("_off"))
    val valueRank = local.join(offsets, "_pid")
      .select(valueCols.map(col) :+
        (col("_prior") + col("_off") + lit(1L)).cast("int").as(rankName): _*)
    joinBack(df, valueRank, valueCols, rankName)
  }

  private def parts(df: DataFrame): Int =
    df.sparkSession.sessionState.conf.numShufflePartitions

  /** Null-safe value→rank join-back preserving the input's column order.
    * Value columns are renamed on the rank side: the null-safe join
    * condition then needs no self-join disambiguation, and `<=>` keeps
    * rows whose rank value is NULL (SQL DENSE_RANK ranks them; a
    * USING-join drops). */
  private def joinBack(df: DataFrame, valueRank: DataFrame,
      valueCols: Seq[String], rankName: String): DataFrame =
    df.join(valueRank.select(valueCols.map(c => col(c).as(s"_v_$c")) :+
          col(rankName): _*),
        valueCols.map(c => col(c) <=> col(s"_v_$c")).reduce(_ && _))
      .select((df.columns.map(col) :+ col(rankName)): _*)
}

/** Storage hygiene for rule-mode boundary frames (VERDICT r6 "what's
  * wrong" #2): each SQL-text rank query planned through
  * [[graft.plans.GlobalRankRewrite]] lazily `persist()`s its
  * distinct-value frame, and nothing ever unpersisted it — a long session
  * issuing many SQL-text rank queries accumulated one materialized
  * InMemoryRelation per query until `clearCache`.
  *
  * The registry is keyed by the frame's `CachedRDDBuilder` (the one
  * instance every copy of its InMemoryRelation shares) with WEAK identity
  * keys: an entry lives exactly as long as the CacheManager holds the
  * cache entry, so `spark.catalog.clearCache()` also evaporates the
  * registry. [[graft.plans.RankPinRelease]] — attached per session by
  * `GraftExtensions.register` — sweeps after every completed query: any
  * registered builder appearing in the completed plan has its
  * column-buffer RDD dropped (storage only — the CacheManager entry
  * stays, so a held DataFrame re-executed later just re-materializes
  * through the same builder and is swept again on ITS completion).
  * Clearing never breaks the boundary-pinning contract: both rank
  * consumers sit inside one query, sharing one builder within each
  * execution; a sweep between executions only forces a re-materialization
  * whose boundaries may differ — and ranks are boundary-independent. */
private[graft] object RankPins {
  // guava MapMaker: weak keys compare by identity — exactly the builder
  // lifetime semantics above (java.util.WeakHashMap would use the case
  // class's deep structural equality)
  private val pins: java.util.concurrent.ConcurrentMap[AnyRef, AnyRef] =
    new com.google.common.collect.MapMaker().weakKeys()
      .makeMap[AnyRef, AnyRef]()

  private[graft] def register(df: DataFrame): Unit =
    Shims.cacheBuilderOf(df).foreach(b => pins.put(b, java.lang.Boolean.TRUE))

  /** Drop storage for every registered builder among `builders` (the
    * completed query's in-memory relations). */
  private[graft] def release(builders: Seq[AnyRef]): Unit =
    builders.foreach { b =>
      if (pins.containsKey(b)) Shims.clearBuilderCache(b)
    }
}
