package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.functions.TextFns.dsum

/** Streaming / incremental semantics (SURVEY §2.11): the reference's
  * micro-batch DAGs re-expressed as Structured Streaming.
  *
  *  - T1/T2 cadence+batch-size → file source + `Trigger.AvailableNow`
  *    (batch catch-up) or `ProcessingTime` (live); `maxFilesPerTrigger`
  *    is the batch-size analog.
  *  - T3 FileSensor → the source's own discovery; obsolete.
  *  - T4 exactly-once-ish staging truncation → checkpoint + idempotent
  *    `foreachBatch` upsert ([[ParquetUpsertTable]] keyed by batch id).
  *  - T5 incremental per-author metric recompute → `foreachBatch` joins
  *    the batch's touched keys against history and merges Type-1.
  *  - T6 dead-letter failures.json → a validation split writing a side
  *    output per batch.
  */
object EventStream {

  /** Declared schema for streamed event files (µs timestamps — stream
    * inputs are written by this engine, not the driver's nanos files). */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Shared transform — the SAME function serves the batch twin
    * (`st_window_counts`) and the streaming run: tumbling 1-hour windows
    * per event type. Watermark bounds state for late data in live mode. */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
      .select(unix_timestamp(col("w.start")).as("window_start"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Run the windowed aggregation over a directory of event parquet files
    * with AvailableNow, returning the final result (complete mode into a
    * named memory sink). */
  def runWindowedAvailableNow(spark: SparkSession, srcDir: String,
      checkpointDir: String, sinkName: String): DataFrame = {
    val stream = spark.readStream
      .schema(eventSchema)
      .option("maxFilesPerTrigger", 1) // reference's 50-records-per-pull analog
      .parquet(srcDir)
    val q = windowedCounts(stream).writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(sinkName)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(sinkName)
  }

  /** Streaming exact dedup — the streaming twin of
    * [[graft.operators.Dedup.exact]]: drop rows whose content hash was
    * already seen, with dedup state BOUNDED by the event-time watermark
    * (`dropDuplicatesWithinWatermark`) instead of growing forever — the
    * property that makes streaming dedup viable on an unbounded 100 TB
    * feed. Duplicates arriving within the horizon are suppressed;
    * exact-once output per content hash inside any watermark window. */
  def dedupByContent(events: DataFrame, contentCol: String,
      watermark: String = "2 hours"): DataFrame =
    events
      .withColumn("content_hash", md5(col(contentCol)))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("content_hash")

  /** Run [[dedupByContent]] over a directory of event parquet files with
    * AvailableNow into a parquet sink; returns the deduped rows. */
  def runDedupAvailableNow(spark: SparkSession, srcDir: String,
      checkpointDir: String, outDir: String): DataFrame = {
    val stream = spark.readStream
      .schema(eventSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir)
    val q = dedupByContent(stream, "props").writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.parquet(outDir)
  }

  /** Streaming NEAR-dup detection (VERDICT r7 #7) — the incremental twin
    * of [[graft.operators.Dedup.nearDupPairs]]: each batch's MinHash
    * signatures are LSH-banded against the ACCUMULATED signature table,
    * so a near-duplicate (not byte-equal) document arriving in batch N is
    * flagged against documents from earlier batches still inside the
    * watermark horizon.
    *
    * State = the signature table only (`doc_id`, k MinHash longs, `ts`) —
    * narrow rows, never the text, so the per-doc state cost is k·8 bytes
    * regardless of document size. The verdict is therefore the
    * signature-agreement ESTIMATE (matches/k ≥ threshold), the standard
    * streaming trade: exact-Jaccard verification would require retaining
    * raw text for the whole horizon. State is bounded two ways:
    * reads filter to `ts ≥ batchMaxTs − horizon`, and whole per-batch
    * state directories whose `_MAXTS` marker falls behind the horizon are
    * deleted (marker files make the sweep O(#batches), no footer reads).
    *
    * Idempotence: per-batch output and state dirs are overwritten keyed
    * by batch id (a foreachBatch retry replaces, never duplicates), and
    * the current batch's own state dir is excluded from the read so a
    * crashed attempt's leftovers can't pair a batch against itself. */
  def runStreamingNearDup(spark: SparkSession, srcDir: String,
      checkpointDir: String, stateDir: String, outDir: String,
      shingleN: Int = 8, k: Int = 8, threshold: Double = 0.8,
      horizonHours: Long = 2L): Unit = {
    import graft.operators.Dedup
    val minMatches = math.ceil(threshold * k).toInt
    val stream = spark.readStream.schema(eventSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir)
    val q = stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val docs = batch.select(col("event_id").as("doc_id"),
          col("props").as("text"), col("ts"))
        val maxTs = docs.agg(max(col("ts"))).collect()(0).getTimestamp(0)
        if (maxTs != null) {
          val cutoff = java.sql.Timestamp.from(
            maxTs.toInstant.minus(java.time.Duration.ofHours(horizonHours)))
          val batchSig = Dedup.minHashSignatures(docs, col("doc_id"),
              col("text"), shingleN, k)
            .join(docs.select(col("doc_id"), col("ts")), "doc_id")
          val dirs = StateDirs(spark, stateDir)
          val priorDirs = dirs.committedBelow(stateDir, batchId)
          val union =
            if (priorDirs.isEmpty) batchSig
            else batchSig.unionByName(
              spark.read.parquet(priorDirs.map(_.toString): _*)
                .filter(col("ts") >= cutoff))
          val batchIds = docs.select(col("doc_id")).distinct()
          // band the union, keep only pairs touching this batch (old-old
          // pairs were flagged when their younger member arrived)
          val cand = Dedup.lshCandidates(union.drop("ts"), k)
          val fresh = cand
            .join(batchIds.select(col("doc_id").as("doc_a")), Seq("doc_a"),
              "left_semi")
            .unionByName(cand.join(
              batchIds.select(col("doc_id").as("doc_b")), Seq("doc_b"),
              "left_semi").select(col("doc_a"), col("doc_b")))
            .distinct()
          val flagged = Dedup.estimateFilter(fresh, union.drop("ts"), k,
            minMatches)
          flagged.write.mode("overwrite")
            .parquet(s"$outDir/batch_id=$batchId")
          val own = s"$stateDir/batch_id=$batchId"
          dirs.overwrite(batchSig, own)
          dirs.writeMaxTs(own, maxTs.toInstant.toEpochMilli)
          // sweep state dirs wholly behind the horizon (marker-only reads)
          val cutoffMs = cutoff.toInstant.toEpochMilli
          dirs.expired(priorDirs, _ < cutoffMs).foreach(dirs.rm)
        }
        ()
      }
      .start()
    q.awaitTermination()
  }

  /** Dead-letter split (T6): valid rows to `outDir/clean`, rows failing
    * `isValid` appended to `outDir/failures` — per batch, inside
    * foreachBatch, both writes idempotent per batch id. */
  def runWithDeadLetter(spark: SparkSession, srcDir: String,
      checkpointDir: String, outDir: String): Unit = {
    val stream = spark.readStream.schema(eventSchema).parquet(srcDir)
    val q = stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val isValid = col("value").isNotNull && col("value") >= 0 &&
          col("event_type").isNotNull
        // overwrite per batch-id dir: a foreachBatch retry with the same
        // id replaces rather than duplicates (append would double rows)
        batch.filter(isValid).write.mode("overwrite")
          .parquet(s"$outDir/clean/batch_id=$batchId")
        batch.filter(!isValid).write.mode("overwrite")
          .parquet(s"$outDir/failures/batch_id=$batchId")
        ()
      }
      .start()
    q.awaitTermination()
  }

  /** T5 — incremental stateful update: per batch, recompute aggregates
    * only for the users touched by that batch and Type-1 merge them into
    * the running dim table. State is the warehouse itself (no state
    * store), exactly as the reference maintains h/g-index. */
  def runIncrementalUserStats(spark: SparkSession, srcDir: String,
      checkpointDir: String, table: ParquetUpsertTable): Unit = {
    val stream = spark.readStream.schema(eventSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir)
    val q = stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val batchStats = batch.groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
        table.upsert(batchStats, batchId,
          merge = (oldRow, newRow) => Seq(
            coalesce(oldRow("n_events"), lit(0L)) + newRow("n_events"),
            coalesce(oldRow("sum_value"), lit(0.0)) + newRow("sum_value")))
        ()
      }
      .start()
    q.awaitTermination()
  }
}

/** Pure-streaming stateful aggregation (SURVEY T5's alternative path):
  * per-user running totals in the state store via `mapGroupsWithState`,
  * rather than re-reading the warehouse each batch. State is one small
  * case class per key — bounded, partitioned by user, checkpointed. */
object StatefulCounts {
  case class UserAgg(userId: Long, nEvents: Long, sumValue: Double)

  def run(spark: SparkSession, srcDir: String, checkpointDir: String,
      sinkName: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val stream = spark.readStream.schema(EventStream.eventSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir)
    val updated = stream
      .selectExpr("user_id", "value")
      .as[(Long, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Double)], state: GroupState[UserAgg]) =>
          val prev = state.getOption.getOrElse(UserAgg(user, 0L, 0.0))
          val (n, v) = rows.foldLeft((0L, 0.0)) {
            case ((c, s), (_, value)) => (c + 1, s + value)
          }
          val next = UserAgg(user, prev.nEvents + n, prev.sumValue + v)
          state.update(next)
          next
      }
    val q = updated.toDF().writeStream
      .outputMode(OutputMode.Update())
      .format("memory")
      .queryName(sinkName)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // memory sink in update mode appends each update; latest row per user
    // is the final state
    val t = spark.table(sinkName)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("userId"))
      .orderBy(col("nEvents").desc)
    t.withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
  }
}

/** Timeout-driven streaming SESSIONIZATION via `flatMapGroupsWithState`
  * + `EventTimeTimeout` — the one state mechanism the rest of the
  * streaming surface doesn't exercise: sessions must EMIT when the user
  * goes quiet, which no arriving row for that key can trigger. The state
  * store holds one open session per user; a batch's rows either extend
  * it, close it (gap exceeded within the data), or start a new one, and
  * the event-time timeout closes sessions the WATERMARK passes — i.e.
  * emission is driven by global stream progress, exactly the semantics a
  * batch gap-sessionizer (evt_sessionize) cannot express incrementally.
  *
  * Scale: state is one small case class per ACTIVE user, partitioned by
  * user, dropped at timeout — bounded by concurrent users, not history.
  * Output is append-mode closed sessions; still-open sessions are state,
  * not output. */
object StreamingSessions {
  case class OpenSession(start: Long, end: Long, nEvents: Long)
  case class ClosedSession(user_id: Long, session_start_s: Long,
      session_end_s: Long, n_events: Long, duration_s: Long)

  def run(spark: SparkSession, srcDir: String, checkpointDir: String,
      sinkName: String, gapSeconds: Long = 1800L): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val stream = spark.readStream.schema(EventStream.eventSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir)
      .withWatermark("ts", "10 minutes")
      .select(col("user_id"), col("ts"))
      .as[(Long, java.sql.Timestamp)]
    val closed = stream.groupByKey(_._1)
      .flatMapGroupsWithState[OpenSession, ClosedSession](
          OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp)],
            state: GroupState[OpenSession]) =>
          def close(s: OpenSession) = ClosedSession(user, s.start, s.end,
            s.nEvents, s.end - s.start)
          if (state.hasTimedOut) {
            val out = Iterator.single(close(state.get))
            state.remove()
            out
          } else {
            val ts = rows.map(_._2.getTime / 1000L).toArray.sorted
            var out = List.empty[ClosedSession]
            var cur = state.getOption
            ts.foreach { t =>
              cur match {
                case Some(s) if t - s.end <= gapSeconds =>
                  cur = Some(OpenSession(s.start, math.max(s.end, t),
                    s.nEvents + 1))
                case Some(s) =>
                  out ::= close(s)
                  cur = Some(OpenSession(t, t, 1L))
                case None =>
                  cur = Some(OpenSession(t, t, 1L))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // close when the watermark passes last-event + gap; clamp to
              // strictly-after-watermark — flatMapGroupsWithState does NOT
              // auto-drop late rows, and setTimeoutTimestamp throws if the
              // timestamp is not later than the current watermark (a late
              // event could leave end+gap at/below it and kill the query)
              state.setTimeoutTimestamp(
                math.max((s.end + gapSeconds) * 1000L,
                  state.getCurrentWatermarkMs() + 1L))
            }
            out.reverseIterator
          }
      }
    val q = closed.toDF().writeStream
      .outputMode(OutputMode.Append())
      .format("memory")
      .queryName(sinkName)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(sinkName)
  }
}

/** A Type-1-upsert parquet table (SURVEY §2.9 D2–D5 on plain parquet):
  * one directory per batch id, `v<batchId>`, stands in for ACID MERGE
  * (Delta/Iceberg at real scale — same logical flow); the current table
  * is the newest committed one. Re-applying a batch id is a no-op →
  * idempotent under streaming retries. */
class ParquetUpsertTable(spark: SparkSession, dir: String,
    keyCol: String, valueCols: Seq[String]) {

  private val dirs = StateDirs(spark, dir)

  def currentVersion: Option[String] =
    dirs.newestCommitted(dir, "v").map { case (v, _) => s"v$v" }

  def current: Option[DataFrame] =
    currentVersion.map(v => spark.read.parquet(s"$dir/$v"))

  /** Merge `updates` (keyed by `keyCol`) into the table: existing rows not
    * in the batch survive; matched keys are combined via `merge`
    * (old, new) → new value columns; unmatched new keys insert. */
  def upsert(updates: DataFrame, batchId: Long,
      merge: (String => org.apache.spark.sql.Column,
              String => org.apache.spark.sql.Column) =>
             Seq[org.apache.spark.sql.Column]): Unit = {
    val version = s"v$batchId"
    // replay guard keys on the writer's COMMIT marker, not bare directory
    // existence — a crashed partial write leaves the dir without _SUCCESS
    // and must be redone, or the batch would be silently lost
    if (dirs.committed(new Path(dir, version))) return
    val merged = current match {
      case None =>
        updates.select(col(keyCol) +: valueCols.map(col): _*)
      case Some(existing) =>
        val o = existing.select(col(keyCol).as("k") +:
          valueCols.map(c => col(c).as(s"old_$c")): _*)
        val n = updates.select(col(keyCol).as("k") +:
          valueCols.map(c => col(c).as(s"new_$c")): _*)
        val mergedVals = merge(c => col(s"old_$c"), c => col(s"new_$c"))
        o.join(n, Seq("k"), "full_outer")
          .select(col("k").as(keyCol) +:
            valueCols.zip(mergedVals).map { case (c, m) =>
              coalesce(m, col(s"old_$c"), col(s"new_$c")).as(c)
            }: _*)
    }
    dirs.overwrite(merged, s"$dir/$version")
  }
}
