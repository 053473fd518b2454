package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{BiQueriesWarehouse, StreamingWarehouse, Warehouse}

/** The warehouse-load DAG as a stream: staged paper files → foreachBatch →
  * star schema, equal to the batch-at-once load; plus the _SUCCESS replay
  * guard of ParquetUpsertTable. */
class StreamingWarehouseSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._


  private val b1 = Fixtures.staged(Seq(
    ("s1", "physics", 2020, "journal-article", "PRL", "APS", 9,
      Seq(("Ada", "A", "MIT", "female", "A Ada")))))
  private val b2 = Fixtures.staged(Seq(
    ("s2", "physics", 2021, "journal-article", "PRL", "APS", 4,
      Seq(("Ada", "A", "MIT", "female", "A Ada"))),
    ("s3", "mathematics", 2019, "preprint", "arXiv", "arXiv", 0,
      Seq(("Bob", "B", null, "male", "B Bob")))))

  test("streamed loads equal the batch-at-once warehouse") {
    val src = Files.createTempDirectory("wh-src").toString
    val selectCols = StreamingWarehouse.stagedSchema.fieldNames.map(col)
    b1.select(selectCols: _*).coalesce(1).write.mode("append").parquet(src)
    b2.select(selectCols: _*).coalesce(1).write.mode("append").parquet(src)

    val streamed = StreamingWarehouse.run(spark, src,
      Files.createTempDirectory("wh-ck").toString,
      Files.createTempDirectory("wh-state").toString)

    assert(streamed.fact.count() == 3)
    // Ada has papers 9+4 cites -> h=2; incremental update across batches
    val ada = streamed.dimAuthor.filter(col("full_name") === "A Ada").head
    assert(ada.getAs[Int]("h_index") == 2)
    // surrogate keys: three authors'/dims coherent with a single-shot load
    val oneShot = Warehouse.loadBatch(spark, Warehouse.emptyState(spark),
      b1.unionByName(b2))
    assert(streamed.fact.select("arxiv_ID").collect().map(_.getString(0)).sorted
      .sameElements(oneShot.fact.select("arxiv_ID").collect().map(_.getString(0)).sorted))
    assert(streamed.dimVenue.count() == oneShot.dimVenue.count())
    // BI query runs against the streamed warehouse
    val ranked = BiQueriesWarehouse.q5(streamed).collect()
    assert(ranked.length == 3 && ranked.map(_.getInt(0)).min == 1)
  }

  test("graft-api connector -> warehouse equals batch load across a restart") {
    // the r9-#4 composition on the SECOND pipeline: papers land as JSON
    // through the connector's landing journal, the warehouse consumes
    // them exactly-once across a mid-stream restart.
    val landed = Files.createTempDirectory("wh-api").toString
    val ck = Files.createTempDirectory("wh-api-ck").toString
    val stateDir = Files.createTempDirectory("wh-api-state").toString
    val selectCols = StreamingWarehouse.stagedSchema.fieldNames.map(col)
    var seq = 0
    def land(batch: DataFrame): Unit =
      batch.select(to_json(struct(selectCols: _*)).as("j"))
        .collect().map(_.getString(0)).foreach { payload =>
          Files.writeString(Paths.get(landed, f"$seq%06d.json"), payload)
          seq += 1
        }
    land(b1)
    StreamingWarehouse.runFromConnector(spark, landed, ck, stateDir)
    // mid-stream restart: second wave, SAME checkpoint — the landing
    // offset must resume past wave 1 (loadBatch idempotence would mask a
    // re-read, so also assert the fact count trajectory)
    land(b2)
    val streamed = StreamingWarehouse.runFromConnector(spark, landed, ck, stateDir)
    assert(streamed.fact.count() == 3)
    val oneShot = Warehouse.loadBatch(spark, Warehouse.emptyState(spark),
      b1.unionByName(b2))
    assert(streamed.fact.select("arxiv_ID").collect().map(_.getString(0)).sorted
      .sameElements(oneShot.fact.select("arxiv_ID").collect().map(_.getString(0)).sorted))
    val ada = streamed.dimAuthor.filter(col("full_name") === "A Ada").head
    assert(ada.getAs[Int]("h_index") == 2)
  }

  test("restart recovers persisted state instead of starting empty") {
    val src = Files.createTempDirectory("wh-src2").toString
    val stateDir = Files.createTempDirectory("wh-state2").toString
    val selectCols = StreamingWarehouse.stagedSchema.fieldNames.map(col)
    b1.select(selectCols: _*).coalesce(1).write.mode("append").parquet(src)
    StreamingWarehouse.run(spark, src,
      Files.createTempDirectory("wh-ckA").toString, stateDir)
    // recovery reads the committed version back
    val recovered = StreamingWarehouse.loadLatestState(spark, stateDir)
    assert(recovered.isDefined && recovered.get.fact.count() == 1)

    // second run: new file, FRESH checkpoint (worst case — batch 0 replays
    // too); recovery + loadBatch idempotence must preserve s1 and add s2/s3
    b2.select(selectCols: _*).coalesce(1).write.mode("append").parquet(src)
    val after = StreamingWarehouse.run(spark, src,
      Files.createTempDirectory("wh-ckB").toString, stateDir)
    assert(after.fact.count() == 3)
    assert(after.fact.select("arxiv_ID").collect().map(_.getString(0)).sorted
      .sameElements(Array("s1", "s2", "s3")))
    // pruning keeps at most 2 version dirs
    val versions = new java.io.File(stateDir).listFiles()
      .filter(_.getName.startsWith("v"))
    assert(versions.length <= 2)
  }

  test("recovery skips a version that crashed before the commit marker") {
    val src = Files.createTempDirectory("wh-src3").toString
    val stateDir = Files.createTempDirectory("wh-state3").toString
    val selectCols = StreamingWarehouse.stagedSchema.fieldNames.map(col)
    b1.select(selectCols: _*).coalesce(1).write.mode("append").parquet(src)
    StreamingWarehouse.run(spark, src,
      Files.createTempDirectory("wh-ckC").toString, stateDir)
    val committed = StreamingWarehouse.loadLatestState(spark, stateDir).get

    // simulate a crash mid-persist of the NEXT version: fact table fully
    // written (its own _SUCCESS exists) but the bridges never landed and
    // the version-level commit marker was not reached
    val crashed = Paths.get(stateDir, "v999")
    committed.fact.write.parquet(crashed.resolve("paper_fact").toString)
    assert(Files.exists(crashed.resolve("paper_fact").resolve("_SUCCESS")))

    val recovered = StreamingWarehouse.loadLatestState(spark, stateDir)
    assert(recovered.isDefined)
    // v999 (no marker) must be skipped — bridge reads would throw
    assert(recovered.get.bridgeAuthor.count() >= 0L)
  }

  test("key high-water marks are carried, correct, and skip the dim scan") {
    val s1 = Warehouse.loadBatch(spark, Warehouse.emptyState(spark), b1)
    // carried maxes must equal what a from-scratch bootstrap would compute
    assert(s1.keyMaxes.isDefined)
    assert(s1.keyMaxes.get == Warehouse.keyMaxesOf(s1))
    // the bootstrap path (recovered state, keyMaxes = None) pays Spark
    // jobs to learn the maxes; the carried path resolves them from the
    // driver-side map — zero jobs, by construction (loadBatch only calls
    // keyMaxesOf inside getOrElse). Comparing full loadBatch job counts
    // is NOT a valid assertion: AQE + cache warmth legitimately shift
    // totals between otherwise-identical calls.
    val jBootstrap = obs.QueryProfile.during(spark) { Warehouse.keyMaxesOf(s1); () }.jobs
    assert(jBootstrap >= 1, "bootstrap should cost at least one job")
    val jCarried = obs.QueryProfile.during(spark) {
      s1.keyMaxes.getOrElse(Warehouse.keyMaxesOf(s1)); ()
    }.jobs
    assert(jCarried == 0, s"carried-maxes resolution ran $jCarried job(s)")
    // replaying an already-loaded batch mints nothing: maxes unchanged
    val replay = Warehouse.loadBatch(spark, s1, b1)
    assert(replay.keyMaxes == s1.keyMaxes)
    // and a genuinely new batch advances them
    val s2 = Warehouse.loadBatch(spark, s1, b2)
    assert(s2.keyMaxes.get("author") == s1.keyMaxes.get("author") + 1) // Bob
    assert(s2.keyMaxes.get == Warehouse.keyMaxesOf(s2))
  }

  test("recovery reads the key high-water marks from the commit marker") {
    val src = Files.createTempDirectory("wh-src-km").toString
    val stateDir = Files.createTempDirectory("wh-state-km").toString
    val selectCols = StreamingWarehouse.stagedSchema.fieldNames.map(col)
    b1.select(selectCols: _*).coalesce(1).write.mode("append").parquet(src)
    val s1 = StreamingWarehouse.run(spark, src,
      Files.createTempDirectory("wh-ck-km").toString, stateDir)
    assert(StreamingWarehouse.loadLatestState(spark, stateDir).get.keyMaxes ==
      Some(Warehouse.keyMaxesOf(s1)))
    // an empty marker (an older build's) carries no marks: the recovered
    // state bootstraps them, and the next commit still mints in sequence
    val marker = new java.io.File(stateDir).listFiles()
      .filter(_.getName.startsWith("v")).map(_.toPath.resolve("_GRAFT_COMMITTED"))
      .filter(Files.exists(_)).maxBy(_.getParent.getFileName.toString.drop(1).toLong)
    Files.writeString(marker, "")
    assert(StreamingWarehouse.loadLatestState(spark, stateDir).get.keyMaxes.isEmpty)
    b2.select(selectCols: _*).coalesce(1).write.mode("append").parquet(src)
    val s2 = StreamingWarehouse.run(spark, src,
      Files.createTempDirectory("wh-ck-km2").toString, stateDir)
    assert(s2.keyMaxes.contains(Warehouse.keyMaxesOf(s2)))
    assert(StreamingWarehouse.loadLatestState(spark, stateDir).get.keyMaxes ==
      s2.keyMaxes)
  }

  test("a batch with duplicate ids does not overshoot the group mark") {
    // group keys are a dense rank over id: duplicate ids share one key, so
    // the carried advance must count DISTINCT ids (ADVICE r6) — the old
    // row count broke keyMaxes == keyMaxesOf(state) exactly here
    val dup = Fixtures.staged(Seq(
      ("d1", "physics", 2020, "journal-article", "PRL", "APS", 3,
        Seq(("Ada", "A", "MIT", "female", "A Ada"))),
      ("d1", "physics", 2020, "journal-article", "PRL", "APS", 3,
        Seq(("Ada", "A", "MIT", "female", "A Ada")))))
    val s = Warehouse.loadBatch(spark, Warehouse.emptyState(spark), dup)
    assert(s.keyMaxes.get == Warehouse.keyMaxesOf(s))
    assert(s.keyMaxes.get("group") == 1L)
  }

  test("micro-batches sweep their checkpoint blocks (no accumulation)") {
    // ADVICE r6 (medium): each batch's key-minting ranks eagerly
    // localCheckpoint boundary frames the catalog never tracks; the
    // post-commit sweep must release them, or a long stream accumulates
    // one block set per micro-batch (the Bench-documented degradation)
    val src = Files.createTempDirectory("wh-src-sw").toString
    val selectCols = StreamingWarehouse.stagedSchema.fieldNames.map(col)
    b1.select(selectCols: _*).coalesce(1).write.mode("append").parquet(src)
    b2.select(selectCols: _*).coalesce(1).write.mode("append").parquet(src)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    StreamingWarehouse.run(spark, src,
      Files.createTempDirectory("wh-ck-sw").toString,
      Files.createTempDirectory("wh-state-sw").toString)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"stream left persisted RDDs behind: $leaked")
  }

  test("a commit leaves caches the caller owns in place") {
    // the commit releases only what its own batch persisted; a frame the
    // caller cached before the stream must still be cached afterwards
    val src = Files.createTempDirectory("wh-src-own").toString
    val selectCols = StreamingWarehouse.stagedSchema.fieldNames.map(col)
    b1.select(selectCols: _*).coalesce(1).write.mode("append").parquet(src)
    val mine = spark.range(100).toDF("x").cache()
    assert(mine.count() == 100L)
    try {
      StreamingWarehouse.run(spark, src,
        Files.createTempDirectory("wh-ck-own").toString,
        Files.createTempDirectory("wh-state-own").toString)
      assert(mine.storageLevel.useMemory,
        "the commit dropped a cache the caller owns")
    } finally { mine.unpersist(); () }
  }

  test("ParquetUpsertTable redoes a crashed partial write (no _SUCCESS)") {
    val dir = Files.createTempDirectory("upsert").toString
    val t = new graft.streaming.ParquetUpsertTable(spark, dir, "k", Seq("v"))
    def upsert(rows: Seq[(Long, Long)], id: Long) =
      t.upsert(rows.toDF("k", "v"), id,
        (o, n) => Seq(coalesce(o("v"), lit(0L)) + n("v")))
    // simulate a crashed partial write of batch 0: dir exists, no _SUCCESS
    Files.createDirectories(Paths.get(dir, "v0"))
    Files.writeString(Paths.get(dir, "v0", "part-garbage"), "partial")
    upsert(Seq(1L -> 10L), 0)
    assert(t.current.get.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      == Seq((1L, 10L)))
    // a genuine replay (committed v0 now has _SUCCESS) is a no-op
    upsert(Seq(1L -> 999L), 0)
    assert(t.current.get.head.getLong(1) == 10L)
  }
}
