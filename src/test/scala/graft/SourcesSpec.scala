package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.connector.catalog.SupportsRead
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{ApiDataSource, ApiInputPartition, LandedFileTransport, Sources}

/** Landed-file transport that records every fetch group's size (static —
  * local-mode executors share the JVM), proving the one-request-per-
  * batch contract at the DSv2 layer. */
class CountingTransport extends LandedFileTransport {
  override def fetch(ids: Seq[String]): Seq[(String, String)] = {
    CountingTransport.groups.add(ids.size)
    super.fetch(ids)
  }
}

object CountingTransport {
  val groups = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
  def reset(): Unit = groups.clear()
}

/** Round-trips for the source/sink surface with declared schemas,
  * including the reference mocks' edge content: quoted publisher with a
  * comma, diacritics, embedded newline (CSV quoting), nulls. */
class SourcesSpec extends AnyFunSuite {
  import TestSpark.spark

  private val schema = StructType(Seq(
    StructField("id", StringType),
    StructField("publisher", StringType),
    StructField("author", StringType),
    StructField("cites", IntegerType)))

  private val rows = Seq(
    Row("p1", "Science and Education Publishing Co., Ltd.", "C. Balázs", 7),
    Row("p2", "Line\nBreak Press", "Alberto Torchinsky", 0),
    Row("p3", null, "Alberto Torchinsky", null))

  private def df = spark.createDataFrame(
    spark.sparkContext.parallelize(rows), schema)

  test("CSV round-trip preserves quoted commas, diacritics, nulls") {
    val dir = Files.createTempDirectory("csv").toString + "/out"
    Sources.writeCsv(df, dir)
    val back = Sources.readCsv(spark, schema, dir)
      .orderBy("id").collect()
    assert(back(0).getString(1) == "Science and Education Publishing Co., Ltd.")
    assert(back(0).getString(2) == "C. Balázs")
    assert(back(2).isNullAt(1) && back(2).isNullAt(3))
  }

  test("JSON round-trip with declared schema (no inference)") {
    val dir = Files.createTempDirectory("json").toString + "/out"
    Sources.writeJson(df, dir)
    val back = Sources.readJson(spark, schema, dir).orderBy("id").collect()
    assert(back.length == 3)
    assert(back(1).getString(1) == "Line\nBreak Press")
    assert(back(0).getInt(3) == 7)
  }

  test("dead-letter sink appends across writes") {
    val dir = Files.createTempDirectory("dl").toString + "/failures"
    Sources.appendDeadLetter(df.limit(1), dir)
    Sources.appendDeadLetter(df.limit(2), dir)
    assert(spark.read.schema(schema).json(dir).count() == 3)
  }

  test("graft-api DataSourceV2: planned partitions, batched fetches, " +
      "null payload for missing ids") {
    val dir = Files.createTempDirectory("api").toString
    (1 to 7).filter(_ != 5).foreach(i =>
      Files.writeString(java.nio.file.Paths.get(dir, s"w$i.json"),
        s"""{"id":"w$i","cites":$i}"""))
    CountingTransport.reset()
    val got = spark.read.format("graft-api")
      .option("dir", dir)
      .option("ids", (1 to 7).map(i => s"w$i").mkString(","))
      .option("numPartitions", "2")
      .option("batchSize", "3")
      .option("transportClass", classOf[CountingTransport].getName)
      .load()
    assert(got.rdd.getNumPartitions == 2)
    val rows = got.collect().map(r => r.getString(0) ->
      Option(r.getString(1))).toMap
    assert(rows.size == 7)
    assert(rows("w5").isEmpty, "missing landed file must yield null payload")
    assert(rows("w3").get.contains("\"cites\":3"))
    // one fetch per <=batchSize group per partition: 4 ids + 3 ids at
    // batch 3 -> groups of 3,1,3
    assert(CountingTransport.groups.asScala.toSeq.sorted == Seq(1, 3, 3))
  }

  test("graft-api micro-batch stream consumes only newly landed files per run") {
    val dir = Files.createTempDirectory("apistream").toString
    def land(ids: Seq[Int]): Unit = ids.foreach(i =>
      Files.writeString(java.nio.file.Paths.get(dir, f"w$i%03d.json"),
        s"""{"id":"w$i"}"""))
    land(1 to 3)
    val out = Files.createTempDirectory("apistream-out").toString
    val ck = Files.createTempDirectory("apistream-ck").toString
    def runOnce(): Unit = {
      val q = spark.readStream.format("graft-api")
        .option("dir", dir).option("numPartitions", "2").load()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    runOnce()
    val first = spark.read.parquet(out).collect().map(_.getString(0)).sorted
    assert(first.toSeq == Seq("w001", "w002", "w003"))
    land(4 to 5)
    runOnce()
    val second = spark.read.parquet(out).collect().map(_.getString(0)).sorted
    // exactly-once: the first three are NOT re-consumed on resume
    assert(second.toSeq == Seq("w001", "w002", "w003", "w004", "w005"))
  }

  test("graft-api AvailableNow run stops at the listing taken when it starts") {
    val dir = Files.createTempDirectory("apinow").toString
    def land(i: Int): Unit = Files.writeString(
      java.nio.file.Paths.get(dir, f"w$i%03d.json"), s"""{"id":"w$i"}""")
    (1 to 3).foreach(land)
    val opts = new CaseInsensitiveStringMap(
      Map("dir" -> dir, "numPartitions" -> "2").asJava)
    val stream = new ApiDataSource().getTable(ApiDataSource.schema,
        Array.empty, opts).asInstanceOf[SupportsRead]
      .newScanBuilder(opts).build()
      .toMicroBatchStream(Files.createTempDirectory("apinow-ck").toString)
    assert(stream.isInstanceOf[SupportsTriggerAvailableNow],
      "without it Spark folds an AvailableNow run into one Trigger.Once batch")
    val s = stream.asInstanceOf[MicroBatchStream with SupportsTriggerAvailableNow]
    s.prepareForTriggerAvailableNow()
    land(4)
    val start = s.initialOffset()
    val end = s.latestOffset(start, s.getDefaultReadLimit)
    assert(end.json() == "3", "a file landed after the run started waits for the next run")
    val planned = s.planInputPartitions(start, end).toSeq
      .flatMap(_.asInstanceOf[ApiInputPartition].ids)
    assert(planned == Seq("w001", "w002", "w003"))
  }

  test("partitioned parquet write prunes partitions on read") {
    val dir = Files.createTempDirectory("pq").toString + "/out"
    Sources.writeParquet(df.na.fill("Unknown", Seq("publisher")),
      dir, partitionBy = Seq("author"))
    val pruned = spark.read.parquet(dir)
      .filter(org.apache.spark.sql.functions.col("author") === "Alberto Torchinsky")
    assert(pruned.count() == 2)
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") || pruned.inputFiles.length <= 2)
  }
}
