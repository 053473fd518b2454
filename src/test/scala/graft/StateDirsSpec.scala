package graft

import java.io.File
import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.fs.RawLocalFileSystem
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{AcidBucketTable, StreamingWarehouse, Warehouse}
import graft.sources.{ApiInputPartition, ApiMicroBatchStream, LandedFileTransport}
import graft.streaming.{EventStream, ParquetUpsertTable, StreamingSketches, StreamingTextPipeline}

/** The local disk under a scheme of its own: a Hadoop `FileSystem` that
  * `java.io.File` cannot resolve, so state I/O that bypasses the
  * `FileSystem` API fails on it. */
class SchemeLocalFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create(s"${SchemeLocalFileSystem.Scheme}:///")
  override def getScheme: String = SchemeLocalFileSystem.Scheme
}

object SchemeLocalFileSystem {
  val Scheme = "graftfs"
}

/** The streaming sinks' state-directory protocol (`graft.streaming.StateDirs`):
  * every sink keeps its state through the Hadoop `FileSystem` of the state
  * dir — a run with the state dir on a non-`file:` scheme answers exactly
  * like the same run on a local path — and a committer that writes no
  * `_SUCCESS` markers fails a run instead of hiding its state. */
class StateDirsSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  /** `body` with the session's Hadoop conf set at `key`, restored after. */
  private def withHadoopConf[T](key: String, value: String)(body: => T): T = {
    val hc = spark.sparkContext.hadoopConfiguration
    val saved = hc.get(key)
    hc.set(key, value)
    try body finally { if (saved == null) hc.unset(key) else hc.set(key, saved) }
  }

  /** `run(stateDir)` once on a local state dir and once on a state dir
    * under the test scheme; checkpoints, sources and outputs stay local.
    * Each run returns its results collected, so nothing reads the scheme
    * after its registration is undone. */
  private def localAndScheme[T](prefix: String)(run: String => T): (T, T) = {
    val local = run(tmp(prefix))
    val onScheme = withHadoopConf(s"fs.${SchemeLocalFileSystem.Scheme}.impl",
        classOf[SchemeLocalFileSystem].getName) {
      run(s"${SchemeLocalFileSystem.Scheme}://${tmp(prefix)}")
    }
    (local, onScheme)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** The file names under `dir` (a local path or one under the test
    * scheme), relative to it, sorted. */
  private def layout(dir: String): Seq[String] = {
    val root = new File(new URI(if (dir.contains("://")) dir else s"file://$dir").getPath)
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(root).map(f => root.toPath.relativize(f.toPath).toString).sorted
  }

  /** [[layout]] without what differs between two equal runs: checksum
    * side files (the test scheme has no checksum layer) and the
    * per-write ids in part-file names. */
  private def shape(dir: String): Seq[String] =
    layout(dir).filterNot(_.endsWith(".crc"))
      .map(_.replaceAll("part-[^/]*$", "part-*")).distinct

  private val b1 = Fixtures.staged(Seq(
    ("s1", "physics", 2020, "journal-article", "PRL", "APS", 9,
      Seq(("Ada", "A", "MIT", "female", "A Ada")))))
  private val b2 = Fixtures.staged(Seq(
    ("s2", "physics", 2021, "journal-article", "PRL", "APS", 4,
      Seq(("Ada", "A", "MIT", "female", "A Ada"))),
    ("s3", "mathematics", 2019, "preprint", "arXiv", "arXiv", 0,
      Seq(("Bob", "B", null, "male", "B Bob")))))
  private val b3 = Fixtures.staged(Seq(
    ("s4", "biology", 2022, "journal-article", "Cell", "CP", 2,
      Seq(("Bob", "B", null, "male", "B Bob"), ("Cy", "C", "ETH", "female", "C Cy")))))

  test("warehouse run and recovery on a non-local scheme equal the local run") {
    val src = tmp("sd-wh-src")
    val selectCols = StreamingWarehouse.stagedSchema.fieldNames.map(col)
    Seq(b1, b2, b3).foreach(
      _.select(selectCols: _*).coalesce(1).write.mode("append").parquet(src))
    def tables(s: Warehouse.State) = Seq(s.dimYear, s.dimDomain, s.dimType,
      s.dimVenue, s.dimAuthor, s.dimAffiliation, s.fact, s.bridgeAuthor,
      s.bridgeAffiliation).map(rows) :+ s.keyMaxes.toString
    val (local, onScheme) = localAndScheme("sd-wh-state") { state =>
      val run = tables(StreamingWarehouse.run(spark, src, tmp("sd-wh-ck"), state))
      val recovered = tables(StreamingWarehouse.loadLatestState(spark, state).get)
      (run, recovered, shape(state), layout(state))
    }
    assert(local._1 == local._2, "recovery must read back what the run committed")
    assert(onScheme._1 == local._1 && onScheme._2 == local._2 &&
      onScheme._3 == local._3)
    // three batches, two committed versions kept; the commit marker is
    // written past the checksum layer, so it has no .crc side file
    val versionDirs = local._3.map(_.takeWhile(_ != '/')).filter(_.matches("v\\d+")).toSet
    assert(versionDirs == Set("v1", "v2"))
    assert(local._4.contains("v2/_GRAFT_COMMITTED"))
    assert(!local._4.exists(_.endsWith("_GRAFT_COMMITTED.crc")))
  }

  test("bucket table merge, time travel and vacuum on a non-local scheme equal the local run") {
    val (local, onScheme) = localAndScheme("sd-acid") { dir =>
      val t = new AcidBucketTable(spark, dir, Seq("k"), nBuckets = 4)
      t.merge(Seq(("a", 1), ("b", 2), ("c", 3), ("d", 4)).toDF("k", "v"), 0L)
      t.merge(Seq(("a", 10), ("e", 5)).toDF("k", "v"), 1L)
      t.merge(Seq(("a", 100)).toDF("k", "v"), 2L)
      t.merge(Seq(("a", 999)).toDF("k", "v"), 2L) // a replay: no-op
      t.vacuum(keep = 2)
      (rows(t.read().get), rows(t.read(asOf = Some(1L)).get), t.commits(),
        shape(dir))
    }
    assert(local._1.contains("[a,100]") && local._2.contains("[a,10]"))
    assert(onScheme == local)
  }

  test("sketch stream, compaction and estimates on a non-local scheme equal the local run") {
    val src = tmp("sd-sk-src")
    def obs(seed: Int, n: Int) =
      (1 to n).map(i => ("g" + (i % 2), ((i * seed) % 97).toLong)).toDF("grp", "key")
    Seq(obs(7, 300), obs(11, 400), obs(13, 350))
      .foreach(_.coalesce(1).write.mode("append").parquet(src))
    val (local, onScheme) = localAndScheme("sd-sk-state") { state =>
      StreamingSketches.run(spark, src, tmp("sd-sk-ck"), state)
      StreamingSketches.compact(spark, state, 1)
      (rows(StreamingSketches.hllEstimateNow(spark, state)),
        rows(StreamingSketches.mgHeavyHittersNow(spark, state)),
        layout(state).filter(_.startsWith("hll/")).map(_.split('/')(1)).distinct)
    }
    assert(local._1.nonEmpty && local._3.contains("compact_upto=1"))
    assert(onScheme == local)
  }

  test("text pipeline on a non-local scheme equals the local run") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001").filter(col("doc_id") < 120)
    val src = tmp("sd-stp-src")
    (0 until 2).foreach { i =>
      docs.filter(col("doc_id") % 2 === i).coalesce(1).write.mode("append").parquet(src)
    }
    val (local, onScheme) = localAndScheme("sd-stp-state") { state =>
      val out = tmp("sd-stp-out")
      StreamingTextPipeline.run(spark, src, tmp("sd-stp-ck"), state, out)
      rows(spark.read.parquet(out))
    }
    assert(local.nonEmpty && onScheme == local)
  }

  test("streaming near-dup and its horizon sweep on a non-local scheme equal the local run") {
    val text = "the quick brown fox jumps over the lazy dog while autumn light " +
      "settles across the river valley and every bird flies south " * 2
    val src = tmp("sd-nd-src")
    Seq(Seq((1L, "2024-01-01 00:00:00", text)),
        Seq((2L, "2024-01-01 01:00:00", text + " edit")),
        Seq((3L, "2024-01-02 12:00:00", "unrelated words long after " * 8)))
      .foreach(_.toDF("event_id", "ts_s", "props")
        .select(col("event_id"), col("ts_s").cast("timestamp").as("ts"),
          lit(0L).as("user_id"), lit("doc").as("event_type"),
          lit(0.0).as("value"), col("props"))
        .coalesce(1).write.mode("append").parquet(src))
    val (local, onScheme) = localAndScheme("sd-nd-state") { state =>
      val out = tmp("sd-nd-out")
      EventStream.runStreamingNearDup(spark, src, tmp("sd-nd-ck"), state, out)
      (rows(spark.read.parquet(out)), layout(state).map(_.takeWhile(_ != '/')).distinct)
    }
    // (doc_a, doc_b, batch_id): the out dir is read partitioned by batch
    assert(local._1 == Seq("[1,2,1]"), "the cross-batch near-dup is flagged")
    assert(local._2 == Seq("batch_id=2"), "dirs behind the horizon are swept")
    assert(onScheme == local)
  }

  test("upsert table on a non-local scheme equals the local run") {
    val (local, onScheme) = localAndScheme("sd-up") { dir =>
      val t = new ParquetUpsertTable(spark, dir, "k", Seq("v"))
      def upsert(rs: Seq[(Long, Long)], id: Long) =
        t.upsert(rs.toDF("k", "v"), id, (o, n) => Seq(coalesce(o("v"), lit(0L)) + n("v")))
      upsert(Seq(1L -> 10L, 2L -> 5L), 0)
      upsert(Seq(1L -> 1L), 1)
      upsert(Seq(1L -> 1000L), 1) // a replay: no-op
      (t.currentVersion, rows(t.current.get))
    }
    assert(local == (Some("v1"), Seq("[1,11]", "[2,5]")))
    assert(onScheme == local)
  }

  test("the graft-api stream lists a landing dir on a non-local scheme") {
    val dir = tmp("sd-api")
    Seq("w002", "w001", "w003").foreach(i =>
      Files.writeString(java.nio.file.Paths.get(dir, s"$i.json"), "{}"))
    Files.writeString(java.nio.file.Paths.get(dir, "notes.txt"), "")
    val got = withHadoopConf(s"fs.${SchemeLocalFileSystem.Scheme}.impl",
        classOf[SchemeLocalFileSystem].getName) {
      val s = new ApiMicroBatchStream(
        Map("dir" -> s"${SchemeLocalFileSystem.Scheme}://$dir"), 2, 50,
        classOf[LandedFileTransport].getName)
      val end = s.latestOffset()
      (end.json(), s.planInputPartitions(s.initialOffset(), end).toSeq
        .flatMap(_.asInstanceOf[ApiInputPartition].ids))
    }
    assert(got == (("3", Seq("w001", "w002", "w003"))))
  }

  test("a committer that writes no _SUCCESS fails the text pipeline instead of hiding its state") {
    // readers select prior batches by _SUCCESS: without the markers the
    // second batch would silently see no prior state and miss every
    // cross-batch near-duplicate
    val docs = Tables.documents(spark, "/root/testdata/sf0.001").filter(col("doc_id") < 60)
    val src = tmp("sd-ms-src")
    (0 until 2).foreach { i =>
      docs.filter(col("doc_id") % 2 === i).coalesce(1).write.mode("append").parquet(src)
    }
    val e = withHadoopConf("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false") {
      intercept[Exception] {
        StreamingTextPipeline.run(spark, src, tmp("sd-ms-ck"), tmp("sd-ms-state"),
          tmp("sd-ms-out"))
      }
    }
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(c => c.isInstanceOf[IllegalStateException] &&
      c.getMessage.contains("_SUCCESS")), s"unexpected failure: $e")
  }
}
