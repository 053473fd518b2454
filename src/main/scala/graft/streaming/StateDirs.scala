package graft.streaming

import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, from_json}
import org.apache.spark.sql.types.StructType

/** The one state-directory protocol every streaming sink keeps its state
  * with, on the Hadoop `FileSystem` of the state dir — so HDFS and
  * object-store state dirs behave like local ones.
  *
  * A sink's state is numbered directories under a base (`batch_id=<N>`,
  * `compact_upto=<N>`, `v<N>`, `v=<N>`). A directory is committed once
  * its marker file exists: `_SUCCESS`, which Spark's output committer
  * writes last, or a marker the sink writes itself after its last table
  * ([[writeMarker]]: written aside and renamed into place whole). Dirs
  * the sinks bound by event time carry a `_MAXTS` mark (epoch ms of their
  * newest row), so a horizon sweep reads markers, never parquet footers.
  */
private[graft] final class StateDirs(fs: FileSystem) {
  import StateDirs._

  /** Markers bypass a `ChecksumFileSystem` (the local one): its `.crc`
    * side file would make a marker edited by hand fail on read. */
  private val raw: FileSystem = fs match {
    case c: ChecksumFileSystem => c.getRawFileSystem
    case other => other
  }

  def committed(dir: Path, marker: String = Success): Boolean =
    fs.exists(new Path(dir, marker))

  /** `(N, path)` of each directory (with `files`, each file) directly
    * under `base` named `<prefix><N>`, N ascending; empty when `base`
    * does not exist. */
  def numbered(base: String, prefix: String,
      files: Boolean = false): Seq[(Long, Path)] = {
    val b = new Path(base)
    if (!fs.exists(b)) Seq.empty
    else fs.listStatus(b).toSeq.filter(_.isDirectory != files).flatMap { s =>
      val name = s.getPath.getName
      if (name.startsWith(prefix)) name.drop(prefix.length).toLongOption
        .map(_ -> s.getPath)
      else None
    }.sortBy(_._1)
  }

  /** The `batch_id=<N>` dirs under `base` with N strictly below `id`. */
  def batchesBelow(base: String, id: Long): Seq[Path] =
    numbered(base, BatchPrefix).collect { case (n, p) if n < id => p }

  /** A batch's prior state: the committed `batch_id=<N>` dirs under
    * `base` with N strictly below `id`. That excludes both a crashed
    * earlier attempt of the same id (a batch must not pair with itself)
    * and dirs a previous run wrote ahead of a fresh checkpoint (a
    * replayed batch must not see state its first run had not seen). */
  def committedBelow(base: String, id: Long): Seq[Path] =
    batchesBelow(base, id).filter(committed(_))

  /** The newest committed `<prefix><N>` dir under `base`. */
  def newestCommitted(base: String, prefix: String,
      marker: String = Success): Option[(Long, Path)] =
    numbered(base, prefix).reverseIterator.find(d => committed(d._2, marker))

  /** Drop all but the newest `keep` committed `<prefix><N>` dirs. Only
    * committed dirs count toward `keep`, so crashed partial dirs never
    * displace a recovery copy; an uncommitted dir older than the newest
    * committed one is dead (no reader selects it) and goes too, while a
    * newer one may be a write in flight and stays. */
  def prune(base: String, prefix: String, marker: String, keep: Int): Unit = {
    val (done, open) = numbered(base, prefix).partition(d => committed(d._2, marker))
    done.dropRight(keep).foreach(d => rm(d._2))
    val newest = done.lastOption.fold(Long.MinValue)(_._1)
    open.filter(_._1 < newest).foreach(d => rm(d._2))
  }

  /** Overwrite `dir` with `df` as parquet, for a dir whose readers select
    * it by `_SUCCESS`. A committer configured to write no markers
    * (`mapreduce.fileoutputcommitter.marksuccessfuljobs=false`, common on
    * object stores) would leave every such dir invisible, silently: the
    * state looks empty and the replay guards never fire. So this fails
    * loudly instead, before the caller cleans anything up. */
  def overwrite(df: DataFrame, dir: String): Unit = {
    df.write.mode("overwrite").parquet(dir)
    if (!committed(new Path(dir)))
      throw new IllegalStateException(
        s"$dir has no $Success marker after the write: the output " +
          "committer is configured without success markers, so readers " +
          "would never see this state. Aborting before any cleanup; set " +
          "mapreduce.fileoutputcommitter.marksuccessfuljobs=true for " +
          "this state dir.")
  }

  /** Write `text` to the marker `file`: to a hidden temp name first, then
    * renamed into place, so a crash never leaves a half-written marker.
    * (Rename is atomic on HDFS and local disks, not on S3.) */
  def writeMarker(file: Path, text: String): Unit = {
    val tmp = new Path(file.getParent, s".${file.getName}.tmp")
    val out = raw.create(tmp, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
    if (!raw.rename(tmp, file))
      throw new IllegalStateException(s"could not rename $tmp onto $file")
  }

  def readMarker(file: Path): String = {
    val in = raw.open(file)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  def writeMaxTs(dir: String, epochMs: Long): Unit =
    writeMarker(new Path(dir, MaxTs), epochMs.toString)

  /** The dirs among `dirs` whose `_MAXTS` mark is behind the horizon
    * (`behind(mark)`); unmarked dirs are never expired. */
  def expired(dirs: Seq[Path], behind: Long => Boolean): Seq[Path] =
    dirs.filter { d =>
      val mark = new Path(d, MaxTs)
      fs.exists(mark) && behind(readMarker(mark).trim.toLong)
    }

  def rm(p: Path): Unit = { fs.delete(p, true); () }
}

private[graft] object StateDirs {
  val Success = "_SUCCESS"
  val BatchPrefix = "batch_id="
  val MaxTs = "_MAXTS"

  def apply(spark: SparkSession, dir: String): StateDirs =
    new StateDirs(new Path(dir).getFileSystem(spark.sessionState.newHadoopConf()))

  /** A `graft-api` connector micro-batch's payloads parsed against
    * `schema`. Ids the transport could not serve (null payload)
    * dead-letter to `stateDir/dead/batch_id=<id>` first, overwritten per
    * batch id so a retry replaces its own dead letters. */
  def parsePayloads(apiBatch: DataFrame, schema: StructType,
      stateDir: String, batchId: Long): DataFrame = {
    apiBatch.filter(col("payload").isNull).select(col("id"))
      .write.mode("overwrite")
      .parquet(s"$stateDir/dead/$BatchPrefix$batchId")
    apiBatch.filter(col("payload").isNotNull)
      .select(from_json(col("payload"), schema).as("p"))
      .select(col("p.*"))
  }
}
