package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.StateDirs

/** Bucket-granular copy-on-write MERGE on plain parquet — the
  * COVERAGE.md §2.9 Delta/Iceberg mapping implemented with public Spark
  * API only (VERDICT r7 #3; reference `dags/pop_DWH.py:296–302`, the
  * Type-1 touched-author update). The three properties an ACID MERGE
  * buys at 100 TB, each re-derived here:
  *
  *  - **File pruning**: rows hash into `nBuckets` buckets; a MERGE
  *    rewrites ONLY the buckets its update keys land in. A batch
  *    touching 0.1% of authors rewrites ~min(nBuckets, |touched|)
  *    buckets, not the table — `dim_author`'s full snapshot per batch
  *    of the versioned warehouse state is gone (the other eight state
  *    tables are still snapshotted whole).
  *  - **Atomic commit + snapshot isolation**: data files land under
  *    `v=<version>/_b=<bucket>/`, then a commit record (the buckets that
  *    version wrote) is renamed into `_commits/` whole. Readers
  *    resolve each bucket to its newest COMMITTED version — a crash
  *    mid-write leaves an orphan data dir that no reader ever sees.
  *  - **Idempotent replay + time travel**: re-merging an
  *    already-committed version is a no-op (the streaming-retry
  *    contract), and `read(asOf)` reconstructs any past committed
  *    snapshot — which is what lets a caller pair this table's commits
  *    with its own commit marker crash-consistently (recover to version
  *    N ⇒ read this table as-of N).
  *
  * Layout: `dir/v=<version>/_b=<bucket>/part-*.parquet`,
  * `dir/_commits/v<version>` (text: comma-separated bucket ids).
  */
class AcidBucketTable(spark: SparkSession, dir: String,
    keyCols: Seq[String], nBuckets: Int) {
  require(nBuckets > 0, s"AcidBucketTable: nBuckets must be positive")

  private val dirs = StateDirs(spark, dir)

  private val commitsDir = s"$dir/_commits"

  private def bucketOf: Column =
    pmod(hash(keyCols.map(col): _*), lit(nBuckets))

  /** Committed (version, buckets-written) records, version-ascending. */
  def commits(): Seq[(Long, Seq[Int])] =
    dirs.numbered(commitsDir, "v", files = true).map { case (v, p) =>
      val content = dirs.readMarker(p).trim
      (v, if (content.isEmpty) Seq.empty[Int]
          else content.split(",").toSeq.map(_.trim.toInt))
    }

  def latestVersion: Option[Long] = commits().lastOption.map(_._1)

  private def committed(version: Long): Boolean =
    dirs.committed(new Path(commitsDir), s"v$version")

  /** Newest-committed data path per bucket (≤ `asOf` when set),
    * restricted to `only` when set. */
  private def bucketPaths(asOf: Option[Long],
      only: Option[Set[Int]]): Seq[String] = {
    val cs = commits().filter(c => asOf.forall(c._1 <= _))
    val latestPerBucket = cs.foldLeft(Map.empty[Int, Long]) {
      case (acc, (v, buckets)) =>
        acc ++ buckets.filter(b => only.forall(_.contains(b))).map(_ -> v)
    }
    latestPerBucket.toSeq.sortBy(_._1)
      .map { case (b, v) => s"$dir/v=$v/_b=$b" }
  }

  /** Current (or as-of `asOf`) table snapshot; None before any commit. */
  def read(asOf: Option[Long] = None): Option[DataFrame] = {
    val paths = bucketPaths(asOf, only = None)
    if (paths.isEmpty) None else Some(spark.read.parquet(paths: _*))
  }

  /** Type-1 MERGE: rows matching `updates` on `keyCols` are replaced,
    * unmatched update rows insert, rows in untouched buckets are never
    * read or written. No-op if `version` already committed. */
  def merge(updates: DataFrame, version: Long): Unit = {
    if (committed(version)) return
    val touched = updates.select(bucketOf.as("_b")).distinct()
      .collect().map(_.getInt(0)).toSet
    if (touched.isEmpty) { commit(version, touched); return }
    val oldPaths = bucketPaths(asOf = None, only = Some(touched))
    val kept =
      if (oldPaths.isEmpty) None
      else Some(spark.read.parquet(oldPaths: _*)
        .join(updates.select(keyCols.map(col): _*), keyCols, "left_anti"))
    val merged = kept.fold(updates)(_ unionByName updates)
    merged.withColumn("_b", bucketOf)
      .write.partitionBy("_b").mode("overwrite")
      .parquet(s"$dir/v=$version")
    commit(version, touched)
  }

  private def commit(version: Long, buckets: Set[Int]): Unit =
    dirs.writeMarker(new Path(commitsDir, s"v$version"),
      buckets.toSeq.sorted.mkString(","))

  /** Drop data dirs no snapshot ≥ the `keep`-th-newest commit can reach
    * (and orphan dirs of never-committed versions older than the newest
    * commit — a write in flight is newer and left alone). */
  def vacuum(keep: Int = 2): Unit = {
    val cs = commits()
    if (cs.isEmpty) return
    val keepVersions = cs.takeRight(keep).map(_._1)
    val horizon = keepVersions.min
    // buckets reachable from any kept snapshot: for each kept version,
    // each bucket's newest committed version ≤ it
    // NOTE the .toSeq: mapping the Map directly would re-key by version
    // and silently collapse every bucket sharing a version into one entry
    // — vacuum would then delete live files (caught by AcidBucketSpec).
    val reachable: Set[(Long, Int)] = keepVersions.flatMap { v =>
      cs.filter(_._1 <= v).foldLeft(Map.empty[Int, Long]) {
        case (acc, (cv, bs)) => acc ++ bs.map(_ -> cv)
      }.toSeq.map { case (b, cv) => (cv, b) }
    }.toSet
    val committedVs = cs.map(_._1).toSet
    val newestCommit = cs.last._1
    dirs.numbered(dir, "v=").foreach { case (v, vdir) =>
      if (!committedVs.contains(v)) {
        if (v < newestCommit) dirs.rm(vdir) // dead uncommitted orphan
      } else if (v < horizon) {
        val buckets = dirs.numbered(vdir.toString, "_b=")
        val (live, dead) = buckets.partition(b => reachable((v, b._1.toInt)))
        dead.foreach(b => dirs.rm(b._2))
        if (live.isEmpty) dirs.rm(vdir)
      }
    }
  }
}
