package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, from_json}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** SURVEY §3.2 / §7 step 9 — the reference's warehouse-load DAG as one
  * Structured Streaming pipeline: staged paper batches arrive as files,
  * each micro-batch flows through [[Warehouse.loadBatch]] (dims upserted,
  * fact/bridges appended idempotently, metrics incrementally refreshed
  * for touched authors), and the resulting state persists as parquet
  * between batches.
  *
  * The warehouse itself is the stream's state — no state store needed
  * (SURVEY T5); `loadBatch`'s anti-joins make a replayed batch a no-op,
  * which is the exactly-once story under checkpoint retries.
  */
object StreamingWarehouse {

  /** Schema of staged (cleaned+enriched) paper batches (FIXTURES §A2). */
  val stagedSchema: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("subject", StringType),
    StructField("published-year", IntegerType),
    StructField("type", StringType),
    StructField("container-title", StringType),
    StructField("publisher", StringType),
    StructField("is-referenced-by-count", IntegerType),
    StructField("doi", StringType),
    StructField("title", StringType),
    StructField("latest_version", StringType),
    StructField("authors_merged", ArrayType(StructType(Seq(
      StructField("family", StringType),
      StructField("given", StringType),
      StructField("affiliation", StringType),
      StructField("gender", StringType),
      StructField("full_name", StringType)))))))

  /** Run the staged-file stream to completion (AvailableNow), folding
    * every micro-batch into the warehouse state. Returns the final state.
    * State is carried on the driver as DataFrame plans and checkpointed
    * to parquet per batch so lineage never grows unboundedly. */
  def run(spark: SparkSession, srcDir: String, checkpointDir: String,
      stateDir: String): Warehouse.State = {
    // recover the newest committed state version — a restart resumes from
    // it while the checkpoint skips already-committed batches; without
    // this, previously loaded warehouse contents would silently vanish
    @volatile var state = loadLatestState(spark, stateDir)
      .getOrElse(Warehouse.emptyState(spark))
    val stream = spark.readStream.schema(stagedSchema)
      .option("maxFilesPerTrigger", 1) // the reference's 50-papers-per-pull cadence analog
      .parquet(srcDir)
    val q = stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        state = commitBatch(spark, stateDir, state, batch)
        ()
      }
      .start()
    q.awaitTermination()
    state
  }

  /** The connector → warehouse composition (the VERDICT r9 #4 pattern
    * applied to the SECOND pipeline): staged papers arrive as JSON
    * payloads through the `graft-api` micro-batch source — the
    * reference's scheduled API pull feeding `pop_DWH` as ONE streaming
    * query — parse against [[stagedSchema]], and flow through the same
    * [[commitBatch]] protocol. The landing-journal offset plus
    * `loadBatch`'s anti-join idempotence give exactly-once across
    * restarts; unservable ids (null payload) dead-letter to
    * `stateDir/dead/` keyed by batch id — the same idempotent-overwrite
    * pattern as the text-pipeline twin — so ingestion loss on the
    * warehouse path stays auditable (ADVICE r10). */
  def runFromConnector(spark: SparkSession, landedDir: String,
      checkpointDir: String, stateDir: String,
      numPartitions: Int = 4): Warehouse.State = {
    @volatile var state = loadLatestState(spark, stateDir)
      .getOrElse(Warehouse.emptyState(spark))
    val stream = spark.readStream.format("graft-api")
      .option("dir", landedDir)
      .option("numPartitions", numPartitions.toString)
      .load()
    val q = stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (apiBatch: DataFrame, batchId: Long) =>
        apiBatch.filter(col("payload").isNull).select(col("id"))
          .write.mode("overwrite")
          .parquet(s"$stateDir/dead/batch_id=$batchId")
        val staged = apiBatch.filter(col("payload").isNotNull)
          .select(from_json(col("payload"), stagedSchema).as("p"))
          .select(col("p.*"))
        state = commitBatch(spark, stateDir, state, staged)
        ()
      }
      .start()
    q.awaitTermination()
    state
  }

  /** One micro-batch's commit (shared by [[run]] and
    * [[runFromConnector]]). */
  private def commitBatch(spark: SparkSession, stateDir: String,
      state: Warehouse.State, batch: DataFrame): Warehouse.State = {
    // version = max existing + 1, NOT batchId: after a restart with a
    // fresh checkpoint, batch ids restart at 0 and writing v0 would
    // overwrite the directory the recovered state is lazily reading
    // (a self-overwrite that fails mid-scan)
    val next = nextVersion(stateDir)
    // RDDs persisted before this batch (a recovered state's, a user's
    // own) are out of scope for the post-commit sweep below
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val committed = persistState(
      Warehouse.loadBatch(spark, state, batch), s"$stateDir/v$next")
    pruneOldVersions(stateDir, keep = 2)
    // release the batch's localCheckpoint blocks (loadBatch's pins and
    // the key-minting ranks' eager boundary pins): the catalog never
    // knew them, and without this they accumulate one set per
    // micro-batch until the JVM happens to GC the superseded State
    // plans — the GC-timing-dependent 3-4x degradation BASELINE.md
    // documents for Bench, whose between-runs sweep this mirrors.
    // Safe even though unpersisting a localCheckpoint is irreversible
    // (lineage is truncated): the committed state re-reads parquet,
    // so no surviving plan references these blocks. The sweep is scoped
    // to RDDs this batch created — caches the caller owns stay.
    val sc = spark.sparkContext
    sc.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!persistedBefore.contains(id)) { rdd.unpersist(false); () }
    }
    committed
  }

  /** Bucket-granular variant of [[run]] (VERDICT r7 #3, reference
    * `dags/pop_DWH.py:296–302`): `dim_author` — the Type-1 touched-author
    * table, the one that grows with the corpus and changes by a sliver
    * per batch — persists through an [[AcidBucketTable]] MERGE of ONLY
    * the batch's touched-author delta ([[Warehouse.State.touchedAuthors]]);
    * the other eight tables keep the versioned-snapshot path.
    *
    * Crash consistency across the two commit protocols: the author MERGE
    * commits under the SAME version number the state dir will use, and
    * BEFORE it; recovery reads the author table AS-OF the newest
    * fully-committed state version, so an author commit whose paired
    * state commit never landed is invisible — and a replay of that batch
    * (same recovered base state, same data ⇒ same delta keys) supersedes
    * its buckets verbatim. */
  def runBucketed(spark: SparkSession, srcDir: String, checkpointDir: String,
      stateDir: String, nBuckets: Int = 16): Warehouse.State = {
    val authors = authorTable(spark, stateDir, nBuckets)
    @volatile var state = loadLatestStateBucketed(spark, stateDir, nBuckets)
      .getOrElse(Warehouse.emptyState(spark))
    val stream = spark.readStream.schema(stagedSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir)
    val q = stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        state = commitBatchBucketed(spark, stateDir, authors, state, batch)
        ()
      }
      .start()
    q.awaitTermination()
    state
  }

  /** The connector → BUCKETED warehouse composition (VERDICT r10 #5 —
    * the last reference semantics not yet driven from the `graft-api`
    * stream): staged papers arrive as JSON payloads through the
    * micro-batch connector exactly as in [[runFromConnector]], but the
    * touched-author table — the incremental h/g/Euclidean metric MERGE
    * of `dags/pop_DWH.py:272–302` — commits through the
    * [[AcidBucketTable]] bucket-granular protocol of [[runBucketed]].
    * Same exactly-once story: landing-journal offsets + anti-join
    * idempotence + the author MERGE committing under the state version
    * (a replayed batch supersedes its buckets verbatim). Unservable ids
    * dead-letter to `stateDir/dead/` keyed by batch id. */
  def runBucketedFromConnector(spark: SparkSession, landedDir: String,
      checkpointDir: String, stateDir: String, nBuckets: Int = 16,
      numPartitions: Int = 4): Warehouse.State = {
    val authors = authorTable(spark, stateDir, nBuckets)
    @volatile var state = loadLatestStateBucketed(spark, stateDir, nBuckets)
      .getOrElse(Warehouse.emptyState(spark))
    val stream = spark.readStream.format("graft-api")
      .option("dir", landedDir)
      .option("numPartitions", numPartitions.toString)
      .load()
    val q = stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (apiBatch: DataFrame, batchId: Long) =>
        apiBatch.filter(col("payload").isNull).select(col("id"))
          .write.mode("overwrite")
          .parquet(s"$stateDir/dead/batch_id=$batchId")
        val staged = apiBatch.filter(col("payload").isNotNull)
          .select(from_json(col("payload"), stagedSchema).as("p"))
          .select(col("p.*"))
        state = commitBatchBucketed(spark, stateDir, authors, state, staged)
        ()
      }
      .start()
    q.awaitTermination()
    state
  }

  /** One micro-batch's bucketed commit (shared by [[runBucketed]] and
    * [[runBucketedFromConnector]]) — [[commitBatch]] with the author
    * table going through the MERGE path. */
  private def commitBatchBucketed(spark: SparkSession, stateDir: String,
      authors: AcidBucketTable, state: Warehouse.State,
      batch: DataFrame): Warehouse.State = {
    val next = nextVersion(stateDir)
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val committed = persistStateBucketed(
      Warehouse.loadBatch(spark, state, batch), s"$stateDir/v$next",
      next, authors)
    pruneOldVersions(stateDir, keep = 2)
    authors.vacuum(keep = 2)
    val sc = spark.sparkContext
    sc.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!persistedBefore.contains(id)) { rdd.unpersist(false); () }
    }
    committed
  }

  /** The bucketed `dim_author` MERGE table (keyed by `full_name`). */
  def authorTable(spark: SparkSession, stateDir: String,
      nBuckets: Int = 16): AcidBucketTable =
    new AcidBucketTable(spark, s"$stateDir/dim_author_acid",
      Seq("full_name"), nBuckets)

  /** [[loadLatestState]] twin for [[runBucketed]] layouts: eight tables
    * from the newest committed version dir, `dim_author` from the bucket
    * table AS-OF that version. */
  def loadLatestStateBucketed(spark: SparkSession, stateDir: String,
      nBuckets: Int = 16): Option[Warehouse.State] = {
    val base = new java.io.File(stateDir)
    val versions = Option(base.listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory && d.getName.startsWith("v") &&
        new java.io.File(d, CommitMarker).exists())
      .flatMap(d => d.getName.drop(1).toLongOption.map(_ -> d))
      .sortBy(_._1)
    versions.lastOption.map { case (v, d) =>
      def rd(name: String) = spark.read.parquet(s"${d.getPath}/$name")
      val authors = authorTable(spark, stateDir, nBuckets)
        .read(asOf = Some(v))
        .getOrElse(sys.error(
          s"runBucketed state v$v committed but no author commit <= $v"))
      Warehouse.State(rd("dim_year"), rd("dim_domain"), rd("dim_type"),
        rd("dim_venue"), authors, rd("dim_affiliation"),
        rd("paper_fact"), rd("bridge_author_group"),
        rd("bridge_affiliation_group"))
    }
  }

  /** [[persistState]] twin for [[runBucketed]]: MERGE the touched-author
    * delta into the bucket table (same version, FIRST), snapshot the
    * other eight tables, commit marker last. */
  def persistStateBucketed(s: Warehouse.State, dir: String, version: Long,
      authors: AcidBucketTable): Warehouse.State = {
    val delta = s.touchedAuthors match {
      case Some(t) => s.dimAuthor.join(t, Seq("full_name"), "left_semi")
      case None => s.dimAuthor // unknown scope (bootstrap): full table
    }
    authors.merge(delta, version)
    def roundTrip(df: DataFrame, name: String): DataFrame = {
      df.write.mode("overwrite").parquet(s"$dir/$name")
      df.sparkSession.read.parquet(s"$dir/$name")
    }
    val out = Warehouse.State(
      dimYear = roundTrip(s.dimYear, "dim_year"),
      dimDomain = roundTrip(s.dimDomain, "dim_domain"),
      dimType = roundTrip(s.dimType, "dim_type"),
      dimVenue = roundTrip(s.dimVenue, "dim_venue"),
      dimAuthor = authors.read(asOf = Some(version)).get,
      dimAffiliation = roundTrip(s.dimAffiliation, "dim_affiliation"),
      fact = roundTrip(s.fact, "paper_fact"),
      bridgeAuthor = roundTrip(s.bridgeAuthor, "bridge_author_group"),
      bridgeAffiliation = roundTrip(s.bridgeAffiliation, "bridge_affiliation_group"),
      keyMaxes = s.keyMaxes)
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(dir, CommitMarker))
    out
  }

  private def nextVersion(stateDir: String): Long = {
    val base = new java.io.File(stateDir)
    val ids = Option(base.listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory && d.getName.startsWith("v"))
      .flatMap(_.getName.drop(1).toLongOption)
    if (ids.isEmpty) 0L else ids.max + 1
  }

  /** Name of the version-level commit marker: written LAST by
    * [[persistState]], after all nine tables — `paper_fact/_SUCCESS`
    * alone would accept a version whose bridge tables (written after the
    * fact) are missing when a crash lands in that window. */
  private val CommitMarker = "_GRAFT_COMMITTED"

  /** Newest state version that fully committed (all tables written). */
  def loadLatestState(spark: SparkSession, stateDir: String): Option[Warehouse.State] = {
    val base = new java.io.File(stateDir)
    val versions = Option(base.listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory && d.getName.startsWith("v") &&
        new java.io.File(d, CommitMarker).exists())
      .flatMap(d => d.getName.drop(1).toLongOption.map(_ -> d))
      .sortBy(_._1)
    versions.lastOption.map { case (_, d) =>
      def rd(name: String) = spark.read.parquet(s"${d.getPath}/$name")
      Warehouse.State(rd("dim_year"), rd("dim_domain"), rd("dim_type"),
        rd("dim_venue"), rd("dim_author"), rd("dim_affiliation"),
        rd("paper_fact"), rd("bridge_author_group"), rd("bridge_affiliation_group"))
    }
  }

  /** Drop all but the newest `keep` committed versions — per-batch full
    * rewrites are the plain-parquet Type-1 reality (an ACID table format
    * MERGEs instead); without pruning the directory grows one complete
    * warehouse copy per batch. */
  private def pruneOldVersions(stateDir: String, keep: Int): Unit = {
    val base = new java.io.File(stateDir)
    val versions = Option(base.listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory && d.getName.startsWith("v"))
      .flatMap(d => d.getName.drop(1).toLongOption.map(_ -> d))
      .sortBy(_._1)
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete(); ()
    }
    // Only COMMITTED versions count toward `keep`: crashed partial dirs must
    // not displace the recovery copies (two crashes would otherwise leave a
    // single committed snapshot plus junk). Uncommitted dirs older than the
    // newest committed version are dead — no recovery selects them — so they
    // are removed unconditionally; a newer uncommitted dir may be a write in
    // flight and is left alone.
    val (committed, uncommitted) =
      versions.partition { case (_, d) => new java.io.File(d, CommitMarker).exists() }
    committed.dropRight(keep).foreach { case (_, d) => rm(d) }
    val newestCommitted = committed.lastOption.map(_._1).getOrElse(Long.MinValue)
    uncommitted.filter(_._1 < newestCommitted).foreach { case (_, d) => rm(d) }
  }

  /** Write every state table as parquet and reload — truncates lineage
    * (the incremental fold would otherwise stack one plan per batch) and
    * is the durable hand-off a restart recovers from. */
  def persistState(s: Warehouse.State, dir: String): Warehouse.State = {
    def roundTrip(df: DataFrame, name: String): DataFrame = {
      df.write.mode("overwrite").parquet(s"$dir/$name")
      df.sparkSession.read.parquet(s"$dir/$name")
    }
    val out = Warehouse.State(
      dimYear = roundTrip(s.dimYear, "dim_year"),
      dimDomain = roundTrip(s.dimDomain, "dim_domain"),
      dimType = roundTrip(s.dimType, "dim_type"),
      dimVenue = roundTrip(s.dimVenue, "dim_venue"),
      dimAuthor = roundTrip(s.dimAuthor, "dim_author"),
      dimAffiliation = roundTrip(s.dimAffiliation, "dim_affiliation"),
      fact = roundTrip(s.fact, "paper_fact"),
      bridgeAuthor = roundTrip(s.bridgeAuthor, "bridge_author_group"),
      bridgeAffiliation = roundTrip(s.bridgeAffiliation, "bridge_affiliation_group"),
      // the high-water marks survive the round trip driver-side; only a
      // state recovered from disk ([[loadLatestState]]) re-bootstraps them
      keyMaxes = s.keyMaxes)
    // commit marker LAST: recovery only selects versions that reached here
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(dir, CommitMarker))
    out
  }
}
