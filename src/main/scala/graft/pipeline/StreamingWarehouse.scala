package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.streaming.StateDirs

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
    * to parquet per batch so lineage never grows unboundedly. A restart
    * resumes from the newest committed state version while the
    * checkpoint skips already-committed batches; without that recovery,
    * previously loaded warehouse contents would silently vanish. */
  def run(spark: SparkSession, srcDir: String, checkpointDir: String,
      stateDir: String): Warehouse.State =
    drive(spark, files(spark, srcDir), checkpointDir, stateDir, None)(
      (batch, _) => batch)

  /** The connector → warehouse composition (the VERDICT r9 #4 pattern
    * applied to the SECOND pipeline): staged papers arrive as JSON
    * payloads through the `graft-api` micro-batch source — the
    * reference's scheduled API pull feeding `pop_DWH` as ONE streaming
    * query — parse against [[stagedSchema]], and flow through the same
    * commit protocol as [[run]]. The landing-journal offset plus
    * `loadBatch`'s anti-join idempotence give exactly-once across
    * restarts; unservable ids (null payload) dead-letter to
    * `stateDir/dead/` keyed by batch id — the same idempotent-overwrite
    * pattern as the text-pipeline twin — so ingestion loss on the
    * warehouse path stays auditable (ADVICE r10). */
  def runFromConnector(spark: SparkSession, landedDir: String,
      checkpointDir: String, stateDir: String,
      numPartitions: Int = 4): Warehouse.State =
    drive(spark, connector(spark, landedDir, numPartitions), checkpointDir,
      stateDir, None)(StateDirs.parsePayloads(_, stagedSchema, stateDir, _))

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
      stateDir: String, nBuckets: Int = 16): Warehouse.State =
    drive(spark, files(spark, srcDir), checkpointDir, stateDir,
      Some(authorTable(spark, stateDir, nBuckets)))((batch, _) => batch)

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
      numPartitions: Int = 4): Warehouse.State =
    drive(spark, connector(spark, landedDir, numPartitions), checkpointDir,
      stateDir, Some(authorTable(spark, stateDir, nBuckets)))(
      StateDirs.parsePayloads(_, stagedSchema, stateDir, _))

  private def files(spark: SparkSession, srcDir: String): DataFrame =
    spark.readStream.schema(stagedSchema)
      .option("maxFilesPerTrigger", 1) // the reference's 50-papers-per-pull cadence analog
      .parquet(srcDir)

  private def connector(spark: SparkSession, landedDir: String,
      numPartitions: Int): DataFrame =
    spark.readStream.format("graft-api")
      .option("dir", landedDir)
      .option("numPartitions", numPartitions.toString)
      .load()

  /** Run `stream` to completion, committing each micro-batch's staged
    * papers (`stage`) onto the state recovered from `stateDir`;
    * `authors` set = the bucketed `dim_author` protocol. */
  private def drive(spark: SparkSession, stream: DataFrame,
      checkpointDir: String, stateDir: String,
      authors: Option[AcidBucketTable])(
      stage: (DataFrame, Long) => DataFrame): Warehouse.State = {
    @volatile var state = recover(spark, stateDir, authors)
      .getOrElse(Warehouse.emptyState(spark))
    val q = stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        state = commit(spark, stateDir, authors, state, stage(batch, batchId))
        ()
      }
      .start()
    q.awaitTermination()
    state
  }

  /** One micro-batch's commit (shared by every stream driver). */
  private def commit(spark: SparkSession, stateDir: String,
      authors: Option[AcidBucketTable], state: Warehouse.State,
      batch: DataFrame): Warehouse.State = {
    // version = max existing + 1, NOT batchId: after a restart with a
    // fresh checkpoint, batch ids restart at 0 and writing v0 would
    // overwrite the directory the recovered state is lazily reading
    // (a self-overwrite that fails mid-scan)
    val dirs = StateDirs(spark, stateDir)
    val next = dirs.numbered(stateDir, "v").lastOption.fold(0L)(_._1 + 1)
    // RDDs persisted before this batch (a recovered state's, a user's
    // own) are out of scope for the post-commit sweep below
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val committed = persist(dirs, Warehouse.loadBatch(spark, state, batch),
      s"$stateDir/v$next", authors.map(_ -> next))
    // per-batch full rewrites are the plain-parquet Type-1 reality (an
    // ACID table format MERGEs instead): without pruning the directory
    // grows one complete warehouse copy per batch
    dirs.prune(stateDir, "v", CommitMarker, keep = 2)
    authors.foreach(_.vacuum(keep = 2))
    // release the batch's localCheckpoint blocks (loadBatch's pins and
    // the key-minting rank's eager boundary pin): the catalog never
    // knew them, and without this they accumulate one set per
    // micro-batch until the JVM happens to GC the superseded State
    // plans — the GC-timing-dependent 3-4x degradation BASELINE.md
    // documents for Bench, whose between-runs sweep this mirrors.
    // Safe even though unpersisting a localCheckpoint is irreversible
    // (lineage is truncated): the committed state re-reads parquet,
    // so no surviving plan references these blocks. The sweep is scoped
    // to RDDs this batch created — caches the caller owns stay.
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!persistedBefore.contains(id)) { rdd.unpersist(false); () }
    }
    committed
  }

  /** The bucketed `dim_author` MERGE table (keyed by `full_name`). */
  def authorTable(spark: SparkSession, stateDir: String,
      nBuckets: Int = 16): AcidBucketTable =
    new AcidBucketTable(spark, s"$stateDir/dim_author_acid",
      Seq("full_name"), nBuckets)

  /** Name of the version-level commit marker: written LAST by
    * [[persist]], after all nine tables — `paper_fact/_SUCCESS`
    * alone would accept a version whose bridge tables (written after the
    * fact) are missing when a crash lands in that window. It holds the
    * state's surrogate-key high-water marks, one `name=value` line each,
    * so a recovery need not rescan the dims and the fact to learn them;
    * an empty marker (committed by an older build) holds none. */
  private val CommitMarker = "_GRAFT_COMMITTED"

  /** Newest state version that fully committed (all tables written). */
  def loadLatestState(spark: SparkSession, stateDir: String): Option[Warehouse.State] =
    recover(spark, stateDir, None)

  /** [[loadLatestState]] for [[runBucketed]] layouts: eight tables from
    * the newest committed version dir, `dim_author` from the bucket table
    * AS-OF that version. */
  def loadLatestStateBucketed(spark: SparkSession, stateDir: String,
      nBuckets: Int = 16): Option[Warehouse.State] =
    recover(spark, stateDir, Some(authorTable(spark, stateDir, nBuckets)))

  private def recover(spark: SparkSession, stateDir: String,
      authors: Option[AcidBucketTable]): Option[Warehouse.State] = {
    val dirs = StateDirs(spark, stateDir)
    dirs.newestCommitted(stateDir, "v", CommitMarker).map { case (v, d) =>
      def rd(name: String) = spark.read.parquet(s"$d/$name")
      val dimAuthor = authors.fold(rd("dim_author"))(_.read(asOf = Some(v))
        .getOrElse(sys.error(
          s"runBucketed state v$v committed but no author commit <= $v")))
      val marks = dirs.readMarker(new Path(d, CommitMarker)).linesIterator
        .map { l =>
          val Array(name, value) = l.split("=", 2)
          name -> value.toLong
        }.toMap
      Warehouse.State(rd("dim_year"), rd("dim_domain"), rd("dim_type"),
        rd("dim_venue"), dimAuthor, rd("dim_affiliation"),
        rd("paper_fact"), rd("bridge_author_group"),
        rd("bridge_affiliation_group"), Option.when(marks.nonEmpty)(marks))
    }
  }

  /** Write every state table as parquet and reload — truncates lineage
    * (the incremental fold would otherwise stack one plan per batch) and
    * is the durable hand-off a restart recovers from. `authorMerge` set =
    * `dim_author` goes through that bucket table's MERGE at that version
    * (FIRST) instead of a snapshot of its own. */
  private def persist(dirs: StateDirs, s: Warehouse.State, dir: String,
      authorMerge: Option[(AcidBucketTable, Long)]): Warehouse.State = {
    authorMerge.foreach { case (authors, version) =>
      authors.merge(s.touchedAuthors match {
        case Some(t) => s.dimAuthor.join(t, Seq("full_name"), "left_semi")
        case None => s.dimAuthor // unknown scope (bootstrap): full table
      }, version)
    }
    def roundTrip(df: DataFrame, name: String): DataFrame = {
      df.write.mode("overwrite").parquet(s"$dir/$name")
      df.sparkSession.read.parquet(s"$dir/$name")
    }
    val out = Warehouse.State(
      dimYear = roundTrip(s.dimYear, "dim_year"),
      dimDomain = roundTrip(s.dimDomain, "dim_domain"),
      dimType = roundTrip(s.dimType, "dim_type"),
      dimVenue = roundTrip(s.dimVenue, "dim_venue"),
      dimAuthor = authorMerge.fold(roundTrip(s.dimAuthor, "dim_author")) {
        case (authors, version) => authors.read(asOf = Some(version)).get
      },
      dimAffiliation = roundTrip(s.dimAffiliation, "dim_affiliation"),
      fact = roundTrip(s.fact, "paper_fact"),
      bridgeAuthor = roundTrip(s.bridgeAuthor, "bridge_author_group"),
      bridgeAffiliation = roundTrip(s.bridgeAffiliation, "bridge_affiliation_group"),
      keyMaxes = s.keyMaxes)
    // commit marker LAST: recovery only selects versions that reached here
    dirs.writeMarker(new Path(dir, CommitMarker), s.keyMaxes.fold("")(
      _.map { case (name, value) => s"$name=$value\n" }.mkString))
    out
  }
}
