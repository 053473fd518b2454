package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Bibliometrics, Ranking}
import graft.plans.Pins.pin

/** The reference's star-schema warehouse load
  * (/root/reference/dags/pop_DWH.py + dags/sql/DWH_tables.sql) as one
  * fold step per batch: dims as Type-1 insert-if-absent upserts with
  * deterministic surrogate keys, fact insert idempotent on arxiv_ID,
  * multi-valued author/affiliation legs via group (bridge) tables, and
  * the incremental h/g-index update scoped to authors touched by the
  * batch (pop_DWH.py:272-302) collapsed from N+1 queries into one
  * groupBy.
  *
  * A batch is not one Spark job: every batch-scale frame [[loadBatch]]
  * derives is an eager pin, and AQE runs each query stage of a pin, of
  * the key-minting ranks and of the nine snapshot writes as a job of its
  * own. One streamed 50-paper commit onto a 5,000-paper warehouse
  * (Spark 4.1.2, local[4], counted from the event log) runs 103 jobs and
  * 5.0 s of summed task time, against 116–126 jobs and 11.5 s when the
  * derived frames were lazily cached and the writes re-derived them.
  *
  * State is a plain case class of DataFrames — callers persist however
  * they like (parquet dirs at test scale; Delta/Iceberg MERGE at 100 TB,
  * same logical flow, SURVEY §7 risk 6).
  */
object Warehouse {

  case class State(
      dimYear: DataFrame,        // (year_key, publication_year)
      dimDomain: DataFrame,      // (domain_key, scientific_domain)
      dimType: DataFrame,        // (type_key, type_name)
      dimVenue: DataFrame,       // (venue_key, pub_venue, publisher)
      dimAuthor: DataFrame,      // (author_key, full_name, gender, h_index, g_index)
      dimAffiliation: DataFrame, // (affiliation_key, affiliation_name)
      fact: DataFrame,           // (arxiv_ID, doi, title, latest_version_nr,
                                 //  citation_count, year_key, domain_key,
                                 //  type_key, venue_key, author_group_key,
                                 //  affiliation_group_key)
      bridgeAuthor: DataFrame,   // (author_group_key, author_key)
      bridgeAffiliation: DataFrame, // (affiliation_group_key, affiliation_key)
      // Surrogate-key high-water marks carried driver-side across batches:
      // with them, a micro-batch never scans the (corpus-scale) dims just
      // to learn max(key) — the per-batch action shrinks to counting the
      // batch's freshly minted natural keys. None = unknown (state
      // recovered from storage) → recomputed ONCE by [[keyMaxesOf]].
      keyMaxes: Option[Map[String, Long]] = None,
      // full_names whose dim_author rows the last loadBatch changed
      // (minted ∪ touched) — the MERGE delta scope a bucket-granular
      // persist needs; None = unknown (full dim is the delta).
      touchedAuthors: Option[DataFrame] = None)

  /** S8 — seed the year dimension 1940–2030 plus the 0 sentinel
    * (DWH_tables.sql:87-88); year_key == publication_year ordinal. */
  def seedYearDim(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val years = (Seq(0) ++ (1940 to 2030)).zipWithIndex
      .map { case (y, i) => (i + 1, y) }
    years.toDF("year_key", "publication_year")
  }

  def emptyState(spark: SparkSession): State = {
    import spark.implicits._
    State(
      dimYear = seedYearDim(spark),
      dimDomain = Seq.empty[(Int, String)].toDF("domain_key", "scientific_domain"),
      dimType = Seq.empty[(Int, String)].toDF("type_key", "type_name"),
      dimVenue = Seq.empty[(Int, String, String)].toDF("venue_key", "pub_venue", "publisher"),
      dimAuthor = Seq.empty[(Int, String, String, Int, Int)]
        .toDF("author_key", "full_name", "gender", "h_index", "g_index"),
      dimAffiliation = Seq.empty[(Int, String)].toDF("affiliation_key", "affiliation_name"),
      fact = Seq.empty[(String, String, String, String, Int, Int, Int, Int, Int, Int, Int)]
        .toDF("arxiv_ID", "doi", "title", "latest_version_nr", "citation_count",
          "year_key", "domain_key", "type_key", "venue_key",
          "author_group_key", "affiliation_group_key"),
      bridgeAuthor = Seq.empty[(Int, Int)].toDF("author_group_key", "author_key"),
      bridgeAffiliation = Seq.empty[(Int, Int)].toDF("affiliation_group_key", "affiliation_key"),
      keyMaxes = Some(keyNames.map(_ -> 0L).toMap))
  }

  /** Dims whose surrogate keys are minted per batch (year is pre-seeded;
    * `group` is the shared author/affiliation group-key sequence). */
  private val keyNames = Seq("domain", "type", "venue", "author",
    "affiliation", "group")

  /** Bootstrap the high-water marks from a recovered state: ONE driver
    * action unioning six single-row max aggregates. Runs once per
    * recovery, never per batch — [[loadBatch]] carries the maxes forward
    * in [[State.keyMaxes]] afterwards. */
  def keyMaxesOf(state: State): Map[String, Long] = Seq(
    ("domain", state.dimDomain, "domain_key"),
    ("type", state.dimType, "type_key"),
    ("venue", state.dimVenue, "venue_key"),
    ("author", state.dimAuthor, "author_key"),
    ("affiliation", state.dimAffiliation, "affiliation_key"),
    ("group", state.fact, "author_group_key"))
    .map { case (n, df, k) =>
      df.agg(coalesce(max(col(k)), lit(0)).cast("long").as("m"))
        .select(lit(n).as("k"), col("m"))
    }
    .reduce(_ unionByName _)
    .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** D2/D3 — generic Type-1 dim upsert: new natural keys get surrogate
    * keys continuing from the current max, minted by a rank over the
    * natural-key order (deterministic; replaces Postgres SERIAL). The
    * rank runs through [[graft.operators.Ranking.globalDenseRankCols]] —
    * `fresh` is distinct on the natural key, so dense rank ≡ row_number,
    * and an initial bulk load minting millions of keys never lands in a
    * single-partition window. */
  def upsertDim(dim: DataFrame, incoming: DataFrame, keyName: String,
      natCols: Seq[String]): DataFrame =
    upsertDimFrom(dim, incoming, keyName, natCols,
      dim.agg(coalesce(max(col(keyName)), lit(0))).head().getInt(0))

  /** The natural keys of `incoming` not yet present in `dim` (the rows a
    * Type-1 upsert mints). [[loadBatch]] pins these so one unioned count
    * both updates the high-water marks AND reuses the materialized
    * anti-join every dim plan reads. */
  def freshNaturalKeys(dim: DataFrame, incoming: DataFrame,
      natCols: Seq[String]): DataFrame =
    incoming.select(natCols.map(col): _*).na.fill("Unknown")
      .distinct()
      .join(dim, natCols, "left_anti")

  /** [[upsertDim]] with the key high-water mark supplied by the caller —
    * [[loadBatch]] carries all maxes in [[State.keyMaxes]] so no per-batch
    * dim scan happens just to learn them. */
  def upsertDimFrom(dim: DataFrame, incoming: DataFrame, keyName: String,
      natCols: Seq[String], maxKey: Long): DataFrame =
    appendMinted(dim, freshNaturalKeys(dim, incoming, natCols), keyName,
      natCols, maxKey)

  /** Union `fresh` natural keys into `dim` with surrogate keys continuing
    * from `maxKey` (two-pass rank — see [[upsertDim]]). The minted rows
    * are pinned, so `dim`'s plan is its own scan ∪ one checkpointed
    * delta. */
  def appendMinted(dim: DataFrame, fresh: DataFrame, keyName: String,
      natCols: Seq[String], maxKey: Long): DataFrame =
    dim.unionByName(pin(mintRows(dim, fresh, keyName, natCols, maxKey)))

  /** `fresh` natural keys as rows of `dim`'s schema: keys `maxKey + rank`
    * over the natural-key order, every other attribute null. The rank's
    * range partitioning follows the session's shuffle parallelism. */
  private def mintRows(dim: DataFrame, fresh: DataFrame, keyName: String,
      natCols: Seq[String], maxKey: Long): DataFrame = {
    val minted = Ranking.globalDenseRankCols(fresh, natCols, "_rn",
        ascending = true, parts = shuffleParts(fresh))
      .withColumn(keyName, (col("_rn") + maxKey).cast("int"))
      .drop("_rn")
    minted.select(dim.columns.toIndexedSeq.map(c =>
      if (!natCols.contains(c) && c != keyName)
        lit(null).cast(dim.schema(c).dataType).as(c)
      else col(c)): _*)
  }

  private def shuffleParts(df: DataFrame): Int =
    df.sparkSession.sessionState.conf.numShufflePartitions

  /** Staged batch schema (post clean+enrich): one row per paper with
    * `authors_merged` array<struct<family,given,affiliation,gender,
    * full_name>>. Loads the batch into the warehouse: all dims upserted,
    * fact + bridges appended idempotently, metrics updated incrementally.
    * A paper id enters the fact once: an id already committed is skipped,
    * and of a batch's rows sharing a new id the one with the greatest
    * `latest_version` is kept, ties broken by the greatest whole row.
    *
    * Every frame a batch derives is batch-scale and pinned
    * ([[graft.plans.Pins.pin]], an eager `localCheckpoint`): the staged
    * batch, its exploded authors, the fresh natural keys, the new papers,
    * the minted dim rows, the group-keyed papers, the new fact and bridge
    * rows, and the touched authors' citation rows (read by both the
    * h-index and the g-index). Each returned state table is therefore
    * the input snapshot ∪ a pinned delta — dim_author additionally joins
    * the pinned h/g update on `author_key` — so persisting the nine
    * tables re-derives nothing, and a materialized pin drops the physical
    * plan (and its broadcast hash relations) it was computed with instead
    * of keeping it reachable for the whole commit. A delta known to be
    * empty (no fresh keys, no new papers) is not built at all.
    *
    * Pins truncate lineage, so a pin whose blocks are lost before the
    * commit's last write (eviction, executor loss) cannot be recomputed:
    * the write fails loudly with Spark's missing-checkpoint-block error,
    * the micro-batch fails, and the stream's idempotent replay re-runs it
    * from the last committed state (ROADMAP item 3(b) tracks a reliable
    * checkpoint mode for clusters with executor churn). The pins live
    * until the caller releases them — [[StreamingWarehouse]] sweeps them
    * after each commit.
    */
  def loadBatch(spark: SparkSession, state: State, batch0: DataFrame): State = {
    val batch = pin(batch0)

    // High-water marks come from the carried driver-side state — a batch
    // never scans the corpus-scale dims just to learn max(key). Only a
    // state recovered from storage (keyMaxes = None) pays the bootstrap
    // action, once.
    val maxes: Map[String, Long] = state.keyMaxes.getOrElse(keyMaxesOf(state))

    val authorsExpl = pin(batch
      .select(explode(col("authors_merged")).as("a"))
      .select(col("a.full_name").as("full_name"),
        col("a.gender").as("gender"),
        coalesce(col("a.affiliation"), lit("Unknown")).as("affiliation_name")))

    // Fresh (to-be-minted) natural keys per dim + the batch's new papers,
    // pinned: ONE driver action counts them all — batch-scale frames, not
    // corpus-scale dims — advancing the high-water marks for the next
    // batch and telling which deltas are empty.
    val freshDomain = pin(freshNaturalKeys(state.dimDomain,
      batch.select(col("subject").as("scientific_domain")),
      Seq("scientific_domain")))
    val freshType = pin(freshNaturalKeys(state.dimType,
      batch.select(col("type").as("type_name")), Seq("type_name")))
    val freshVenue = pin(freshNaturalKeys(state.dimVenue,
      batch.select(col("container-title").as("pub_venue"), col("publisher")),
      Seq("pub_venue", "publisher")))
    val freshAuthor = pin(freshNaturalKeys(state.dimAuthor,
      authorsExpl.select(col("full_name")), Seq("full_name")))
    val freshAffiliation = pin(freshNaturalKeys(state.dimAffiliation,
      authorsExpl.select(col("affiliation_name")), Seq("affiliation_name")))
    // one row per id, like the reference's `ON CONFLICT DO NOTHING` on
    // the fact's key, chosen by the scaladoc's rule — the same row
    // whatever order the batch arrives in
    val rest = batch.columns.filterNot(Set("id", "latest_version"))
    val newPapers = pin(batch.join(state.fact.select(col("arxiv_ID")),
        batch("id") === col("arxiv_ID"), "left_anti")
      .groupBy(col("id"))
      .agg(max(struct(("latest_version" +: rest).toIndexedSeq.map(col): _*)).as("_p"))
      .select(batch.columns.toIndexedSeq.map(c =>
        if (c == "id") col("id") else col("_p").getField(c).as(c)): _*))
    val counts: Map[String, Long] = Seq(
      ("domain", freshDomain, count(lit(1))),
      ("type", freshType, count(lit(1))),
      ("venue", freshVenue, count(lit(1))),
      ("author", freshAuthor, count(lit(1))),
      ("affiliation", freshAffiliation, count(lit(1))),
      // one group key per new paper (newPapers is one row per id)
      ("group", newPapers, count(lit(1))))
      .map { case (n, df, m) =>
        df.agg(m.as("m")).select(lit(n).as("k"), col("m"))
      }
      .reduce(_ unionByName _)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    // --- dims (D2/J1: insert-if-absent, then key lookup by broadcast join)
    def upsert(name: String, dim: DataFrame, fresh: DataFrame,
        keyName: String, natCols: Seq[String]): DataFrame =
      if (counts(name) == 0) dim
      else appendMinted(dim, fresh, keyName, natCols, maxes(name))
    val dimDomain = upsert("domain", state.dimDomain, freshDomain,
      "domain_key", Seq("scientific_domain"))
    val dimType = upsert("type", state.dimType, freshType,
      "type_key", Seq("type_name"))
    val dimVenue = upsert("venue", state.dimVenue, freshVenue,
      "venue_key", Seq("pub_venue", "publisher"))
    val dimAffiliation = upsert("affiliation", state.dimAffiliation,
      freshAffiliation, "affiliation_key", Seq("affiliation_name"))
    // No broadcast hints on batch- or corpus-scaled frames anywhere below:
    // dimAuthor/dimAffiliation/dimVenue grow monotonically with the corpus
    // and genderOf/touched/h/g with the batch — at 100 TB none is
    // guaranteed to fit driver-side. AQE still picks broadcast while a
    // side is actually small; only the bounded dims (year: fixed 92 rows,
    // domain/type: closed vocabularies) keep explicit hints.
    val dimAuthor =
      if (counts("author") == 0) state.dimAuthor
      else {
        // carry gender onto newly minted authors (Type-1: latest wins)
        val genderOf = authorsExpl.groupBy("full_name")
          .agg(max(col("gender")).as("g_new"))
        state.dimAuthor.unionByName(pin(mintRows(state.dimAuthor,
            freshAuthor, "author_key", Seq("full_name"), maxes("author"))
          .join(genderOf, Seq("full_name"), "left")
          .select(col("author_key"), col("full_name"),
            coalesce(col("gender"), col("g_new"), lit("unknown")).as("gender"),
            coalesce(col("h_index"), lit(0)).as("h_index"),
            coalesce(col("g_index"), lit(0)).as("g_index"))))
      }
    val mintedAuthors = freshAuthor.select(col("full_name"))
    val keyMaxes = Some(maxes.map { case (k, v) => k -> (v + counts(k)) })

    if (counts("group") == 0)
      // a replay: only dims can change (a replayed paper may carry a new
      // author or affiliation); fact, bridges and metrics stand
      return State(state.dimYear, dimDomain, dimType, dimVenue, dimAuthor,
        dimAffiliation, state.fact, state.bridgeAuthor,
        state.bridgeAffiliation, keyMaxes, Some(mintedAuthors))

    // --- fact (D4: idempotent on arxiv_ID) with group keys (D3) via the
    // same two-pass rank as the dims (id is unique per paper) — a bulk
    // initial load would otherwise rank every new paper in one window
    // partition
    val withGroups = pin(Ranking.globalDenseRankCols(newPapers, Seq("id"),
        "_rn", ascending = true, parts = shuffleParts(newPapers))
      .withColumn("author_group_key", (col("_rn") + maxes("group")).cast("int"))
      .drop("_rn"))

    val fact = state.fact.unionByName(pin(withGroups
      .withColumnRenamed("publisher", "b_publisher") // avoid dimVenue clash
      .join(broadcast(state.dimYear),
        coalesce(col("published-year"), lit(0)) === col("publication_year"), "left")
      .join(broadcast(dimDomain),
        coalesce(col("subject"), lit("Unknown")) === col("scientific_domain"), "left")
      .join(broadcast(dimType),
        coalesce(col("type"), lit("Unknown")) === col("type_name"), "left")
      .join(dimVenue,
        coalesce(col("container-title"), lit("Unknown")) === col("pub_venue") &&
          coalesce(col("b_publisher"), lit("Unknown")) === col("publisher"), "left")
      .select(
        col("id").as("arxiv_ID"), col("doi"), col("title"),
        col("latest_version").as("latest_version_nr"),
        coalesce(col("is-referenced-by-count"), lit(0)).cast("int")
          .as("citation_count"),
        coalesce(col("year_key"), lit(1)).as("year_key"),
        coalesce(col("domain_key"), lit(0)).as("domain_key"),
        coalesce(col("type_key"), lit(0)).as("type_key"),
        coalesce(col("venue_key"), lit(0)).as("venue_key"),
        col("author_group_key"),
        col("author_group_key").as("affiliation_group_key"))))

    // --- bridges (J2/J4): group key ↔ member keys, dedup on the pair
    val batchAuthors = pin(withGroups
      .select(col("author_group_key"), explode(col("authors_merged")).as("a"))
      .select(col("author_group_key"), col("a.full_name").as("full_name"),
        coalesce(col("a.affiliation"), lit("Unknown")).as("affiliation_name")))
    val bridgeAuthor = state.bridgeAuthor.unionByName(pin(batchAuthors
      .join(dimAuthor.select(col("author_key"), col("full_name")), Seq("full_name"))
      .select(col("author_group_key"), col("author_key")).distinct()
      .join(state.bridgeAuthor, Seq("author_group_key", "author_key"), "left_anti")))
    val bridgeAffiliation = state.bridgeAffiliation.unionByName(pin(batchAuthors
      .join(dimAffiliation, Seq("affiliation_name"))
      .select(col("author_group_key").as("affiliation_group_key"),
        col("affiliation_key")).distinct()
      .join(state.bridgeAffiliation,
        Seq("affiliation_group_key", "affiliation_key"), "left_anti")))

    // --- T5: incremental h/g-index for touched authors only; their
    // citation rows are pinned once and shared by both metrics
    val touched = batchAuthors.select(col("full_name")).distinct()
    val touchedCites = pin(dimAuthor.join(touched, Seq("full_name"))
      .join(bridgeAuthor, Seq("author_key"))
      .join(fact, Seq("author_group_key"))
      .select(col("author_key"), col("citation_count"), col("arxiv_ID")))
    val h = Bibliometrics.hIndex(touchedCites, col("author_key"),
      col("citation_count"), col("arxiv_ID")).withColumnRenamed("h_index", "_h")
    val g = Bibliometrics.gIndex(touchedCites, col("author_key"),
      col("citation_count"), col("arxiv_ID")).withColumnRenamed("g_index", "_g")
    val hg = pin(h.join(g, Seq("grp"), "full_outer"))
    val dimAuthorFinal = dimAuthor
      .join(hg, col("author_key") === col("grp"), "left")
      .select(col("author_key"), col("full_name"), col("gender"),
        coalesce(col("_h"), col("h_index")).as("h_index"),
        coalesce(col("_g"), col("g_index")).as("g_index"))

    State(state.dimYear, dimDomain, dimType, dimVenue, dimAuthorFinal,
      dimAffiliation, fact, bridgeAuthor, bridgeAffiliation, keyMaxes,
      // delta scope for a bucket-granular dim_author persist: authors
      // whose h/g changed (touched = new papers' authors) plus authors
      // minted this batch (possible without touch when a replayed paper
      // carries a new author)
      touchedAuthors = Some(touched.unionByName(mintedAuthors).distinct()))
  }
}
