package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Bibliometrics
import graft.pipeline.{StreamingWarehouse, Warehouse}

/** Star-schema invariants after a multi-batch streamed load, through both
  * commit protocols (full snapshot rewrite and the bucketed dim_author
  * MERGE): a base batch, then three batches carrying replays, a duplicate
  * id, null affiliations and a replayed paper with a new author. */
class WarehouseInvariantSpec extends AnyFunSuite {
  import TestSpark.spark

  private val base = Fixtures.staged(Seq(
    ("i1", "physics", 2020, "journal-article", "PRL", "APS", 9,
      Seq(("Ada", "A", "MIT", "female", "A Ada"), ("Bob", "B", null, "male", "B Bob"))),
    ("i2", "mathematics", 2019, "preprint", "arXiv", "arXiv", 3,
      Seq(("Ada", "A", "MIT", "female", "A Ada"))),
    ("i3", "physics", 2021, "journal-article", "PRD", "APS", 0,
      Seq(("Cy", "C", "ETH", "male", "C Cy")))))
  // replay of i1, a duplicate new id, a null-affiliation author
  private val batch1 = Fixtures.staged(Seq(
    ("i1", "physics", 2020, "journal-article", "PRL", "APS", 9,
      Seq(("Ada", "A", "MIT", "female", "A Ada"), ("Bob", "B", null, "male", "B Bob"))),
    ("i4", "biology", 2022, "journal-article", "Cell", "CP", 5,
      Seq(("Dee", "D", null, "female", "D Dee"), ("Ada", "A", "MIT", "female", "A Ada"))),
    ("i4", "biology", 2022, "journal-article", "Cell", "CP", 5,
      Seq(("Dee", "D", null, "female", "D Dee"), ("Ada", "A", "MIT", "female", "A Ada")))))
  // replayed i2 carrying an author the warehouse has never seen, plus a
  // new paper whose only author has no affiliation
  private val batch2 = Fixtures.staged(Seq(
    ("i2", "mathematics", 2019, "preprint", "arXiv", "arXiv", 3,
      Seq(("Ada", "A", "MIT", "female", "A Ada"), ("Eve", "E", "UT", "female", "E Eve"))),
    ("i5", "physics", 2023, "journal-article", "PRL", "APS", 12,
      Seq(("Cy", "C", null, "male", "C Cy")))))
  // full replay of batch 1 plus one new paper
  private val batch3 = batch1.unionByName(Fixtures.staged(Seq(
    ("i6", "mathematics", 2020, "journal-article", "AMS", "AMS", 7,
      Seq(("Bob", "B", null, "male", "B Bob"), ("Ada", "A", "MIT", "female", "A Ada"))))))

  private val selectCols = StreamingWarehouse.stagedSchema.fieldNames.map(col)
  private def land(src: String, batch: DataFrame): Unit =
    batch.select(selectCols: _*).coalesce(1).write.mode("append").parquet(src)

  /** Base in one stream run, the three batches in a second one that
    * recovers the base from storage (keyMaxes re-bootstrapped). */
  private def load(run: (String, String, String) => Warehouse.State): Warehouse.State = {
    val src = Files.createTempDirectory("inv-src").toString
    val ck = Files.createTempDirectory("inv-ck").toString
    val state = Files.createTempDirectory("inv-state").toString
    land(src, base)
    run(src, ck, state)
    Seq(batch1, batch2, batch3).foreach(land(src, _))
    run(src, ck, state)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def checkInvariants(s: Warehouse.State): Unit = {
    // surrogate keys: one key per natural key and one natural key per key
    for ((dim, key, nat) <- Seq(
        (s.dimDomain, "domain_key", Seq("scientific_domain")),
        (s.dimType, "type_key", Seq("type_name")),
        (s.dimVenue, "venue_key", Seq("pub_venue", "publisher")),
        (s.dimAuthor, "author_key", Seq("full_name")),
        (s.dimAffiliation, "affiliation_key", Seq("affiliation_name")))) {
      val n = dim.count()
      assert(dim.select(key).distinct().count() == n, s"$key repeats")
      assert(dim.select(nat.map(col): _*).distinct().count() == n,
        s"${nat.mkString(",")} minted twice")
    }
    assert(s.dimAuthor.filter(col("full_name") === "E Eve").count() == 1,
      "the replayed paper's new author was not minted")

    // exact keys, hand-checked: each sequence continues from its own
    // high-water mark, in natural-key order within a batch
    def keysOf(df: DataFrame, key: String, nat: String*): Map[String, Int] =
      df.select(concat_ws(",", nat.map(col): _*), col(key)).collect()
        .map(r => r.getString(0) -> r.getAs[Number](1).intValue).toMap
    assert(keysOf(s.dimDomain, "domain_key", "scientific_domain") ==
      Map("mathematics" -> 1, "physics" -> 2, "biology" -> 3))
    assert(keysOf(s.dimType, "type_key", "type_name") ==
      Map("journal-article" -> 1, "preprint" -> 2))
    assert(keysOf(s.dimVenue, "venue_key", "pub_venue", "publisher") ==
      Map("PRD,APS" -> 1, "PRL,APS" -> 2, "arXiv,arXiv" -> 3, "Cell,CP" -> 4,
        "AMS,AMS" -> 5))
    assert(keysOf(s.dimAuthor, "author_key", "full_name") ==
      Map("A Ada" -> 1, "B Bob" -> 2, "C Cy" -> 3, "D Dee" -> 4, "E Eve" -> 5))
    assert(keysOf(s.dimAffiliation, "affiliation_key", "affiliation_name") ==
      Map("ETH" -> 1, "MIT" -> 2, "Unknown" -> 3, "UT" -> 4))
    assert(keysOf(s.fact, "author_group_key", "arxiv_ID") ==
      (1 to 6).map(i => s"i$i" -> i).toMap)

    // every fact / bridge key resolves to a dim row
    def unresolved(df: DataFrame, k: String, dim: DataFrame, dk: String): Long =
      df.select(col(k)).join(dim.select(col(dk).as(k)), Seq(k), "left_anti").count()
    for ((k, dim) <- Seq("year_key" -> s.dimYear, "domain_key" -> s.dimDomain,
        "type_key" -> s.dimType, "venue_key" -> s.dimVenue))
      assert(unresolved(s.fact, k, dim, k) == 0, s"fact.$k dangles")
    assert(unresolved(s.bridgeAuthor, "author_key", s.dimAuthor, "author_key") == 0)
    assert(unresolved(s.bridgeAffiliation, "affiliation_key", s.dimAffiliation,
      "affiliation_key") == 0)
    assert(unresolved(s.fact, "author_group_key", s.bridgeAuthor, "author_group_key") == 0)

    // no bridge pair twice
    for (b <- Seq(s.bridgeAuthor, s.bridgeAffiliation))
      assert(b.distinct().count() == b.count(), "duplicated bridge pair")

    // incremental h/g == a from-scratch recompute over fact ⋈ bridge
    val cites = s.fact.join(s.bridgeAuthor, "author_group_key")
      .select(col("author_key"), col("citation_count"), col("arxiv_ID"))
    val h = Bibliometrics.hIndex(cites, col("author_key"), col("citation_count"),
      col("arxiv_ID")).withColumnRenamed("grp", "author_key")
    val g = Bibliometrics.gIndex(cites, col("author_key"), col("citation_count"),
      col("arxiv_ID")).withColumnRenamed("grp", "author_key")
    val want = s.dimAuthor.select("author_key")
      .join(h, Seq("author_key"), "left").join(g, Seq("author_key"), "left")
      .select(col("author_key"), coalesce(col("h_index"), lit(0)),
        coalesce(col("g_index"), lit(0)))
    assert(rows(s.dimAuthor.select("author_key", "h_index", "g_index")) == rows(want))

    // carried high-water marks match a bootstrap from the tables
    assert(s.keyMaxes.contains(Warehouse.keyMaxesOf(s)))

    // one fact row per paper: batch 1 stages i4 twice
    assert(s.fact.count() == s.fact.select("arxiv_ID").distinct().count(),
      "a duplicate id inside one batch inserted two fact rows")
    // hand-computed, not recomputed from the (possibly doubled) fact:
    // Dee has one paper (5 cites); Ada has i1, i6, i4, i2 (9, 7, 5, 3)
    def hg(name: String): (Int, Int) = {
      val r = s.dimAuthor.filter(col("full_name") === name)
        .select("h_index", "g_index").collect()
      assert(r.length == 1, s"$name: ${r.length} dim rows")
      (r.head.getAs[Number](0).intValue, r.head.getAs[Number](1).intValue)
    }
    assert(hg("D Dee") == ((1, 1)))
    assert(hg("A Ada") == ((3, 4)))
  }

  private lazy val full = load(StreamingWarehouse.run(spark, _, _, _))
  private lazy val bucketed = load(StreamingWarehouse.runBucketed(spark, _, _, _))

  test("multi-batch stream: star-schema invariants hold after run") {
    checkInvariants(full)
    assert(full.fact.select("arxiv_ID").distinct().count() == 6)
  }

  test("multi-batch stream: star-schema invariants hold after runBucketed") {
    checkInvariants(bucketed)
    // both protocols commit the same warehouse (the bucket table may
    // order dim_author's columns differently)
    def snap(s: Warehouse.State) = Seq(s.dimDomain, s.dimType, s.dimVenue,
      s.dimAuthor, s.dimAffiliation, s.fact, s.bridgeAuthor,
      s.bridgeAffiliation).map(df => rows(df.select(df.columns.sorted.map(col): _*)))
    assert(snap(bucketed) == snap(full))
  }
}
