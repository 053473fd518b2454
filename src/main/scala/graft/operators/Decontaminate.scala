package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._


/** Training-data decontamination: flag corpus documents that share any
  * character n-gram with a quarantine corpus (an eval/benchmark set) —
  * the standard leakage gate run before pre-training, expressed as one
  * inverted-index equi-join.
  *
  * Shape, and why it survives 100 TB:
  *  - both sides reduce to DISTINCT per-document n-gram hashes first
  *    (`shingles` dedupes per doc; the 54-bit md5-derived hash keeps the
  *    shuffle rows narrow — two longs — instead of carrying gram text);
  *  - the join is a plain equi-join on the gram hash: the quarantine
  *    side is an eval set (thousands of docs, millions of grams at
  *    most), so AQE broadcasts it and the corpus side never shuffles —
  *    no hint is planted, because a user-supplied quarantine has no
  *    size guarantee;
  *  - the per-doc aggregation (distinct matched grams, distinct
  *    quarantine docs touched) is the only corpus-keyed shuffle.
  *  Long selective grams (n ≥ 12, the `dd_ngram_jaccard` lesson) keep
  *  the index selective; hash collisions can over-flag a doc with
  *  probability ~2⁻⁵⁴ per gram pair — the conservative failure mode for
  *  a contamination gate, and the DuckDB twin derives identical hashes
  *  ([[decontaminateSql]]) so the check is exact cross-engine. */
object Decontaminate {

  /** Per flagged corpus doc: how many distinct n-grams it shares with
    * the quarantine set and how many quarantine docs it touches.
    * Un-flagged docs are absent — the caller anti-joins to get the
    * clean corpus. */
  def flagged(corpus: DataFrame, docId: Column, docText: Column,
      quarantine: DataFrame, qId: Column, qText: Column,
      n: Int): DataFrame = {
    // Native one-pass distinct gram hashing ([[graft.plans.GramHashes]]):
    // spec-proven set-equal to the HOF chain
    // `shingles(lt, n) → md5Hash54`, ~4× cheaper at sf0.1 (BASELINE.md
    // "Round-8 fourth wave": the gram pass dominated the whole composed
    // pipeline before this).
    def gramHashes(df: DataFrame, id: Column, text: Column,
        idName: String): DataFrame =
      df.select(id.as(idName),
          explode(graft.plans.GraftExtensions.gramHashes(lower(text), n))
            .as("gh"))
    // repartition(id) fans the gram explode out of a single-row-group
    // test scan (one narrow exchange of raw docs; a cluster scan arrives
    // already split — see Dedup.nearDupPairs for the full rationale)
    val corpusGrams = gramHashes(corpus.repartition(docId), docId, docText,
      "doc_id")
    val quarantineGrams =
      gramHashes(quarantine, qId, qText, "q_id").distinct()
    corpusGrams.join(quarantineGrams, "gh")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("gh")).as("n_matched_grams"),
        countDistinct(col("q_id")).as("n_quarantine_docs"))
  }

  /** DuckDB twin of [[flagged]] over two table expressions with columns
    * `(doc_id, text)` / `(q_id, text)`: same gram windows, same 54-bit
    * md5 hash, same distinct/agg shape. */
  def decontaminateSql(corpusSql: String, quarantineSql: String,
      n: Int): String = {
    def grams(src: String, idCol: String) =
      s"""SELECT $idCol, CAST(('0x' || substr(md5(g), 1, 14)) AS BIGINT) AS gh
         |  FROM (SELECT $idCol, unnest(list_distinct(list_filter(
         |          list_transform(range(1, greatest(length(text) - ${n - 1}, 1) + 1),
         |                         i -> substr(lower(text), CAST(i AS INT), $n)),
         |          s -> length(s) = $n))) AS g
         |        FROM ($src))""".stripMargin
    s"""WITH cg AS (
       |${grams(corpusSql, "doc_id")}),
       |qg AS (SELECT DISTINCT q_id, gh FROM (
       |${grams(quarantineSql, "q_id")}))
       |SELECT cg.doc_id,
       |       COUNT(DISTINCT cg.gh) AS n_matched_grams,
       |       COUNT(DISTINCT qg.q_id) AS n_quarantine_docs
       |FROM cg JOIN qg ON qg.gh = cg.gh
       |GROUP BY cg.doc_id""".stripMargin
  }

  /** SEMANTIC decontamination (r9) — the embedding sibling of
    * [[flagged]]: per corpus vector, the max cosine against ANY
    * quarantine (eval-set) vector, flagged at `threshold`. Catches the
    * leakage the n-gram gate cannot: a paraphrased or re-tokenized eval
    * item shares no 12-gram but still lands next to its source in
    * embedding space (the reverse of the gate that misses semantic
    * rewrites is the gate that misses verbatim ones — production
    * pipelines run BOTH, as this module now does).
    *
    * Scale shape mirrors [[flagged]]: the quarantine side is an eval set
    * (small by definition) and is BROADCAST; the corpus side streams
    * through one narrow projection + a per-vector max — the corpus never
    * shuffles. Cosine is the bit-identical native expression
    * ([[Similarity.cosine]]), and MAX over doubles is order-independent,
    * so the result hash-matches the DuckDB twin. */
  def semanticFlagged(corpus: DataFrame, id: Column, vec: Column,
      quarantine: DataFrame, qId: Column, qVec: Column,
      threshold: Double): DataFrame = {
    val c = corpus.select(id.as("vec_id"), Similarity.vecD(vec).as("v"))
    val q = quarantine.select(qId.as("q_id"), Similarity.vecD(qVec).as("qv"))
    c.crossJoin(broadcast(q))
      .select(col("vec_id"), Similarity.cosine(col("v"), col("qv")).as("cos"))
      .groupBy(col("vec_id"))
      .agg(max(col("cos")).as("max_cos"))
      .withColumn("flagged", col("max_cos") >= threshold)
  }
}
