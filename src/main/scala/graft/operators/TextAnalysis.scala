package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFns.md5Hash54

/** Text-analysis operators for training-data pipelines: token statistics,
  * quality scoring, n-gram-heuristic language ID, and document
  * fingerprinting. All pure `Column` expressions — single narrow pass over
  * the corpus, no shuffle except a final orderBy in the query layer, fully
  * codegen'd. Every heuristic has an exact SQL twin (companion `*Sql`
  * builders generate it from the same constants, so Spark and the DuckDB
  * oracle cannot drift).
  */
object TextAnalysis {

  /** Single-space tokenization, empties dropped — matches DuckDB
    * `string_split(lower(text), ' ')` exactly. */
  def toks(text: Column): Column =
    filter(split(lower(text), " "), t => length(t) > 0)

  private[graft] val toksSql =
    "list_filter(string_split(lower(text), ' '), t -> length(t) > 0)"

  // ---- token statistics ----------------------------------------------

  // Tokenize-once structure (here and below): the token array is aliased in
  // its own projection and the stats read the materialized column. Inlining
  // `toks(text)` per output column looks equivalent but is not — Catalyst's
  // subexpression elimination refuses any tree containing a lambda variable
  // (HOFs are CodegenFallback), so each output column re-runs
  // split+filter interpreted. Profiled at sf0.1 (BASELINE.md "Round-7
  // attribution: `txt_langid`"): the
  // inlined four-marker projection swung 1.2–9.0s across JVM sessions
  // (interpreted-eval call sites degrade unpredictably with session
  // history — the root cause of txt_langid's unreproducible 3.6× bench
  // jump in round 6) while the two-step form is a stable ~0.26s.
  // CollapseProject keeps the split un-inlined because the alias is
  // non-cheap and referenced more than once.
  def tokenStats(df: DataFrame, id: Column, text: Column): DataFrame =
    df.select(id.as("doc_id"), toks(text).as("t"))
      .select(
        col("doc_id"),
        size(col("t")).as("n_tokens"),
        size(array_distinct(col("t"))).as("n_distinct"),
        // nullif-guarded: an empty/whitespace-only doc has 0 tokens, and a
        // 0 denominator aborts under ANSI where DuckDB yields NULL
        (aggregate(transform(col("t"), t => length(t)), lit(0),
          (acc, x) => acc + x) * lit(1.0) /
          nullif(size(col("t")), lit(0))).as("avg_token_len"))

  def tokenStatsSql(table: String): String =
    s"""SELECT doc_id,
       |       len($toksSql) AS n_tokens,
       |       len(list_distinct($toksSql)) AS n_distinct,
       |       list_sum(list_transform($toksSql, t -> length(t))) * 1.0
       |         / NULLIF(len($toksSql), 0) AS avg_token_len
       |FROM $table""".stripMargin

  /** BPE-ish pre-tokenization regex (the GPT-2 pattern family, reduced to
    * syntax both java.util.regex and RE2/DuckDB support — no lookahead):
    * contractions, space-prefixed letter runs, digit runs, punctuation
    * runs, residual whitespace. */
  val bpePattern: String =
    "'(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\\s]+|\\s+"

  /** Token statistics under BPE-ish pre-tokenization — the token-count
    * estimator a training pipeline budgets with. */
  def bpeTokenStats(df: DataFrame, id: Column, text: Column): DataFrame =
    df.select(id.as("doc_id"),
        regexp_extract_all(text, lit(bpePattern), lit(0)).as("toks"))
      // rlike-per-token filter materialized once, not once per stat
      .select(col("doc_id"),
        filter(col("toks"), t => !t.rlike("^\\s+$")).as("nw"))
      .select(col("doc_id"),
        size(col("nw")).as("n_bpe_tokens"),
        size(array_distinct(col("nw"))).as("n_distinct_bpe"))

  def bpeTokenStatsSql(table: String): String = {
    val sqlPattern = bpePattern.replace("'", "''") // SQL string-literal quoting
    s"""SELECT doc_id,
       |       len(list_filter(regexp_extract_all(text, '$sqlPattern'),
       |                       t -> NOT regexp_matches(t, '^\\s+$$'))) AS n_bpe_tokens,
       |       len(list_distinct(list_filter(regexp_extract_all(text, '$sqlPattern'),
       |                       t -> NOT regexp_matches(t, '^\\s+$$')))) AS n_distinct_bpe
       |FROM $table""".stripMargin
  }

  // ---- document chunking ---------------------------------------------

  /** Fixed-budget overlapping chunking — the windowing pass every
    * pretraining/RAG embedding pipeline runs before packing or
    * embedding: the document's token stream is cut into chunks of
    * `budget` tokens advancing by `budget - overlap` (the stride), so
    * consecutive chunks share `overlap` tokens of context and the last
    * chunk keeps the tail (possibly shorter). Chunk count =
    * ceil(max(n - overlap, 1) / stride) — a document of ≤ `budget`
    * tokens yields exactly one chunk, an empty document none.
    *
    * Scale shape: one NARROW pass — tokenize once (the tokenize-once
    * rationale at [[tokenStats]]), `explode(sequence(...))` fans each
    * document out to its chunk ids, `slice` takes each window straight
    * from the materialized token array. No shuffle, no UDF; output
    * cardinality is Σ ceil(nᵢ/stride) ≈ corpus-tokens/stride, bounded
    * and predictable, so the pass pipelines into a pack/embed stage at
    * any corpus size. Output: (doc_id, chunk_id, n_chunk_tokens,
    * chunk_text). */
  def chunkDocuments(df: DataFrame, id: Column, text: Column,
      budget: Int, overlap: Int): DataFrame = {
    require(budget > 0 && overlap >= 0 && overlap < budget,
      s"need 0 <= overlap < budget, got budget=$budget overlap=$overlap")
    val stride = budget - overlap
    df.select(id.as("doc_id"), toks(text).as("t"))
      .select(col("doc_id"), col("t"), size(col("t")).as("n"))
      .filter(col("n") > 0)
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(0),
          ceil((greatest(col("n") - lit(overlap), lit(1)) * lit(1.0)) /
            lit(stride)).cast("int") - 1)).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        slice(col("t"), col("chunk_id") * lit(stride) + lit(1),
          lit(budget)).as("ct"))
      .select(col("doc_id"), col("chunk_id"),
        size(col("ct")).as("n_chunk_tokens"),
        array_join(col("ct"), " ").as("chunk_text"))
  }

  /** DuckDB twin of [[chunkDocuments]] — same tokenization
    * ([[toksSql]]), same ceil arithmetic, and DuckDB's 1-based
    * INCLUSIVE list slice `t[a : a+budget-1]` matching Spark's
    * `slice(t, a, budget)` (both clamp at the tail). The chunk-id
    * fan-out is `unnest(generate_series(...))` in the projection — the
    * table-function form can't reference the row's `t` (no lateral
    * column parameters). */
  def chunkDocumentsSql(table: String, budget: Int, overlap: Int): String = {
    val stride = budget - overlap
    s"""SELECT doc_id, k AS chunk_id,
       |       len(t[k * $stride + 1 : k * $stride + $budget])
       |         AS n_chunk_tokens,
       |       array_to_string(t[k * $stride + 1 : k * $stride + $budget],
       |                       ' ') AS chunk_text
       |FROM (
       |  SELECT doc_id, t,
       |         unnest(generate_series(0,
       |           CAST(CEIL(GREATEST(len(t) - $overlap, 1) * 1.0 / $stride)
       |             AS BIGINT) - 1)) AS k
       |  FROM (SELECT doc_id, $toksSql AS t FROM $table)
       |  WHERE len(t) > 0)""".stripMargin
  }

  // ---- quality scoring -----------------------------------------------

  /** Tiny fixed English stoplist — quality scoring wants "does this look
    * like running prose", not full IR stopping. */
  val stopwords: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

  /** Length / punctuation / stopword-ratio quality signals + a composite
    * score in [0,1]: prose-like docs (moderate length, low punctuation,
    * some stopwords) score high — the usual pre-training quality gate. */
  def qualityScore(df: DataFrame, id: Column, text: Column): DataFrame = {
    // Counts materialized once (tokenize-once rationale at tokenStats),
    // ratios and the composite score derived from the counts.
    val counted = df.select(
        id.as("doc_id"),
        length(text).as("n_chars_m"),
        length(regexp_replace(text, "[^a-zA-Z0-9 ]", "")).as("n_keep"),
        toks(text).as("t"))
      .select(col("doc_id"), col("n_chars_m"), col("n_keep"),
        size(filter(col("t"), x => x.isInCollection(stopwords))).as("n_stop"),
        size(col("t")).as("n_toks"))
    // nullif guards: empty docs would divide by zero (ANSI abort)
    val punctRatio = (col("n_chars_m") - col("n_keep")) * lit(1.0) /
      nullif(col("n_chars_m"), lit(0))
    val stopRatio = col("n_stop") * lit(1.0) / nullif(col("n_toks"), lit(0))
    val lenScore = least(col("n_chars_m") * lit(1.0) / 200.0, lit(1.0))
    val score = (lenScore + (lit(1.0) - punctRatio) + least(stopRatio * 5.0, lit(1.0))) / 3.0
    counted.select(col("doc_id"), col("n_chars_m"),
      punctRatio.as("punct_ratio"), stopRatio.as("stopword_ratio"),
      score.as("quality_score"))
  }

  def qualityScoreSql(table: String): String = {
    val stops = stopwords.map(s => s"'$s'").mkString(", ")
    s"""SELECT doc_id,
       |       length(text) AS n_chars_m,
       |       (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))) * 1.0
       |         / NULLIF(length(text), 0) AS punct_ratio,
       |       len(list_filter($toksSql, x -> x IN ($stops))) * 1.0
       |         / NULLIF(len($toksSql), 0) AS stopword_ratio,
       |       (least(length(text) * 1.0 / 200.0, 1.0)
       |        + (1.0 - (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))) * 1.0 / NULLIF(length(text), 0))
       |        + least(len(list_filter($toksSql, x -> x IN ($stops))) * 1.0 / NULLIF(len($toksSql), 0) * 5.0, 1.0)) / 3.0
       |         AS quality_score
       |FROM $table""".stripMargin
  }

  // ---- blocklist filtering -------------------------------------------

  /** Token blocklist filter — the bad-word / spam-term gate every web
    * corpus pipeline runs (C4 drops pages on a public "bad words" list).
    * Per doc: total and distinct blocked-token hits plus the boolean
    * gate. The match runs as explode → literal IN-set filter → doc
    * rollup: for a bounded list the IN-set compiles into the scan
    * predicate; a 100k-term list would swap in a broadcast join on the
    * token — same plan shape, same outputs. */
  def blocklistFlags(df: DataFrame, id: Column, text: Column,
      terms: Seq[String]): DataFrame = {
    val base = df.select(id.as("doc_id"), toks(text).as("t"))
    val m = base.select(col("doc_id"), explode(col("t")).as("token"))
      .filter(col("token").isInCollection(terms))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_blocked"),
        countDistinct(col("token")).as("n_distinct_blocked"))
    base.select(col("doc_id")).join(m, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_blocked"), lit(0L)).as("n_blocked"),
        coalesce(col("n_distinct_blocked"), lit(0L)).as("n_distinct_blocked"))
      .withColumn("blocked", col("n_blocked") > 0)
  }

  def blocklistFlagsSql(table: String, terms: Seq[String]): String = {
    val inList = terms.map(t => s"'$t'").mkString(", ")
    s"""WITH t AS (SELECT doc_id, $toksSql AS t FROM $table),
       |m AS (SELECT doc_id, COUNT(*) AS n_blocked,
       |        COUNT(DISTINCT tok) AS n_distinct_blocked
       |      FROM (SELECT doc_id, unnest(t) AS tok FROM t)
       |      WHERE tok IN ($inList) GROUP BY doc_id)
       |SELECT t.doc_id, COALESCE(m.n_blocked, 0) AS n_blocked,
       |       COALESCE(m.n_distinct_blocked, 0) AS n_distinct_blocked,
       |       COALESCE(m.n_blocked, 0) > 0 AS blocked
       |FROM t LEFT JOIN m USING (doc_id)""".stripMargin
  }

  // ---- composite quality gate ----------------------------------------

  /** Gopher-style composite keep/drop gate (Rae et al. 2021 §A1.1's rule
    * shape): token-count band, mean-word-length band, lexical-diversity
    * floor, duplicate-bigram ceiling — each rule surfaced as its own
    * boolean (pipelines audit WHICH rule dropped a doc), `keep` the
    * conjunction. Composes the already-hash-proven [[tokenStats]] and
    * [[repetition]] signals via one doc-keyed join; all comparisons are
    * against literals on exact values, so the twin is bit-identical. */
  def gopherGate(df: DataFrame, id: Column, text: Column,
      minTokens: Int, maxTokens: Int,
      minDiversity: Double, maxDupBigram: Double): DataFrame = {
    val ts = tokenStats(df, id, text)
    val rep = repetition(df, id, text)
    ts.join(rep, Seq("doc_id"))
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") >= minTokens && col("n_tokens") <= maxTokens)
          .as("len_ok"),
        (col("avg_token_len") >= 3.0 && col("avg_token_len") <= 10.0)
          .as("wordlen_ok"),
        (col("n_distinct") * lit(1.0) / nullif(col("n_tokens"), lit(0)) >=
          minDiversity).as("diversity_ok"),
        (coalesce(col("dup_bigram_frac"), lit(0.0)) <= maxDupBigram)
          .as("repetition_ok"))
      .withColumn("keep", col("len_ok") && col("wordlen_ok") &&
        col("diversity_ok") && col("repetition_ok"))
  }

  def gopherGateSql(table: String, minTokens: Int, maxTokens: Int,
      minDiversity: Double, maxDupBigram: Double): String =
    s"""SELECT ts.doc_id, ts.n_tokens,
       |       ts.n_tokens >= $minTokens AND ts.n_tokens <= $maxTokens AS len_ok,
       |       ts.avg_token_len >= 3.0 AND ts.avg_token_len <= 10.0 AS wordlen_ok,
       |       ts.n_distinct * 1.0 / NULLIF(ts.n_tokens, 0) >= $minDiversity AS diversity_ok,
       |       COALESCE(rep.dup_bigram_frac, 0.0) <= $maxDupBigram AS repetition_ok,
       |       (ts.n_tokens >= $minTokens AND ts.n_tokens <= $maxTokens)
       |         AND (ts.avg_token_len >= 3.0 AND ts.avg_token_len <= 10.0)
       |         AND (ts.n_distinct * 1.0 / NULLIF(ts.n_tokens, 0) >= $minDiversity)
       |         AND (COALESCE(rep.dup_bigram_frac, 0.0) <= $maxDupBigram) AS keep
       |FROM (${tokenStatsSql(table)}) ts
       |JOIN (${repetitionSql(table)}) rep USING (doc_id)""".stripMargin

  // ---- language identification ---------------------------------------

  /** Distinctive function-word lists per language (public knowledge; the
    * n-gram-heuristic shape of fastText-style lang-ID, reduced to exact
    * token hits so the oracle can replicate it). CJK text short-circuits
    * to zh via a codepoint-class test. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "nicht", "ist", "ein", "mit"),
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "with"),
    "es" -> Seq("el", "la", "los", "las", "es", "y", "que", "con"),
    "fr" -> Seq("le", "la", "les", "et", "est", "que", "dans", "pour"))

  /** Predicts a language per doc: CJK chars → zh; else argmax of marker
    * hits with ties broken by alphabetical language order (the `when`
    * chain is ordered de<en<es<fr, identical in the SQL twin). */
  def langId(df: DataFrame, id: Column, text: Column): DataFrame = {
    // Tokenize once (rationale at tokenStats): the four marker counts read
    // the materialized array; inlining `toks(text)` 4× profiled 5–35×
    // slower and session-unstable (BASELINE.md "Round-7 attribution").
    val scored = df
      .select(id.as("doc_id"), text.as("text_m"), toks(text).as("t"))
      .select(
        (Seq(col("doc_id"), col("text_m")) ++
          langMarkers.map { case (l, ws) =>
            size(filter(col("t"), x => x.isInCollection(ws))).as(s"s_$l")
          }): _*)
    val best = langMarkers.map { case (l, _) => col(s"s_$l") }
      .reduce((a, b) => greatest(a, b))
    // First-match-wins tiebreak in fixed order de,en,es,fr — the SQL twin
    // uses the same CASE order.
    val predOrdered = when(col("text_m").rlike("[\\x{4e00}-\\x{9fff}]"), lit("zh"))
      .when(col("s_de") === best && best > 0, "de")
      .when(col("s_en") === best && best > 0, "en")
      .when(col("s_es") === best && best > 0, "es")
      .when(col("s_fr") === best && best > 0, "fr")
      .otherwise("und")
    scored.select(col("doc_id"), predOrdered.as("pred_lang"),
      col("s_de"), col("s_en"), col("s_es"), col("s_fr"))
  }

  def langIdSql(table: String): String = {
    val scoreExprs = langMarkers.map { case (lang, ws) =>
      val list = ws.map(w => s"'$w'").mkString(", ")
      s"len(list_filter($toksSql, x -> x IN ($list))) AS s_$lang"
    }.mkString(",\n       ")
    s"""WITH scored AS (
       |  SELECT doc_id, text,
       |       $scoreExprs
       |  FROM $table)
       |SELECT doc_id,
       |       CASE WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
       |            WHEN s_de = greatest(s_de, s_en, s_es, s_fr) AND greatest(s_de, s_en, s_es, s_fr) > 0 THEN 'de'
       |            WHEN s_en = greatest(s_de, s_en, s_es, s_fr) AND greatest(s_de, s_en, s_es, s_fr) > 0 THEN 'en'
       |            WHEN s_es = greatest(s_de, s_en, s_es, s_fr) AND greatest(s_de, s_en, s_es, s_fr) > 0 THEN 'es'
       |            WHEN s_fr = greatest(s_de, s_en, s_es, s_fr) AND greatest(s_de, s_en, s_es, s_fr) > 0 THEN 'fr'
       |            ELSE 'und' END AS pred_lang,
       |       s_de, s_en, s_es, s_fr
       |FROM scored""".stripMargin
  }

  // ---- vocabulary / OOV (corpus-global statistics) ---------------------

  /** Top-`k` corpus vocabulary by token frequency, ties broken by token
    * (deterministic at the k-th boundary on both engines). The global
    * top-k runs as Spark's TakeOrderedAndProject over the per-token
    * counts — k is bounded, so nothing corpus-scale ever sits in one
    * partition. */
  def vocabulary(df: DataFrame, text: Column, k: Int): DataFrame =
    df.select(explode(toks(text)).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token").asc)
      .limit(k)

  /** Per-document out-of-vocabulary rate against the corpus's own top-`k`
    * vocabulary — the coverage filter a tokenizer-bound pipeline runs
    * (drop or route docs whose tokens the vocab can't represent). The
    * first corpus-GLOBAL text operator: stage 1 aggregates the corpus
    * once (one shuffle), stage 2 joins the bounded vocab back per token
    * occurrence (k rows — AQE broadcasts) and re-aggregates per doc.
    * Empty docs report 0 tokens and a NULL rate (guarded division). */
  def oovRate(df: DataFrame, id: Column, text: Column, k: Int): DataFrame = {
    val vocab = vocabulary(df, text, k).select(col("token"), lit(1).as("_iv"))
    df.select(id.as("doc_id"), explode_outer(toks(text)).as("token"))
      .join(vocab, Seq("token"), "left")
      .groupBy(col("doc_id"))
      .agg(count(col("token")).as("n_tokens"),
        coalesce(sum(when(col("token").isNotNull && col("_iv").isNull, 1L)
          .otherwise(0L)), lit(0L)).as("n_oov"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        (col("n_oov") * lit(1.0) /
          nullif(col("n_tokens"), lit(0))).as("oov_rate"))
  }

  def oovRateSql(table: String, k: Int): String =
    s"""WITH tk AS (SELECT doc_id, unnest($toksSql) AS token FROM $table),
       |v AS (SELECT token FROM (
       |    SELECT token, COUNT(*) AS freq FROM tk GROUP BY token
       |    ORDER BY freq DESC, token ASC LIMIT $k)),
       |agg AS (SELECT tk.doc_id, COUNT(*) AS n_tokens,
       |      CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
       |    FROM tk LEFT JOIN v ON v.token = tk.token GROUP BY tk.doc_id)
       |SELECT doc_id, COALESCE(a.n_tokens, 0) AS n_tokens,
       |       COALESCE(a.n_oov, 0) AS n_oov,
       |       a.n_oov * 1.0 / NULLIF(a.n_tokens, 0) AS oov_rate
       |FROM (SELECT DISTINCT doc_id FROM $table) d
       |LEFT JOIN agg a USING (doc_id)""".stripMargin

  // ---- repetition (Gopher-style quality rules) -------------------------

  /** Word-bigram repetition signals — the repetition family of the
    * published pre-training quality rules (Gopher's "repetition" filters):
    * `dup_bigram_frac` (1 − distinct/total) catches documents that keep
    * re-using phrases, `top_bigram_share` catches a single boilerplate
    * phrase dominating. Two aggregations keyed by document (bigram
    * counts, then the doc rollup) — one narrow shuffle each, no window,
    * no collect. Docs with fewer than two tokens report 0 bigrams and
    * NULL fractions (guarded division, like the other txt_* operators). */
  def repetition(df: DataFrame, id: Column, text: Column): DataFrame = {
    // tokenize once (rationale at tokenStats), bigrams materialized in
    // their own projection; explode_outer keeps sub-2-token docs
    val bg = df.select(id.as("doc_id"), toks(text).as("t"))
      .select(col("doc_id"),
        when(size(col("t")) >= 2,
          transform(sequence(lit(1), size(col("t")) - 1),
            i => concat_ws(" ", element_at(col("t"), i),
              element_at(col("t"), i + 1))))
          .otherwise(array().cast("array<string>")).as("bg"))
      .select(col("doc_id"), explode_outer(col("bg")).as("g"))
    bg.groupBy(col("doc_id"), col("g"))
      .agg(count(col("g")).as("c")) // counts non-null: 0 for the padding row
      .groupBy(col("doc_id"))
      .agg(coalesce(sum(col("c")), lit(0L)).as("n_bigrams"),
        count(when(col("g").isNotNull, lit(1))).as("n_distinct_bigrams"),
        max(col("c")).as("top_c"))
      .select(col("doc_id"), col("n_bigrams"), col("n_distinct_bigrams"),
        (lit(1.0) - col("n_distinct_bigrams") * lit(1.0) /
          nullif(col("n_bigrams"), lit(0))).as("dup_bigram_frac"),
        (col("top_c") * lit(1.0) /
          nullif(col("n_bigrams"), lit(0))).as("top_bigram_share"))
  }

  def repetitionSql(table: String): String =
    s"""WITH t AS (SELECT doc_id, $toksSql AS t FROM $table),
       |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(t)),
       |         i -> t[CAST(i AS INT)] || ' ' || t[CAST(i + 1 AS INT)])) AS g
       |       FROM t WHERE len(t) >= 2),
       |c AS (SELECT doc_id, g, COUNT(*) AS c FROM bg GROUP BY doc_id, g),
       |r AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
       |             COUNT(*) AS n_distinct_bigrams, CAST(MAX(c) AS BIGINT) AS top_c
       |      FROM c GROUP BY doc_id)
       |SELECT doc_id, COALESCE(r.n_bigrams, 0) AS n_bigrams,
       |       COALESCE(r.n_distinct_bigrams, 0) AS n_distinct_bigrams,
       |       1.0 - r.n_distinct_bigrams * 1.0 / NULLIF(r.n_bigrams, 0) AS dup_bigram_frac,
       |       r.top_c * 1.0 / NULLIF(r.n_bigrams, 0) AS top_bigram_share
       |FROM t LEFT JOIN r USING (doc_id)""".stripMargin

  // ---- keyword extraction / inverted index ---------------------------

  /** Top-`k` keywords per document by rarity-weighted term frequency:
    * `score = tf · N / df` — proportional to tf·idf without the log
    * compression, kept log-free deliberately: all operands are exact
    * integers and the score is ONE IEEE division, so the DuckDB twin is
    * bit-identical (`ln` differs across libm implementations in the last
    * ulp, which would break the hash gate; the log is monotone in N/df,
    * so the RANKING is the tf·idf ranking whenever tf ties — and exact
    * ties break by token, identically on both engines). Three
    * vocabulary/doc-bounded aggregations + a per-doc window over ≤
    * distinct-terms rows; the 1-row corpus count joins in via cross
    * join (AQE broadcasts). */
  def keywords(df: DataFrame, id: Column, text: Column, k: Int): DataFrame = {
    val tok = df.select(id.as("doc_id"), explode(toks(text)).as("token"))
    val tf = tok.groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val nd = df.select(countDistinct(id).as("n"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("token"))
    tf.join(dfreq, "token").crossJoin(nd)
      .select(col("doc_id"), col("token"), col("tf"), col("df"),
        (col("tf") * col("n") * lit(1.0) / col("df")).as("score"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
  }

  def keywordsSql(table: String, k: Int): String =
    s"""WITH tok AS (SELECT doc_id, unnest($toksSql) AS token FROM $table),
       |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token),
       |dfq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
       |nd AS (SELECT COUNT(DISTINCT doc_id) AS n FROM $table),
       |scored AS (SELECT t.doc_id, t.token, t.tf, d.df,
       |      t.tf * n.n * 1.0 / d.df AS score
       |    FROM tf t JOIN dfq d USING (token) CROSS JOIN nd n)
       |SELECT doc_id, token, tf, df, score, rnk FROM (
       |  SELECT *, ROW_NUMBER() OVER (
       |      PARTITION BY doc_id ORDER BY score DESC, token) AS rnk
       |  FROM scored)
       |WHERE rnk <= $k""".stripMargin

  /** Inverted-index build: per term, document frequency, total term
    * frequency, and a bounded sample of the sorted posting list
    * (`postingCap` lowest doc ids, comma-joined — bounded so a
    * stopword's corpus-wide posting list can never blow up a row; a
    * web-scale index would shard full postings by doc range instead,
    * which is exactly the `tok` frame keyed (token, doc_id) one step
    * before this rollup). */
  def invertedIndex(df: DataFrame, id: Column, text: Column,
      postingCap: Int): DataFrame = {
    val tok = df.select(id.as("doc_id"), explode(toks(text)).as("token"))
    tok.groupBy(col("token"))
      .agg(count(lit(1)).as("total_tf"),
        countDistinct(col("doc_id")).as("df"),
        slice(array_sort(collect_set(col("doc_id"))), 1, postingCap)
          .as("p"))
      .select(col("token"), col("df"), col("total_tf"),
        array_join(transform(col("p"), x => x.cast("string")), ",")
          .as("postings_sample"))
  }

  def invertedIndexSql(table: String, postingCap: Int): String =
    s"""WITH tok AS (SELECT doc_id, unnest($toksSql) AS token FROM $table)
       |SELECT token, COUNT(DISTINCT doc_id) AS df, COUNT(*) AS total_tf,
       |       array_to_string(list_sort(list(DISTINCT doc_id))[1:$postingCap], ',')
       |         AS postings_sample
       |FROM tok GROUP BY token""".stripMargin

  // ---- n-gram language model -----------------------------------------

  /** Corpus-level bigram language-model estimation — maximum-likelihood
    * conditional probabilities `P(b|a) = c(a,b) / Σ_b' c(a,b')`, the
    * count tables a filtering/perplexity pipeline trains on. Two
    * aggregations: bigram counts (one shuffle keyed by the pair), then
    * the left-context totals as a window partitioned by `a` — the
    * partition key is bounded by the VOCABULARY, not the corpus, so the
    * window never concentrates corpus-scale data. Probabilities are one
    * exact-operand IEEE division (BIGINT/BIGINT → double), so the DuckDB
    * twin hashes identically. */
  def bigramLm(df: DataFrame, text: Column): DataFrame = {
    val bg = df.select(toks(text).as("t"))
      .filter(size(col("t")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("t")) - 1),
        i => struct(element_at(col("t"), i).as("a"),
          element_at(col("t"), i + 1).as("b")))).as("g"))
      .select(col("g.a").as("a"), col("g.b").as("b"))
    bg.groupBy(col("a"), col("b")).agg(count(lit(1)).as("c_ab"))
      .withColumn("c_a",
        sum(col("c_ab")).over(Window.partitionBy(col("a"))))
      .select(col("a"), col("b"), col("c_ab"), col("c_a"),
        (col("c_ab") * lit(1.0) / col("c_a")).as("p"))
  }

  def bigramLmSql(table: String): String =
    s"""WITH t AS (SELECT $toksSql AS t FROM $table),
       |bg AS (SELECT
       |         unnest(list_transform(range(1, len(t)), i -> t[CAST(i AS INT)])) AS a,
       |         unnest(list_transform(range(1, len(t)), i -> t[CAST(i + 1 AS INT)])) AS b
       |       FROM t WHERE len(t) >= 2),
       |c AS (SELECT a, b, COUNT(*) AS c_ab FROM bg GROUP BY a, b)
       |SELECT a, b, c_ab,
       |       CAST(SUM(c_ab) OVER (PARTITION BY a) AS BIGINT) AS c_a,
       |       c_ab * 1.0 / CAST(SUM(c_ab) OVER (PARTITION BY a) AS BIGINT) AS p
       |FROM c""".stripMargin

  /** Interpolated trigram language model — the Jelinek–Mercer mixture
    * `P(c|a,b) = λ3·PML(c|a,b) + λ2·PML(c|b) + λ1·PML(c)` with fixed
    * weights (0.6/0.3/0.1), the classic backoff-free smoothing a
    * perplexity-filtering pipeline trains. Count tables: trigrams keyed
    * (a,b,c), bigrams (a,b), unigrams (w) — three corpus-bounded
    * aggregations; every conditional is one exact BIGINT/BIGINT IEEE
    * division and the mixture is a FIXED-order fused expression
    * (λ3·p3 + λ2·p2 + λ1·p1, left-associative), so the DuckDB twin
    * ([[trigramLmSql]]) hashes identically. Inner joins are total by
    * construction: every corpus trigram (a,b,c) implies bigrams (a,b),
    * (b,c) and unigram (c) exist.
    *
    * Scale shape: rows bounded by distinct corpus trigrams; the heaviest
    * exchange is the trigram groupBy with map-side partial aggregation.
    * No window over anything unbounded — context totals partition by
    * vocabulary-bounded keys. */
  def trigramLm(df: DataFrame, text: Column): DataFrame = {
    val t = df.select(toks(text).as("t"))
    val uni = t.select(explode(col("t")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c_w"))
    val total = uni.agg(sum(col("c_w")).as("total"))
    val bi = t.filter(size(col("t")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("t")) - 1),
        i => struct(element_at(col("t"), i).as("a"),
          element_at(col("t"), i + 1).as("b")))).as("g"))
      .select(col("g.a").as("a"), col("g.b").as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("c_ab"))
    val tri = t.filter(size(col("t")) >= 3)
      .select(explode(transform(sequence(lit(1), size(col("t")) - 2),
        i => struct(element_at(col("t"), i).as("a"),
          element_at(col("t"), i + 1).as("b"),
          element_at(col("t"), i + 2).as("c")))).as("g"))
      .select(col("g.a").as("a"), col("g.b").as("b"), col("g.c").as("c"))
      .groupBy(col("a"), col("b"), col("c")).agg(count(lit(1)).as("c_abc"))
    tri
      .join(bi, Seq("a", "b"))
      .join(bi.select(col("a").as("b"), col("b").as("c"),
        col("c_ab").as("c_bc")), Seq("b", "c"))
      .join(uni.select(col("w").as("b"), col("c_w").as("c_b")), Seq("b"))
      .join(uni.select(col("w").as("c"), col("c_w").as("c_c")), Seq("c"))
      .crossJoin(total)
      .select(col("a"), col("b"), col("c"), col("c_abc"),
        (col("c_abc") * lit(1.0) / col("c_ab")).as("p3"),
        (col("c_bc") * lit(1.0) / col("c_b")).as("p2"),
        (col("c_c") * lit(1.0) / col("total")).as("p1"))
      .withColumn("p",
        lit(0.6) * col("p3") + lit(0.3) * col("p2") + lit(0.1) * col("p1"))
  }

  def trigramLmSql(table: String): String =
    s"""WITH t AS (SELECT $toksSql AS t FROM $table),
       |uni AS (SELECT unnest(t) AS w FROM t),
       |cu AS (SELECT w, COUNT(*) AS c_w FROM uni GROUP BY w),
       |tot AS (SELECT CAST(SUM(c_w) AS BIGINT) AS total FROM cu),
       |bg AS (SELECT
       |         unnest(list_transform(range(1, len(t)), i -> t[CAST(i AS INT)])) AS a,
       |         unnest(list_transform(range(1, len(t)), i -> t[CAST(i + 1 AS INT)])) AS b
       |       FROM t WHERE len(t) >= 2),
       |cb AS (SELECT a, b, COUNT(*) AS c_ab FROM bg GROUP BY a, b),
       |tg AS (SELECT
       |         unnest(list_transform(range(1, len(t) - 1), i -> t[CAST(i AS INT)])) AS a,
       |         unnest(list_transform(range(1, len(t) - 1), i -> t[CAST(i + 1 AS INT)])) AS b,
       |         unnest(list_transform(range(1, len(t) - 1), i -> t[CAST(i + 2 AS INT)])) AS c
       |       FROM t WHERE len(t) >= 3),
       |ct AS (SELECT a, b, c, COUNT(*) AS c_abc FROM tg GROUP BY a, b, c),
       |lmt AS (SELECT ct.a AS a, ct.b AS b, ct.c AS c, ct.c_abc AS c_abc,
       |          ct.c_abc * 1.0 / ab.c_ab AS p3,
       |          bc.c_ab * 1.0 / ub.c_w AS p2,
       |          uc.c_w * 1.0 / (SELECT total FROM tot) AS p1
       |        FROM ct
       |        JOIN cb ab ON ab.a = ct.a AND ab.b = ct.b
       |        JOIN cb bc ON bc.a = ct.b AND bc.b = ct.c
       |        JOIN cu ub ON ub.w = ct.b
       |        JOIN cu uc ON uc.w = ct.c)
       |SELECT a, b, c, c_abc, p3, p2, p1,
       |       CAST(0.6 AS DOUBLE) * p3 + CAST(0.3 AS DOUBLE) * p2
       |         + CAST(0.1 AS DOUBLE) * p1 AS p
       |FROM lmt""".stripMargin

  /** [[lmSurprise]] under the INTERPOLATED trigram model: per doc, how
    * many trigram transitions score below `minP` under [[trigramLm]]'s
    * mixture. The smoothed model never assigns an in-corpus trigram
    * probability 0, so the gate measures genuine rarity rather than
    * count sparsity — the trigram analog of perplexity filtering, kept
    * hash-stable the same way (threshold count, no logs). Docs with
    * fewer than 3 tokens report 0 and NULL rate. */
  def trigramSurprise(df: DataFrame, id: Column, text: Column,
      minP: Double): DataFrame = {
    val lm = trigramLm(df, text).select(col("a"), col("b"), col("c"), col("p"))
    val tg = df.select(id.as("doc_id"), toks(text).as("t"))
      .select(col("doc_id"),
        when(size(col("t")) >= 3,
          transform(sequence(lit(1), size(col("t")) - 2),
            i => struct(element_at(col("t"), i).as("a"),
              element_at(col("t"), i + 1).as("b"),
              element_at(col("t"), i + 2).as("c"))))
          .otherwise(array().cast("array<struct<a:string,b:string,c:string>>"))
          .as("gs"))
      .select(col("doc_id"), explode_outer(col("gs")).as("g"))
      .select(col("doc_id"), col("g.a").as("a"), col("g.b").as("b"),
        col("g.c").as("c"))
    tg.join(lm, Seq("a", "b", "c"), "left")
      .groupBy(col("doc_id"))
      .agg(count(col("a")).as("n_trigrams"),
        coalesce(sum(when(col("p") < minP, 1L).otherwise(0L)), lit(0L))
          .as("n_rare"))
      .select(col("doc_id"), col("n_trigrams"), col("n_rare"),
        (col("n_rare") * lit(1.0) /
          nullif(col("n_trigrams"), lit(0))).as("rare_rate"))
  }

  def trigramSurpriseSql(table: String, minP: Double): String =
    s"""WITH lmr AS (${trigramLmSql(table)}),
       |dt AS (SELECT doc_id,
       |         unnest(list_transform(range(1, len(t) - 1), i -> t[CAST(i AS INT)])) AS a,
       |         unnest(list_transform(range(1, len(t) - 1), i -> t[CAST(i + 1 AS INT)])) AS b,
       |         unnest(list_transform(range(1, len(t) - 1), i -> t[CAST(i + 2 AS INT)])) AS c
       |       FROM (SELECT doc_id, $toksSql AS t FROM $table) WHERE len(t) >= 3),
       |r AS (SELECT dt.doc_id, COUNT(*) AS n_trigrams,
       |        CAST(SUM(CASE WHEN lmr.p < $minP THEN 1 ELSE 0 END) AS BIGINT) AS n_rare
       |      FROM dt JOIN lmr USING (a, b, c) GROUP BY dt.doc_id)
       |SELECT d.doc_id, COALESCE(r.n_trigrams, 0) AS n_trigrams,
       |       COALESCE(r.n_rare, 0) AS n_rare,
       |       r.n_rare * 1.0 / NULLIF(r.n_trigrams, 0) AS rare_rate
       |FROM $table d LEFT JOIN r USING (doc_id)""".stripMargin

  /** LM-based quality gate: per doc, how many of its bigram transitions
    * are RARE under the corpus's own bigram LM (`P(b|a) < minP`), and
    * the rare-transition rate. The shape of perplexity filtering without
    * its determinism problem: a mean log-prob needs `ln` (libm-varying
    * last ulp) and an order-dependent double sum, while a threshold
    * count is integers + one exact division — hash-stable. Docs with no
    * bigrams report 0 and NULL rate. Two corpus-bounded aggregations
    * (the LM) + one doc-keyed join/rollup. */
  def lmSurprise(df: DataFrame, id: Column, text: Column,
      minP: Double): DataFrame = {
    val lm = bigramLm(df, text).select(col("a"), col("b"), col("p"))
    val bg = df.select(id.as("doc_id"), toks(text).as("t"))
      .select(col("doc_id"),
        when(size(col("t")) >= 2,
          transform(sequence(lit(1), size(col("t")) - 1),
            i => struct(element_at(col("t"), i).as("a"),
              element_at(col("t"), i + 1).as("b"))))
          .otherwise(array().cast("array<struct<a:string,b:string>>"))
          .as("gs"))
      .select(col("doc_id"), explode_outer(col("gs")).as("g"))
      .select(col("doc_id"), col("g.a").as("a"), col("g.b").as("b"))
    bg.join(lm, Seq("a", "b"), "left")
      .groupBy(col("doc_id"))
      .agg(count(col("a")).as("n_bigrams"),
        coalesce(sum(when(col("p") < minP, 1L).otherwise(0L)), lit(0L))
          .as("n_rare"))
      .select(col("doc_id"), col("n_bigrams"), col("n_rare"),
        (col("n_rare") * lit(1.0) /
          nullif(col("n_bigrams"), lit(0))).as("rare_rate"))
  }

  def lmSurpriseSql(table: String, minP: Double): String =
    s"""WITH t AS (SELECT doc_id, $toksSql AS t FROM $table),
       |bg AS (SELECT doc_id,
       |         unnest(list_transform(range(1, len(t)), i -> t[CAST(i AS INT)])) AS a,
       |         unnest(list_transform(range(1, len(t)), i -> t[CAST(i + 1 AS INT)])) AS b
       |       FROM t WHERE len(t) >= 2),
       |c AS (SELECT a, b, COUNT(*) AS c_ab FROM bg GROUP BY a, b),
       |lm AS (SELECT a, b, c_ab * 1.0 /
       |         CAST(SUM(c_ab) OVER (PARTITION BY a) AS BIGINT) AS p
       |       FROM c),
       |r AS (SELECT bg.doc_id, COUNT(*) AS n_bigrams,
       |         CAST(SUM(CASE WHEN lm.p < $minP THEN 1 ELSE 0 END) AS BIGINT) AS n_rare
       |       FROM bg JOIN lm USING (a, b) GROUP BY bg.doc_id)
       |SELECT t.doc_id, COALESCE(r.n_bigrams, 0) AS n_bigrams,
       |       COALESCE(r.n_rare, 0) AS n_rare,
       |       r.n_rare * 1.0 / NULLIF(r.n_bigrams, 0) AS rare_rate
       |FROM t LEFT JOIN r USING (doc_id)""".stripMargin

  // ---- fingerprinting ------------------------------------------------

  /** Content fingerprints: full-document md5 plus a winnowing-style
    * min-hash over 8-gram windows (the rolling-hash fingerprint of
    * MOSS/winnowing, with md5 standing in for the rolling hash so both
    * engines derive identical values).
    *
    * The min-gram hash runs as the native [[graft.plans.MinGramHash]]
    * expression — one fused codegen'd loop per document. The composable
    * `array_min(transform(shingles(lt, 8), md5Hash54))` form it replaces
    * is bit-identical (MinGramHashSpec) but evaluates the md5→hex→conv
    * chain interpreted per 8-gram window: benched 4.15 s at sf0.1 vs
    * ~0.3 s native — the same interpreted-HOF tax the MinHash signature
    * paid before its expression (BASELINE.md round 6). */
  def fingerprint(df: DataFrame, id: Column, text: Column): DataFrame =
    df.select(id.as("doc_id"), lower(text).as("lt"))
      .select(
        col("doc_id"),
        md5(col("lt")).as("content_md5"),
        graft.plans.GraftExtensions.minGramHash(col("lt"), 8)
          .as("min_gram_hash"))

  def fingerprintSql(table: String): String =
    s"""SELECT doc_id,
       |       md5(lower(text)) AS content_md5,
       |       list_min(list_transform(
       |         list_distinct(list_filter(
       |           list_transform(range(1, greatest(length(text) - 7, 1) + 1),
       |                          i -> substr(lower(text), CAST(i AS INT), 8)),
       |           g -> length(g) = 8)),
       |         g -> CAST(('0x' || substr(md5(g), 1, 14)) AS BIGINT))) AS min_gram_hash
       |FROM $table""".stripMargin

  // ---- BM25 retrieval (r9) --------------------------------------------

  /** Okapi BM25 top-k (Robertson et al., TREC-3; k1 = 1.2, b = 0.75) in
    * the exact-grid discipline: the per-term fraction
    * `tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))` is cleared of floats by
    * multiplying through by `10·Σdl` —
    * `num = 22·tf·Σdl`, `den = 10·tf·Σdl + 3·Σdl + 9·dl·N` — so both
    * engines divide the SAME two BIGINTs; the idf
    * `ln((N−df+½)/(df+½)) = ln((2N−2df+1)/(2df+1))` (exact rational
    * inside the ln) is snapped to the 1e-6 grid (the g_pmi_embed
    * technique); and each doc-term contribution is re-snapped before the
    * BIGINT sum, making the score order-independent and hash-exact.
    *
    * Scale: tf rows exist only for (doc, query-term) hits; df and the
    * corpus stats are broadcast one-row/`|terms|`-row frames; top-k is
    * TakeOrderedAndProject, never a global sort. BIGINT-exact while
    * 22·tf·Σdl < 2⁶³ (Σdl ≈ 4·10¹⁷ at tf ≤ 1000) — beyond that, widen
    * the two products to DECIMAL(38,0).
    *
    * The repo's retrieval family: this is the standalone scorer of the
    * keyword leg that [[graft.operators.Hybrid.rrfTopK]] fuses by rank. */
  /** Per-doc token Shannon entropy (nats) — the information-density
    * quality signal (low entropy = repetitive/templated text; Gopher-
    * family pipelines gate on it alongside repetition ratios).
    *
    * H = ln n − (Σ c·ln c)/n over per-doc token counts c, carried in
    * exact fixed point: each ln snaps to the 1e-6 grid, the Σ c·⌊ln c⌋
    * accumulates as BIGINT micro-nats (no float summation order), and
    * the one division is integer DIV (truncation identical in both
    * engines). h_fp = ⌊ln n·1e6+½⌋ − (Σ c·⌊ln c·1e6+½⌋) DIV n.
    *
    * Scale shape: explode → (doc, token) groupBy with map-side partial
    * counts → per-doc rollup; all narrow doc-keyed aggregation. */
  def tokenEntropy(df: DataFrame, id: Column, text: Column): DataFrame = {
    val counts = df.select(id.as("doc_id"), explode(toks(text)).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("c"))
    counts.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        sum(col("c") *
          floor(log(col("c").cast("double")) * lit(1e6) + lit(0.5))
            .cast("long")).as("sclnc_fp"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        (floor(log(col("n_tokens").cast("double")) * lit(1e6) + lit(0.5))
          .cast("long") -
          expr("sclnc_fp DIV n_tokens")).as("h_fp"))
      .withColumn("entropy", col("h_fp").cast("double") / lit(1e6))
  }

  /** DuckDB twin of [[tokenEntropy]] — same snap points, same integer
    * division. Docs with zero tokens are absent from both engines (the
    * explode drops them). */
  def tokenEntropySql(table: String): String =
    s"""WITH t AS (SELECT doc_id, $toksSql AS t FROM $table),
       |tc AS (SELECT doc_id, tok, COUNT(*) AS c
       |       FROM (SELECT doc_id, unnest(t) AS tok FROM t)
       |       GROUP BY doc_id, tok),
       |agg AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
       |          COUNT(*) AS n_distinct,
       |          CAST(SUM(c * CAST(FLOOR(ln(CAST(c AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS sclnc_fp
       |        FROM tc GROUP BY doc_id)
       |SELECT doc_id, n_tokens, n_distinct,
       |       CAST(FLOOR(ln(CAST(n_tokens AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)
       |         - sclnc_fp // n_tokens AS h_fp,
       |       CAST(CAST(FLOOR(ln(CAST(n_tokens AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)
       |         - sclnc_fp // n_tokens AS DOUBLE) / 1000000.0 AS entropy
       |FROM agg""".stripMargin

  def bm25TopK(df: DataFrame, id: Column, text: Column,
      terms: Seq[String], k: Int): DataFrame = {
    require(terms.nonEmpty, "bm25TopK: empty query term list")
    val toksed = df.select(id.as("doc_id"), toks(text).as("t"))
      .select(col("doc_id"), col("t"), size(col("t")).cast("long").as("dl"))
    val stats = toksed.agg(count(lit(1)).as("n"),
      sum(col("dl")).as("dltot"))
    val tf = toksed
      .select(col("doc_id"), col("dl"), explode(col("t")).as("tok"))
      .filter(col("tok").isin(terms: _*))
      .groupBy(col("doc_id"), col("dl"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("tok"))
      .agg(countDistinct(col("doc_id")).as("df"))
    tf.join(broadcast(dfreq), "tok")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        floor(
          (floor(log((lit(2L) * col("n") - lit(2L) * col("df") + lit(1L))
              .cast("double") /
              (lit(2L) * col("df") + lit(1L)).cast("double"))
            * lit(1e6) + lit(0.5)).cast("long").cast("double") / lit(1e6))
          * ((lit(22L) * col("tf") * col("dltot")).cast("double") /
             (lit(10L) * col("tf") * col("dltot") + lit(3L) * col("dltot") +
              lit(9L) * col("dl") * col("n")).cast("double"))
          * lit(1e6) + lit(0.5)).cast("long").as("c_fp"))
      .groupBy(col("doc_id")).agg(sum(col("c_fp")).as("score_fp"))
      .withColumn("score", col("score_fp").cast("double") / lit(1e6))
      .orderBy(col("score_fp").desc, col("doc_id"))
      .limit(k)
  }

  /** Position discounts 1/log₂(i+1) for [[retrievalEval]], in integer
    * micro-units — computed ONCE here on the driver and embedded as
    * literals in BOTH engines, so the DCG sum is a pure BIGINT dot
    * product with no float summation anywhere. */
  private[graft] def ndcgWeightsFp(k: Int): Seq[Long] =
    (1 to k).map(i => math.round(1e6 * math.log(2.0) / math.log(i + 1.0)))

  /** Ranking-quality evaluation of [[bm25TopK]] — nDCG@k and MRR per
    * query, the eval loop a retrieval pipeline runs next to
    * `sim_recall_eval`'s ANN recall. Deterministic end to end:
    *
    *  - graded relevance = number of distinct query terms the doc
    *    contains (0..|terms|) — an exact, engine-independent label;
    *  - gain 2^rel − 1 (integer), discount from [[ndcgWeightsFp]]
    *    (integer micro-units) ⇒ DCG@k and ideal DCG@k are BIGINT sums;
    *  - MRR as micro-units: 1e6 DIV rank-of-first-relevant (both
    *    engines truncate), 0 when nothing relevant ranked;
    *  - nDCG = DCG_fp / IDCG_fp, one double division of exact integers.
    *
    * The per-position window partitions by query over ≤k rows — bounded,
    * never a global window. */
  def retrievalEval(df: DataFrame, id: Column, text: Column,
      queries: Seq[(Int, Seq[String])], k: Int): DataFrame = {
    val wfp = ndcgWeightsFp(k)
    val wAt = element_at(array(wfp.map(lit): _*), col("rnk").cast("int"))
    val iwAt = element_at(array(wfp.map(lit): _*), col("irnk").cast("int"))
    val toksed = df.select(id.as("doc_id"), toks(text).as("t"))
    val graded = queries.map { case (qid, terms) =>
      bm25TopK(df, id, text, terms, k)
        .withColumn("qid", lit(qid))
        .withColumn("rnk", row_number().over(
          Window.partitionBy(col("qid"))
            .orderBy(col("score_fp").desc, col("doc_id"))))
        .join(toksed, Seq("doc_id"))
        .withColumn("rel", terms.map(t =>
          when(array_contains(col("t"), t), 1L).otherwise(0L))
          .reduce(_ + _))
        .select(col("qid"), col("rnk"), col("rel"))
    }.reduce(_ unionByName _)
    graded
      .withColumn("irnk", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("rel").desc, col("rnk"))))
      .withColumn("gain", expr("CAST(shiftleft(1, CAST(rel AS INT)) AS BIGINT) - 1"))
      .groupBy(col("qid"))
      .agg(sum(col("gain") * wAt).as("dcg_fp"),
        sum(col("gain") * iwAt).as("idcg_fp"),
        min(when(col("rel") >= 1L, col("rnk"))).as("first_rel"))
      .select(col("qid"), col("dcg_fp"), col("idcg_fp"),
        when(col("idcg_fp") > 0L,
          col("dcg_fp").cast("double") / col("idcg_fp").cast("double"))
          .as("ndcg"),
        coalesce(expr("1000000 DIV first_rel"), lit(0L)).as("rr_fp"))
      .orderBy(col("qid"))
  }

  /** DuckDB twin of [[retrievalEval]] — same literals, same integer
    * sums, same division. */
  def retrievalEvalSql(table: String, queries: Seq[(Int, Seq[String])],
      k: Int): String = {
    val wCase = ndcgWeightsFp(k).zipWithIndex
      .map { case (w, i) => s"WHEN ${i + 1} THEN $w" }.mkString(" ")
    val rels = queries.map { case (qid, terms) =>
      val relExpr = terms.map(t =>
        s"CASE WHEN list_contains(t.t, '$t') THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""SELECT $qid AS qid, q.rnk, CAST($relExpr AS BIGINT) AS rel
         |FROM (SELECT doc_id, score_fp,
         |        ROW_NUMBER() OVER (ORDER BY score_fp DESC, doc_id) AS rnk
         |      FROM (${bm25TopKSql(table, terms, k)})) q
         |JOIN (SELECT doc_id, $toksSql AS t FROM $table) t USING (doc_id)""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH rgr AS ($rels),
       |rir AS (SELECT qid, rnk, rel,
       |          ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rel DESC, rnk) AS irnk,
       |          (CAST(1 AS BIGINT) << CAST(rel AS INT)) - 1 AS gain
       |        FROM rgr),
       |ragg AS (SELECT qid,
       |           CAST(SUM(gain * CASE rnk $wCase END) AS BIGINT) AS dcg_fp,
       |           CAST(SUM(gain * CASE irnk $wCase END) AS BIGINT) AS idcg_fp,
       |           MIN(CASE WHEN rel >= 1 THEN rnk END) AS first_rel
       |         FROM rir GROUP BY qid)
       |SELECT qid, dcg_fp, idcg_fp,
       |       CASE WHEN idcg_fp > 0
       |            THEN CAST(dcg_fp AS DOUBLE) / CAST(idcg_fp AS DOUBLE) END AS ndcg,
       |       COALESCE(1000000 // first_rel, 0) AS rr_fp
       |FROM ragg ORDER BY qid""".stripMargin
  }

  /** DuckDB twin of [[bm25TopK]] over `table(doc_id, text)` — same
    * integer clearing, same grid snaps, same op order. */
  def bm25TopKSql(table: String, terms: Seq[String], k: Int): String = {
    require(terms.nonEmpty, "bm25TopKSql: empty query term list")
    val termList = terms.map(t => s"'$t'").mkString(", ")
    s"""WITH bd AS (SELECT doc_id, $toksSql AS t FROM $table),
       |bdl AS (SELECT doc_id, t, CAST(len(t) AS BIGINT) AS dl FROM bd),
       |bstats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |                  CAST(SUM(dl) AS BIGINT) AS dltot FROM bdl),
       |btf AS (SELECT doc_id, dl, tok, CAST(COUNT(*) AS BIGINT) AS tf
       |        FROM (SELECT doc_id, dl, unnest(t) AS tok FROM bdl)
       |        WHERE tok IN ($termList)
       |        GROUP BY doc_id, dl, tok),
       |bdf AS (SELECT tok, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
       |        FROM btf GROUP BY tok),
       |bsc AS (SELECT f.doc_id,
       |          CAST(FLOOR(
       |            (CAST(CAST(FLOOR(ln(CAST(2 * s.n - 2 * d.df + 1 AS DOUBLE)
       |                / CAST(2 * d.df + 1 AS DOUBLE)) * 1000000.0 + 0.5)
       |              AS BIGINT) AS DOUBLE) / 1000000.0)
       |            * (CAST(22 * f.tf * s.dltot AS DOUBLE)
       |               / CAST(10 * f.tf * s.dltot + 3 * s.dltot
       |                      + 9 * f.dl * s.n AS DOUBLE))
       |            * 1000000.0 + 0.5) AS BIGINT) AS c_fp
       |        FROM btf f JOIN bdf d ON d.tok = f.tok CROSS JOIN bstats s),
       |bscore AS (SELECT doc_id, CAST(SUM(c_fp) AS BIGINT) AS score_fp
       |           FROM bsc GROUP BY doc_id)
       |SELECT doc_id, score_fp,
       |       CAST(score_fp AS DOUBLE) / 1000000.0 AS score
       |FROM bscore ORDER BY score_fp DESC, doc_id LIMIT $k""".stripMargin
  }
}
