package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFns.md5Hash54

/** Dataset-mixing primitives: deterministic sampling for up/down-weighting
  * sources when assembling a training mix. */
object Sampling {

  /** Deterministic stratified keep-filter: a row survives iff the salted
    * 54-bit md5 hash of its stable key, mod 10⁴, falls under its
    * stratum's threshold (`rate · 10⁴`, rounded ONCE on the driver and
    * embedded as an integer literal — [[stratifiedSql]] embeds the same
    * integers, so both engines compare integers and cannot drift on
    * float rounding). Properties a mixing gate needs at 100 TB:
    * reproducible across runs/engines (no RNG state — rerunning the
    * pipeline keeps the same docs), embarrassingly parallel (a narrow
    * scan+filter, no shuffle, no per-stratum pass), rate-exact to 1e-4
    * in expectation, and composable (a second pass with a higher rate
    * and the same salt keeps a SUPERSET — hash thresholds nest, which
    * per-row RNG cannot do). Unknown strata drop (threshold 0) — the
    * conservative default. */
  def stratified(df: DataFrame, key: Column, stratum: Column,
      rates: Map[String, Double], salt: String): DataFrame = {
    val bucket =
      md5Hash54(concat(lit(salt + ":"), key.cast("string"))) % 10000L
    val threshold = rates.foldLeft(lit(0L)) { case (acc, (s, r)) =>
      when(stratum === s, lit((r * 10000).round)).otherwise(acc)
    }
    df.filter(bucket < threshold)
  }

  /** DuckDB twin of [[stratified]]'s predicate appended to `selectSql`
    * (same salt, same integer thresholds, same hash derivation). */
  def stratifiedSql(selectSql: String, keyCol: String, stratumCol: String,
      rates: Map[String, Double], salt: String): String = {
    val cases = rates.toSeq.sortBy(_._1).map { case (s, r) =>
      s"WHEN $stratumCol = '$s' THEN ${(r * 10000).round}"
    }.mkString(" ")
    s"""$selectSql
       |WHERE CAST(('0x' || substr(md5('$salt:' || CAST($keyCol AS VARCHAR)), 1, 14)) AS BIGINT) % 10000
       |      < CASE $cases ELSE 0 END""".stripMargin
  }

  // ---- per-stratum reservoir ------------------------------------------

  /** Deterministic per-stratum reservoir: the k rows with the SMALLEST
    * salted hash per stratum — a reproducible "uniform k-sample per
    * group". The classic streaming reservoir (Vitter's R) is
    * RNG-stateful and order-dependent; hash order gives the same
    * statistical guarantee (md5 is uniform over keys) while being
    * deterministic, engine-portable and re-runnable. Executed through
    * the native bounded-top-k aggregate, so each map partition ships at
    * most |strata|·k rows to the exchange — the corpus itself never
    * shuffles, which is what makes "sample 10k docs per language from
    * 100 TB" a cheap pass. */
  def reservoir(df: DataFrame, key: Column, stratum: Column, k: Int,
      salt: String): DataFrame =
    graft.plans.GraftExtensions.topKPerGroup(
        df.select(stratum.as("stratum"), key.as("doc_id"),
          md5Hash54(concat(lit(salt + ":"), key.cast("string"))).as("h")),
        Seq("stratum"), k, descFirst = false)(col("h"), col("doc_id"))
      .select(col("stratum"), col("doc_id"), col("rnk"))
      .orderBy(col("stratum"), col("rnk"))

  /** DuckDB twin of [[reservoir]] over `$src` with columns
    * `($keyCol, $stratumCol)` — plain windowed rank, same hash. */
  def reservoirSql(src: String, keyCol: String, stratumCol: String,
      k: Int, salt: String): String =
    s"""SELECT stratum, doc_id, CAST(rnk AS INT) AS rnk FROM (
       |  SELECT $stratumCol AS stratum, $keyCol AS doc_id,
       |         ROW_NUMBER() OVER (PARTITION BY $stratumCol
       |           ORDER BY CAST(('0x' || substr(md5('$salt:' || CAST($keyCol AS VARCHAR)), 1, 14)) AS BIGINT),
       |                    $keyCol) AS rnk
       |  FROM $src)
       |WHERE rnk <= $k ORDER BY stratum, rnk""".stripMargin

  // ---- temperature sampling -------------------------------------------

  /** Multilingual TEMPERATURE sampling (the mT5 / XLM-R mixing scheme):
    * target share per stratum ∝ p_l^α with p_l the natural share, here
    * fixed at α = 1/2 because p^0.5 = sqrt(p) is the ONE exponent whose
    * power is IEEE-exact (correctly-rounded sqrt) — any other α needs
    * libm `pow`, which is not correctly rounded and would break the
    * cross-engine hash gate. The resulting up/down-weights are rescaled
    * so the most-boosted stratum keeps everything (pure downsampling,
    * never fabricating rows), then snapped to the same integer 1e4
    * thresholds [[stratified]] uses.
    *
    * Unlike [[stratified]] the rates are DERIVED FROM THE DATA (one
    * count aggregation), not configured: the per-stratum math runs on a
    * one-row sorted array so every cross-stratum reduction is a
    * sequential fold in stratum order — order-fixed, hence bit-equal to
    * the twin. Scale: one groupBy(stratum) over the corpus; everything
    * after is O(|strata|) driver-free arithmetic on one row.
    *
    * Returns `(stratum, n_docs, thr)` with thr ∈ [0, 10000]. */
  def temperatureRates(df: DataFrame, stratum: Column): DataFrame = {
    val counts = df.groupBy(stratum.as("stratum"))
      .agg(count(lit(1)).as("n"))
    val sorted = array_sort(collect_list(struct(col("stratum"), col("n"))))
    val arr = counts.groupBy().agg(
      transform(sorted, s => s.getField("stratum")).as("ls"),
      transform(sorted, s => s.getField("n")).as("ns"))
    val seqSum = (a: Column) => // the proven cross-engine sequential fold
      aggregate(a, lit(0.0), (acc, x) => acc + x)
    val staged = arr
      .select(col("ls"), col("ns"),
        aggregate(col("ns"), lit(0L), (a, x) => a + x).as("N"))
      .select(col("ls"), col("ns"), col("N"),
        transform(col("ns"),
          x => sqrt(x.cast("double") / col("N").cast("double"))).as("ws"))
      .select(col("ls"), col("ns"), col("N"), col("ws"),
        seqSum(col("ws")).as("S"))
      // boost ratio q_l/p_l = (w_l/S)/(n_l/N) = w_l·N/(S·n_l)
      .select(col("ls"), col("ns"),
        zip_with(col("ws"), col("ns"), (w, n) =>
          w * col("N").cast("double") / (col("S") * n.cast("double")))
          .as("rs"))
      .select(col("ls"), col("ns"),
        zip_with(col("rs"), col("ns"), (r, _) =>
          floor(r / array_max(col("rs")) * lit(10000.0) + lit(0.5))
            .cast("long")).as("ts"))
    staged
      .select(posexplode(arrays_zip(col("ls"), col("ns"), col("ts"))).as(Seq("i", "z")))
      .select(col("z.ls").as("stratum"), col("z.ns").as("n_docs"),
        col("z.ts").as("thr"))
      .orderBy(col("stratum"))
  }

  /** Temperature-sampled corpus: the data-derived thresholds of
    * [[temperatureRates]] applied through the [[stratified]] hash gate
    * (thresholds broadcast — |strata| rows). */
  def temperatureSample(df: DataFrame, key: Column, stratum: Column,
      salt: String): DataFrame = {
    val thr = temperatureRates(df, stratum)
      .select(col("stratum"), col("thr"))
    val bucket =
      md5Hash54(concat(lit(salt + ":"), key.cast("string"))) % 10000L
    df.withColumn("stratum", stratum)
      .join(broadcast(thr), "stratum")
      .filter(bucket < col("thr"))
      .drop("stratum", "thr")
  }

  // ---- stratified up-sampling -----------------------------------------

  /** Epochs-style stratified UP-sampling (the data-constrained-scaling
    * move: repeat under-represented sources k× rather than dropping
    * others — Muennighoff et al. 2023 show up to ~4 repeats cost little):
    * each row is emitted `factor(stratum)` times with a `copy` index
    * (0-based), factor 1 for unlisted strata. The complement of
    * [[stratified]], which only down-samples. Pure narrow explode —
    * no shuffle, no RNG; the copy index keeps downstream dedup/packing
    * deterministic. */
  def upsample(df: DataFrame, stratum: Column,
      factors: Map[String, Int]): DataFrame = {
    // factor 0 would make sequence(0, -1) emit [0, -1] (two copies) while
    // the SQL twin's `g.i < 0` emits zero — refuse rather than diverge
    require(factors.values.forall(_ >= 1),
      s"upsample factors must be >= 1, got $factors")
    val factor = factors.foldLeft(lit(1)) { case (acc, (s, k)) =>
      when(stratum === s, lit(k)).otherwise(acc)
    }
    df.withColumn("copy", explode(sequence(lit(0), factor - 1)))
  }

  /** DuckDB twin of [[upsample]] appended to `selectSql` (same factors;
    * generate_series bound = max factor). */
  def upsampleSql(selectSql: String, stratumCol: String,
      factors: Map[String, Int]): String = {
    require(factors.values.forall(_ >= 1),
      s"upsample factors must be >= 1, got $factors")
    val cases = factors.toSeq.sortBy(_._1)
      .map { case (s, k) => s"WHEN $stratumCol = '$s' THEN $k" }
      .mkString(" ")
    val maxK = (factors.values.toSeq :+ 1).max
    val caseExpr = if (factors.isEmpty) "1" else s"CASE $cases ELSE 1 END"
    s"""SELECT t.*, g.i AS copy FROM ($selectSql) t
       |CROSS JOIN generate_series(0, ${maxK - 1}) g(i)
       |WHERE g.i < $caseExpr""".stripMargin
  }

  // ---- curriculum ordering --------------------------------------------

  /** Curriculum phase assignment: rank the corpus by an integer quality
    * proxy (distinct-token richness primary, length secondary — both
    * exact counts, fused into one BIGINT so the rank key is a single
    * order-stable integer) and cut it into `phases` equal global-rank
    * slices: `phase = ((rank−1)·phases) DIV n`. Curriculum training
    * consumes phase 0 (richest docs) first.
    *
    * The global row_number runs through
    * [[Ranking.globalDenseRankCols]] (two-pass range-partitioned rank —
    * dense rank ≡ row_number here because the composite key ends in the
    * unique doc id), so no single-partition window exists at any scale;
    * the corpus count joins back as a one-row crossJoin, not a driver
    * collect. */
  /** CCNet-style perplexity bucketing (Wenzek et al. 2020): rank every
    * doc by its rare-transition rate under the corpus's own bigram LM
    * ([[TextAnalysis.lmSurprise]] — the hash-stable stand-in for mean
    * log-prob) and split the ranking into head/middle/tail thirds.
    * Downstream mixes train head-heavy or drop the tail.
    *
    * Determinism: the rate is INTEGER fixed point ((n_rare·1e6) DIV
    * n_bigrams — both engines truncate toward zero), the ranking is the
    * two-pass global rank on the unique (rate_fp, doc_id) pair (no
    * unpartitioned window), and the bucket is integer arithmetic on the
    * rank — the [[curriculum]] discipline applied to a quality signal.
    * Docs with no bigrams rank past every real rate (sentinel 1e6+1). */
  def pplBuckets(df: DataFrame, id: Column, text: Column,
      minP: Double, buckets: Int = 3): DataFrame = {
    val scored = TextAnalysis.lmSurprise(df, id, text, minP)
      .select(col("doc_id"), col("n_bigrams"), col("n_rare"),
        when(col("n_bigrams") === 0L, lit(1000001L))
          .otherwise(expr("(n_rare * 1000000) DIV n_bigrams")).as("rate_fp"))
    val ranked = Ranking.globalDenseRankCols(scored,
      Seq("rate_fp", "doc_id"), "rank", ascending = true)
    val n = scored.agg(count(lit(1)).as("n"))
    ranked.crossJoin(broadcast(n))
      .select(col("doc_id"), col("n_bigrams"), col("n_rare"),
        col("rate_fp"), col("rank"),
        expr(s"((rank - 1) * $buckets) DIV n").as("bucket"))
      .withColumn("bucket_name",
        when(col("bucket") === 0L, lit("head"))
          .when(col("bucket") === lit(buckets - 1), lit("tail"))
          .otherwise(lit("middle")))
  }

  /** DuckDB twin of [[pplBuckets]] over `$src(doc_id, text)`. */
  def pplBucketsSql(src: String, minP: Double, buckets: Int = 3): String =
    s"""WITH pbase AS (SELECT * FROM (${TextAnalysis.lmSurpriseSql(src, minP)})),
       |psc AS (SELECT doc_id, n_bigrams, COALESCE(n_rare, 0) AS n_rare,
       |          CASE WHEN n_bigrams = 0 THEN 1000001
       |               ELSE (COALESCE(n_rare, 0) * 1000000) // n_bigrams
       |          END AS rate_fp
       |        FROM pbase),
       |pr AS (SELECT doc_id, n_bigrams, n_rare, rate_fp,
       |         ROW_NUMBER() OVER (ORDER BY rate_fp, doc_id) AS rank
       |       FROM psc)
       |SELECT doc_id, n_bigrams, n_rare, rate_fp, rank,
       |       ((rank - 1) * $buckets) // (SELECT COUNT(*) FROM psc) AS bucket,
       |       CASE ((rank - 1) * $buckets) // (SELECT COUNT(*) FROM psc)
       |         WHEN 0 THEN 'head'
       |         WHEN ${buckets - 1} THEN 'tail'
       |         ELSE 'middle' END AS bucket_name
       |FROM pr
       |ORDER BY doc_id""".stripMargin

  def curriculum(df: DataFrame, id: Column, text: Column,
      phases: Int): DataFrame = {
    val scored = df
      .select(id.as("doc_id"), TextAnalysis.toks(text).as("t"))
      .select(col("doc_id"),
        (size(array_distinct(col("t"))).cast("long") * 1000000L +
          size(col("t")).cast("long")).as("score"))
      // rank DESC on (score, -doc_id): one direction for both columns,
      // negated id = ascending id tie-break
      .withColumn("_negid", -col("doc_id"))
    val ranked = Ranking.globalDenseRankCols(scored,
      Seq("score", "_negid"), "rank")
    val n = scored.agg(count(lit(1)).as("n"))
    ranked.crossJoin(n)
      .select(col("doc_id"), col("score"), col("rank"),
        expr(s"((rank - 1) * $phases) DIV n").as("phase"))
  }

  /** DuckDB twin of [[curriculum]] over `$src` with `(doc_id, text)`. */
  def curriculumSql(src: String, phases: Int): String =
    s"""SELECT doc_id, score, rank,
       |       ((rank - 1) * $phases) // (SELECT COUNT(*) FROM ($src)) AS phase
       |FROM (
       |  SELECT doc_id, score,
       |         ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rank
       |  FROM (
       |    SELECT doc_id,
       |           CAST(len(list_distinct(t)) AS BIGINT) * 1000000
       |             + CAST(len(t) AS BIGINT) AS score
       |    FROM (SELECT doc_id, ${TextAnalysis.toksSql} AS t FROM ($src))))""".stripMargin

  /** CTE chain twin of [[temperatureRates]] over `$src` — ends in
    * `trates(stratum, n_docs, thr)`. Cross-stratum folds run via
    * `list_dot_product` against a ones-list (the proven sequential
    * fold), element math via generate_series indexing. */
  def temperatureCtesSql(src: String, stratumCol: String,
      maxStrata: Int = 32): String =
    s"""tcounts AS (SELECT $stratumCol AS stratum, COUNT(*) AS n
       |            FROM $src GROUP BY $stratumCol),
       |tarr AS (SELECT list(stratum ORDER BY stratum) AS ls,
       |                list(n ORDER BY stratum) AS ns
       |         FROM tcounts),
       |tn AS (SELECT ls, ns,
       |              CAST(list_aggregate(ns, 'sum') AS BIGINT) AS N
       |       FROM tarr),
       |tw AS (SELECT ls, ns, N,
       |              list_transform(ns, x -> sqrt(CAST(x AS DOUBLE) / CAST(N AS DOUBLE))) AS ws
       |       FROM tn),
       |ts AS (SELECT ls, ns, N, ws,
       |              list_dot_product(ws, list_transform(ws, x -> 1.0)) AS S
       |       FROM tw),
       |tr AS (SELECT ls, ns,
       |              list_transform(generate_series(1, len(ns)),
       |                i -> ws[CAST(i AS INT)] * CAST(N AS DOUBLE)
       |                     / (S * CAST(ns[CAST(i AS INT)] AS DOUBLE))) AS rs
       |       FROM ts),
       |tt AS (SELECT ls, ns,
       |              list_transform(rs, r ->
       |                CAST(FLOOR(r / list_aggregate(rs, 'max') * 10000.0 + 0.5) AS BIGINT)) AS ts
       |       FROM tr),
       |trates AS (SELECT ls[CAST(g.i AS INT)] AS stratum,
       |                  ns[CAST(g.i AS INT)] AS n_docs,
       |                  ts[CAST(g.i AS INT)] AS thr
       |           FROM tt CROSS JOIN generate_series(1, $maxStrata) g(i)
       |           WHERE g.i <= len(ls))""".stripMargin
}
