package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.GraftExtensions.topKPerGroup
import graft.plans.Pins.PinnedOps

import graft.functions.TextFns.md5Hash54

/** Similarity search over an embedding column (`Array[Float]`):
  * brute-force cosine top-k as the correctness baseline, an IVF variant
  * (centroid assignment + single-probe search) and a random-hyperplane
  * LSH bucketing variant as the 100 TB scale paths.
  *
  * Numeric parity contract: all dot products run as *sequential*
  * left-to-right folds over double-cast elements (`zip_with` +
  * `aggregate`), which matches DuckDB's `list_dot_product` element order —
  * so cosine scores are bit-identical across engines and the oracle can
  * hash-compare them.
  *
  * Scale notes: brute force is O(|Q|·|N|·d) — fine when |Q| is small or as
  * the per-bucket step after IVF/LSH pruning. The IVF path shuffles once
  * on centroid id; buckets are the unit of parallelism. At real scale the
  * centroid set comes from k-means; here it's a deterministic prefix of
  * the corpus so the oracle can replicate it.
  */
object Similarity {

  /** Cast float embedding to double — all downstream math in f64. */
  def vecD(v: Column): Column = transform(v, x => x.cast("double"))

  /** Sequential-fold dot product (order-stable, codegen'd). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** Composable HOF cosine — the reference formulation the native
    * expression is verified against (CosineSimilaritySpec). */
  def cosineHof(a: Column, b: Column): Column =
    dot(a, b) / sqrt(dot(a, a) * dot(b, b))

  /** Hot-path cosine: the native codegen expression
    * [[graft.plans.CosineSimilarity]] — one fused loop, no intermediate
    * arrays, bit-identical to [[cosineHof]] (same accumulation order). */
  def cosine(a: Column, b: Column): Column =
    graft.plans.GraftExtensions.cosineSim(a, b)

  /** Per-group argmax as a HASH aggregation with map-side partial combine
    * (the louvain `best` pattern, hoisted for the ANN family): max over
    * `struct(score, -tie, payload…)` is lexicographic, i.e. exactly
    * `score DESC, tie ASC` — the same total order as the
    * `row_number().over(partitionBy(group).orderBy(...)) === 1` window it
    * replaces, including double semantics (struct comparison uses the
    * identical Spark ordering the sort used). Unlike the window, the
    * exchange carries ONE combined row per (group, map-partition) instead
    * of every candidate — at 100 TB the difference between shuffling
    * |corpus| rows and |corpus|·k. */
  def argmax(df: DataFrame, groups: Seq[Column], score: Column, tie: Column,
      tieName: String, payload: Seq[(Column, String)] = Seq.empty): DataFrame = {
    val b = struct((score.as("_s") +: (-tie).as("_nt") +:
      payload.map { case (c, n) => c.as(n) }): _*)
    df.groupBy(groups: _*)
      .agg(max(b).as("_b"))
      .select(groups ++ Seq((-col("_b._nt")).as(tieName)) ++
        payload.map { case (_, n) => col(s"_b.$n").as(n) }: _*)
  }

  /** Brute-force cosine top-k: queries × corpus, ranked per query.
    *
    * No broadcast hint on the query side: `isQuery` is caller-supplied and
    * unbounded, and an unconditional `broadcast(q)` OOMs the moment a
    * caller passes a large query set. AQE broadcasts the small side of the
    * cross join at runtime when it actually fits. */
  def bruteForceTopK(emb: DataFrame, isQuery: Column, k: Int): DataFrame = {
    val e = emb.select(col("vec_id"), vecD(col("embedding")).as("v"))
    val q = e.filter(isQuery)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val pairs = q.crossJoin(e)
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", cosine(col("qv"), col("v")))
    // bounded per-query top-k (map-side compaction) — the |Q|·|N| pair
    // stream never reaches an exchange
    topKPerGroup(pairs, Seq("query_id"), k, descFirst = true)(
        col("cos"), col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rnk"),
        col("cos"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** Deterministic Lloyd's k-means over the embedding corpus.
    *
    * Init = the `vec_id < k` corpus prefix (the previous centroid choice,
    * now just the seed); then `iters` fixed assignment/update rounds —
    * fixed iteration count, not convergence, is what keeps the result
    * reproducible and oracle-checkable.
    *
    * The update step uses EXACT integer accumulation: each element is
    * snapped to a 1e-6 grid (`floor(x·1e6 + 0.5)` — identical IEEE ops in
    * both engines, unlike ROUND whose half-rule differs) and summed as
    * BIGINT, so the mean is independent of partition/summation order and
    * bit-identical to the DuckDB twin. A double SUM would be
    * order-dependent in BOTH engines and un-hashable. Empty clusters drop
    * out identically on both sides (inner join semantics).
    *
    * Scale: assignment broadcasts only the k centroids (bounded by k·dim,
    * not data); the update is one posexplode + groupBy(centroid, pos)
    * shuffle of |corpus|·dim narrow rows per round. */
  def kMeansCentroids(emb: DataFrame, k: Int, iters: Int): DataFrame = {
    val e = emb.select(col("vec_id"), vecD(col("embedding")).as("v"))
    var cents = e.filter(col("vec_id") < k)
      .select(col("vec_id").as("centroid_id"), col("v").as("cv"))
    for (_ <- 1 to iters) {
      // argmax as hash-agg (cos DESC, centroid_id ASC): partial combine
      // ships one row per vector per map partition instead of windowing
      // the |corpus|·k crossJoin output through a vec_id exchange
      val assigned = argmax(
          e.crossJoin(broadcast(cents))
            .withColumn("cos", cosine(col("v"), col("cv"))),
          Seq(col("vec_id")), col("cos"), col("centroid_id"), "centroid_id",
          Seq(col("v") -> "v"))
        .select(col("centroid_id"), col("v"))
      val sums = assigned
        .select(col("centroid_id"), posexplode(col("v")).as(Seq("pos", "val")))
        .groupBy(col("centroid_id"), col("pos"))
        .agg((sum(floor(col("val") * lit(1e6) + lit(0.5)).cast("long"))
          .cast("double") / (lit(1e6) * count(lit(1)))).as("m"))
      cents = sums.groupBy(col("centroid_id"))
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m")).as("cv"))
        .pinned
    }
    cents
  }

  /** IVF centroid assignment against an explicit centroid table
    * `(centroid_id, cv)`: nearest (max-cosine) centroid per vector. */
  def ivfAssignWith(emb: DataFrame, cents: DataFrame): DataFrame = {
    val e = emb.select(col("vec_id"), vecD(col("embedding")).as("v"))
    argmax(
        e.crossJoin(broadcast(cents.select(col("centroid_id"), col("cv"))))
          .withColumn("cos", cosine(col("v"), col("cv"))),
        Seq(col("vec_id")), col("cos"), col("centroid_id"), "centroid_id")
      .select(col("vec_id"), col("centroid_id"))
  }

  /** IVF centroid assignment with prefix centroids (k-means seed state —
    * kept as the zero-training baseline). */
  def ivfAssign(emb: DataFrame, nCentroids: Int): DataFrame =
    ivfAssignWith(emb, kMeansCentroids(emb, nCentroids, iters = 0))

  /** The IVF probe rank every IVF scan starts from: each vector of
    * `e0(vec_id, v)` against the broadcast centroids `(centroid_id, cv)`,
    * its `nProbe` nearest ranked (cos DESC, centroid_id) by one bounded
    * top-nProbe aggregate. Returns `(vec_id, rnk, cos, centroid_id,
    * payload…)`: rank 1 is the vector's bucket, ranks ≤ nProbe a query's
    * probes — one aggregate for both, where a window formulation
    * shuffled the |corpus|·k cross join twice. */
  private[graft] def ivfProbeRank(e0: DataFrame, cents: DataFrame,
      nProbe: Int, payload: Column*): DataFrame =
    topKPerGroup(
      e0.crossJoin(broadcast(cents.select(col("centroid_id"), col("cv"))))
        .withColumn("cos", cosine(col("v"), col("cv"))),
      Seq("vec_id"), nProbe, descFirst = true)(
      col("cos") +: col("centroid_id") +: payload: _*)

  /** IVF ANN with multi-probe: per query, search the buckets of its
    * `nProbe` nearest centroids (nProbe=1 → classic single-probe; higher
    * nProbe trades compute for recall — the standard IVF knob). Returns
    * top-k per query (query's self-match excluded). */
  def ivfTopKWith(emb: DataFrame, cents: DataFrame, isQuery: Column, k: Int,
      nProbe: Int = 1): DataFrame = {
    val e0 = emb.select(col("vec_id"), vecD(col("embedding")).as("v"))
    val ranked = ivfProbeRank(e0, cents, nProbe, col("v"))
    // corpus side: each vector lives in its single nearest bucket
    val assigned = ranked.filter(col("rnk") === 1)
      .select(col("vec_id"), col("v"), col("centroid_id"))
    // query side: probe the nProbe nearest buckets
    val q = ranked.filter(isQuery && col("rnk") <= nProbe)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("centroid_id").as("qc"))
    // no broadcast hint: the probe join is an equi-join on bucket id, so
    // at scale both sides shuffle-partition by centroid (the IVF design);
    // AQE still broadcasts the query side at runtime when it's small
    val cand = q.join(assigned, col("centroid_id") === col("qc"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", cosine(col("qv"), col("v")))
      // a neighbor can surface from several probed buckets → dedup first
      .select(col("query_id"), col("vec_id"), col("cos")).distinct()
    topKPerGroup(cand, Seq("query_id"), k, descFirst = true)(
        col("cos"), col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rnk"),
        col("cos"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** IVF ANN with prefix centroids (zero-training baseline). */
  def ivfTopK(emb: DataFrame, isQuery: Column, nCentroids: Int, k: Int,
      nProbe: Int = 1): DataFrame =
    ivfTopKWith(emb, kMeansCentroids(emb, nCentroids, iters = 0), isQuery, k, nProbe)

  /** Scalar int8 quantization — the third classic ANN scale path next to
    * IVF bucketing and hyperplane LSH: per-vector symmetric codes
    * `floor(x/s·127 + 0.5)` with `s = max|x|` (range ±127, 4× smaller
    * than f32, integer dot products downstream). `floor(+0.5)` instead of
    * ROUND because the engines' half-rules differ but their floors don't
    * (the k-means lesson); all-zero vectors quantize to all-zero codes on
    * both sides. Returns (vec_id, scale, codes array<long>, norm2 — the
    * exact BIGINT Σcode²). */
  def quantize(emb: DataFrame): DataFrame = {
    val e = emb.select(col("vec_id"), vecD(col("embedding")).as("v"))
    e.select(col("vec_id"),
        aggregate(transform(col("v"), x => abs(x)), lit(0.0),
          (a, x) => greatest(a, x)).as("scale"), col("v"))
      .withColumn("codes",
        when(col("scale") === 0.0, transform(col("v"), _ => lit(0L)))
          .otherwise(transform(col("v"),
            x => floor(x / col("scale") * lit(127.0) + lit(0.5)).cast("long"))))
      .withColumn("norm2",
        graft.plans.GraftExtensions.dotI64(col("codes"), col("codes")))
      .select(col("vec_id"), col("scale"), col("codes"), col("norm2"))
  }

  /** Top-k per query over int8 codes: exact BIGINT dot products, cosine
    * re-derived from the integer dot and the exact code norms (ONE double
    * division of exact operands → oracle-hashable). Same no-hint contract
    * as [[bruteForceTopK]]: AQE broadcasts the small side at runtime.
    *
    * The shortlist is bounded BEFORE the exchange (VERDICT r7 #2): a
    * [[graft.plans.BoundedTopK]] aggregate keeps ≤ k pairs per query per
    * map partition, so the shuffle carries |Q|·k·partitions rows — never
    * the full |Q|·|N| pair stream the old `row_number` window moved. Order
    * inside the aggregate is (cos desc, vec_id asc), identical to the
    * window formulation, so ranks and hashes are unchanged. */
  def quantizedTopK(emb: DataFrame, isQuery: Column, k: Int): DataFrame = {
    val qz = quantize(emb).filter(col("norm2") > 0)
    val q = qz.filter(isQuery)
      .select(col("vec_id").as("query_id"), col("codes").as("qc"),
        col("norm2").as("qn"))
    val pairs = q
      .crossJoin(qz.select(col("vec_id"), col("codes"), col("norm2")))
      .filter(col("vec_id") =!= col("query_id"))
      // the cross join's whole cost is this inner product: the native
      // codegen dot_i64 (graft.plans.DotI64) replaces the interpreted
      // aggregate∘zip_with chain — bit-identical BIGINT sum, no per-pair
      // allocation (DotI64Spec proves equality on the HOF form)
      .withColumn("dot_q",
        graft.plans.GraftExtensions.dotI64(col("qc"), col("codes")))
      .withColumn("cos_q", col("dot_q").cast("double") /
        sqrt((col("qn") * col("norm2")).cast("double")))
    topKPerGroup(pairs, Seq("query_id"), k, descFirst = true)(
        col("cos_q"), col("vec_id"), col("dot_q"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rnk"),
        col("dot_q"), col("cos_q"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** Two-stage retrieval — the standard production ANN shape: a cheap
    * quantized recall pass over the full corpus shortlists `shortlist`
    * candidates per query, then ONLY those pairs pay the exact f64
    * cosine. At 100 TB the corpus is touched once with int8 arithmetic
    * and the expensive math runs on |Q|·shortlist rows. */
  def quantizedRerankTopK(emb: DataFrame, isQuery: Column, k: Int,
      shortlist: Int): DataFrame = {
    val coarse = quantizedTopK(emb, isQuery, shortlist)
      .select(col("query_id"), col("neighbor_id"))
    val e = emb.select(col("vec_id"), vecD(col("embedding")).as("v"))
    val pairs = coarse
      .join(e.select(col("vec_id").as("query_id"), col("v").as("qv")),
        "query_id")
      .join(e.select(col("vec_id").as("neighbor_id"), col("v").as("nv")),
        "neighbor_id")
      .withColumn("cos", cosine(col("qv"), col("nv")))
    topKPerGroup(pairs, Seq("query_id"), k, descFirst = true)(
        col("cos"), col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("rnk"), col("cos"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** Hyperplane weight (j, i): same md5-derived value the SQL twin
    * computes, evaluated ONCE on the driver — an expression inside a
    * `transform` lambda would re-derive nBits×dim md5s per input row. */
  private def planeWeight(j: Int, i: Int): Double = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$j:$i".getBytes("UTF-8"))
      .take(7).map("%02x".format(_)).mkString
    (java.lang.Long.parseLong(hex, 16) % 2001 - 1000).toDouble
  }

  /** Random-hyperplane LSH bucket code (`nBits` sign bits). Hyperplane
    * weights are integer-valued md5-derived pseudo-randoms in [-1000,1000]
    * so the oracle derives the identical planes; the dot with an integer
    * plane is still a sequential double fold. Planes are driver-side
    * literals (constant per (j,i)). */
  def lshBucket(v: Column, nBits: Int, dim: Int): Column = {
    val codes = (0 until nBits).map { j =>
      val plane = typedLit((0 until dim).map(i => planeWeight(j, i)))
      when(dot(v, plane) > 0, lit(1L << j)).otherwise(lit(0L))
    }
    codes.reduce(_ + _)
  }

  /** SQL twin of [[kMeansCentroids]]: unrolled CTE chain (one
    * assign/sums/cents block per iteration) over a CTE `e(vec_id, v)`.
    * The final centroid table is `cents$iters(centroid_id, v)`; the final
    * per-dimension means are `sums$iters(centroid_id, pos, m)`. Uses the
    * identical floor-scaled BIGINT accumulation, so the lists are
    * bit-equal to the Spark side. */
  def kMeansCtesSql(k: Int, iters: Int, dim: Int): String = {
    def cos(a: String, b: String): String =
      s"list_dot_product($a.v, $b.v) / sqrt(list_dot_product($a.v, $a.v) * list_dot_product($b.v, $b.v))"
    val init = s"cents0 AS (SELECT vec_id AS centroid_id, v FROM e WHERE vec_id < $k)"
    val rounds = (1 to iters).map { t =>
      s"""assign$t AS (SELECT vec_id, centroid_id FROM (
         |  SELECT e.vec_id, c.centroid_id,
         |         ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |           ORDER BY ${cos("e", "c")} DESC, c.centroid_id) AS rnk
         |  FROM e CROSS JOIN cents${t - 1} c) WHERE rnk = 1),
         |sums$t AS (SELECT a.centroid_id, r.i AS pos,
         |         CAST(SUM(CAST(FLOOR(e.v[CAST(r.i + 1 AS INT)] * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
         |           / (1000000.0 * COUNT(*)) AS m
         |       FROM assign$t a JOIN e ON e.vec_id = a.vec_id
         |            CROSS JOIN range(0, $dim) r(i)
         |       GROUP BY a.centroid_id, r.i),
         |cents$t AS (SELECT centroid_id, list(m ORDER BY pos) AS v
         |       FROM sums$t GROUP BY centroid_id)""".stripMargin
    }
    (init +: rounds).mkString(",\n")
  }

  /** SQL twin of [[lshBucket]] over a column named `v` (double list). */
  def lshBucketSql(nBits: Int, dim: Int): String =
    (0 until nBits).map { j =>
      val plane = s"list_transform(range(0, $dim), i -> CAST(CAST(('0x' || " +
        s"substr(md5('$j:' || CAST(i AS VARCHAR)), 1, 14)) AS BIGINT) % 2001 - 1000 AS DOUBLE))"
      s"(CASE WHEN list_dot_product(v, $plane) > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString(" + ")

  /** LSH near-dup: pairs sharing a bucket, verified by exact cosine. */
  def lshNearPairs(emb: DataFrame, nBits: Int, dim: Int, threshold: Double): DataFrame = {
    val e = emb.select(col("vec_id"), vecD(col("embedding")).as("v"))
      .withColumn("bucket", lshBucket(col("v"), nBits, dim))
    val a = e.as("a")
    val b = e.as("b")
    a.join(b, col("a.bucket") === col("b.bucket") &&
        col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos", cosine(col("a.v"), col("b.v")))
      .filter(col("cos") >= threshold)
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"), col("cos"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** Exact embedding near-dup: all-pairs cosine above threshold (baseline
    * for the LSH path; O(n²·d), test-scale only). */
  def exactNearPairs(emb: DataFrame, threshold: Double): DataFrame = {
    val e = emb.select(col("vec_id"), vecD(col("embedding")).as("v"))
    e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos", cosine(col("a.v"), col("b.v")))
      .filter(col("cos") >= threshold)
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"), col("cos"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication = k-means-cluster the embedding corpus, then within
    * each cluster drop every vector that has a LOWER-id neighbor at
    * cosine ≥ `threshold`. The paper keeps one representative per ε-ball
    * with the choice unspecified; lowest id is the deterministic,
    * oracle-checkable greedy rule (the keep-first policy of
    * [[Dedup.exact]], lifted to semantic space).
    *
    * Scale shape: assignment broadcasts only the k centroids; the one
    * pairwise compare runs strictly WITHIN a cluster (shuffle key =
    * centroid id), so the quadratic term is bounded per bucket — size
    * k ∝ |corpus| to hold E[|cluster|] constant, exactly the LSH-band
    * argument. Survivors keep their cluster id so downstream mixing can
    * stratify by semantic bucket. */
  def semDedup(emb: DataFrame, cents: DataFrame,
      threshold: Double): DataFrame = {
    val e = emb.select(col("vec_id"), vecD(col("embedding")).as("v"))
    // nearest-centroid assignment with the vector carried as argmax
    // payload — one pass, no re-join against the corpus
    val m = argmax(
        e.crossJoin(broadcast(cents.select(col("centroid_id"), col("cv"))))
          .withColumn("cos", cosine(col("v"), col("cv"))),
        Seq(col("vec_id")), col("cos"), col("centroid_id"), "centroid_id",
        Seq(col("v") -> "v"))
      .select(col("vec_id"), col("centroid_id"), col("v"))
      .pinned // consumed twice below (self-join + anti-join)
    val dups = m.as("a")
      .join(m.as("b"), col("a.centroid_id") === col("b.centroid_id") &&
        col("a.vec_id") < col("b.vec_id"))
      .filter(cosine(col("a.v"), col("b.v")) >= threshold)
      .select(col("b.vec_id").as("vec_id"))
      .distinct()
    m.join(dups, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("centroid_id"))
      .orderBy(col("vec_id"))
  }
}
