package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.GraftExtensions.topKPerGroup
import graft.plans.Pins.PinnedOps

/** Product quantization (Jégou, Douze & Schmid, "Product quantization
  * for nearest neighbor search", TPAMI 2011) — the third rung of the ANN
  * quantization ladder after IVF bucketing and int8 scalar quantization
  * ([[Similarity]]): split the embedding into `m` subspaces, train an
  * independent `ksub`-centroid codebook per subspace (deterministic
  * Lloyd's, the [[Similarity.kMeansCentroids]] fixed-point-mean scheme),
  * and store each vector as `m` small codes — dim·4 bytes → m bytes, a
  * 64× compression at (m=4, dim=64) that is what makes billion-vector
  * corpora scannable in memory.
  *
  * Query-time ADC (asymmetric distance computation): the query stays
  * un-quantized; per query a tiny m×ksub table of exact subspace L2²
  * distances is computed against the codebooks, and each corpus
  * vector's approximate distance is the sum of m table lookups keyed by
  * its codes — the corpus scan never touches a float vector.
  *
  * Determinism & oracle parity: assignments argmin by (L2² ASC,
  * centroid_id) — L2² is a per-index (x−y)² ascending fold, the same
  * IEEE op sequence as DuckDB's `list_dot_product` over the difference
  * list; centroid means use the exact 1e6 fixed-point scheme; the ADC
  * sum adds the m subspace contributions in FIXED subspace order (one
  * conditional sum per subspace, then a left-associative add chain) —
  * never an order-nondeterministic double aggregation. The twin
  * ([[pqCtesSql]]) unrolls the same rounds. */
object Pq {

  /** Exact subspace L2²: index-ascending subtract-multiply-accumulate —
    * the native [[graft.plans.L2Sq]] codegen expression (evaluated
    * |vectors|·ksub·m times per round, the PQ hot loop; the composable
    * `dot(zip_with(a,b,_-_), ...)` form it replaces is bit-identical but
    * interpreted — L2SqSpec). Bit-matches `list_dot_product(d, d)` in
    * the twin. */
  def l2sq(a: Column, b: Column): Column =
    graft.plans.GraftExtensions.l2sq(a, b)

  /** The composable HOF formulation the native expression is verified
    * against (L2SqSpec). */
  def l2sqHof(a: Column, b: Column): Column = {
    val d = zip_with(a, b, (x, y) => x - y)
    Similarity.dot(d, d)
  }

  /** (vec_id, sub, sv): the m constant-sliced subspace views — a union
    * of m narrow projections, no explode/lambda slicing. */
  def subVectors(emb: DataFrame, m: Int, dsub: Int): DataFrame =
    slices(emb, Seq(col("vec_id")), Similarity.vecD(col("embedding")), m, dsub)

  /** `(keys…, sub, sv)`: the m subspace slices of the vector `v`. */
  private def slices(df: DataFrame, keys: Seq[Column], v: Column, m: Int,
      dsub: Int): DataFrame = {
    val e = df.select(keys :+ v.as("v"): _*)
    (0 until m).map(j => e.select(keys ++ Seq(lit(j).as("sub"),
        slice(col("v"), j * dsub + 1, dsub).as("sv")): _*))
      .reduce(_ unionByName _)
  }

  /** Per-subspace codebooks `(sub, centroid_id, cv)`: prefix-seeded
    * deterministic Lloyd's, means floor-scaled to the 1e6 grid (the
    * [[Similarity.kMeansCentroids]] scheme, per subspace). */
  def trainCentroids(emb: DataFrame, m: Int, dsub: Int, ksub: Int,
      iters: Int): DataFrame = {
    val sv = subVectors(emb, m, dsub).pinned
    var cents = sv.filter(col("vec_id") < ksub)
      .select(col("sub"), col("vec_id").as("centroid_id"), col("sv").as("cv"))
      .pinned
    for (_ <- 1 to iters) {
      // argmin as hash-agg: min over struct(d2, centroid_id, sv) IS
      // lexicographic (d2 ASC, centroid_id ASC) — the window's order —
      // with map-side partial combine instead of a (vec_id, sub) exchange
      // of the |corpus|·m·ksub scored rows
      val assigned = sv.join(broadcast(cents), "sub")
        .withColumn("d2", l2sq(col("sv"), col("cv")))
        .groupBy(col("vec_id"), col("sub"))
        .agg(min(struct(col("d2"), col("centroid_id"), col("sv"))).as("_b"))
        .select(col("sub"), col("_b.centroid_id").as("centroid_id"),
          col("_b.sv").as("sv"))
      val sums = assigned
        .select(col("sub"), col("centroid_id"),
          posexplode(col("sv")).as(Seq("pos", "val")))
        .groupBy(col("sub"), col("centroid_id"), col("pos"))
        .agg((sum(floor(col("val") * lit(1e6) + lit(0.5)).cast("long"))
          .cast("double") / (lit(1e6) * count(lit(1)))).as("mv"))
      cents = sums.groupBy(col("sub"), col("centroid_id"))
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("mv")))),
          s => s.getField("mv")).as("cv"))
        .pinned
    }
    cents
  }

  /** PQ codes `(vec_id, sub, code)`: nearest codebook entry per
    * subspace — the m-byte representation the corpus stores. */
  def codes(emb: DataFrame, cents: DataFrame, m: Int, dsub: Int): DataFrame = {
    val sv = subVectors(emb, m, dsub)
    sv.join(broadcast(cents), "sub")
      .withColumn("d2", l2sq(col("sv"), col("cv")))
      .groupBy(col("vec_id"), col("sub"))
      .agg(min(struct(col("d2"), col("centroid_id"))).as("_b"))
      .select(col("vec_id"), col("sub"), col("_b.centroid_id").as("code"))
  }

  /** The ADC scan all three PQ top-k paths run. The query-side subspace
    * views `qsv(query_id, keys…, sub, sv)` against the broadcast codebooks
    * `cents` give the distance table; each candidate code row of
    * `cand(vec_id, sub, code, …)` looks up its entry (matching `on`:
    * candidate column → table key), the self-match drops, and the m
    * looked-up contributions add in FIXED subspace order — one
    * conditional sum per subspace (each over exactly one row), then a
    * left-associative add chain: exact and order-deterministic where a
    * plain sum(d2) over doubles would not be. The bounded (adist ASC,
    * vec_id) top-k finishes. The table is |Q|·(probes)·m·ksub rows,
    * bounded by construction (the point of ADC is that it is tiny), so it
    * broadcasts explicitly: the corpus-codes side never shuffles for this
    * join. */
  private def adcScan(cand: DataFrame, qsv: DataFrame, cents: DataFrame,
      on: Seq[(String, String)], k: Int, m: Int): DataFrame = {
    val keys = qsv.columns.filterNot(Set("sub", "sv")).map(col).toSeq
    val dt = qsv.join(broadcast(cents), "sub")
      .select(keys ++ Seq(col("sub").as("dt_sub"), col("centroid_id")
        .as("dt_code"), l2sq(col("sv"), col("cv")).as("d2")): _*)
    val lookup = on.foldLeft(
        col("dt_sub") === col("sub") && col("dt_code") === col("code")) {
      case (c, (a, b)) => c && col(a) === col(b) }
    val subSums = (0 until m).map(j =>
      sum(when(col("dt_sub") === j, col("d2"))).as(s"s$j"))
    val adist = (1 until m).foldLeft(col("s0"))((acc, j) => acc + col(s"s$j"))
    val scored = cand.join(broadcast(dt), lookup)
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(subSums.head, subSums.tail: _*)
      .select(col("query_id"), col("vec_id"), adist.as("adist"))
    topKPerGroup(scored, Seq("query_id"), k, descFirst = false)(
        col("adist"), col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rnk"),
        col("adist"))
  }

  /** The queries' `(query_id, sub, sv)` subspace views. */
  private def querySubVectors(emb: DataFrame, isQuery: Column, m: Int,
      dsub: Int): DataFrame =
    subVectors(emb.filter(isQuery), m, dsub)
      .withColumnRenamed("vec_id", "query_id")

  /** ADC top-k: per-query m×ksub exact distance table, corpus scanned
    * via codes only, approximate distance = fixed-order sum of the m
    * looked-up subspace contributions. */
  def adcTopK(emb: DataFrame, cents: DataFrame, isQuery: Column, k: Int,
      m: Int, dsub: Int): DataFrame =
    adcScan(codes(emb, cents, m, dsub), querySubVectors(emb, isQuery, m, dsub),
      cents, Seq.empty, k, m)

  /** The coarse IVF side of both IVF×PQ scans, from one
    * [[Similarity.ivfProbeRank]] over `e0(vec_id, v)`: each vector's
    * bucket `(vec_id, bucket)` and the queries' probed buckets
    * `(query_id, qbucket)`. */
  private def ivfBuckets(e0: DataFrame, ivfCents: DataFrame, isQuery: Column,
      nProbe: Int): (DataFrame, DataFrame) = {
    val ranked = Similarity.ivfProbeRank(e0, ivfCents, nProbe)
    (ranked.filter(col("rnk") === 1)
      .select(col("vec_id"), col("centroid_id").as("bucket")),
     ranked.filter(isQuery && col("rnk") <= nProbe)
      .select(col("vec_id").as("query_id"), col("centroid_id").as("qbucket")))
  }

  /** A corpus code table `(vec_id, sub, code)` in its buckets, joined to
    * the queries probing them: `(vec_id, sub, code, bucket, cand_query,
    * cand_bucket)`.
    * The probes are |Q|·nProbe two-int rows — broadcast; the corpus-codes
    * side stays put. Each corpus vector lives in exactly one bucket and a
    * query's probed buckets are distinct, so no candidate dedup is
    * needed. */
  private def probedCodes(codes: DataFrame, buckets: DataFrame,
      probes: DataFrame): DataFrame =
    codes.join(buckets, "vec_id")
      .join(broadcast(probes.select(col("query_id").as("cand_query"),
          col("qbucket").as("cand_bucket"))),
        col("bucket") === col("cand_bucket"))

  /** IVF×PQ — the production billion-vector composition (VERDICT r7 #4):
    * ADC scoring runs only *within the probed IVF buckets*, never over the
    * full corpus. The coarse quantizer (IVF centroids, cosine) prunes the
    * candidate set to the `nProbe` nearest buckets per query; the fine
    * quantizer (PQ codes) scores those candidates by table lookup. At
    * scale: centroids and the per-query distance tables broadcast
    * (bounded by k·dim and |Q|·m·ksub), the corpus shuffles once on
    * bucket id, and the final rank is a bounded per-query top-k
    * ([[graft.plans.BoundedTopK]]) — no full-candidate exchange anywhere.
    * Determinism: same argmin/fixed-order-sum contracts as [[adcTopK]].
    */
  def ivfAdcTopK(emb: DataFrame, ivfCents: DataFrame, pqCents: DataFrame,
      isQuery: Column, k: Int, m: Int, dsub: Int, nProbe: Int = 1): DataFrame = {
    val e0 = emb.select(col("vec_id"), Similarity.vecD(col("embedding")).as("v"))
    val (buckets, probes) = ivfBuckets(e0, ivfCents, isQuery, nProbe)
    adcScan(probedCodes(codes(emb, pqCents, m, dsub), buckets, probes),
        querySubVectors(emb, isQuery, m, dsub), pqCents,
        Seq("cand_query" -> "query_id"), k, m)
      .orderBy(col("query_id"), col("rnk"))
  }

  /** Residual IVFADC — the composition as the PQ paper actually ships it
    * (Jégou et al. §III: "IVFADC", codebooks trained on RESIDUALS): each
    * corpus vector is stored as its bucket id plus PQ codes of
    * `r = v − c_bucket`, and at query time the distance table is built
    * per (query, probed bucket) from the query's OWN residual against
    * that bucket's centroid. Residuals concentrate near the origin, so
    * the same ksub codebook entries quantize them far more finely than
    * raw vectors — the accuracy step that separates production IVFADC
    * from the plain [[ivfAdcTopK]] composition kept as the baseline.
    *
    * Trains the residual codebooks internally (they only exist relative
    * to `ivfCents`). Scale shape is [[ivfAdcTopK]]'s: centroids and the
    * |Q|·nProbe·m·ksub distance tables broadcast, the corpus shuffles
    * once on bucket id, bounded top-k finish. Determinism: residual
    * subtraction is elementwise IEEE, identical in the twin; everything
    * else inherits the [[adcTopK]] contracts. */
  def ivfAdcResidualTopK(emb: DataFrame, ivfCents: DataFrame,
      isQuery: Column, k: Int, m: Int, dsub: Int, ksub: Int, pqIters: Int,
      nProbe: Int = 1): DataFrame = {
    val e0 = emb.select(col("vec_id"), Similarity.vecD(col("embedding")).as("v"))
    val c = ivfCents.select(col("centroid_id"), col("cv"))
    val (buckets, probes) = ivfBuckets(e0, c, isQuery, nProbe)
    val residual = zip_with(col("v"), col("cv"), (x, y) => x - y)
    // corpus residuals (vec_id, embedding) — the PQ training corpus
    val residuals = e0.join(buckets, "vec_id")
      .join(broadcast(c), col("bucket") === col("centroid_id"))
      .select(col("vec_id"), residual.as("embedding"))
    val rCents = trainCentroids(residuals, m, dsub, ksub, pqIters)
    // query residual PER PROBED BUCKET → per-(query, bucket) table
    val qres = probes
      .join(e0.select(col("vec_id").as("query_id"), col("v")), "query_id")
      .join(broadcast(c), col("qbucket") === col("centroid_id"))
    adcScan(probedCodes(codes(residuals, rCents, m, dsub), buckets, probes),
        slices(qres, Seq(col("query_id"), col("qbucket")), residual, m, dsub),
        rCents, Seq("cand_query" -> "query_id", "bucket" -> "qbucket"), k, m)
      .orderBy(col("query_id"), col("rnk"))
  }

  // ---- DuckDB twin ----------------------------------------------------

  /** OPQ-lite — variance-balanced dimension permutation (the
    * "eigenvalue allocation" idea of Ge et al., "Optimized Product
    * Quantization", CVPR 2013, without the learned rotation): plain PQ
    * splits dimensions into subspaces by POSITION, so if high-variance
    * dimensions cluster (as they do after any PCA-ish embedding head),
    * one codebook carries most of the distortion. Rank dimensions by a
    * variance proxy and deal them into subspaces in snake order
    * (1..m, m..1, …) so every subspace gets an even share of spread.
    *
    * The proxy is the exact integer `n·Σq² − (Σq)²` over values
    * quantized to a 1e3 grid — order-independent BIGINT arithmetic, so
    * the [[permCtesSql]] twin is bit-identical (a double variance would
    * be partition-order-dependent). Grid precision only affects WHICH
    * near-tied dimensions swap — any assignment is correct; determinism
    * is what matters. Overflow: |q| ≤ 1e3·|x|, so n·Σq² fits 2^63 up to
    * ~10^9 vectors at |x| ≤ 1; beyond that, widen to DECIMAL(38,0).
    *
    * Returns `(pos, newpos)` — old dimension index → permuted index.
    * The ranking window is over `dim` rows (a compile-time constant,
    * never corpus-scale), the one place a global window is safe. */
  def balancedPermutation(emb: DataFrame, m: Int, dim: Int): DataFrame = {
    val dsub = dim / m
    val stats = emb
      .select(posexplode(Similarity.vecD(col("embedding"))).as(Seq("pos", "x")))
      .select(col("pos"),
        floor(col("x") * lit(1000.0) + lit(0.5)).cast("long").as("q"))
      .groupBy(col("pos"))
      .agg(count(lit(1)).as("n"), sum(col("q")).as("s"),
        sum(col("q") * col("q")).as("s2"))
      .select(col("pos"),
        (col("n") * col("s2") - col("s") * col("s")).as("var_fp"))
    val w = Window.orderBy(col("var_fp").desc, col("pos"))
    stats.withColumn("r", row_number().over(w).cast("long") - 1L)
      .select(col("pos"),
        (expr(s"CASE WHEN (r DIV $m) % 2 = 0 THEN r % $m " +
          s"ELSE $m - 1 - (r % $m) END") * dsub + expr(s"r DIV $m"))
          .as("newpos"))
  }

  /** Apply a [[balancedPermutation]]: rebuild each vector by indexing
    * through the broadcast inverse permutation — a narrow per-row
    * expression, NO per-element explode/shuffle of the corpus. */
  def permuted(emb: DataFrame, perm: DataFrame): DataFrame = {
    val inv = perm.groupBy()
      .agg(transform(
        array_sort(collect_list(struct(col("newpos"), col("pos")))),
        s => s.getField("pos")).as("invperm"))
    emb.crossJoin(broadcast(inv))
      .select(col("vec_id"),
        transform(col("invperm"),
          p => element_at(Similarity.vecD(col("embedding")),
            p.cast("int") + 1)).as("embedding"))
  }

  /** DuckDB twin of [[balancedPermutation]]+[[permuted]] over the `e`
    * CTE: ends in `pe(vec_id, v)`, the permuted corpus — feed it to
    * [[pqCtesSql]] as `src = "pe"`. */
  def permCtesSql(m: Int, dim: Int): String = {
    val dsub = dim / m
    s"""vq AS (SELECT g.i - 1 AS pos,
       |         CAST(FLOOR(v[CAST(g.i AS INT)] * 1000.0 + 0.5) AS BIGINT) AS q
       |       FROM e CROSS JOIN generate_series(1, $dim) g(i)),
       |vstat AS (SELECT pos, COUNT(*) AS n, CAST(SUM(q) AS BIGINT) AS s,
       |            CAST(SUM(q * q) AS BIGINT) AS s2
       |          FROM vq GROUP BY pos),
       |vrank AS (SELECT pos,
       |            ROW_NUMBER() OVER (ORDER BY (n * s2 - s * s) DESC, pos) - 1 AS r
       |          FROM vstat),
       |vperm AS (SELECT pos,
       |            (CASE WHEN (r // $m) % 2 = 0 THEN r % $m
       |                  ELSE $m - 1 - (r % $m) END) * $dsub + (r // $m) AS newpos
       |          FROM vrank),
       |vinv AS (SELECT list(pos ORDER BY newpos) AS invperm FROM vperm),
       |pe AS MATERIALIZED (SELECT e.vec_id,
       |    list_transform((SELECT invperm FROM vinv),
       |      p -> e.v[CAST(p + 1 AS INT)]) AS v
       |  FROM e)""".stripMargin
  }

  private def d2Sql(s: String, c: String, dsub: Int): String = {
    val diff = s"list_transform(range(1, ${dsub + 1}), " +
      s"i -> $s.sv[CAST(i AS INT)] - $c.cv[CAST(i AS INT)])"
    s"list_dot_product($diff, $diff)"
  }

  /** Unrolled twin over a `$src(vec_id, v)` CTE (default `e`; the
    * residual path passes its residual CTE): subspace views, seeded
    * codebooks, `iters` Lloyd's rounds, final codes in `pcode(vec_id,
    * sub, code)` and codebooks in `pc$iters(sub, centroid_id, cv)`. */
  def pqCtesSql(m: Int, dsub: Int, ksub: Int, iters: Int,
      src: String = "e"): String = {
    val subSelects = (0 until m).map(j =>
      s"SELECT vec_id, $j AS sub, v[${j * dsub + 1}:${(j + 1) * dsub}] AS sv FROM $src")
      .mkString("\n  UNION ALL ")
    val init =
      s"""sv AS MATERIALIZED (
         |  $subSelects),
         |pc0 AS MATERIALIZED (SELECT sub, vec_id AS centroid_id, sv AS cv
         |  FROM sv WHERE vec_id < $ksub)""".stripMargin
    val rounds = (1 to iters).map { t =>
      s"""pa$t AS MATERIALIZED (SELECT sub, centroid_id, vec_id FROM (
         |    SELECT s.vec_id, s.sub, c.centroid_id,
         |           ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.sub
         |             ORDER BY ${d2Sql("s", "c", dsub)} ASC, c.centroid_id) AS rnk
         |    FROM sv s JOIN pc${t - 1} c ON c.sub = s.sub) WHERE rnk = 1),
         |ps$t AS MATERIALIZED (SELECT a.sub, a.centroid_id, r.i AS pos,
         |    CAST(SUM(CAST(FLOOR(s.sv[CAST(r.i + 1 AS INT)] * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
         |      / (1000000.0 * COUNT(*)) AS mv
         |  FROM pa$t a JOIN sv s ON s.vec_id = a.vec_id AND s.sub = a.sub
         |       CROSS JOIN range(0, $dsub) r(i)
         |  GROUP BY a.sub, a.centroid_id, r.i),
         |pc$t AS MATERIALIZED (SELECT sub, centroid_id, list(mv ORDER BY pos) AS cv
         |  FROM ps$t GROUP BY sub, centroid_id)""".stripMargin
    }
    val code =
      s"""pcode AS MATERIALIZED (SELECT vec_id, sub, centroid_id AS code FROM (
         |    SELECT s.vec_id, s.sub, c.centroid_id,
         |           ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.sub
         |             ORDER BY ${d2Sql("s", "c", dsub)} ASC, c.centroid_id) AS rnk
         |    FROM sv s JOIN pc$iters c ON c.sub = s.sub) WHERE rnk = 1)""".stripMargin
    ((init +: rounds) :+ code).mkString(",\n")
  }

  /** Twin of [[ivfBuckets]] over `e` and the IVF index `cents$ivfIters`
    * ([[Similarity.kMeansCtesSql]]): `bkt(vec_id, bucket)` and, for the
    * queries `vec_id < nQueries`, `probes(query_id, qbucket)`. `cosSql`
    * is the cosine over aliases `e` (vector side) and `c` (centroid
    * side). */
  private def ivfBucketsSql(cosSql: String, ivfIters: Int, nQueries: Int,
      nProbe: Int): String =
    s"""ivfscored AS (SELECT e.vec_id, c.centroid_id, $cosSql AS cos
       |  FROM e CROSS JOIN cents$ivfIters c),
       |ivfranked AS (SELECT vec_id, centroid_id,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id
       |      ORDER BY cos DESC, centroid_id) AS rnk
       |  FROM ivfscored),
       |bkt AS (SELECT vec_id, centroid_id AS bucket FROM ivfranked WHERE rnk = 1),
       |probes AS (SELECT vec_id AS query_id, centroid_id AS qbucket
       |  FROM ivfranked WHERE vec_id < $nQueries AND rnk <= $nProbe)""".stripMargin

  /** Twin of [[probedCodes]] over `pcode`, `bkt` and `probes`. */
  private val probedCodesSql =
    """(SELECT pc.vec_id, pc.sub, pc.code, b.bucket, p.query_id AS cand_query
      |  FROM pcode pc JOIN bkt b ON b.vec_id = pc.vec_id
      |       JOIN probes p ON p.qbucket = b.bucket)""".stripMargin

  /** Twin of [[adcScan]]: the distance table `qdt` of the views `qsv`
    * (`qdtKeys` selected over alias `s`) against the codebooks
    * `pc$iters`, each candidate row of `cand(vec_id, sub, code, …)`
    * looking up its entry (`on`: candidate column → table key), the
    * self-match dropped, the fixed-subspace-order sum, the rank. Emits
    * the final SELECT. */
  private def adcSql(qdtKeys: String, qsv: String, cand: String,
      on: Seq[(String, String)], m: Int, dsub: Int, iters: Int,
      k: Int): String = {
    val sumChain = (0 until m)
      .map(j => s"SUM(CASE WHEN sub = $j THEN d2 END)")
      .mkString(" + ")
    val keyMatch = on.map { case (c, q) => s" AND q.$q = pc.$c" }.mkString
    s"""qdt AS MATERIALIZED (SELECT $qdtKeys, s.sub, c.centroid_id,
       |    ${d2Sql("s", "c", dsub)} AS d2
       |  FROM $qsv s JOIN pc$iters c ON c.sub = s.sub),
       |contrib AS (SELECT q.query_id, pc.vec_id, q.sub, q.d2
       |  FROM $cand pc
       |  JOIN qdt q ON q.sub = pc.sub AND q.centroid_id = pc.code$keyMatch
       |  WHERE pc.vec_id <> q.query_id),
       |ad AS (SELECT query_id, vec_id, $sumChain AS adist
       |  FROM contrib GROUP BY query_id, vec_id),
       |rankedf AS (SELECT query_id, vec_id, adist,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY adist ASC, vec_id) AS rnk
       |  FROM ad)
       |SELECT query_id, vec_id AS neighbor_id, rnk, adist
       |FROM rankedf WHERE rnk <= $k""".stripMargin
  }

  /** The queries' views of the `sv` CTE, for [[adcSql]]. */
  private def querySvSql(nQueries: Int): String =
    s"(SELECT * FROM sv WHERE vec_id < $nQueries)"

  /** Twin of [[adcTopK]] tail CTEs (needs [[pqCtesSql]] before it):
    * distance table for queries `vec_id < nQueries`, fixed-subspace-order
    * sum, rank. Emits final SELECT. */
  def adcTailSql(m: Int, dsub: Int, iters: Int, nQueries: Int,
      k: Int): String =
    adcSql("s.vec_id AS query_id", querySvSql(nQueries), "pcode", Seq.empty,
      m, dsub, iters, k)

  /** Twin of [[ivfAdcTopK]] tail CTEs. Needs BOTH
    * [[Similarity.kMeansCtesSql]] (the IVF index, `cents$ivfIters`) and
    * [[pqCtesSql]] (`sv`/`pc$iters`/`pcode`) in scope before it.
    * `cosSql` is the cosine expression over aliases `e` (vector side) and
    * `c` (centroid side). Emits the final SELECT. */
  def ivfAdcTailSql(cosSql: String, m: Int, dsub: Int, iters: Int,
      ivfIters: Int, nQueries: Int, k: Int, nProbe: Int): String =
    s"""${ivfBucketsSql(cosSql, ivfIters, nQueries, nProbe)},
       |${adcSql("s.vec_id AS query_id", querySvSql(nQueries), probedCodesSql,
           Seq("cand_query" -> "query_id"), m, dsub, iters, k)}""".stripMargin

  /** Twin of [[ivfAdcResidualTopK]] — everything after
    * [[Similarity.kMeansCtesSql]] (which must define `cents$ivfIters`
    * over a raw `e(vec_id, v)`): IVF rank, residual corpus `er`, the PQ
    * pipeline over `er` via [[pqCtesSql]], per-(query, probed-bucket)
    * residual distance tables, ADC sum, rank. Emits the final SELECT. */
  def ivfAdcResidualTailSql(cosSql: String, m: Int, dsub: Int, ksub: Int,
      iters: Int, ivfIters: Int, nQueries: Int, k: Int, nProbe: Int,
      dim: Int): String = {
    val qsvSelects = (0 until m).map(j =>
      s"SELECT query_id, qbucket, $j AS sub, rv[${j * dsub + 1}:${(j + 1) * dsub}] AS sv FROM qr")
      .mkString("\n  UNION ALL ")
    s"""${ivfBucketsSql(cosSql, ivfIters, nQueries, nProbe)},
       |er AS MATERIALIZED (SELECT e.vec_id,
       |    list_transform(range(1, ${dim + 1}),
       |                   i -> e.v[CAST(i AS INT)] - c.v[CAST(i AS INT)]) AS v
       |  FROM e JOIN bkt b ON b.vec_id = e.vec_id
       |       JOIN cents$ivfIters c ON c.centroid_id = b.bucket),
       |${pqCtesSql(m, dsub, ksub, iters, src = "er")},
       |qr AS (SELECT p.query_id, p.qbucket,
       |    list_transform(range(1, ${dim + 1}),
       |                   i -> e.v[CAST(i AS INT)] - c.v[CAST(i AS INT)]) AS rv
       |  FROM probes p JOIN e ON e.vec_id = p.query_id
       |       JOIN cents$ivfIters c ON c.centroid_id = p.qbucket),
       |qsv AS (
       |  $qsvSelects),
       |${adcSql("s.query_id, s.qbucket", "qsv", probedCodesSql,
           Seq("cand_query" -> "query_id", "bucket" -> "qbucket"), m, dsub,
           iters, k)}""".stripMargin
  }
}
