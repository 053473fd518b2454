package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Embeddings, Multimodal, Similarity}
import graft.plans.Pins.PinnedOps

/** Embedding similarity search + multimodal column queries. Cosine values
  * are bit-identical to DuckDB (sequential double folds both sides), so
  * even the scores hash-match. Every media family runs a REAL codec
  * (PNG image, WAV audio, PNG-container video); the generic byte-stub
  * decode survives only as `decodeFeatures`' non-decodable fallback,
  * exercised in MultimodalSpec.
  */
object SimilarityQueries extends QueryModule {

  private val nQueries = 20     // query set = vec_id < 20
  private val topK = 5
  private val nCentroids = 8
  private val kmIters = 3       // fixed Lloyd's rounds — reproducibility
  private val ivfK = 3
  private val lshBits = 8
  private val dim = 64

  // product quantization: 4 subspaces × 16 dims, 8-entry codebooks,
  // 2 Lloyd's rounds per subspace (the unrolled twin stays readable)
  private val pqM = 4
  private val pqDsub = 16
  private val pqKsub = 8
  private val pqIters = 2

  // hybrid RRF: top-20 shortlist per retriever before fusion
  private val rrfN = 20
  private val nearThreshold = 0.4

  // power-iteration rounds for the PCA family: 4 is enough to separate
  // the dominant axis on this corpus and keeps the unrolled twin readable
  private val pcaIters = 4

  private def trained(s: SparkSession, dir: String) =
    Similarity.kMeansCentroids(Tables.embeddings(s, dir), nCentroids, kmIters)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Brute-force cosine top-k (correctness baseline for ANN).
    "sim_bruteforce_topk" -> ((s, dir) =>
      Similarity.bruteForceTopK(Tables.embeddings(s, dir),
        col("vec_id") < nQueries, topK)),

    // Int8 scalar quantization ANN — the memory-bound scale path (4×
    // smaller vectors, integer dot products). Exact BIGINT arithmetic
    // end to end, so even the re-derived cosines hash-match.
    "sim_quantized_topk" -> ((s, dir) =>
      Similarity.quantizedTopK(Tables.embeddings(s, dir),
        col("vec_id") < nQueries, topK)),

    // Two-stage retrieval: quantized recall shortlist -> exact f64
    // rerank of only the shortlisted pairs.
    "sim_quantized_rerank" -> ((s, dir) =>
      Similarity.quantizedRerankTopK(Tables.embeddings(s, dir),
        col("vec_id") < nQueries, topK, shortlist = 4 * topK)),

    // Deterministic Lloyd's k-means: the trained IVF index itself,
    // exposed per-dimension so the exact integer-accumulated means
    // hash-check against the DuckDB twin.
    "sim_kmeans_centroids" -> ((s, dir) =>
      trained(s, dir)
        .select(col("centroid_id"), posexplode(col("cv")).as(Seq("pos", "m")))
        .orderBy(col("centroid_id"), col("pos"))),

    // IVF: k-means-trained centroids, nearest-centroid assignment.
    "sim_ivf_assign" -> ((s, dir) =>
      Similarity.ivfAssignWith(Tables.embeddings(s, dir), trained(s, dir))
        .orderBy(col("vec_id"))),

    // IVF single-probe ANN top-k over the trained index.
    "sim_ivf_topk" -> ((s, dir) =>
      Similarity.ivfTopKWith(Tables.embeddings(s, dir), trained(s, dir),
        col("vec_id") < nQueries, ivfK)),

    // IVF multi-probe (nProbe=2): the recall-vs-compute knob.
    "sim_ivf_probe2" -> ((s, dir) =>
      Similarity.ivfTopKWith(Tables.embeddings(s, dir), trained(s, dir),
        col("vec_id") < nQueries, ivfK, nProbe = 2)),

    // Random-hyperplane LSH buckets + cosine-verified near pairs.
    "sim_lsh_near_pairs" -> ((s, dir) =>
      Similarity.lshNearPairs(Tables.embeddings(s, dir), lshBits, dim, nearThreshold)),

    // Exact all-pairs near-dup over embeddings (baseline for LSH).
    "sim_exact_near_pairs" -> ((s, dir) =>
      Similarity.exactNearPairs(Tables.embeddings(s, dir), nearThreshold)),

    // SemDeDup: k-means clusters bound the pairwise compare; drop any
    // vector with a lower-id within-cluster neighbor above threshold.
    "dd_semdedup" -> ((s, dir) =>
      Similarity.semDedup(Tables.embeddings(s, dir), trained(s, dir),
        nearThreshold)),

    // Dominant principal component (matrix-free power iteration) — the
    // corpus-drift / whitening axis, exact-grid accumulated.
    "emb_pca_component" -> ((s, dir) =>
      graft.operators.Embeddings.dominantComponent(
        Tables.embeddings(s, dir), pcaIters, dim)),

    // Per-vector 1-D PCA projection: the outlier-pruning score.
    "emb_pca_scores" -> ((s, dir) =>
      graft.operators.Embeddings.componentScores(
        Tables.embeddings(s, dir), pcaIters, dim)),

    // Composed embedding-side pipeline (the vector mirror of
    // pipe_end_to_end): SemDeDup survivors → PCA outlier prune at an
    // ADAPTIVE threshold (2× the grid-exact mean |score| — recomputed on
    // the survivor distribution, not a magic constant) → per-bucket
    // index summary. Catches inter-operator schema drift across the
    // whole embedding family.
    "pipe_embeddings" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val surv = Similarity.semDedup(emb, trained(s, dir), nearThreshold)
      val c = Embeddings.centered(emb.join(surv, "vec_id"))
      val scores = c
        .crossJoin(broadcast(Embeddings.powerVector(c, pcaIters, dim)))
        .select(col("vec_id"), Similarity.dot(col("c"), col("w")).as("score"))
        .pinned // consumed twice: threshold agg + gate
      val thr = scores.agg(
        (sum(floor(abs(col("score")) * lit(1e6) + lit(0.5)).cast("long"))
          .cast("double") / (lit(1e6) * count(lit(1))) * lit(2.0)).as("thr"))
      val kept = scores.crossJoin(broadcast(thr))
        .filter(abs(col("score")) <= col("thr"))
        .select(col("vec_id"))
      surv.join(kept, Seq("vec_id"))
        .groupBy(col("centroid_id"))
        .agg(count(lit(1)).as("n_vecs"), sum(col("vec_id")).as("sum_ids"))
        .orderBy(col("centroid_id"))
    }),

    // Multimodal: binary payload + typed metadata, relational features.
    "mm_media_table" -> ((s, dir) => {
      val m = Multimodal.toMedia(Tables.documents(s, dir))
      m.select(col("doc_id"), col("media_type"),
          octet_length(col("payload")).as("byte_len"),
          md5(col("payload")).as("payload_md5"),
          col("meta.width").as("width"),
          col("meta.height").as("height"),
          col("meta.duration_ms").as("duration_ms"))
        .orderBy(col("doc_id"))
    }),

    // Multimodal frame sampling: fixed-size byte frames from video
    // REAL multi-frame decode (r9, retiring the last media stub): a
    // length-prefixed-PNG container per doc is demuxed and every 2nd
    // frame decoded through javax.imageio; sampled frames reduce to
    // exact channel sums the oracle recomputes from the closed-form
    // grids (PNG lossless). Byte-level sampleFrames stays as the
    // codec-free slicing util (MultimodalSpec).
    "mm_frame_sample" -> ((s, dir) =>
      Multimodal.videoFrameSample(s, Tables.documents(s, dir))
        .orderBy(col("doc_id"), col("frame_idx"))),

    // Product quantization: per-subspace codebooks (deterministic
    // Lloyd's per subspace) and the m-code corpus representation.
    "sim_pq_codes" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      graft.operators.Pq.codes(emb,
          graft.operators.Pq.trainCentroids(emb, pqM, pqDsub, pqKsub, pqIters),
          pqM, pqDsub)
        .orderBy(col("vec_id"), col("sub"))
    }),

    // PQ-ADC top-k: un-quantized query, m×ksub exact distance table,
    // corpus scanned via codes only — the billion-vector scale path.
    "sim_pq_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      graft.operators.Pq.adcTopK(emb,
          graft.operators.Pq.trainCentroids(emb, pqM, pqDsub, pqKsub, pqIters),
          col("vec_id") < nQueries, topK, pqM, pqDsub)
        .orderBy(col("query_id"), col("rnk"))
    }),

    // ANN EVALUATION — per-query recall@k of the IVF index against the
    // brute-force ground truth (the eval leg every ANN deployment runs
    // before trusting an index; both legs are the already-hash-proven
    // operators, so this also guards their relative drift).
    "sim_recall_eval" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      // pinned: the ground-truth list has two consumers (hit join +
      // per-query totals) and its brute-force scan is the expensive leg.
      // r17 (guide §2.6): the brute-force truth pin and the IVF k-means
      // training rounds are independent — overlap them.
      val (truth, cents) = graft.plans.Par.both(
        graft.plans.Pins.pin(
          Similarity.bruteForceTopK(emb, col("vec_id") < nQueries, ivfK)
            .select(col("query_id"), col("neighbor_id"))),
        trained(s, dir))
      val approx = Similarity.ivfTopKWith(emb, cents,
          col("vec_id") < nQueries, ivfK)
        .select(col("query_id").as("q2"), col("neighbor_id").as("n2"))
      val hits = truth.join(approx,
          col("query_id") === col("q2") && col("neighbor_id") === col("n2"))
        .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
      truth.groupBy(col("query_id")).agg(count(lit(1)).as("n_truth"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"), col("n_truth"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          (coalesce(col("n_hit"), lit(0L)) * lit(1.0) / lit(ivfK))
            .as("recall"))
        .orderBy(col("query_id"))
    }),

    // OPQ-lite — variance-balanced dimension permutation (eigenvalue
    // allocation without the rotation) before PQ: every subspace
    // codebook gets an even share of the corpus's spread. L2 is
    // permutation-invariant, so exact distances are unchanged; only the
    // quantizer's subspace split improves.
    "sim_opq_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val pemb = graft.operators.Pq.permuted(emb,
        graft.operators.Pq.balancedPermutation(emb, pqM, dim))
      graft.operators.Pq.adcTopK(pemb,
          graft.operators.Pq.trainCentroids(pemb, pqM, pqDsub, pqKsub, pqIters),
          col("vec_id") < nQueries, topK, pqM, pqDsub)
        .orderBy(col("query_id"), col("rnk"))
    }),

    // IVF×PQ — the production billion-vector composition: PQ-ADC scoring
    // only within the nProbe=2 probed IVF buckets, final rank via the
    // bounded per-query top-k aggregate (never a full-candidate shuffle).
    "sim_ivf_pq_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      // r17 (guide §2.6): the IVF k-means rounds and the per-subspace PQ
      // Lloyd's rounds are independent training loops (each a chain of
      // eager pins) — overlapped, training costs ~max instead of sum.
      val (ivfC, pqC) = graft.plans.Par.both(
        trained(s, dir),
        graft.operators.Pq.trainCentroids(emb, pqM, pqDsub, pqKsub, pqIters))
      graft.operators.Pq.ivfAdcTopK(emb, ivfC, pqC,
          col("vec_id") < nQueries, topK, pqM, pqDsub, nProbe = 2)
        .orderBy(col("query_id"), col("rnk"))
    }),

    // Residual IVFADC — the composition as the PQ paper ships it:
    // codebooks trained on residuals v − c_bucket, query distance tables
    // built per probed bucket from the query's own residual. The
    // accuracy step separating production IVFADC from the plain
    // composition above (kept as the baseline).
    "sim_ivfpq_residual_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      graft.operators.Pq.ivfAdcResidualTopK(emb, trained(s, dir),
          col("vec_id") < nQueries, topK, pqM, pqDsub, pqKsub, pqIters,
          nProbe = 2)
        .orderBy(col("query_id"), col("rnk"))
    }),

    // Hybrid retrieval: keyword overlap list + vector cosine list fused
    // by reciprocal-rank fusion (exact integer divisions, fixed term
    // order — even the fused scores hash-match).
    "hyb_rrf_topk" -> ((s, dir) =>
      graft.operators.Hybrid.rrfTopK(
          Tables.documents(s, dir), col("doc_id"), col("text"),
          Tables.embeddings(s, dir),
          col("doc_id") < nQueries, col("vec_id") < nQueries,
          topK, rrfN)
        .orderBy(col("query_id"), col("rnk"))),

    // mm_decode_stub retired in r9 (VERDICT r8 #5): every media family
    // now has a real codec path (PNG image, WAV audio, PNG-container
    // video); the generic stub fallback remains spec-only
    // (MultimodalSpec exercises decodeFeatures' non-decodable branch).

    // Embedding-space decontamination (r9) — the semantic sibling of
    // decon_ngram_overlap: quarantine = vec_id < nQueries broadcast;
    // per-corpus-vector max cosine, flagged at nearThreshold.
    "decon_semantic" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      graft.operators.Decontaminate.semanticFlagged(
          e.filter(col("vec_id") >= nQueries),
          col("vec_id"), col("embedding"),
          e.filter(col("vec_id") < nQueries),
          col("vec_id"), col("embedding"),
          nearThreshold)
        .orderBy(col("vec_id"))
    }),

    // REAL codec path: PNG encode→javax.imageio decode roundtrip; the
    // decoded integer channel sums hash-check against the oracle's pure
    // SQL arithmetic (pixels are a closed form of doc_id — PNG is
    // lossless, so any codec/stride/channel bug breaks the hash).
    "mm_decode_image" -> ((s, dir) =>
      Multimodal.imageRoundtrip(s, Tables.documents(s, dir))
        .orderBy(col("doc_id"))),

    // REAL WAV/PCM roundtrip via javax.sound — the audio analog of
    // mm_decode_image; exact integer sample stats, SQL-recomputable.
    "mm_decode_audio" -> ((s, dir) =>
      Multimodal.audioRoundtrip(s, Tables.documents(s, dir))
        .orderBy(col("doc_id"))),

    // REAL image resize through the codec: PNG decode → nearest-neighbor
    // 4×4 thumbnail; floor sampling keeps every pixel SQL-recomputable.
    "mm_resize" -> ((s, dir) =>
      Multimodal.imageResize(s, Tables.documents(s, dir))
        .orderBy(col("doc_id"))),

    // REAL lossy JPEG roundtrip (r11): encode→decode through the
    // javax.imageio JPEG codec; lossy, so the oracle hashes the EXACT
    // part (dims, non-empty bitstream) plus the DC-preservation bound
    // on the channel means — the sketch_approx_distinct contract shape.
    "mm_decode_jpeg" -> ((s, dir) =>
      Multimodal.jpegRoundtrip(s, Tables.documents(s, dir))
        .orderBy(col("doc_id"))),

    // REAL ANIMATED-GIF roundtrip (r12): the closed-form video frames
    // encoded into ONE genuine multi-frame GIF89a and all frames decoded
    // back. Each frame is indexed over its own exact palette (≤160
    // colors), so the GIF encode is LOSSLESS and the sums hash exactly —
    // the multi-frame analog of mm_decode_image, with the container
    // owned by the codec instead of the length-prefix demux.
    "mm_decode_gif" -> ((s, dir) =>
      Multimodal.gifRoundtrip(s, Tables.documents(s, dir))
        .orderBy(col("doc_id"), col("frame_idx")))
  )

  private val eCte =
    """e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |      FROM embeddings)""".stripMargin

  private def cosExpr(a: String, b: String): String =
    s"list_dot_product($a.v, $b.v) / sqrt(list_dot_product($a.v, $a.v) * list_dot_product($b.v, $b.v))"

  /** Twin of the IVF probe rank ([[Similarity.ivfProbeRank]]) over `e`
    * and the trained `cents`: `ranked0(vec_id, v, centroid_id, rnk)`,
    * rank 1 being the vector's bucket. */
  private val ivfRankCtes =
    s"""scored AS (SELECT e.vec_id, e.v, c.centroid_id, ${cosExpr("e", "c")} AS cos
       |           FROM e CROSS JOIN cents$kmIters c),
       |ranked0 AS (SELECT vec_id, v, centroid_id,
       |                   ROW_NUMBER() OVER (PARTITION BY vec_id
       |                     ORDER BY cos DESC, centroid_id) AS rnk
       |            FROM scored)""".stripMargin

  /** Twin of [[Similarity.ivfTopKWith]]'s candidates after
    * [[ivfRankCtes]]: `cand(query_id, vec_id, cos)`, every corpus vector
    * in the `nProbe` buckets nearest each query, self-match excluded,
    * deduplicated. */
  private def ivfCandCtes(nProbe: Int): String =
    s"""$ivfRankCtes,
       |assigned AS (SELECT vec_id, v, centroid_id FROM ranked0 WHERE rnk = 1),
       |q AS (SELECT vec_id AS query_id, v, centroid_id AS qc
       |      FROM ranked0 WHERE vec_id < $nQueries AND rnk <= $nProbe),
       |cand AS (SELECT DISTINCT q.query_id, a.vec_id, ${cosExpr("q", "a")} AS cos
       |         FROM q JOIN assigned a ON a.centroid_id = q.qc
       |                               AND a.vec_id <> q.query_id)""".stripMargin

  /** Twin of [[Similarity.ivfTopKWith]] over the trained index. */
  private def ivfTopKSql(nProbe: Int): String =
    s"""WITH $eCte,
       |${Similarity.kMeansCtesSql(nCentroids, kmIters, dim)},
       |${ivfCandCtes(nProbe)},
       |ranked AS (SELECT query_id, vec_id, cos,
       |                  ROW_NUMBER() OVER (PARTITION BY query_id
       |                    ORDER BY cos DESC, vec_id) AS rnk
       |           FROM cand)
       |SELECT query_id, vec_id AS neighbor_id, rnk, cos
       |FROM ranked WHERE rnk <= $ivfK
       |ORDER BY query_id, rnk""".stripMargin

  /** Twin of [[Similarity.bruteForceTopK]]'s ranking over `e`:
    * `branked(query_id, vec_id, cos, rnk)`, every non-self vector ranked
    * per query. */
  private val bruteRankCtes =
    s"""bq AS (SELECT vec_id AS query_id, v FROM e WHERE vec_id < $nQueries),
       |bscored AS (SELECT bq.query_id, e.vec_id, ${cosExpr("bq", "e")} AS cos
       |            FROM bq JOIN e ON e.vec_id <> bq.query_id),
       |branked AS (SELECT query_id, vec_id, cos,
       |                   ROW_NUMBER() OVER (PARTITION BY query_id
       |                     ORDER BY cos DESC, vec_id) AS rnk
       |            FROM bscored)""".stripMargin

  /** Twin of [[Similarity.semDedup]] as a CTE chain over `e` + trained
    * `cents` — ends in `surv(vec_id, centroid_id, v)`; shared by the
    * dd_semdedup oracle and the composed embedding pipeline. */
  private def semDedupCtes: String =
    s"""$ivfRankCtes,
       |m AS (SELECT vec_id, centroid_id, v FROM ranked0 WHERE rnk = 1),
       |dups AS (SELECT DISTINCT b.vec_id
       |         FROM m a JOIN m b ON a.centroid_id = b.centroid_id
       |                          AND a.vec_id < b.vec_id
       |         WHERE ${cosExpr("a", "b")} >= $nearThreshold),
       |surv AS (SELECT vec_id, centroid_id, v FROM m
       |         WHERE vec_id NOT IN (SELECT vec_id FROM dups))""".stripMargin

  /** Twin of [[Similarity.quantizedTopK]]'s ranking: the
    * [[Similarity.quantize]] grid (`floor(x/s·127 + 0.5)`, BIGINT code
    * sums via an index fold over the fixed dim), the exact BIGINT dots of
    * each query against every other non-zero vector, and
    * `qranked(query_id, vec_id, dot_q, cos_q, rnk)` by (cos_q DESC,
    * vec_id). */
  private val quantizedRankCtes: String =
    s"""qs AS (SELECT vec_id, v,
       |         list_max(list_transform(v, x -> abs(x))) AS s FROM e),
       |qz0 AS (SELECT vec_id, s,
       |         CASE WHEN s = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
       |              ELSE list_transform(v,
       |                x -> CAST(floor(x / s * 127 + 0.5) AS BIGINT)) END AS codes
       |        FROM qs),
       |qz AS (SELECT vec_id, s, codes,
       |         CAST(list_sum(list_transform(range(1, ${dim + 1}),
       |           i -> codes[CAST(i AS INT)] * codes[CAST(i AS INT)])) AS BIGINT) AS norm2
       |       FROM qz0),
       |qq AS (SELECT vec_id AS query_id, codes AS qc, norm2 AS qn
       |       FROM qz WHERE vec_id < $nQueries AND norm2 > 0),
       |scored AS (SELECT q.query_id, c.vec_id,
       |    CAST(list_sum(list_transform(range(1, ${dim + 1}),
       |      i -> q.qc[CAST(i AS INT)] * c.codes[CAST(i AS INT)])) AS BIGINT) AS dot_q,
       |    q.qn, c.norm2
       |  FROM qq q CROSS JOIN (SELECT vec_id, codes, norm2 FROM qz WHERE norm2 > 0) c
       |  WHERE c.vec_id <> q.query_id),
       |qranked AS (SELECT query_id, vec_id, dot_q,
       |    CAST(dot_q AS DOUBLE) / sqrt(CAST(qn * norm2 AS DOUBLE)) AS cos_q,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY CAST(dot_q AS DOUBLE) / sqrt(CAST(qn * norm2 AS DOUBLE)) DESC,
       |               vec_id) AS rnk
       |  FROM scored)""".stripMargin

  val oracle: Map[String, String] = Map(
    "sim_quantized_topk" ->
      s"""WITH $eCte,
         |$quantizedRankCtes
         |SELECT query_id, vec_id AS neighbor_id, rnk, dot_q, cos_q
         |FROM qranked WHERE rnk <= $topK
         |ORDER BY query_id, rnk""".stripMargin,

    "sim_quantized_rerank" ->
      s"""WITH $eCte,
         |$quantizedRankCtes,
         |coarse AS (SELECT query_id, vec_id AS neighbor_id FROM qranked
         |           WHERE rnk <= ${4 * topK}),
         |rer AS (SELECT co.query_id, co.neighbor_id,
         |    list_dot_product(a.v, b.v) / sqrt(list_dot_product(a.v, a.v) * list_dot_product(b.v, b.v)) AS cos
         |  FROM coarse co JOIN e a ON a.vec_id = co.query_id
         |                 JOIN e b ON b.vec_id = co.neighbor_id)
         |SELECT query_id, neighbor_id, rnk, cos FROM (
         |  SELECT query_id, neighbor_id, cos,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, neighbor_id) AS rnk FROM rer)
         |WHERE rnk <= $topK ORDER BY query_id, rnk""".stripMargin,

    "sim_bruteforce_topk" ->
      s"""WITH $eCte,
         |$bruteRankCtes
         |SELECT query_id, vec_id AS neighbor_id, rnk, cos
         |FROM branked WHERE rnk <= $topK
         |ORDER BY query_id, rnk""".stripMargin,

    "sim_kmeans_centroids" ->
      s"""WITH $eCte,
         |${Similarity.kMeansCtesSql(nCentroids, kmIters, dim)}
         |SELECT centroid_id, CAST(pos AS INT) AS pos, m
         |FROM sums$kmIters ORDER BY centroid_id, pos""".stripMargin,

    "hyb_rrf_topk" ->
      s"""WITH $eCte,
         |${graft.operators.Hybrid.rrfSql("documents", cosExpr("vq", "e"),
             nQueries, topK, rrfN)}
         |ORDER BY query_id, rnk""".stripMargin,

    "sim_pq_codes" ->
      s"""WITH $eCte,
         |${graft.operators.Pq.pqCtesSql(pqM, pqDsub, pqKsub, pqIters)}
         |SELECT vec_id, sub, code FROM pcode
         |ORDER BY vec_id, sub""".stripMargin,

    "sim_pq_topk" ->
      s"""WITH $eCte,
         |${graft.operators.Pq.pqCtesSql(pqM, pqDsub, pqKsub, pqIters)},
         |${graft.operators.Pq.adcTailSql(pqM, pqDsub, pqIters, nQueries, topK)}
         |ORDER BY query_id, rnk""".stripMargin,

    "sim_recall_eval" ->
      s"""WITH $eCte,
         |${Similarity.kMeansCtesSql(nCentroids, kmIters, dim)},
         |${ivfCandCtes(nProbe = 1)},
         |approx AS (SELECT query_id, vec_id FROM (
         |             SELECT query_id, vec_id,
         |                    ROW_NUMBER() OVER (PARTITION BY query_id
         |                      ORDER BY cos DESC, vec_id) AS rnk
         |             FROM cand) WHERE rnk <= $ivfK),
         |$bruteRankCtes,
         |truth AS (SELECT query_id, vec_id FROM branked WHERE rnk <= $ivfK),
         |h AS (SELECT t.query_id, COUNT(*) AS n_hit
         |      FROM truth t JOIN approx a
         |        ON a.query_id = t.query_id AND a.vec_id = t.vec_id
         |      GROUP BY t.query_id),
         |tc AS (SELECT query_id, COUNT(*) AS n_truth FROM truth GROUP BY query_id)
         |SELECT tc.query_id, tc.n_truth, COALESCE(h.n_hit, 0) AS n_hit,
         |       COALESCE(h.n_hit, 0) * 1.0 / $ivfK AS recall
         |FROM tc LEFT JOIN h USING (query_id)
         |ORDER BY query_id""".stripMargin,

    "sim_opq_topk" ->
      s"""WITH $eCte,
         |${graft.operators.Pq.permCtesSql(pqM, dim)},
         |${graft.operators.Pq.pqCtesSql(pqM, pqDsub, pqKsub, pqIters, src = "pe")},
         |${graft.operators.Pq.adcTailSql(pqM, pqDsub, pqIters, nQueries, topK)}
         |ORDER BY query_id, rnk""".stripMargin,

    "sim_ivf_pq_topk" ->
      s"""WITH $eCte,
         |${Similarity.kMeansCtesSql(nCentroids, kmIters, dim)},
         |${graft.operators.Pq.pqCtesSql(pqM, pqDsub, pqKsub, pqIters)},
         |${graft.operators.Pq.ivfAdcTailSql(cosExpr("e", "c"), pqM, pqDsub,
             pqIters, kmIters, nQueries, topK, nProbe = 2)}
         |ORDER BY query_id, rnk""".stripMargin,

    "sim_ivfpq_residual_topk" ->
      s"""WITH $eCte,
         |${Similarity.kMeansCtesSql(nCentroids, kmIters, dim)},
         |${graft.operators.Pq.ivfAdcResidualTailSql(cosExpr("e", "c"), pqM,
             pqDsub, pqKsub, pqIters, kmIters, nQueries, topK, nProbe = 2,
             dim = dim)}
         |ORDER BY query_id, rnk""".stripMargin,

    "dd_semdedup" ->
      s"""WITH $eCte,
         |${Similarity.kMeansCtesSql(nCentroids, kmIters, dim)},
         |$semDedupCtes
         |SELECT vec_id, centroid_id FROM surv
         |ORDER BY vec_id""".stripMargin,

    "pipe_embeddings" ->
      s"""WITH $eCte,
         |${Similarity.kMeansCtesSql(nCentroids, kmIters, dim)},
         |$semDedupCtes,
         |${Embeddings.powerCtesSql(pcaIters, dim, src = "surv")},
         |sc AS (SELECT c.vec_id, list_dot_product(c.c, w.w) AS score
         |       FROM c CROSS JOIN w$pcaIters w),
         |thr AS (SELECT CAST(SUM(CAST(FLOOR(ABS(score) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
         |          / (1000000.0 * COUNT(*)) * 2.0 AS thr FROM sc),
         |kept AS (SELECT vec_id FROM sc CROSS JOIN thr WHERE ABS(score) <= thr)
         |SELECT s.centroid_id, COUNT(*) AS n_vecs,
         |       CAST(SUM(s.vec_id) AS BIGINT) AS sum_ids
         |FROM surv s JOIN kept USING (vec_id)
         |GROUP BY s.centroid_id
         |ORDER BY s.centroid_id""".stripMargin,

    "emb_pca_component" ->
      s"""WITH $eCte,
         |${graft.operators.Embeddings.powerCtesSql(pcaIters, dim)}
         |SELECT CAST(r.i AS INT) AS pos, w[CAST(r.i + 1 AS INT)] AS loading
         |FROM w$pcaIters CROSS JOIN range(0, $dim) r(i)
         |ORDER BY pos""".stripMargin,

    "emb_pca_scores" ->
      s"""WITH $eCte,
         |${graft.operators.Embeddings.powerCtesSql(pcaIters, dim)}
         |SELECT c.vec_id, list_dot_product(c.c, w.w) AS score
         |FROM c CROSS JOIN w$pcaIters w
         |ORDER BY c.vec_id""".stripMargin,

    "sim_ivf_assign" ->
      s"""WITH $eCte,
         |${Similarity.kMeansCtesSql(nCentroids, kmIters, dim)},
         |$ivfRankCtes
         |SELECT vec_id, centroid_id FROM ranked0 WHERE rnk = 1
         |ORDER BY vec_id""".stripMargin,

    "sim_ivf_topk" -> ivfTopKSql(nProbe = 1),

    "sim_ivf_probe2" -> ivfTopKSql(nProbe = 2),

    "sim_lsh_near_pairs" ->
      s"""WITH $eCte,
         |b AS (SELECT vec_id, v, ${Similarity.lshBucketSql(lshBits, dim)} AS bucket FROM e)
         |SELECT a.vec_id AS vec_a, bb.vec_id AS vec_b, ${cosExpr("a", "bb")} AS cos
         |FROM b a JOIN b bb ON a.bucket = bb.bucket AND a.vec_id < bb.vec_id
         |WHERE ${cosExpr("a", "bb")} >= $nearThreshold
         |ORDER BY vec_a, vec_b""".stripMargin,

    "sim_exact_near_pairs" ->
      s"""WITH $eCte
         |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, ${cosExpr("a", "b")} AS cos
         |FROM e a JOIN e b ON a.vec_id < b.vec_id
         |WHERE ${cosExpr("a", "b")} >= $nearThreshold
         |ORDER BY vec_a, vec_b""".stripMargin,

    "decon_semantic" ->
      s"""WITH $eCte,
         |dq AS (SELECT vec_id AS q_id, v FROM e WHERE vec_id < $nQueries),
         |dc AS (SELECT vec_id, v FROM e WHERE vec_id >= $nQueries),
         |sc AS (SELECT dc.vec_id,
         |         MAX(list_dot_product(dc.v, dq.v)
         |           / sqrt(list_dot_product(dc.v, dc.v)
         |                  * list_dot_product(dq.v, dq.v))) AS max_cos
         |       FROM dc CROSS JOIN dq GROUP BY dc.vec_id)
         |SELECT vec_id, max_cos, max_cos >= $nearThreshold AS flagged
         |FROM sc ORDER BY vec_id""".stripMargin,

    "mm_frame_sample" ->
      """WITH g AS (SELECT doc_id, 8 + doc_id % 9 AS w, 6 + doc_id % 5 AS h,
        |                  2 + doc_id % 4 AS nf
        |           FROM documents),
        |fr AS (SELECT doc_id, w, h, f.i AS frame_idx
        |       FROM g CROSS JOIN generate_series(0, 4) f(i)
        |       WHERE f.i < nf AND f.i % 2 = 0),
        |px AS (SELECT doc_id, w, h, frame_idx, x.i AS x, y.i AS y
        |       FROM fr CROSS JOIN generate_series(0, 15) x(i)
        |              CROSS JOIN generate_series(0, 9) y(i)
        |       WHERE x.i < w AND y.i < h)
        |SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
        |       CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |       CAST(SUM((doc_id * 31 + frame_idx * 41 + x * 7 + y * 13) % 256) AS BIGINT) AS sum_r,
        |       CAST(SUM((doc_id * 17 + frame_idx * 29 + x * 11 + y * 3) % 256) AS BIGINT) AS sum_g,
        |       CAST(SUM((doc_id * 23 + frame_idx * 37 + x * 5 + y * 19) % 256) AS BIGINT) AS sum_b
        |FROM px GROUP BY doc_id, frame_idx, w, h
        |ORDER BY doc_id, frame_idx""".stripMargin,

    "mm_decode_gif" ->
      """WITH g AS (SELECT doc_id, 8 + doc_id % 9 AS w, 6 + doc_id % 5 AS h,
        |                  2 + doc_id % 4 AS nf
        |           FROM documents),
        |fr AS (SELECT doc_id, w, h, f.i AS frame_idx
        |       FROM g CROSS JOIN generate_series(0, 4) f(i)
        |       WHERE f.i < nf),
        |px AS (SELECT doc_id, w, h, frame_idx, x.i AS x, y.i AS y
        |       FROM fr CROSS JOIN generate_series(0, 15) x(i)
        |              CROSS JOIN generate_series(0, 9) y(i)
        |       WHERE x.i < w AND y.i < h)
        |SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
        |       CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |       CAST(SUM((doc_id * 31 + frame_idx * 41 + x * 7 + y * 13) % 256) AS BIGINT) AS sum_r,
        |       CAST(SUM((doc_id * 17 + frame_idx * 29 + x * 11 + y * 3) % 256) AS BIGINT) AS sum_g,
        |       CAST(SUM((doc_id * 23 + frame_idx * 37 + x * 5 + y * 19) % 256) AS BIGINT) AS sum_b
        |FROM px GROUP BY doc_id, frame_idx, w, h
        |ORDER BY doc_id, frame_idx""".stripMargin,

    "mm_decode_image" ->
      """SELECT d.doc_id,
        |       CAST(8 + d.doc_id % 9 AS INT) AS width,
        |       CAST(6 + d.doc_id % 5 AS INT) AS height,
        |       CAST(SUM((d.doc_id * 31 + x.i * 7 + y.i * 13) % 256) AS BIGINT) AS sum_r,
        |       CAST(SUM((d.doc_id * 17 + x.i * 11 + y.i * 3) % 256) AS BIGINT) AS sum_g,
        |       CAST(SUM((d.doc_id * 23 + x.i * 5 + y.i * 19) % 256) AS BIGINT) AS sum_b
        |FROM documents d,
        |     generate_series(0, 15) x(i),
        |     generate_series(0, 9) y(i)
        |WHERE x.i < 8 + d.doc_id % 9 AND y.i < 6 + d.doc_id % 5
        |GROUP BY d.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "mm_decode_audio" ->
      """WITH n AS (SELECT doc_id, 800 + doc_id % 401 AS n FROM documents),
        |s AS (SELECT doc_id, n,
        |             ((doc_id * 31 + g.i * 7) % 65536) - 32768 AS v
        |      FROM n CROSS JOIN generate_series(0, 1200) g(i)
        |      WHERE g.i < n)
        |SELECT doc_id, CAST(8000 AS INT) AS sample_rate,
        |       CAST(n AS BIGINT) AS n_samples,
        |       CAST(n * 125 AS BIGINT) AS duration_us,
        |       CAST(SUM(v) AS BIGINT) AS sum_samples,
        |       CAST(SUM(ABS(v)) AS BIGINT) AS sum_abs
        |FROM s GROUP BY doc_id, n
        |ORDER BY doc_id""".stripMargin,

    "mm_resize" ->
      """WITH g AS (SELECT doc_id, 8 + doc_id % 9 AS w, 6 + doc_id % 5 AS h
        |           FROM documents),
        |px AS (SELECT doc_id, w, h,
        |              (tx.i * w) // 4 AS x, (ty.i * h) // 4 AS y
        |       FROM g CROSS JOIN generate_series(0, 3) tx(i)
        |              CROSS JOIN generate_series(0, 3) ty(i))
        |SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |       CAST(4 AS INT) AS thumb_w, CAST(4 AS INT) AS thumb_h,
        |       CAST(SUM((doc_id * 31 + x * 7 + y * 13) % 256) AS BIGINT) AS t_sum_r,
        |       CAST(SUM((doc_id * 17 + x * 11 + y * 3) % 256) AS BIGINT) AS t_sum_g,
        |       CAST(SUM((doc_id * 23 + x * 5 + y * 19) % 256) AS BIGINT) AS t_sum_b
        |FROM px GROUP BY doc_id, w, h
        |ORDER BY doc_id""".stripMargin,

    "mm_decode_jpeg" ->
      """SELECT doc_id,
        |       CAST(8 + doc_id % 9 AS INT) AS width,
        |       CAST(6 + doc_id % 5 AS INT) AS height,
        |       TRUE AS jpeg_bytes_gt_zero,
        |       TRUE AS jpeg_mean_within_tol
        |FROM documents ORDER BY doc_id""".stripMargin,

    "mm_media_table" ->
      """SELECT doc_id,
        |       (['image', 'audio', 'video'])[CAST(doc_id % 3 AS INT) + 1] AS media_type,
        |       octet_length(encode(text)) AS byte_len,
        |       md5(text) AS payload_md5,
        |       CAST(n_chars % 640 AS INT) AS width,
        |       CAST(n_chars % 480 AS INT) AS height,
        |       CAST(n_chars * 40 AS BIGINT) AS duration_ms
        |FROM documents ORDER BY doc_id""".stripMargin
  )
}
