package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Graph

/** The reference's graph surface (SURVEY §2.10) over a property graph
  * derived from the TPC-H-ish tables. Mapping mirrors the reference's
  * labels (`row_to_neo4j`, dags/api_to_neo4j.py:23-83):
  * Piece=part, Author=customer, Venue=supplier, Institution=nation;
  * AUTHORSHIP customer→part, PUBLICATION part→supplier, AFFILIATION
  * customer→nation, REFERENCES part→part (consecutive line numbers within
  * an order — a deterministic citation stand-in).
  *
  * Deterministic set algebra (edge builds, Jaccard, k-hop, pattern scans)
  * is oracle-checked, and so is EVERY iterative algorithm — PageRank /
  * ArticleRank / LPA / modularity / Brandes betweenness: each runs in
  * order-independent BIGINT fixed-point arithmetic
  * ([[Graph.pageRankFixed]], [[Graph.betweennessFixed]] — the
  * `sim_kmeans_centroids` technique), so an unrolled DuckDB CTE chain is
  * bit-identical. Scores are RETURNed with entity names, as the reference
  * queries do (dags/graph_queries.cyp:13-16,43-45,55-58).
  */
object GraphQueries extends QueryModule {

  /** REFERENCES edges: part→part via consecutive line numbers. */
  private def refEdges(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
    li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
        col("b.l_linenumber") === col("a.l_linenumber") + 1)
      .select(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
      .distinct()
  }

  /** [[refEdges]] with multiplicity kept as an integer weight: how many
    * consecutive-line pairs produced each (src, dst). */
  private def weightedRefEdges(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
    li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
        col("b.l_linenumber") === col("a.l_linenumber") + 1)
      .groupBy(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
      .agg(count(lit(1)).as("w"))
  }

  // Node-id namespacing for the heterogeneous edge table.
  private val P = 1000000L  // part offset
  private val S = 2000000L  // supplier offset
  private val N = 3000000L  // nation offset

  /** Jaccard hub cap for `g_jaccard_capped` — mirrored verbatim in the
    * oracle's `WHERE deg <= …` so both engines cut the same hubs. */
  private val JaccardDegreeCap = 40L

  /** Closure-pair cap for `g_khop_capped` — mirrored verbatim in the
    * twin's hop-selection rule. Binds at sf0.01 (hop 2's 433 k fits,
    * hop 3's 3.07 M does not). */
  private val KHopCap = 1000000L

  /** Attachment-degree hub cap for `g_articlerank_tightcap` — mirrored
    * verbatim in the twin's `ROW_NUMBER() ... <= cap` pick, so both
    * engines keep the same (smallest-entity-id) attachments. The BENCH
    * configuration of the capped projected-rank chain (VERDICT r15 #1):
    * at sf0.1 the closure cap already binds after hop 1, so the 89 s/run
    * cost of `g_articlerank_capped` is the ~147 M-edge author→author
    * projection itself — which only an ATTACHMENT cap (not a tighter
    * closure cap) can bound. [[Graph.capAttachment]] documents why
    * degree is the right knob. */
  private val ArcAttachCap = 8

  /** Attach `name` from a dimension table keyed by the score table's id —
    * the reference's `RETURN x.name, score` shape. Inner join: every
    * graph id is a foreign key into its dimension. */
  private def named(scores: DataFrame, dim: DataFrame, key: String,
      nameCol: String): DataFrame =
    scores.join(
      dim.select(col(key).as("id"), col(nameCol).as("name")), Seq("id"))

  /** The embedding-retrieval body of `g_fastrp_topk` and
    * `g_hard_negatives`: per query node `id < 20`, the top-5 cosine
    * neighbors in fastRP space. Dots and norms are exact BIGINT sums over
    * the integer embeddings (scale 1e6 keeps Σ products « 2^63); cosine
    * is one fixed-shape double expression; the finish is the bounded
    * per-query top-k. With `hardNegatives` the candidates exclude the
    * query's graph neighbors: one anti-join against the undirected edge
    * set, keyed on (query, candidate) — a plain shuffle. The embedding
    * has three consumers (norms, queries, candidates) and is pinned once;
    * with `hardNegatives` the edges feed both the embedding build and the
    * anti-join and are pinned too. */
  private def fastRpNeighbors(edges: DataFrame,
      hardNegatives: Boolean): DataFrame = {
    val e = if (hardNegatives) graft.plans.Pins.pin(edges) else edges
    val emb = graft.plans.Pins.pin(
      Graph.fastRpFixed(e, dim = 8, iters = 3, scale = 1000000L))
    val norms = emb.groupBy(col("id"))
      .agg(sum(col("emb") * col("emb")).as("n2"))
      .filter(col("n2") > 0)
    val q = emb.select(col("id").as("qid"), col("pos"), col("emb").as("qv"))
      .filter(col("qid") < 20)
    val dots = q.join(emb.select(col("id").as("nid"), col("pos"),
          col("emb").as("nv")), Seq("pos"))
      .filter(col("qid") =!= col("nid"))
      .groupBy(col("qid"), col("nid"))
      .agg(sum(col("qv") * col("nv")).as("dot"))
    val cand = if (!hardNegatives) dots else dots.join(
      e.select(col("src").as("qid"), col("dst").as("nid"))
        .union(e.select(col("dst").as("qid"), col("src").as("nid")))
        .distinct(),
      Seq("qid", "nid"), "left_anti")
    val scored = cand
      .join(norms.select(col("id").as("qid"), col("n2").as("qn2")), Seq("qid"))
      .join(norms.select(col("id").as("nid"), col("n2").as("nn2")), Seq("nid"))
      .withColumn("cos", col("dot").cast("double") /
        (sqrt(col("qn2").cast("double")) * sqrt(col("nn2").cast("double"))))
    graft.plans.GraftExtensions.topKPerGroup(scored, Seq("qid"), 5,
        descFirst = true)(col("cos"), col("nid"))
      .select(col("qid").as("query_id"), col("nid").as("neighbor_id"),
        col("rnk"), col("cos"))
      .orderBy(col("query_id"), col("rnk"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S9/D6 — heterogeneous nodes/edges build, idempotent by distinct;
    // checked via per-type counts + key sums.
    "g_edges_build" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      val authorship = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("src"), (col("l_partkey") + P).as("dst"))
        .distinct().withColumn("etype", lit("AUTHORSHIP"))
      val publication = li
        .select((col("l_partkey") + P).as("src"), (col("l_suppkey") + S).as("dst"))
        .distinct().withColumn("etype", lit("PUBLICATION"))
      val affiliation = c
        .select(col("c_custkey").as("src"), (col("c_nationkey") + N).as("dst"))
        .distinct().withColumn("etype", lit("AFFILIATION"))
      val references = refEdges(s, dir)
        .select((col("src") + P).as("src"), (col("dst") + P).as("dst"))
        .withColumn("etype", lit("REFERENCES"))
      authorship.union(publication).union(affiliation).union(references)
        .groupBy(col("etype"))
        .agg(count(lit(1)).as("n_edges"),
          sum(col("src")).as("sum_src"), sum(col("dst")).as("sum_dst"))
        .orderBy(col("etype"))
    }),

    // G7 — node similarity: Jaccard over part→order memberships, scores
    // returned with both part names (graph_queries.cyp's RETURN shape).
    // Triangle count + local clustering coefficient over the REFERENCES
    // projection (degree-ordered compact-forward — O(m^1.5) wedges).
    "g_triangles" -> ((s, dir) => Graph.triangles(refEdges(s, dir))),

    // GDS degree centrality (gds.degree) over REFERENCES: out/in/total
    // per part — two narrow aggregations + a full outer merge.
    "g_degree" -> ((s, dir) => {
      val e = graft.plans.Pins.pin(refEdges(s, dir)) // two consumers: one fact self-join, not two
      val outd = e.groupBy(col("src").as("id"))
        .agg(count(lit(1)).as("out_deg"))
      val ind = e.groupBy(col("dst").as("id"))
        .agg(count(lit(1)).as("in_deg"))
      outd.join(ind, Seq("id"), "full_outer")
        .select(col("id"),
          coalesce(col("out_deg"), lit(0L)).as("out_deg"),
          coalesce(col("in_deg"), lit(0L)).as("in_deg"))
        .withColumn("degree", col("out_deg") + col("in_deg"))
        .join(Tables.part(s, dir).select(col("p_partkey").as("id"),
          col("p_name").as("name")), Seq("id"))
        .orderBy(col("degree").desc, col("id"))
    }),

    // GDS k-core decomposition (gds.kcore) — H-operator fixpoint on the
    // undirected REFERENCES graph, 12 rounds on both engines (the sf
    // graphs' peeling depth saturates well before that; GraphSpec proves
    // exactness on a clique-plus-tail fixture).
    "g_kcore" -> ((s, dir) =>
      named(Graph.kCoreFixed(refEdges(s, dir), iters = 12),
          Tables.part(s, dir), "p_partkey", "p_name")
        .select(col("id"), col("name"), col("core"))
        .orderBy(col("core").desc, col("id"))),

    // HITS hubs & authorities (gds.alpha.hits) over directed REFERENCES
    // in exact renormalized fixed point — hash-checked against the
    // unrolled HUGEINT twin.
    "g_hits" -> ((s, dir) =>
      named(Graph.hitsFixed(refEdges(s, dir), iters = 10),
          Tables.part(s, dir), "p_partkey", "p_name")
        .select(col("id"), col("name"), col("auth_fp"), col("hub_fp"),
          col("auth"), col("hub"))
        .orderBy(col("auth_fp").desc, col("id"))),

    // Sampled-source harmonic closeness (gds.closeness.harmonic): exact
    // integer BFS distances from the same 5-source sample betweenness
    // uses, contributions scale DIV dist.
    "g_harmonic" -> ((s, dir) =>
      named(Graph.harmonicFixed(refEdges(s, dir), Seq(0L, 1L, 2L, 3L, 4L),
            maxDepth = 8),
          Tables.part(s, dir), "p_partkey", "p_name")
        .select(col("id"), col("name"), col("harmonic_fp"), col("harmonic"))
        .orderBy(col("harmonic_fp").desc, col("id"))),

    "g_jaccard_parts" -> ((s, dir) => {
      val membership = Tables.lineitem(s, dir)
        .select(col("l_partkey").as("src"), col("l_orderkey").as("dst"))
      val pn = Tables.part(s, dir)
      Graph.jaccardSimilarity(membership, 0.05)
        .join(pn.select(col("p_partkey").as("id_a"),
          col("p_name").as("name_a")), Seq("id_a"))
        .join(pn.select(col("p_partkey").as("id_b"),
          col("p_name").as("name_b")), Seq("id_b"))
        .select(col("id_a"), col("name_a"), col("id_b"), col("name_b"),
          col("jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // G7 at scale — the same similarity with the hub degree cap: one
    // celebrity node at 100× data otherwise emits deg² candidate pairs.
    // The cap is expressed in the oracle as a pre-join `WHERE deg <= N`,
    // so both engines agree on exactly which pairs survive.
    "g_jaccard_capped" -> ((s, dir) => {
      val membership = Tables.lineitem(s, dir)
        .select(col("l_partkey").as("src"), col("l_orderkey").as("dst"))
      Graph.jaccardSimilarity(membership, 0.05,
          maxDegree = Some(JaccardDegreeCap))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // G7 (GDS nodeSimilarity, similarityMetric OVERLAP) — overlap
    // coefficient |∩| / min(deg) on the same part–order membership as
    // g_jaccard_parts: only the denominator differs, so pair-generation
    // cost and the maxDegree 100× knob are shared with the jaccard pair.
    "g_overlap_parts" -> ((s, dir) => {
      val membership = Tables.lineitem(s, dir)
        .select(col("l_partkey").as("src"), col("l_orderkey").as("dst"))
      Graph.overlapSimilarity(membership, 0.1)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // G7 (GDS nodeSimilarity, relationshipWeightProperty) — weighted
    // Jaccard Σmin/Σmax with exact integer quantity weights (l_quantity
    // is integral; CAST to BIGINT keeps both engines on exact sums).
    "g_wjaccard_parts" -> ((s, dir) => {
      val m = Tables.lineitem(s, dir)
        .select(col("l_partkey").as("src"), col("l_orderkey").as("dst"),
          col("l_quantity").cast("long").as("w"))
      Graph.weightedJaccardSimilarity(m, 0.05)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Degree assortativity of the REFERENCES graph (Newman's r in exact
    // integer sums; one row) — the standard "do hubs cite hubs" summary
    // statistic.
    "g_assortativity" -> ((s, dir) =>
      Graph.assortativity(refEdges(s, dir))),

    // G8 — bounded 2-hop reachability over REFERENCES.
    "g_2hop_reach" -> ((s, dir) => {
      Graph.kHopReach(refEdges(s, dir), 2)
        .groupBy(col("src")).agg(count(lit(1)).as("n_reach"))
        .orderBy(col("src"))
    }),

    // G8 with the maxPairs deploy knob BINDING (r10): a 4-hop request
    // under a 1M-pair cap stops after the largest completed hop whose
    // closure fits (hop 2 at sf0.01: 433 k ≤ 1 M < hop 3's 3.07 M) —
    // the loud-stop semantics the closure-family measurement
    // (BASELINE.md r10) says a 100× deployment MUST run with. The twin
    // unrolls the per-hop closures and picks by the same monotone
    // cumulative-count rule, so both engines agree on exactly which
    // hop survives.
    "g_khop_capped" -> ((s, dir) =>
      Graph.kHopReach(refEdges(s, dir), 4, maxPairs = Some(KHopCap))
        .groupBy(col("src")).agg(count(lit(1)).as("n_reach"))
        .orderBy(col("src"))),

    // G9 — full-pattern scan (Institution)-(Author)-(Piece)-(Venue).
    "g_pattern_scan" -> ((s, dir) => {
      val n = Tables.nation(s, dir)
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
      val li = Tables.lineitem(s, dir)
      val sup = Tables.supplier(s, dir)
      c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(o, col("o_custkey") === col("c_custkey"))
        .join(li, col("l_orderkey") === col("o_orderkey"))
        .join(sup, col("s_suppkey") === col("l_suppkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_paths"),
          countDistinct(col("s_suppkey")).as("n_venues"))
        .orderBy(col("n_name"))
    }),

    // G1 — PageRank over the REFERENCES graph in BIGINT fixed point
    // (graph_queries.cyp:33-45) → hash-checked against the unrolled CTE
    // twin; named output per the reference's RETURN piece.title, score.
    "g_pagerank_parts" -> ((s, dir) =>
      named(Graph.pageRankFixed(refEdges(s, dir), iters = 15),
          Tables.part(s, dir), "p_partkey", "p_name")
        .select(col("id"), col("name"), col("rank_fp"), col("rank"))
        .orderBy(col("rank_fp").desc, col("id"))),

    // GDS relationshipWeightProperty depth — weighted PageRank over the
    // MULTIPLICITY-weighted REFERENCES graph (how many consecutive-line
    // pairs produced the edge): rank splits proportional to weight.
    "g_pagerank_weighted" -> ((s, dir) =>
      named(Graph.pageRankWeightedFixed(weightedRefEdges(s, dir), iters = 10),
          Tables.part(s, dir), "p_partkey", "p_name")
        .select(col("id"), col("name"), col("rank_fp"), col("rank"))
        .orderBy(col("rank_fp").desc, col("id"))),

    // GDS sourceNodes depth — personalized PageRank from the same
    // 5-seed sample the centrality queries use: rank = proximity to the
    // seeds (the recommendation/expansion primitive).
    "g_ppr_sample" -> ((s, dir) =>
      named(Graph.personalizedPageRankFixed(refEdges(s, dir),
            Seq(0L, 1L, 2L, 3L, 4L), iters = 10),
          Tables.part(s, dir), "p_partkey", "p_name")
        .select(col("id"), col("name"), col("rank_fp"), col("rank"))
        .orderBy(col("rank_fp").desc, col("id"))),

    // Unweighted single-source shortest paths (gds.bfs /
    // gds.shortestPath without weights): the raw BFS distance table
    // from part 0, depth-bounded like the other sampled traversals.
    "g_sssp" -> ((s, dir) =>
      named(Graph.bfsDistances(refEdges(s, dir), Seq(0L), maxDepth = 8)
          .select(col("id"), col("dist")),
          Tables.part(s, dir), "p_partkey", "p_name")
        .select(col("id"), col("name"), col("dist"))
        .orderBy(col("dist"), col("id"))),

    // Weighted SSSP (gds.shortestPath with costs) — bounded
    // Bellman–Ford from part 0 over inverse-multiplicity costs
    // (frequently co-referenced parts are "closer": cost = 10 DIV
    // (w+1) + 1, mirrored verbatim in the twin).
    "g_bellman_ford" -> ((s, dir) =>
      named(Graph.bellmanFord(
            weightedRefEdges(s, dir)
              .withColumn("cost", expr("10 DIV (w + 1) + 1")),
            source = 0L, rounds = 8),
          Tables.part(s, dir), "p_partkey", "p_name")
        .select(col("id"), col("name"), col("d"))
        .orderBy(col("d"), col("id"))),

    // GDS fastRP depth — deterministic FastRP-lite node embeddings over
    // the undirected REFERENCES graph: ±1 md5-sign projection, neighbor
    // averaging, iterations 2..3 summed.
    "g_fastrp" -> ((s, dir) =>
      Graph.fastRpFixed(refEdges(s, dir), dim = 8, iters = 3)
        .orderBy(col("id"), col("pos"))),

    // Deterministic random walks (gds.randomWalk — node2vec's corpus
    // generator): hash-derived neighbor choice per hop, bit-reproducible
    // across runs and engines; dead ends simply end the walk.
    "g_random_walks" -> ((s, dir) =>
      Graph.randomWalks(refEdges(s, dir), startMax = 20L, steps = 5)
        .orderBy(col("walk_id"), col("step"))),

    // node2vec-biased second-order walks (Grover & Leskovec 2016):
    // return/common/far neighbor weights (2/6/3 ≈ 1/p,1,1/q), weighted
    // bracket selection by the same hash draw — deterministic node2vec.
    "g_node2vec_walks" -> ((s, dir) =>
      Graph.node2vecWalks(refEdges(s, dir), startMax = 20L, steps = 5)
        .orderBy(col("walk_id"), col("step"))),

    // skip-gram co-occurrence counts over the walk corpus (±2 window) —
    // the statistic word2vec/DeepWalk train on; 500 walk starts so the
    // pair table has real mass.
    "g_walk_cooc" -> ((s, dir) =>
      Graph.walkCooccurrence(
        Graph.randomWalks(refEdges(s, dir), startMax = 500L, steps = 5), 2)
        .orderBy(col("node_a"), col("node_b"))),

    // the walk→embedding TRAINING step (NetMF): dominant eigenvector of
    // the walk-corpus PPMI matrix by sparse exact-grid power iteration.
    "g_pmi_embed" -> ((s, dir) =>
      Graph.pmiEmbed(Graph.walkCooccurrence(
        Graph.randomWalks(refEdges(s, dir), startMax = 500L, steps = 5), 2), 5)
        .orderBy(col("id"))),

    // Graph-embedding RETRIEVAL (the node2vec-style use of fastRP):
    // cosine top-k similar parts in embedding space — structurally
    // similar nodes surface without sharing any direct edge.
    "g_fastrp_topk" -> ((s, dir) =>
      fastRpNeighbors(refEdges(s, dir), hardNegatives = false)),

    // 2-D NetMF embedding (r9): second eigenvector via implicit
    // deflation (M − λ₁v₁v₁ᵀ applied inside the snapped mat-vec — the
    // matrix is never modified); even λ₁ and the rank-1 correction are
    // grid-exact, so both components hash.
    "g_pmi_embed2" -> ((s, dir) =>
      Graph.pmiEmbed2(Graph.walkCooccurrence(
        Graph.randomWalks(refEdges(s, dir), startMax = 500L, steps = 5), 2), 5)
        .orderBy(col("id"))),

    // Eccentricity / approximate diameter (r9): per sampled source, the
    // max BFS distance and reach count — max over sources lower-bounds
    // the diameter (the standard sampled estimate). Pure compose of the
    // batched multi-source BFS; one job per graph level total.
    "g_eccentricity" -> ((s, dir) =>
      Graph.bfsDistances(refEdges(s, dir), Seq(0L, 1L, 2L, 3L, 4L),
          maxDepth = 8)
        .groupBy(col("source"))
        .agg(max(col("dist")).as("eccentricity"),
          count(lit(1)).as("n_reached"))
        .orderBy(col("source"))),

    // k-truss (r9): the community-core filter one notch above k-core —
    // 4-truss surviving edges after 8 fixed peeling rounds (stable well
    // before that on this graph; fixed rounds keep the twin unrollable).
    "g_ktruss" -> ((s, dir) =>
      Graph.kTruss(refEdges(s, dir), k = 4)
        .orderBy(col("a"), col("b"))),

    // Hard-negative mining (r9): per query node, the top-5 CLOSEST
    // embedding neighbors that are NOT graph neighbors — the pairs a
    // contrastive trainer needs (positives = edges, hard negatives =
    // close-but-unlinked).
    "g_hard_negatives" -> ((s, dir) =>
      fastRpNeighbors(refEdges(s, dir), hardNegatives = true)),

    // G5 — community detection via connected components. Min-label
    // propagation converges to min-node-id-per-component, which a
    // recursive CTE can re-derive → oracle-checked.
    "g_components" -> ((s, dir) =>
      Graph.connectedComponents(refEdges(s, dir), maxIters = 100)
        .groupBy(col("component")).agg(count(lit(1)).as("size"))
        .orderBy(col("size").desc, col("component"))),

    // G5 at scale — the SAME component histogram via alternating
    // large-star/small-star (O(log n) rounds vs min-label's O(diameter);
    // the job-count difference IS the cost at 100 TB). Canonical output
    // ⇒ verified against the identical closure oracle as g_components.
    "g_components_star" -> ((s, dir) =>
      Graph.connectedComponentsStar(refEdges(s, dir))
        .groupBy(col("component")).agg(count(lit(1)).as("size"))
        .orderBy(col("size").desc, col("component"))),

    // G5 directed — strongly connected components (the reference README's
    // literal "finding strongly connected components" intent that weak-CC
    // doesn't satisfy). Per-node membership (stronger than the size
    // histogram): the canonical label (min mutually-reachable id) is
    // algorithm-independent, so the FW-BW refinement here hash-matches
    // the oracle's mutual-reachability-closure CTE.
    "g_scc" -> ((s, dir) =>
      Graph.stronglyConnectedComponents(refEdges(s, dir))
        .select(col("id"), col("component"))
        .orderBy(col("id"))),

    // G6 — sampled-source Brandes betweenness in BIGINT fixed point
    // (σ counts exact, δ accumulated at 1e-9 grid with truncating
    // division) → hash-checked against the unrolled BFS/dependency-sweep
    // twin. maxDepth=8 bounds the unroll on both sides (the sf0.01 graph
    // saturates at 5). GraphSpec checks exact values on path graphs.
    "g_betweenness_sample" -> ((s, dir) =>
      named(Graph.betweennessFixed(refEdges(s, dir), Seq(0L, 1L, 2L, 3L, 4L),
            maxDepth = 8),
          Tables.part(s, dir), "p_partkey", "p_name")
        .select(col("id"), col("name"), col("betweenness_fp"), col("betweenness"))
        .orderBy(col("betweenness_fp").desc, col("id"))),

    // G5 (second half) — label-propagation communities. Deterministic at
    // a fixed iteration count (synchronous votes, min-label ties), so the
    // unrolled vote/argmax CTE twin hash-matches.
    "g_lpa_communities" -> ((s, dir) =>
      Graph.labelPropagation(refEdges(s, dir), iters = 10)
        .groupBy(col("label")).agg(count(lit(1)).as("size"))
        .select(col("label").as("community"), col("size"))
        .orderBy(col("size").desc, col("community"))),

    // G5 scoring — Newman modularity of the LPA labelling (the quantity
    // gds.louvain optimizes, graph_queries.cyp:19-30), as one exact
    // BIGINT rational q_num/q_den plus its double quotient.
    "g_modularity" -> ((s, dir) => {
      val e = graft.plans.Pins.pin(refEdges(s, dir)) // two consumers: one fact self-join, not two
      Graph.modularity(e, Graph.labelPropagation(e, iters = 10))
    }),

    // G5 (ascent) — deterministic one-level Louvain: greedy exact-BIGINT
    // modularity-gain moves with fixed tie-break (graph_queries.cyp:19-30
    // runs gds.louvain itself; this is the modularity-ASCENT counterpart
    // of the g_modularity scorer). Hash-checked against the unrolled
    // score/argmax/move CTE twin.
    "g_louvain" -> ((s, dir) =>
      Graph.louvain(refEdges(s, dir), rounds = 6)
        .groupBy(col("label")).agg(count(lit(1)).as("size"))
        .select(col("label").as("community"), col("size"))
        .orderBy(col("size").desc, col("community"))),

    // G5 (full GDS shape) — TWO-level Louvain: level-1 move rounds, then
    // community contraction into a weighted graph and a weighted re-run,
    // labels mapped back (gds.louvain is multi-level; one level
    // structurally cannot merge two dense cores joined by a thin cut —
    // see GraphSpec's ring-of-cliques fixture). Twin unrolls both levels
    // + contraction from the same generator.
    "g_louvain2" -> ((s, dir) =>
      Graph.louvain2(refEdges(s, dir), rounds1 = 6, rounds2 = 6)
        .groupBy(col("label")).agg(count(lit(1)).as("size"))
        .select(col("label").as("community"), col("size"))
        .orderBy(col("size").desc, col("community"))),

    // Composed graph pipeline (the graph mirror of pipe_end_to_end):
    // detect communities, score nodes, roll both up per community —
    // size, total PageRank mass, and the top-ranked member. Catches
    // inter-operator schema drift between the louvain and pagerank
    // families the isolated entries can't.
    "g_pipe_communities" -> ((s, dir) => {
      val e = graft.plans.Pins.pin(refEdges(s, dir)) // two consumers: one fact self-join, not two
      // r17 (guide §2.6): the louvain move rounds and the PageRank rounds
      // are INDEPENDENT pin loops over the same pinned edge set, joined
      // only at the rollup — overlapped, the composed entry costs
      // ~max(louvain, pagerank) instead of their sum.
      val (lv, pr) = graft.plans.Par.both(
        Graph.louvain(e, rounds = 6),
        Graph.pageRankFixed(e, iters = 10))
      lv.join(pr, Seq("id"))
        .groupBy(col("label").as("community"))
        .agg(count(lit(1)).as("size"),
          sum(col("rank_fp")).as("mass_fp"),
          max(struct(col("rank_fp"), col("id"))).as("_top"))
        .select(col("community"), col("size"), col("mass_fp"),
          col("_top.id").as("top_id"))
        .orderBy(col("mass_fp").desc, col("community"))
    }),

    // G2 — author ArticleRank through the reference's own projection
    // (graph_queries.cyp:48-58): (Author)-[:AUTHORSHIP]-(Piece)
    // -[:REFERENCES*1..10]->(Piece)-[:AUTHORSHIP]-(Author2), i.e. the
    // bounded 10-hop citation closure, NOT 1-hop co-purchase. Fixed-point
    // ranks → oracle-checked end to end (closure, projection, PageRank).
    "g_articlerank_customers" -> ((s, dir) => {
      val proj = Graph.projectViaClosure(
        authorship(s, dir), Graph.kHopReach(refEdges(s, dir), 10))
      named(Graph.pageRankFixed(proj, iters = 10),
          Tables.customer(s, dir), "c_custkey", "c_name")
        .select(col("id"), col("name"), col("rank_fp"), col("rank"))
        .orderBy(col("rank_fp").desc, col("id"))
    }),

    // G2 depth — the same author projection under GDS's OWN ArticleRank
    // normalization (VERDICT r6 #6): contribution divides by
    // deg + avg-deg, not deg (gds.articleRank, graph_queries.cyp:48-58;
    // the faithful-formulation entries above keep the classic deg
    // divisor). Same fixed-point machinery, hash-checked twin.
    "g_articlerank_gdsnorm" -> ((s, dir) => {
      val proj = Graph.projectViaClosure(
        authorship(s, dir), Graph.kHopReach(refEdges(s, dir), 10))
      named(Graph.articleRankFixed(proj, iters = 10),
          Tables.customer(s, dir), "c_custkey", "c_name")
        .select(col("id"), col("name"), col("rank_fp"), col("rank"))
        .orderBy(col("rank_fp").desc, col("id"))
    }),

    // G2–G4 DEPLOY configuration (VERDICT r12 #1): the capped chain a
    // 100× deployment must run — the uncapped `REFERENCES*1..10` closure
    // was measured to |V|² saturation at sf0.1 (BASELINE.md r10), so the
    // deployed shape is kHopReach with maxPairs binding LOUDLY (hop 2's
    // 433 k fits the 1 M cap at sf0.01; hop 3's 3.07 M does not) →
    // projectViaClosure → pageRankFixed. The twin unrolls the per-hop
    // closures and picks the surviving hop by the same monotone
    // cumulative-count rule as g_khop_capped, so both engines rank the
    // identical truncated projection. Timed in the bench headline — the
    // first end-to-end bench row for this family's deployable form.
    "g_articlerank_capped" -> ((s, dir) => {
      val closure = Graph.kHopReach(refEdges(s, dir), 10,
        maxPairs = Some(KHopCap))
      val proj = Graph.projectViaClosure(authorship(s, dir), closure)
      named(Graph.pageRankFixed(proj, iters = 10),
          Tables.customer(s, dir), "c_custkey", "c_name")
        .select(col("id"), col("name"), col("rank_fp"), col("rank"))
        .orderBy(col("rank_fp").desc, col("id"))
    }),

    // The BENCH configuration of the capped chain (VERDICT r15 #1): the
    // same closure-capped projected PageRank with the attachment-degree
    // hub cap ([[Graph.capAttachment]], [[ArcAttachCap]]) bounding the
    // projection volume — the knob that actually bites at sf0.1, where
    // the closure cap binds after hop 1 and the 89 s/run cost is the
    // ~147 M-edge projection itself. `g_articlerank_capped` (above)
    // stays the oracle-checked deploy reference; this entry replaces it
    // in the timed headline so the bench prices the family without one
    // query owning ~180–320 s of the driver's hour.
    "g_articlerank_tightcap" -> ((s, dir) => {
      // r17 (guide §2.6): the capped-closure BFS loop and the capped
      // attachment build are independent until the projection joins
      // them — overlap the closure's hop rounds with the ends pin, the
      // only pin of the ends (projectPinned does not re-checkpoint them).
      val (closure, ends) = graft.plans.Par.both(
        Graph.kHopReach(refEdges(s, dir), 10, maxPairs = Some(KHopCap)),
        graft.plans.Pins.pin(
          Graph.capAttachment(authorship(s, dir), ArcAttachCap)))
      val proj = Graph.projectPinned(ends, closure)
      named(Graph.pageRankFixed(proj, iters = 10),
          Tables.customer(s, dir), "c_custkey", "c_name")
        .select(col("id"), col("name"), col("rank_fp"), col("rank"))
        .orderBy(col("rank_fp").desc, col("id"))
    }),

    // G3 — venue ArticleRank (graph_queries.cyp:61-72):
    // (Venue)-[:PUBLICATION]-(Piece)-[:REFERENCES*1..10]->(Piece)
    // -[:PUBLICATION]-(Venue2). The reference's projection RETURNs
    // `id(v2) as source, id(v2) as target` — an evident typo (all edges
    // would be self-loops); this implements the intended v1→v2.
    "g_articlerank_venues" -> ((s, dir) => {
      val pub = Tables.lineitem(s, dir)
        .select(col("l_suppkey").as("entity"), col("l_partkey").as("node"))
        .distinct()
      val proj = Graph.projectViaClosure(
        pub, Graph.kHopReach(refEdges(s, dir), 10))
      named(Graph.pageRankFixed(proj, iters = 10),
          Tables.supplier(s, dir), "s_suppkey", "s_name")
        .select(col("id"), col("name"), col("rank_fp"), col("rank"))
        .orderBy(col("rank_fp").desc, col("id"))
    }),

    // G4 — institution PageRank (graph_queries.cyp:5-16): (Institution)
    // -[:AFFILIATION]-(Author)-[:AUTHORSHIP]-(Piece)-[:REFERENCES*1..10]
    // ->(Piece)-[:AUTHORSHIP]-(Author)-[:AFFILIATION]-(Institution2).
    // The institution→piece attachment composes AFFILIATION∘AUTHORSHIP.
    "g_pagerank_institutions" -> ((s, dir) => {
      val aff = Tables.customer(s, dir)
        .select(col("c_custkey").as("cust"), col("c_nationkey").as("entity"))
      val instPieces = aff
        .join(authorship(s, dir).withColumnRenamed("entity", "cust"),
          "cust")
        .select(col("entity"), col("node")).distinct()
      val proj = Graph.projectViaClosure(
        instPieces, Graph.kHopReach(refEdges(s, dir), 10))
      named(Graph.pageRankFixed(proj, iters = 10),
          Tables.nation(s, dir), "n_nationkey", "n_name")
        .select(col("id"), col("name"), col("rank_fp"), col("rank"))
        .orderBy(col("rank_fp").desc, col("id"))
    })
  )

  /** AUTHORSHIP attachment (entity=customer, node=part) for the G2/G4
    * closure projections. */
  private def authorship(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("entity"), col("l_partkey").as("node"))
      .distinct()

  private val refEdgesSql =
    """e AS MATERIALIZED (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      |      FROM lineitem a JOIN lineitem b
      |        ON a.l_orderkey = b.l_orderkey
      |       AND b.l_linenumber = a.l_linenumber + 1)""".stripMargin

  /** Twin of [[fastRpNeighbors]]. */
  private def fastRpNeighborsSql(hardNegatives: Boolean): String = {
    val notLinked = if (!hardNegatives) "" else
      """
        |  WHERE NOT EXISTS (SELECT 1 FROM e x
        |    WHERE (x.src = q.qid AND x.dst = n.id)
        |       OR (x.src = n.id AND x.dst = q.qid))""".stripMargin
    s"""WITH $refEdgesSql,
       |frund AS MATERIALIZED (SELECT src, dst FROM (
       |    SELECT src, dst FROM e UNION SELECT dst, src FROM e)
       |  WHERE src <> dst),
       |${Graph.fastRpCtesSql("frund", 8, 3, scale = 1000000L)},
       |fnorm AS MATERIALIZED (SELECT id, CAST(SUM(emb * emb) AS BIGINT) AS n2
       |  FROM fremb GROUP BY id HAVING SUM(emb * emb) > 0),
       |fq AS (SELECT id AS qid, pos, emb AS qv FROM fremb WHERE id < 20),
       |fdot AS (SELECT q.qid, n.id AS nid,
       |    CAST(SUM(q.qv * n.emb) AS BIGINT) AS dot
       |  FROM fq q JOIN fremb n ON n.pos = q.pos AND n.id <> q.qid$notLinked
       |  GROUP BY q.qid, n.id),
       |fcos AS (SELECT d.qid, d.nid,
       |    CAST(d.dot AS DOUBLE)
       |      / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) AS cos
       |  FROM fdot d JOIN fnorm a ON a.id = d.qid
       |       JOIN fnorm b ON b.id = d.nid),
       |franked AS (SELECT qid, nid, cos,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rnk
       |  FROM fcos)
       |SELECT qid AS query_id, nid AS neighbor_id, CAST(rnk AS INT) AS rnk, cos
       |FROM franked WHERE rnk <= 5
       |ORDER BY query_id, rnk""".stripMargin
  }

  /** Closure-CTE component-size twin shared by `g_components` and
    * `g_components_star` (identical canonical output by construction). */
  private val componentsSizesSql =
    s"""WITH RECURSIVE $refEdgesSql,
       |und AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
       |r(id, comp) AS (
       |  SELECT src AS id, src AS comp FROM und
       |  UNION
       |  SELECT u.dst AS id, r.comp FROM r JOIN und u ON u.src = r.id
       |  WHERE r.comp < u.dst),
       |comps AS (SELECT id, MIN(comp) AS component FROM r GROUP BY id)
       |SELECT component, COUNT(*) AS size FROM comps
       |GROUP BY component ORDER BY size DESC, component""".stripMargin

  /** `(entity, node)` attachment CTEs for the three projections —
    * verbatim twins of [[authorship]] and the inline attachments above. */
  private val authorshipEndsSql =
    """ends AS MATERIALIZED (SELECT DISTINCT o.o_custkey AS entity, l.l_partkey AS node
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)""".stripMargin
  /** [[authorshipEndsSql]] under the [[ArcAttachCap]] hub cap — the
    * deterministic smallest-entity-ids-per-node pick of
    * [[Graph.capAttachment]], verbatim. */
  private val cappedAuthorshipEndsSql =
    s"""ends AS MATERIALIZED (
       |  SELECT entity, node FROM (
       |    SELECT entity, node,
       |           ROW_NUMBER() OVER (PARTITION BY node ORDER BY entity) AS rn
       |    FROM (SELECT DISTINCT o.o_custkey AS entity, l.l_partkey AS node
       |          FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey))
       |  WHERE rn <= $ArcAttachCap)""".stripMargin
  private val publicationEndsSql =
    """ends AS MATERIALIZED (SELECT DISTINCT l_suppkey AS entity, l_partkey AS node
      |  FROM lineitem)""".stripMargin
  private val affiliationEndsSql =
    """ends AS MATERIALIZED (SELECT DISTINCT c.c_nationkey AS entity, l.l_partkey AS node
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |       JOIN customer c ON c.c_custkey = o.o_custkey)""".stripMargin

  /** [[Graph.projectViaClosure]]'s twin over `ends` + the named closure
    * CTE: collapse to (entity, reachable node) before attaching the far
    * side, exactly as the Spark side does. */
  private def projSqlOver(closureCte: String): String =
    s"""mid AS MATERIALIZED (SELECT DISTINCT a.entity AS e_src, c.dst
       |  FROM ends a JOIN $closureCte c ON c.src = a.node),
       |proj AS MATERIALIZED (SELECT DISTINCT m.e_src AS src, b.entity AS dst
       |  FROM mid m JOIN ends b ON b.node = m.dst)""".stripMargin
  private val projSql = projSqlOver("cr10")

  /** [[Graph.kHopReach]]-with-`maxPairs` twin over [[Graph.closureCtesSql]]'s
    * cumulative per-hop closures cr1..cr`k`: `pick` = the largest
    * completed hop whose closure fits the cap (cr1 unconditionally if
    * even hop 2 overflows) — the same monotone cumulative-count rule as
    * `g_khop_capped`'s inline twin, factored for reuse. */
  private def cappedClosurePickSql(k: Int, cap: Long): String = {
    val counts = (2 to k)
      .map(h => s"(SELECT COUNT(*) FROM cr$h) AS c$h").mkString(", ")
    val arms =
      (s"SELECT src, dst FROM cr$k WHERE (SELECT c$k FROM kc) <= $cap" +:
        (k - 1 to 2 by -1).map(h =>
          s"SELECT src, dst FROM cr$h WHERE (SELECT c${h + 1} FROM kc) > $cap" +
            s" AND (SELECT c$h FROM kc) <= $cap") :+
        s"SELECT src, dst FROM cr1 WHERE (SELECT c2 FROM kc) > $cap")
    s"""kc AS MATERIALIZED (SELECT $counts),
       |pick AS MATERIALIZED (
       |${arms.mkString("\n  UNION ALL\n")})""".stripMargin
  }

  /** Assembled oracle for one projected fixed-point PageRank: closure →
    * projection → unrolled PageRank → named scores. `dimSql` must yield
    * columns `(k, name)`. */
  private def projectedPrOracle(endsSql: String, dimSql: String): String =
    s"""WITH $refEdgesSql,
       |${Graph.closureCtesSql("e", 10)},
       |$endsSql,
       |$projSql,
       |${Graph.pageRankCtesSql("proj", 10)}
       |SELECT pr.id, d.name, pr.rank_fp,
       |       CAST(pr.rank_fp AS DOUBLE) / 1000000000000.0 AS rank
       |FROM pr10 pr JOIN ($dimSql) d ON d.k = pr.id
       |ORDER BY pr.rank_fp DESC, pr.id""".stripMargin

  /** [[projectedPrOracle]] over the CAPPED closure — `g_articlerank_capped`'s
    * twin: cr1..cr10 → monotone pick under [[KHopCap]] → projection →
    * unrolled PageRank. */
  private def cappedProjectedPrOracle(endsSql: String, dimSql: String): String =
    s"""WITH $refEdgesSql,
       |${Graph.closureCtesSql("e", 10)},
       |${cappedClosurePickSql(10, KHopCap)},
       |$endsSql,
       |${projSqlOver("pick")},
       |${Graph.pageRankCtesSql("proj", 10)}
       |SELECT pr.id, d.name, pr.rank_fp,
       |       CAST(pr.rank_fp AS DOUBLE) / 1000000000000.0 AS rank
       |FROM pr10 pr JOIN ($dimSql) d ON d.k = pr.id
       |ORDER BY pr.rank_fp DESC, pr.id""".stripMargin

  /** [[projectedPrOracle]] with the GDS `deg + avgdeg` ArticleRank
    * normalization ([[Graph.articleRankCtesSql]]). */
  private def projectedArOracle(endsSql: String, dimSql: String): String =
    s"""WITH $refEdgesSql,
       |${Graph.closureCtesSql("e", 10)},
       |$endsSql,
       |$projSql,
       |${Graph.articleRankCtesSql("proj", 10)}
       |SELECT ar.id, d.name, ar.rank_fp,
       |       CAST(ar.rank_fp AS DOUBLE) / 1000000000000.0 AS rank
       |FROM ar10 ar JOIN ($dimSql) d ON d.k = ar.id
       |ORDER BY ar.rank_fp DESC, ar.id""".stripMargin

  /** LPA CTE prelude shared by `g_lpa_communities` / `g_modularity`. */
  private val lpaPrelude =
    s"""$refEdgesSql,
       |und AS MATERIALIZED (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
       |${Graph.lpaCtesSql("und", 10)}""".stripMargin

  val oracle: Map[String, String] = Map(
    "g_edges_build" ->
      s"""WITH $refEdgesSql,
         |all_edges AS (
         |  SELECT DISTINCT o.o_custkey AS src, l.l_partkey + 1000000 AS dst,
         |         'AUTHORSHIP' AS etype
         |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         |  UNION ALL
         |  SELECT DISTINCT l.l_partkey + 1000000, l.l_suppkey + 2000000,
         |         'PUBLICATION'
         |  FROM lineitem l
         |  UNION ALL
         |  SELECT DISTINCT c_custkey, c_nationkey + 3000000, 'AFFILIATION'
         |  FROM customer
         |  UNION ALL
         |  SELECT src + 1000000, dst + 1000000, 'REFERENCES' FROM e)
         |SELECT etype, COUNT(*) AS n_edges,
         |       CAST(SUM(src) AS BIGINT) AS sum_src,
         |       CAST(SUM(dst) AS BIGINT) AS sum_dst
         |FROM all_edges GROUP BY etype ORDER BY etype""".stripMargin,

    "g_triangles" ->
      s"""WITH $refEdgesSql,
         |${Graph.trianglesSql("e")}
         |SELECT d.id, d.deg, COALESCE(pn.tri, 0) AS tri,
         |       2.0 * COALESCE(pn.tri, 0)
         |         / NULLIF(CAST(d.deg * (d.deg - 1) AS DOUBLE), 0.0) AS coeff
         |FROM dg d LEFT JOIN pn USING (id)
         |ORDER BY id""".stripMargin,

    "g_degree" ->
      s"""WITH $refEdgesSql,
         |outd AS (SELECT src AS id, COUNT(*) AS out_deg FROM e GROUP BY src),
         |ind AS (SELECT dst AS id, COUNT(*) AS in_deg FROM e GROUP BY dst)
         |SELECT COALESCE(o.id, i.id) AS id,
         |       COALESCE(o.out_deg, 0) AS out_deg,
         |       COALESCE(i.in_deg, 0) AS in_deg,
         |       COALESCE(o.out_deg, 0) + COALESCE(i.in_deg, 0) AS degree,
         |       p.p_name AS name
         |FROM outd o FULL OUTER JOIN ind i ON i.id = o.id
         |JOIN part p ON p.p_partkey = COALESCE(o.id, i.id)
         |ORDER BY degree DESC, id""".stripMargin,

    "g_kcore" ->
      s"""WITH $refEdgesSql,
         |kund AS MATERIALIZED (SELECT src, dst FROM (
         |    SELECT src, dst FROM e UNION SELECT dst, src FROM e)
         |  WHERE src <> dst),
         |${Graph.kCoreCtesSql("kund", 12)}
         |SELECT k.id, p.p_name AS name, k.val AS core
         |FROM kc12 k JOIN part p ON p.p_partkey = k.id
         |ORDER BY core DESC, id""".stripMargin,

    "g_hits" ->
      s"""WITH $refEdgesSql,
         |${Graph.hitsCtesSql("e", 10)}
         |SELECT a.id, p.p_name AS name, a.auth_fp, h.hub_fp,
         |       CAST(a.auth_fp AS DOUBLE) / 1000000000000.0 AS auth,
         |       CAST(h.hub_fp AS DOUBLE) / 1000000000000.0 AS hub
         |FROM hta10 a JOIN hth10 h ON h.id = a.id
         |JOIN part p ON p.p_partkey = a.id
         |ORDER BY a.auth_fp DESC, a.id""".stripMargin,

    "g_harmonic" ->
      s"""WITH $refEdgesSql,
         |${Graph.harmonicCtesSql("e", Seq(0L, 1L, 2L, 3L, 4L), 8)}
         |SELECT r.id, p.p_name AS name, r.harmonic_fp,
         |       CAST(r.harmonic_fp AS DOUBLE) / 1000000000.0 AS harmonic
         |FROM hmres r JOIN part p ON p.p_partkey = r.id
         |ORDER BY r.harmonic_fp DESC, r.id""".stripMargin,

    "g_jaccard_parts" ->
      """WITH adj AS (SELECT DISTINCT l_partkey AS src, l_orderkey AS dst FROM lineitem),
        |deg AS (SELECT src, COUNT(*) AS deg FROM adj GROUP BY src),
        |inter AS (SELECT a.src AS id_a, b.src AS id_b, COUNT(*) AS inter
        |          FROM adj a JOIN adj b ON a.dst = b.dst AND a.src < b.src
        |          GROUP BY a.src, b.src)
        |SELECT i.id_a, pa.p_name AS name_a, i.id_b, pb.p_name AS name_b,
        |       i.inter * 1.0 / (da.deg + db.deg - i.inter) AS jaccard
        |FROM inter i JOIN deg da ON da.src = i.id_a
        |             JOIN deg db ON db.src = i.id_b
        |             JOIN part pa ON pa.p_partkey = i.id_a
        |             JOIN part pb ON pb.p_partkey = i.id_b
        |WHERE i.inter * 1.0 / (da.deg + db.deg - i.inter) >= 0.05
        |ORDER BY id_a, id_b""".stripMargin,

    "g_jaccard_capped" ->
      s"""WITH adj AS MATERIALIZED (SELECT DISTINCT l_partkey AS src, l_orderkey AS dst FROM lineitem),
         |deg AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM adj GROUP BY src),
         |kept AS MATERIALIZED (SELECT src, deg FROM deg WHERE deg <= $JaccardDegreeCap),
         |kadj AS MATERIALIZED (SELECT a.src, a.dst FROM adj a JOIN kept k ON k.src = a.src),
         |inter AS (SELECT a.src AS id_a, b.src AS id_b, COUNT(*) AS inter
         |          FROM kadj a JOIN kadj b ON a.dst = b.dst AND a.src < b.src
         |          GROUP BY a.src, b.src)
         |SELECT i.id_a, i.id_b,
         |       i.inter * 1.0 / (da.deg + db.deg - i.inter) AS jaccard
         |FROM inter i JOIN kept da ON da.src = i.id_a
         |             JOIN kept db ON db.src = i.id_b
         |WHERE i.inter * 1.0 / (da.deg + db.deg - i.inter) >= 0.05
         |ORDER BY id_a, id_b""".stripMargin,

    "g_assortativity" ->
      s"""WITH $refEdgesSql,
         |und AS (SELECT DISTINCT LEAST(src, dst) AS lo, GREATEST(src, dst) AS hi
         |        FROM e WHERE src <> dst),
         |deg AS (SELECT id, COUNT(*) AS deg FROM (
         |          SELECT lo AS id FROM und UNION ALL SELECT hi FROM und)
         |        GROUP BY id)
         |SELECT COUNT(*) AS m,
         |       CAST(SUM(dj.deg * dk.deg) AS BIGINT) AS sjk,
         |       CAST(SUM(dj.deg + dk.deg) AS BIGINT) AS sj,
         |       CAST(SUM(dj.deg * dj.deg + dk.deg * dk.deg) AS BIGINT) AS sq,
         |       (4e0 * CAST(COUNT(*) AS DOUBLE) * CAST(SUM(dj.deg * dk.deg) AS DOUBLE)
         |              - CAST(SUM(dj.deg + dk.deg) AS DOUBLE)
         |                * CAST(SUM(dj.deg + dk.deg) AS DOUBLE))
         |       / (2e0 * CAST(COUNT(*) AS DOUBLE) * CAST(SUM(dj.deg * dj.deg + dk.deg * dk.deg) AS DOUBLE)
         |              - CAST(SUM(dj.deg + dk.deg) AS DOUBLE)
         |                * CAST(SUM(dj.deg + dk.deg) AS DOUBLE)) AS r
         |FROM und JOIN deg dj ON dj.id = und.lo
         |         JOIN deg dk ON dk.id = und.hi""".stripMargin,

    "g_overlap_parts" ->
      """WITH adj AS (SELECT DISTINCT l_partkey AS src, l_orderkey AS dst FROM lineitem),
        |deg AS (SELECT src, COUNT(*) AS deg FROM adj GROUP BY src),
        |inter AS (SELECT a.src AS id_a, b.src AS id_b, COUNT(*) AS inter
        |          FROM adj a JOIN adj b ON a.dst = b.dst AND a.src < b.src
        |          GROUP BY a.src, b.src)
        |SELECT i.id_a, i.id_b,
        |       i.inter * 1.0 / LEAST(da.deg, db.deg) AS overlap
        |FROM inter i JOIN deg da ON da.src = i.id_a
        |             JOIN deg db ON db.src = i.id_b
        |WHERE i.inter * 1.0 / LEAST(da.deg, db.deg) >= 0.1
        |ORDER BY id_a, id_b""".stripMargin,

    "g_wjaccard_parts" ->
      """WITH adj AS (SELECT l_partkey AS src, l_orderkey AS dst,
        |                    SUM(CAST(l_quantity AS BIGINT)) AS w
        |             FROM lineitem GROUP BY 1, 2),
        |stat AS (SELECT src, COUNT(*) AS deg, SUM(w) AS tot FROM adj GROUP BY src),
        |im AS (SELECT a.src AS id_a, b.src AS id_b,
        |              SUM(LEAST(a.w, b.w)) AS smin
        |       FROM adj a JOIN adj b ON a.dst = b.dst AND a.src < b.src
        |       GROUP BY a.src, b.src)
        |SELECT i.id_a, i.id_b,
        |       i.smin * 1.0 / (sa.tot + sb.tot - i.smin) AS wjaccard
        |FROM im i JOIN stat sa ON sa.src = i.id_a
        |          JOIN stat sb ON sb.src = i.id_b
        |WHERE i.smin * 1.0 / (sa.tot + sb.tot - i.smin) >= 0.05
        |ORDER BY id_a, id_b""".stripMargin,

    "g_components" -> componentsSizesSql,
    // algorithm-independent canonical output — the star-contraction
    // variant verifies against the SAME closure twin
    "g_components_star" -> componentsSizesSql,

    "g_scc" ->
      s"""WITH RECURSIVE $refEdgesSql,
         |de AS (SELECT src, dst FROM e WHERE src <> dst),
         |sccnodes AS (SELECT src AS id FROM de UNION SELECT dst FROM de),
         |r(a, b) AS (
         |  SELECT src AS a, dst AS b FROM de
         |  UNION
         |  SELECT r.a, d.dst FROM r JOIN de d ON d.src = r.b),
         |mut AS (SELECT r1.a AS id, r1.b AS m FROM r r1
         |        JOIN r r2 ON r2.a = r1.b AND r2.b = r1.a),
         |scc AS (SELECT n.id,
         |               LEAST(n.id, COALESCE(MIN(m.m), n.id)) AS component
         |        FROM sccnodes n LEFT JOIN mut m ON m.id = n.id GROUP BY n.id)
         |SELECT id, component FROM scc ORDER BY id""".stripMargin,

    "g_2hop_reach" ->
      s"""WITH $refEdgesSql,
         |reach AS (SELECT src, dst FROM e
         |          UNION
         |          SELECT e1.src, e2.dst FROM e e1 JOIN e e2 ON e1.dst = e2.src)
         |SELECT src, COUNT(*) AS n_reach FROM reach GROUP BY src
         |ORDER BY src""".stripMargin,

    "g_khop_capped" ->
      s"""WITH $refEdgesSql,
         |kr1 AS MATERIALIZED (SELECT src, dst FROM e),
         |kr2 AS MATERIALIZED (SELECT src, dst FROM kr1
         |        UNION SELECT r.src, e2.dst FROM kr1 r JOIN e e2 ON r.dst = e2.src),
         |kr3 AS MATERIALIZED (SELECT src, dst FROM kr2
         |        UNION SELECT r.src, e2.dst FROM kr2 r JOIN e e2 ON r.dst = e2.src),
         |kr4 AS MATERIALIZED (SELECT src, dst FROM kr3
         |        UNION SELECT r.src, e2.dst FROM kr3 r JOIN e e2 ON r.dst = e2.src),
         |kc AS MATERIALIZED (SELECT (SELECT COUNT(*) FROM kr2) AS c2,
         |                           (SELECT COUNT(*) FROM kr3) AS c3,
         |                           (SELECT COUNT(*) FROM kr4) AS c4),
         |pick AS (
         |  SELECT src, dst FROM kr4 WHERE (SELECT c4 FROM kc) <= $KHopCap
         |  UNION ALL
         |  SELECT src, dst FROM kr3 WHERE (SELECT c4 FROM kc) > $KHopCap
         |                            AND (SELECT c3 FROM kc) <= $KHopCap
         |  UNION ALL
         |  SELECT src, dst FROM kr2 WHERE (SELECT c3 FROM kc) > $KHopCap
         |                            AND (SELECT c2 FROM kc) <= $KHopCap
         |  UNION ALL
         |  SELECT src, dst FROM kr1 WHERE (SELECT c2 FROM kc) > $KHopCap)
         |SELECT src, COUNT(*) AS n_reach FROM pick GROUP BY src
         |ORDER BY src""".stripMargin,

    "g_pattern_scan" ->
      """SELECT n.n_name, COUNT(*) AS n_paths,
        |       COUNT(DISTINCT s.s_suppkey) AS n_venues
        |FROM customer c
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN orders o ON o.o_custkey = c.c_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |GROUP BY n.n_name ORDER BY n.n_name""".stripMargin,

    "g_betweenness_sample" ->
      s"""WITH $refEdgesSql,
         |${Graph.betweennessCtesSql("e", Seq(0L, 1L, 2L, 3L, 4L), 8)}
         |SELECT b.id, p.p_name AS name, b.betweenness_fp,
         |       CAST(b.betweenness_fp AS DOUBLE) / 1000000000.0 AS betweenness
         |FROM bres b JOIN part p ON p.p_partkey = b.id
         |ORDER BY b.betweenness_fp DESC, b.id""".stripMargin,

    "g_pagerank_parts" ->
      s"""WITH $refEdgesSql,
         |${Graph.pageRankCtesSql("e", 15)}
         |SELECT pr.id, p.p_name AS name, pr.rank_fp,
         |       CAST(pr.rank_fp AS DOUBLE) / 1000000000000.0 AS rank
         |FROM pr15 pr JOIN part p ON p.p_partkey = pr.id
         |ORDER BY pr.rank_fp DESC, pr.id""".stripMargin,

    "g_sssp" ->
      s"""WITH $refEdgesSql,
         |${Graph.harmonicCtesSql("e", Seq(0L), 8)}
         |SELECT d.id, p.p_name AS name, d.dist
         |FROM (SELECT id, 0 AS dist FROM hm0
         |      UNION ALL SELECT id, dist FROM hmall) d
         |JOIN part p ON p.p_partkey = d.id
         |ORDER BY d.dist, d.id""".stripMargin,

    "g_bellman_ford" ->
      s"""WITH we AS MATERIALIZED (SELECT src, dst, 10 // (w + 1) + 1 AS cost FROM (
         |      SELECT a.l_partkey AS src, b.l_partkey AS dst, COUNT(*) AS w
         |      FROM lineitem a JOIN lineitem b
         |        ON a.l_orderkey = b.l_orderkey
         |       AND b.l_linenumber = a.l_linenumber + 1
         |      GROUP BY a.l_partkey, b.l_partkey)),
         |${Graph.bellmanFordCtesSql("we", 0L, 8)}
         |SELECT b.id, p.p_name AS name, b.d
         |FROM bf8 b JOIN part p ON p.p_partkey = b.id
         |ORDER BY b.d, b.id""".stripMargin,

    "g_fastrp" ->
      s"""WITH $refEdgesSql,
         |frund AS MATERIALIZED (SELECT src, dst FROM (
         |    SELECT src, dst FROM e UNION SELECT dst, src FROM e)
         |  WHERE src <> dst),
         |${Graph.fastRpCtesSql("frund", 8, 3)}
         |SELECT id, pos, emb FROM fremb
         |ORDER BY id, pos""".stripMargin,

    "g_random_walks" ->
      s"""WITH $refEdgesSql,
         |${Graph.randomWalksCtesSql("e", 20L, 5)}
         |SELECT walk_id, CAST(step AS INT) AS step, node FROM rwall
         |ORDER BY walk_id, step""".stripMargin,

    "g_node2vec_walks" ->
      s"""WITH $refEdgesSql,
         |${Graph.node2vecWalksCtesSql("e", 20L, 5)}
         |SELECT walk_id, CAST(step AS INT) AS step, node FROM nvall
         |ORDER BY walk_id, step""".stripMargin,

    "g_pmi_embed2" ->
      s"""WITH $refEdgesSql,
         |${Graph.randomWalksCtesSql("e", 500L, 5)},
         |${Graph.walkCoocCteSql("rwall", 2)},
         |${Graph.pmiEmbed2CtesSql(5)}
         |SELECT v.id, v.w AS emb1, q.w AS emb2
         |FROM pw5 v JOIN pq5 q ON q.id = v.id ORDER BY v.id""".stripMargin,

    "g_eccentricity" ->
      s"""WITH $refEdgesSql,
         |${Graph.harmonicCtesSql("e", Seq(0L, 1L, 2L, 3L, 4L), 8)}
         |SELECT source, MAX(dist) AS eccentricity,
         |       CAST(COUNT(*) AS BIGINT) AS n_reached
         |FROM (${(0 to 8).map(d => s"SELECT source, id, dist FROM hm$d")
                  .mkString("\n      UNION ALL ")})
         |GROUP BY source ORDER BY source""".stripMargin,

    "g_ktruss" ->
      s"""WITH $refEdgesSql,
         |${Graph.kTrussCtesSql("e", 4)}
         |SELECT a, b FROM kt8 ORDER BY a, b""".stripMargin,

    "g_hard_negatives" -> fastRpNeighborsSql(hardNegatives = true),

    "g_walk_cooc" ->
      s"""WITH $refEdgesSql,
         |${Graph.randomWalksCtesSql("e", 500L, 5)},
         |${Graph.walkCoocCteSql("rwall", 2)}
         |SELECT node_a, node_b, cnt FROM cooc ORDER BY node_a, node_b""".stripMargin,

    "g_pmi_embed" ->
      s"""WITH $refEdgesSql,
         |${Graph.randomWalksCtesSql("e", 500L, 5)},
         |${Graph.walkCoocCteSql("rwall", 2)},
         |${Graph.pmiEmbedCtesSql(5)}
         |SELECT id, w AS emb FROM pw5 ORDER BY id""".stripMargin,

    "g_fastrp_topk" -> fastRpNeighborsSql(hardNegatives = false),

    "g_pagerank_weighted" ->
      s"""WITH we AS MATERIALIZED (SELECT a.l_partkey AS src, b.l_partkey AS dst,
         |      COUNT(*) AS w
         |      FROM lineitem a JOIN lineitem b
         |        ON a.l_orderkey = b.l_orderkey
         |       AND b.l_linenumber = a.l_linenumber + 1
         |      GROUP BY a.l_partkey, b.l_partkey),
         |${Graph.pageRankWeightedCtesSql("we", 10)}
         |SELECT pr.id, p.p_name AS name, pr.rank_fp,
         |       CAST(pr.rank_fp AS DOUBLE) / 1000000000000.0 AS rank
         |FROM wpr10 pr JOIN part p ON p.p_partkey = pr.id
         |ORDER BY pr.rank_fp DESC, pr.id""".stripMargin,

    "g_ppr_sample" ->
      s"""WITH $refEdgesSql,
         |${Graph.personalizedPageRankCtesSql("e", Seq(0L, 1L, 2L, 3L, 4L), 10)}
         |SELECT pr.id, p.p_name AS name, pr.rank_fp,
         |       CAST(pr.rank_fp AS DOUBLE) / 1000000000000.0 AS rank
         |FROM ppr10 pr JOIN part p ON p.p_partkey = pr.id
         |ORDER BY pr.rank_fp DESC, pr.id""".stripMargin,

    "g_lpa_communities" ->
      s"""WITH $lpaPrelude
         |SELECT label AS community, COUNT(*) AS size FROM lp10
         |GROUP BY label ORDER BY size DESC, community""".stripMargin,

    "g_modularity" ->
      s"""WITH $lpaPrelude,
         |${Graph.modularityCtesSql("e", "lp10")}
         |SELECT q_num, q_den, modularity FROM qmod""".stripMargin,

    "g_louvain" ->
      s"""WITH $refEdgesSql,
         |lund AS MATERIALIZED (SELECT src, dst FROM (
         |    SELECT src, dst FROM e UNION SELECT dst, src FROM e)
         |  WHERE src <> dst),
         |${Graph.louvainCtesSql("lund", 6)}
         |SELECT label AS community, COUNT(*) AS size FROM lv6
         |GROUP BY label ORDER BY size DESC, community""".stripMargin,

    "g_louvain2" ->
      s"""WITH $refEdgesSql,
         |lund AS MATERIALIZED (SELECT src, dst FROM (
         |    SELECT src, dst FROM e UNION SELECT dst, src FROM e)
         |  WHERE src <> dst),
         |${Graph.louvain2CtesSql("lund", 6, 6)}
         |SELECT label AS community, COUNT(*) AS size FROM lvf
         |GROUP BY label ORDER BY size DESC, community""".stripMargin,

    "g_pipe_communities" ->
      s"""WITH $refEdgesSql,
         |lund AS MATERIALIZED (SELECT src, dst FROM (
         |    SELECT src, dst FROM e UNION SELECT dst, src FROM e)
         |  WHERE src <> dst),
         |${Graph.louvainCtesSql("lund", 6)},
         |${Graph.pageRankCtesSql("e", 10)},
         |j AS (SELECT v.label, v.id, p.rank_fp
         |      FROM lv6 v JOIN pr10 p ON p.id = v.id),
         |agg AS (SELECT label, COUNT(*) AS size,
         |          CAST(SUM(rank_fp) AS BIGINT) AS mass_fp
         |        FROM j GROUP BY label),
         |top AS (SELECT label, id AS top_id FROM (
         |          SELECT label, id, ROW_NUMBER() OVER (PARTITION BY label
         |            ORDER BY rank_fp DESC, id DESC) AS rn FROM j)
         |        WHERE rn = 1)
         |SELECT a.label AS community, a.size, a.mass_fp, t.top_id
         |FROM agg a JOIN top t USING (label)
         |ORDER BY a.mass_fp DESC, community""".stripMargin,

    "g_articlerank_customers" -> projectedPrOracle(authorshipEndsSql,
      "SELECT c_custkey AS k, c_name AS name FROM customer"),

    "g_articlerank_gdsnorm" -> projectedArOracle(authorshipEndsSql,
      "SELECT c_custkey AS k, c_name AS name FROM customer"),

    "g_articlerank_capped" -> cappedProjectedPrOracle(authorshipEndsSql,
      "SELECT c_custkey AS k, c_name AS name FROM customer"),

    "g_articlerank_tightcap" -> cappedProjectedPrOracle(
      cappedAuthorshipEndsSql,
      "SELECT c_custkey AS k, c_name AS name FROM customer"),

    "g_articlerank_venues" -> projectedPrOracle(publicationEndsSql,
      "SELECT s_suppkey AS k, s_name AS name FROM supplier"),

    "g_pagerank_institutions" -> projectedPrOracle(affiliationEndsSql,
      "SELECT n_nationkey AS k, n_name AS name FROM nation")
  )
}
