package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}

import graft.plans.Pins
import graft.plans.Pins.PinnedOps

/** Graph analytics as iterative DataFrame programs — the reference's
  * Neo4j/GDS surface (`/root/reference/dags/graph_queries.cyp`)
  * re-expressed without a graph engine: a graph is a pair of DataFrames
  * `nodes(id, label, …)` / `edges(src, dst, etype)`, algorithms are loops
  * of joins+aggregations with `localCheckpoint` lineage truncation per
  * iteration.
  *
  * Scale notes: in a DataFrame loop an iteration is not one Spark job.
  * Each round re-runs Catalyst (analysis, optimization, AQE
  * re-planning) on the driver, and AQE runs every query stage and
  * broadcast as a job of its own. The rank, label-propagation and k-core
  * fixed points therefore run as co-partitioned RDD rounds instead
  * ([[BlockRounds]]): the static side (adjacency) and the state are
  * hash(id)-partitioned alike, the joins are local, and a round is one
  * shuffle stage; a two-round cut is one job. At sf0.001 and local[2]
  * `g_pagerank_parts` went from 71 to 17 jobs (BASELINE.md
  * "Co-partitioned RDD rounds"). Every RDD of those loops holds one
  * record per partition (a CSR block, a state array, one pre-combined
  * message block per destination partition), so Spark's per-record
  * machinery (size estimation, combiner maps, per-object serialization)
  * stays out of the rounds (BASELINE.md "Blocked co-partitioned rounds").
  * Nothing collects to the driver except loop counters and convergence
  * checks (single-row aggregates).
  */
object Graph {

  /** One AQE-off session clone per SparkContext for [[hitsFixed]],
    * created lazily and reused across calls (ADVICE r13 — a per-call
    * `newSession()` accumulated session state on a long-lived driver).
    * Confs are re-synced from the calling parent on every use. */
  private val aqeOffClones =
    new java.util.concurrent.ConcurrentHashMap[
      org.apache.spark.SparkContext, SparkSession]

  /** A [[BlockRounds.run]] result as a DataFrame `(id, <value>)`: `id`
    * of the type and nullability the union of `edges`' endpoints has, the
    * value field as `value` makes it from that id type. */
  private def stateFrame(edges: DataFrame, state: RDD[(Array[Long], Array[Long])],
      value: DataType => StructField): DataFrame = {
    val id = edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id"))).schema.head
    val v = value(id.dataType)
    edges.sparkSession.createDataFrame(
        state.flatMap { case (ids, xs) => ids.indices.iterator.map(i => Row(ids(i), xs(i))) },
        StructType(Seq(id.copy(dataType = LongType), v.copy(dataType = LongType))))
      .select(col("id").cast(id.dataType).as("id"),
        col(v.name).cast(v.dataType).as(v.name))
  }

  /** A uniform rank variant's kernel over `n` nodes: every node starts at
    * `scale DIV n` and teleports `15·scale DIV 100·n`. */
  private def uniformKernel(n: Long, scale: Long, extraDeg: Long = 0L): RankKernel =
    new RankKernel(extraDeg, scale / n, (15L * scale) / (100L * n), null)

  /** The fixed-point rank kernel behind [[pageRankFixed]],
    * [[pageRankWeightedFixed]], [[personalizedPageRankFixed]] and
    * [[articleRankFixed]]; [[rankCtesSql]] is its DuckDB twin.
    *
    * Ranks are BIGINTs scaled by `scale`. Each round every source splits
    * its rank over its out-edges by the variant's integer-division
    * contribution, damping 0.85 folded into the numerator (`rank_fp * 85`
    * over `deg * 100`), and each node's new rank is its teleport term
    * plus the BIGINT sum of its inflow. Integer division loses at most
    * deg⁻¹·10⁻¹² of mass per edge — far below any ranking-relevant
    * difference — and in exchange the sum is independent of
    * partition/summation order, unlike a double accumulation; the twin
    * unrolling the same rounds is therefore bit-identical (the sim_kmeans
    * technique). Overflow: `rank_fp * 85 ≤ 8.5e13 << 2^63` at scale 1e12,
    * at any graph size; every product and sum is `Math.*Exact`, so an
    * overflow (a huge weight) throws as Spark's ANSI arithmetic does.
    *
    * `edges` carries `src`, `dst` and, with `weight`, that integer weight
    * column; every edge row counts, a repeated row twice, in `deg` = the
    * source's weight sum and in its contributions. `terms` may ask
    * `sizes()` for (node count, edge-row count): one job over the built
    * adjacency, run only by the variants that need it. Rounds run in
    * [[BlockRounds.run]] with the adjacency keyed by source (every node
    * present, a sink with no targets); [[RankKernel]] holds the
    * arithmetic. */
  private def rankFixed(op: String, edges: DataFrame, weight: Option[String],
      iters: Int, scale: Long)(kernel: (() => (Long, Long)) => RankKernel): DataFrame = {
    val adj = Csr.adjacency(op, edges, weight, undirected = None)
    val k = BlockRounds.labelled(edges.sparkSession.sparkContext, s"$op setup") {
      kernel(() => BlockRounds.sizes(adj))
    }
    val ranks = BlockRounds.run(op, adj, iters, k)
    stateFrame(edges, ranks, _ => StructField("rank_fp", LongType, nullable = false))
      .withColumn("rank", col("rank_fp").cast("double") / lit(scale.toDouble))
  }

  /** DuckDB twin of [[rankFixed]] over an existing CTE `edgesCte`: an
    * unrolled CTE chain, one contribs/ranks pair per round, every CTE
    * named with prefix `p`; final ranks in `$p$iters(id, rank_fp)`. The
    * fragments mirror the kernel's pieces: `degree` aggregates an
    * edge group, `contrib` reads `r.rank_fp`, `d.deg` and `e.*`, `init`
    * reads `id`, `teleport` reads `nd.id`, and any of them may read
    * `${p}n(n)` (the node count) or an `extra` CTE. `//` is DuckDB's
    * integer division — identical to Spark's `DIV` for the non-negative
    * operands used here. `AS MATERIALIZED` pins each round (and the
    * shared deg/node tables, which every round references) to one
    * evaluation — without it DuckDB may inline the chain and re-derive
    * `edgesCte` per round. `CAST(SUM … AS BIGINT)` pins DuckDB's HUGEINT
    * sum widening back to the BIGINT the Spark side produces. */
  private def rankCtesSql(p: String, edgesCte: String, iters: Int,
      degree: String, contrib: String, init: String, teleport: String,
      extra: Seq[String] = Nil): String = {
    val prelude = Seq(
      s"""${p}nodes AS MATERIALIZED (SELECT DISTINCT id FROM (
         |  SELECT src AS id FROM $edgesCte UNION ALL SELECT dst FROM $edgesCte))""".stripMargin,
      s"${p}deg AS MATERIALIZED (SELECT src, $degree AS deg FROM $edgesCte GROUP BY src)",
      s"${p}n AS MATERIALIZED (SELECT COUNT(*) AS n FROM ${p}nodes)") ++ extra :+
      s"${p}0 AS MATERIALIZED (SELECT id, $init AS rank_fp FROM ${p}nodes)"
    val rs = (1 to iters).map { t =>
      s"""${p}c$t AS MATERIALIZED (SELECT e.dst AS id,
         |    CAST(SUM($contrib) AS BIGINT) AS csum
         |  FROM $edgesCte e JOIN ${p}deg d ON d.src = e.src
         |       JOIN $p${t - 1} r ON r.id = e.src
         |  GROUP BY e.dst),
         |$p$t AS MATERIALIZED (SELECT nd.id,
         |    $teleport + COALESCE(c.csum, 0) AS rank_fp
         |  FROM ${p}nodes nd LEFT JOIN ${p}c$t c ON c.id = nd.id)""".stripMargin
    }
    (prelude ++ rs).mkString(",\n")
  }

  private val plainContribSql = "(r.rank_fp * 85) // (d.deg * 100)"

  /** [[rankCtesSql]] with [[uniformKernel]]'s start and teleport. */
  private def uniformCtesSql(p: String, edgesCte: String, iters: Int,
      scale: Long, degree: String, contrib: String,
      extra: Seq[String] = Nil): String =
    rankCtesSql(p, edgesCte, iters, degree, contrib,
      s"(SELECT $scale // n FROM ${p}n)",
      s"(SELECT (15 * $scale) // (100 * n) FROM ${p}n)", extra)

  /** Directed PageRank in the [[rankFixed]] fixed-point contract:
    * simple-uniform teleport, dangling mass dropped (the common
    * simplified formulation; GDS normalizes differently — capability
    * parity, not score-identical, per SURVEY §2.10 G1). Contribution
    * `(rank_fp * 85) DIV (deg * 100)`. Twin: [[pageRankCtesSql]]. */
  def pageRankFixed(edges: DataFrame, iters: Int,
      scale: Long = 1000000000000L): DataFrame =
    rankFixed("Graph.pageRank", edges, None, iters, scale) { sizes =>
      uniformKernel(sizes()._1, scale)
    }

  /** DuckDB twin of [[pageRankFixed]] over `edgesCte(src, dst)`; final
    * ranks in `pr$iters(id, rank_fp)`. */
  def pageRankCtesSql(edgesCte: String, iters: Int,
      scale: Long = 1000000000000L): String =
    uniformCtesSql("pr", edgesCte, iters, scale, "COUNT(*)", plainContribSql)

  /** Weighted PageRank (GDS `relationshipWeightProperty`): each edge
    * carries an integer weight and a source's rank splits ∝ weight —
    * `(rank·85·w) DIV (wdeg·100)` with `wdeg = Σ out-weights`. Overflow
    * bound rank·85·w ≤ 8.5e13·w_max, fine for weights up to ~10^5 at
    * scale 1e12. Twin: [[pageRankWeightedCtesSql]]. */
  def pageRankWeightedFixed(edges: DataFrame, iters: Int,
      scale: Long = 1000000000000L): DataFrame =
    rankFixed("Graph.pageRankWeighted", edges, Some("w"), iters, scale) { sizes =>
      uniformKernel(sizes()._1, scale)
    }

  /** DuckDB twin of [[pageRankWeightedFixed]] over `edgesCte(src, dst,
    * w)`. Final ranks in `wpr$iters(id, rank_fp)`. */
  def pageRankWeightedCtesSql(edgesCte: String, iters: Int,
      scale: Long = 1000000000000L): String =
    uniformCtesSql("wpr", edgesCte, iters, scale, "CAST(SUM(w) AS BIGINT)",
      "(r.rank_fp * 85 * e.w) // (d.deg * 100)")

  /** Personalized PageRank (GDS `sourceNodes`): the random surfer
    * teleports only to the source set, so rank mass measures proximity
    * to those seeds — the recommendation/expansion primitive. Init:
    * `scale DIV |S|` on sources, 0 elsewhere; teleport term
    * `15·scale DIV 100·|S|` added only to sources. Needs no node count.
    * Twin [[personalizedPageRankCtesSql]]. */
  def personalizedPageRankFixed(edges: DataFrame, sources: Seq[Long],
      iters: Int, scale: Long = 1000000000000L): DataFrame = {
    val nS = sources.size.toLong
    rankFixed("Graph.personalizedPageRank", edges, None, iters, scale) { _ =>
      new RankKernel(0L, scale / nS, (15L * scale) / (100L * nS),
        sources.toArray.sorted.distinct)
    }
  }

  /** DuckDB twin of [[personalizedPageRankFixed]]; final ranks in
    * `ppr$iters(id, rank_fp)`. */
  def personalizedPageRankCtesSql(edgesCte: String, sources: Seq[Long],
      iters: Int, scale: Long = 1000000000000L): String = {
    val srcList = sources.mkString(", ")
    val nS = sources.size
    rankCtesSql("ppr", edgesCte, iters, "COUNT(*)", plainContribSql,
      s"CASE WHEN id IN ($srcList) THEN ${scale / nS} ELSE 0 END",
      s"CASE WHEN nd.id IN ($srcList) THEN ${(15L * scale) / (100L * nS)} ELSE 0 END")
  }

  /** G2–G4 depth — GDS-normalized "ArticleRank": each source's
    * contribution divides by `deg + avgDeg` instead of `deg`
    * (ArticleRank's defining change — low-degree sources no longer hand
    * their whole rank to a single target; GDS documents the denominator
    * as outDegree + average outDegree). `avgDeg` is the FLOORED integer
    * `E DIV n`: a floating average would put a double inside the
    * otherwise order-independent BIGINT arithmetic, and multiplying
    * through by n to keep an exact rational (`rank·85·n DIV ((deg·n +
    * E)·100)`) overflows 2^63 once n·scale·85 does (n ≈ 10^8 at corpus
    * scale) — the floor costs < 1 part in deg+1 of normalization accuracy
    * and keeps the same overflow headroom as [[pageRankFixed]]. Scores
    * are NOT meant to equal GDS's (GDS runs IEEE doubles with
    * tolerance-based convergence); the normalization SHAPE is what this
    * implements, oracle-checked via [[articleRankCtesSql]]. */
  def articleRankFixed(edges: DataFrame, iters: Int,
      scale: Long = 1000000000000L): DataFrame =
    rankFixed("Graph.articleRank", edges, None, iters, scale) { sizes =>
      val (n, m) = sizes()
      uniformKernel(n, scale, extraDeg = m / n) // avgDeg floored — see scaladoc
    }

  /** DuckDB twin of [[articleRankFixed]] — [[pageRankCtesSql]] with the
    * `deg + avgDeg` divisor; final ranks in `ar$iters(id, rank_fp)`. */
  def articleRankCtesSql(edgesCte: String, iters: Int,
      scale: Long = 1000000000000L): String =
    uniformCtesSql("ar", edgesCte, iters, scale, "COUNT(*)",
      "(r.rank_fp * 85) // ((d.deg + (SELECT avgdeg FROM aravg)) * 100)",
      Seq(s"aravg AS MATERIALIZED (SELECT (SELECT COUNT(*) FROM $edgesCte) // n AS avgdeg FROM arn)"))

  /** Weighted single-source shortest paths by bounded Bellman–Ford
    * (gds.shortestPath.dijkstra's semantics for non-negative integer
    * costs — min-plus relaxation is the join-friendly formulation;
    * Dijkstra's priority queue is inherently sequential, while each
    * relaxation round here is one shuffle): `dist_t(v) = min(dist_{t-1}
    * (v), min over edges u→v of dist_{t-1}(u) + cost)`. Exact once
    * `rounds` ≥ the hop count of the longest shortest path; MIN over
    * BIGINTs is order-independent, so the unrolled [[bellmanFordCtesSql]]
    * twin is bit-identical. Unreached nodes are absent.
    *
    * `wedges` must carry `(src, dst, cost)` with non-negative integer
    * cost. Scale: the dist table is the only per-round exchange. */
  def bellmanFord(wedges: DataFrame, source: Long, rounds: Int): DataFrame = {
    val spark = wedges.sparkSession
    import spark.implicits._
    val e = wedges.select(col("src"), col("dst"), col("cost")).cache()
    var dist = Seq((source, 0L)).toDF("id", "d").pinned
    for (_ <- 1 to rounds) {
      val relaxed = e.join(dist, e("src") === dist("id"))
        .select(col("dst").as("id"), (col("d") + col("cost")).as("d"))
      dist = dist.union(relaxed)
        .groupBy(col("id")).agg(min(col("d")).as("d"))
        .pinned
    }
    e.unpersist()
    dist
  }

  /** DuckDB twin of [[bellmanFord]] over `wedgesCte(src, dst, cost)`;
    * final distances in `bf$rounds(id, d)`. */
  def bellmanFordCtesSql(wedgesCte: String, source: Long,
      rounds: Int): String = {
    val init = s"bf0 AS MATERIALIZED (SELECT CAST($source AS BIGINT) AS id, CAST(0 AS BIGINT) AS d)"
    val rs = (1 to rounds).map { t =>
      s"""bf$t AS MATERIALIZED (SELECT id, CAST(MIN(d) AS BIGINT) AS d FROM (
         |    SELECT id, d FROM bf${t - 1}
         |    UNION ALL
         |    SELECT e.dst AS id, b.d + e.cost AS d
         |    FROM $wedgesCte e JOIN bf${t - 1} b ON b.id = e.src)
         |  GROUP BY id)""".stripMargin
    }
    (init +: rs).mkString(",\n")
  }

  /** DuckDB twin of [[kHopReach]] over `edgesCte(src, dst)` (must already
    * be distinct): unrolled BFS — frontier `cf$t` = (previous frontier ∘
    * edges) EXCEPT seen, reach `cr$t` = seen ∪ frontier — mirroring the
    * Spark loop's anti-join exactly, so once the closure saturates the
    * remaining rounds join empty frontiers and cost nothing. Final pairs
    * in `cr$k(src, dst)`. A hop-annotated recursive CTE is the obvious
    * alternative but re-derives every pair once per path length (measured
    * 95s vs 7.5s on the sf0.01 REFERENCES graph). */
  def closureCtesSql(edgesCte: String, k: Int): String = {
    val init =
      s"""cf1 AS MATERIALIZED (SELECT src, dst FROM $edgesCte),
         |cr1 AS MATERIALIZED (SELECT src, dst FROM cf1)""".stripMargin
    val rounds = (2 to k).map { t =>
      s"""cf$t AS MATERIALIZED (
         |  SELECT DISTINCT f.src, e.dst FROM cf${t - 1} f
         |    JOIN $edgesCte e ON e.src = f.dst
         |  EXCEPT SELECT src, dst FROM cr${t - 1}),
         |cr$t AS MATERIALIZED (SELECT src, dst FROM cr${t - 1}
         |  UNION ALL SELECT src, dst FROM cf$t)""".stripMargin
    }
    (init +: rounds).mkString(",\n")
  }

  /** G7 — node similarity: Jaccard over out-neighbor sets, self-pairs
    * excluded. Pure joins: Σ_v deg(v)² pair generation through the shared
    * neighbor, exact — the deterministic, oracle-checkable one.
    *
    * `maxDegree`: optional hub cap. Pair generation is Σ_v deg(v)² through
    * shared neighbors, so ONE celebrity source node at 100× data produces
    * deg² candidate pairs; capping excludes sources with deg > maxDegree
    * from pair generation (their true degrees still count in the union
    * denominator of surviving pairs — removal of a hub never changes the
    * similarity of the pairs that remain). Construction is fully lazy —
    * no counting job at call time; callers that want the GDS
    * `degreeCutoff`-style cut report inspect [[jaccardExcludedHubs]]
    * after (or instead of) materializing the result.
    *
    * SCALE DEFAULT: deployments beyond oracle scale should ALWAYS pass a
    * `maxDegree` cap — the uncapped call is the reference formulation
    * kept for parity, and its Σdeg² pair generation is the one quadratic
    * in this family (`g_jaccard_capped` is the mirrored 100× query,
    * `JaccardDegreeCap` in GraphQueries the worked configuration — the
    * same documented-knob pattern as the LSH family's `rowsPerBand` /
    * `dd_simhash_wide_pairs`). */
  def jaccardSimilarity(edges: DataFrame, threshold: Double,
      maxDegree: Option[Long] = None): DataFrame = {
    val (adj, deg) = outAdjacency(edges)
    sharedNeighbors(adj, deg, maxDegree, count(lit(1)), "jaccard", threshold,
      col("inter") * lit(1.0) / (col("da.deg") + col("db.deg") - col("inter")))
  }

  /** Distinct non-null out-adjacency `(src, dst)` and its out-degrees
    * `(src, deg)`: the prep of the unweighted similarity family and of
    * [[jaccardExcludedHubs]]. Null endpoints are dropped up front: a
    * groupBy- or join-based pair generator would otherwise treat NULL as
    * a shared neighbor. */
  private def outAdjacency(edges: DataFrame): (DataFrame, DataFrame) = {
    val adj = edges.select(col("src"), col("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull).distinct()
    (adj, adj.groupBy("src").agg(count(lit(1)).as("deg")))
  }

  /** The shared-neighbor kernel of the node-similarity family: over the
    * adjacency `adj0(src, dst, …)` and its per-source stats
    * `stat0(src, deg, …)`, sources with deg > `maxDegree` leave pair
    * generation (their stats rows with them), `pair` aggregates each
    * source pair's shared-neighbor rows (`a.*`/`b.*`) as `inter`, and
    * `score` — over `inter` and the pair's stats `da.*`/`db.*` — is kept
    * as `name` where it reaches `threshold`. */
  private def sharedNeighbors(adj0: DataFrame, stat0: DataFrame,
      maxDegree: Option[Long], pair: Column, name: String, threshold: Double,
      score: Column): DataFrame = {
    val (adj, stat) = maxDegree match {
      case None => (adj0, stat0)
      case Some(cap) =>
        val kept = stat0.filter(col("deg") <= cap)
        (adj0.join(kept.select(col("src")), Seq("src"), "left_semi"), kept)
    }
    // pair generation stays a streamed self-join: a per-dst
    // collect_list+combination variant materializes a hub's full deg²/2
    // pair array in ONE row — an OOM on celebrity neighbors — where the
    // join emits pairs incrementally with spill.
    adj.as("a")
      .join(adj.as("b"), col("a.dst") === col("b.dst") &&
        col("a.src") < col("b.src"))
      .groupBy(col("a.src").as("id_a"), col("b.src").as("id_b"))
      .agg(pair.as("inter"))
      .join(stat.as("da"), col("da.src") === col("id_a"))
      .join(stat.as("db"), col("db.src") === col("id_b"))
      .select(col("id_a"), col("id_b"), score.as(name))
      .filter(col(name) >= threshold)
  }

  /** Degree assortativity (Newman 2002, "Assortative mixing in
    * networks"): the Pearson correlation of endpoint degrees over the
    * undirected edge set — positive = hubs link hubs, negative =
    * hub-and-spoke. Kept EXACT: with each undirected edge once and
    * j,k the full endpoint degrees,
    *   r = [4·M·Σjk − (Σ(j+k))²] / [2·M·Σ(j²+k²) − (Σ(j+k))²]
    * (Newman's form multiplied through by 4M² so the ACCUMULATED sums
    * are exact integer sums). The final products are formed in DOUBLE:
    * the squared term (Σ(j+k))² overflows BIGINT once Σ(j+k) exceeds
    * ~3.0e9 — reachable well below 100× — so each exact sum is cast to
    * double first and the products use IEEE arithmetic, which is
    * bit-identical in both engines (basic ops are correctly rounded).
    * One groupBy + one join + one global aggregate: a single pass at
    * any scale. */
  def assortativity(edges: DataFrame): DataFrame = {
    val und = edges.select(col("src"), col("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("lo"),
        greatest(col("src"), col("dst")).as("hi"))
      .distinct()
    val deg = und.select(col("lo").as("id"))
      .union(und.select(col("hi").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
    und
      .join(deg.select(col("id").as("lo"), col("deg").as("dj")), Seq("lo"))
      .join(deg.select(col("id").as("hi"), col("deg").as("dk")), Seq("hi"))
      .agg(count(lit(1)).as("m"),
        sum(col("dj") * col("dk")).as("sjk"),
        sum(col("dj") + col("dk")).as("sj"),
        sum(col("dj") * col("dj") + col("dk") * col("dk")).as("sq"))
      .select(col("m"), col("sjk"), col("sj"), col("sq"),
        ((lit(4.0d) * col("m").cast("double") * col("sjk").cast("double") -
            col("sj").cast("double") * col("sj").cast("double")) /
          (lit(2.0d) * col("m").cast("double") * col("sq").cast("double") -
            col("sj").cast("double") * col("sj").cast("double"))).as("r"))
  }

  /** G7 variant — overlap coefficient |N(a)∩N(b)| / min(|N(a)|,|N(b)|)
    * (GDS `nodeSimilarity` with `similarityMetric: OVERLAP`,
    * dags/graph_queries.cyp's nodeSimilarity family). Same streamed
    * pair-generation as [[jaccardSimilarity]] — only the denominator
    * changes — so the identical `maxDegree` hub cap is the 100× knob. */
  def overlapSimilarity(edges: DataFrame, threshold: Double,
      maxDegree: Option[Long] = None): DataFrame = {
    val (adj, deg) = outAdjacency(edges)
    sharedNeighbors(adj, deg, maxDegree, count(lit(1)), "overlap", threshold,
      col("inter") * lit(1.0) / least(col("da.deg"), col("db.deg")))
  }

  /** G7 variant — weighted Jaccard Σₓ min(wₐ(x), w_b(x)) / Σₓ max(wₐ(x),
    * w_b(x)) over relationship weights (GDS `nodeSimilarity` with
    * `relationshipWeightProperty`). Σmax never needs the union
    * materialized: Σmax = Wₐ + W_b − Σmin with W = per-node weight total,
    * so the plan is the exact [[jaccardSimilarity]] shape — a streamed
    * shared-neighbor self-join aggregating min(w) instead of count — and
    * the same `maxDegree` cap (on neighborhood SIZE, not weight) bounds
    * pair generation at 100×. Integer weights in, double ratio out: both
    * engines evaluate the identical `x * 1.0 / y` on exact BIGINTs. */
  def weightedJaccardSimilarity(edges: DataFrame, threshold: Double,
      maxDegree: Option[Long] = None): DataFrame = {
    val adj = edges.select(col("src"), col("dst"), col("w"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w"))
    val stat = adj.groupBy("src")
      .agg(count(lit(1)).as("deg"), sum(col("w")).as("tot"))
    sharedNeighbors(adj, stat, maxDegree, sum(least(col("a.w"), col("b.w"))),
      "wjaccard", threshold,
      col("inter") * lit(1.0) / (col("da.tot") + col("db.tot") - col("inter")))
  }

  /** The hub nodes a `maxDegree`-capped [[jaccardSimilarity]] excludes
    * from pair generation — (src, deg) with deg > cap. Companion to the
    * capped call so the cut is observable without an eager job inside the
    * operator itself. */
  def jaccardExcludedHubs(edges: DataFrame, maxDegree: Long): DataFrame =
    outAdjacency(edges)._2.filter(col("deg") > maxDegree)

  /** G8 — bounded k-hop reachability (the `REFERENCES*1..k` pattern):
    * distinct (src, dst) pairs reachable in 1..k hops.
    *
    * BFS semantics, not path enumeration: the frontier carries only pairs
    * whose SHORTEST distance is the current hop (anti-join against the
    * accumulated reach), and the loop exits as soon as the frontier
    * empties. On dense graphs the closure saturates well before k — a
    * fixed k-1 iterations of full-size joins would re-expand the whole
    * closure each hop and turn `*1..10` into 10× the work of `*1..3`.
    *
    * `maxPairs`: documented scale guard. Closure cardinality approaches
    * |V|² on a dense graph at 100× data (the `REFERENCES*1..10` pattern's
    * own semantics); with a cap set, expansion STOPS (loudly, never
    * silently) before the hop that would exceed it, returning the
    * shortest-distance-first truncation — every pair within the completed
    * hop count. Default None = the reference's exact semantics.
    *
    * One action per hop (VERDICT r10 "What's wrong" #1 — the cap used to
    * cost two extra count() jobs per hop): the frontier is a non-eager
    * `localCheckpoint`, a lineage-free leaf, and `count()` both writes its
    * blocks and reports the cap/empty probe. `reach` is the union of the
    * accepted hops' leaves, never re-pinned: the anti-join scans each
    * hop's pairs from the store they already live in and every pair is
    * written once, in exactly one hop frame, instead of re-copied into a
    * fresh reach pin on every later hop (O(Σ|reach_h|) → O(|reach|)
    * materialized bytes — the difference between k·|V|² and |V|² writes
    * at the saturation scale of BASELINE.md "Round-10 closure-family
    * measurement"). The leaves keep
    * each hop's plan a constant-size step over the previous hops; a hop
    * frame that carries its derivation (a cached frame does) makes the
    * frontier plan grow ×2.6 per hop — 3,393 nodes at hop 8, and a
    * 12-node chain at k = 10 runs the JVM out of heap. An accepted
    * leaf carries its counted size (`Pins.withRowCount`), so a small hop
    * is broadcast into the next hop's join, not shuffled with the edges. */
  def kHopReach(edges: DataFrame, k: Int,
      maxPairs: Option[Long] = None): DataFrame = {
    val base = edges.select(col("src"), col("dst")).distinct()
      .pinned
    var reach = base
    var frontier = base
    // accepted hop frames — freed after the final pin below (ADVICE r11:
    // a returned plan that READS the hop frames can never release them,
    // so a long shared session kept k hop frames in executor storage)
    val hops = scala.collection.mutable.ListBuffer.empty[DataFrame]
    var total = if (maxPairs.isDefined) base.count() else 0L
    var hop = 2
    var done = k < 2
    while (!done) {
      // column-renamed join (not string aliases): self-join attribute
      // resolution is fragile across localCheckpoint'd plans
      val f = frontier.select(col("src").as("f_src"), col("dst").as("f_dst"))
      val next = f.join(base, col("f_dst") === col("src"))
        .select(col("f_src").as("src"), col("dst"))
        .distinct()
        .join(reach.select(col("src").as("r_src"), col("dst").as("r_dst")),
          col("src") === col("r_src") && col("dst") === col("r_dst"),
          "left_anti")
      // a lineage-free leaf whose blocks the count below writes
      val pin = next.localCheckpoint(false)
      val fCount = pin.count() // materializes the pin — the hop's ONE action
      if (fCount == 0L) { Pins.release(pin); done = true }
      else if (maxPairs.exists(cap => total + fCount > cap)) {
        System.err.println(s"[graft] kHopReach: stopping at hop ${hop - 1} — " +
          s"hop $hop would reach ${total + fCount} pairs > cap ${maxPairs.get}")
        Pins.release(pin) // rejected hop — not part of the result
        done = true
      } else {
        // frontier is disjoint from reach by construction — plain union
        hops += pin
        frontier = Pins.withRowCount(pin, fCount)
        reach = reach.union(frontier)
        total += fCount
        hop += 1
        if (hop > k) done = true
      }
    }
    // One final pin of the full reach set (still O(|reach|) materialized
    // bytes total — the loop wrote each pair once, this writes it once
    // more), then release the per-hop pins so the operator leaves no
    // executor storage behind in a shared session.
    if (hops.isEmpty) reach
    else {
      val out = reach.pinned
      hops.foreach(Pins.release)
      out
    }
  }



  /** G5 — community detection via connected components (min-label
    * propagation to fixpoint over the undirected graph). Min is
    * order-independent → fully deterministic. */
  def connectedComponents(edges: DataFrame, maxIters: Int = 30): DataFrame = {
    // pin the edge plan before the two-sided union (rationale: undirect)
    val e = edges.pinned
    val und = e.select(col("src"), col("dst"))
      .union(e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().cache()
    val nodes = und.select(col("src").as("id")).distinct()
    // Self-loops fold the node's OWN label into the neighborhood min, so
    // one join+groupBy per round replaces join + left-join-back — the
    // label frame is referenced exactly ONCE per round, which is what
    // legalizes the two-round unroll below (two-consumer frames must
    // stay pinned — the r8 fifth-wave regression).
    val undSelf = und
      .union(nodes.select(col("id").as("src"), col("id").as("dst")))
      .select(col("src"), col("dst").as("id")).cache()
    val labels = minLabelFixpoint(undSelf, "src",
      nodes.withColumn("component", col("id")).pinned, "component", maxIters)
    und.unpersist()
    undSelf.unpersist()
    labels
  }

  /** Min-label propagation to its fixpoint, shared by
    * [[connectedComponents]] and [[stronglyConnectedComponents]]: each
    * round every node of `adj(id, to)` — self-loops included, so a
    * node's own label is in its neighborhood min — hands `labels(id,
    * label)` on to `to`, which keeps the minimum.
    *
    * Convergence probe (VERDICT r9 #2): labels only ever decrease, so
    * the frame changed iff Σlabel strictly dropped — one scan of the
    * just-pinned checkpoint instead of the old self-join + count job.
    * decimal(38,0) so a 100 TB id space can't overflow the sum. */
  private def minLabelFixpoint(adj: DataFrame, to: String,
      labels0: DataFrame, label: String, maxIters: Int): DataFrame = {
    def labSum(l: DataFrame): java.math.BigDecimal = l
      .agg(sum(col(label).cast("decimal(38,0)")).as("s"))
      .head.getDecimal(0)
    def prop(l: DataFrame): DataFrame = adj
      .join(l, Seq("id"))
      .groupBy(col(to)).agg(min(col(label)).as(label))
      .select(col(to).as("id"), col(label))
    var labels = labels0
    var lsum = labSum(labels)
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      // two propagation rounds per pin+probe (as in `BlockRounds`): the mid frame
      // is lazy and single-consumer, so the unroll halves the job count
      // without double-evaluating anything. Propagation is monotone and
      // idempotent at the fixpoint, so probing only even rounds at worst
      // re-runs one no-op round.
      val next = prop(prop(labels)).pinned
      val s = labSum(next)
      labels = next
      converged = s.compareTo(lsum) == 0
      lsum = s
      i += 2
    }
    labels
  }

  /** G5 at 100 TB — connected components by alternating large-star /
    * small-star (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC 2014): each round every node hooks its neighbors onto
    * its neighborhood minimum —
    *  - large-star: for every node u, each neighbor v > u re-attaches to
    *    m(u) = min(N(u) ∪ {u});
    *  - small-star (per the LARGER endpoint u of each edge): u and all
    *    its smaller neighbors attach to their minimum.
    * Both preserve connectivity, and the edge set contracts toward a
    * star forest whose centers are the component minima — in O(log n)
    * rounds on real graphs, vs the O(diameter) rounds of
    * [[connectedComponents]]' min-label propagation. On a 100 TB graph
    * with long chains that difference is the job count, which is exactly
    * the cost that dominates the bounded-iteration family (BASELINE.md
    * fifth wave) — so this is the scale deployment's CC, while the
    * min-label twin stays as the reference-parity formulation. Output is
    * identical (canonical min-member-id labels), which is what lets
    * `g_components_star` verify against the same closure oracle as
    * `g_components`. */
  def connectedComponentsStar(edges: DataFrame, maxRounds: Int = 30): DataFrame = {
    val base = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).pinned
    val nodes = base.select(col("src").as("id"))
      .union(base.select(col("dst").as("id"))).distinct().pinned
    var e = base
      .select(least(col("src"), col("dst")).as("lo"),
        greatest(col("src"), col("dst")).as("hi"))
      .distinct().pinned
    var eCnt = e.count()
    var converged = false
    var round = 0
    while (!converged && round < maxRounds && eCnt > 0) {
      // large-star over both directions
      val adj = e.select(col("lo").as("u"), col("hi").as("v"))
        .union(e.select(col("hi").as("u"), col("lo").as("v")))
      val mL = adj.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      val large = adj.filter(col("v") > col("u"))
        .join(mL, "u")
        .filter(col("v") =!= col("m"))
        // m = min(N⁺(u)) ≤ u < v, so (m, v) is already (lo, hi)
        .select(col("m").as("lo"), col("v").as("hi"))
        .distinct().pinned
      // small-star keyed by the larger endpoint
      val adjS = large.select(col("hi").as("u"), col("lo").as("v"))
      val mS = adjS.groupBy(col("u")).agg(min(col("v")).as("m"))
      val next = adjS.join(mS, "u")
        .select(col("v").as("x"), col("m").as("y"))
        .union(mS.select(col("u").as("x"), col("m").as("y")))
        .filter(col("x") =!= col("y"))
        // y is a per-u minimum over values < u ≤ x, so (y, x) = (lo, hi)
        .select(col("y").as("lo"), col("x").as("hi"))
        .distinct().pinned
      val nextCnt = next.count()
      converged = nextCnt == eCnt &&
        next.join(e, Seq("lo", "hi"), "left_anti").isEmpty
      e = next
      eCnt = nextCnt
      round += 1
    }
    // converged edge set is a star forest: (component-min, member)
    nodes
      .join(e.select(col("hi").as("id"), col("lo").as("parent")),
        Seq("id"), "left")
      .select(col("id"),
        coalesce(col("parent"), col("id")).as("component"))
  }

  /** G5 directed — strongly connected components (the reference README's
    * literal stated intent: "detecting communities by finding strongly
    * connected components in … authors citing each other",
    * reference README.md:74-78 — weak-CC merges nodes connected in EITHER
    * direction; SCC requires a directed cycle both ways).
    *
    * Parallel forward–backward refinement (the Fleischer et al. 2000
    * divide-and-conquer run simultaneously in every block, with the min
    * node id as every block's pivot — Orzan-style coloring): each round
    * (a) keeps only intra-block edges, (b) propagates the min id forward
    * (`flabel(v)` = min id reaching v within its block) and backward
    * (`blabel(v)` = min id v reaches within its block) to fixpoint, and
    * (c) splits every block by the (flabel, blabel) pair. The subset with
    * flabel = blabel = c is exactly SCC(c) — flabel(v)=c means c→v,
    * blabel(v)=c means v→c — and SCCs are never split because mutual
    * reachability forces equal label pairs. Progress per round is
    * guaranteed: each block's min id c always forms the nonempty (c,c)
    * group, so an unconverged block strictly refines. Converged when
    * flabel = blabel everywhere; the final label is the MIN MEMBER ID of
    * the SCC — a canonical, algorithm-independent labeling, which is what
    * lets the DuckDB twin verify it from the mutual-reachability closure
    * instead of replaying the refinement.
    *
    * Scale: every step is an id-keyed join/groupBy — no reachability
    * closure is ever materialized on the Spark side (the O(n²) closure
    * exists only in the sf0.01 oracle). Outer rounds = FW-BW recursion
    * depth (log-ish on real graphs; a pure chain converges in ONE round
    * because blabel separates every node); inner rounds = block diameter. */
  def stronglyConnectedComponents(edges: DataFrame, maxRounds: Int = 30,
      maxIters: Int = 50): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct().cache()
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
    var assign = nodes.withColumn("block", lit(0L)).pinned
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      val bsrc = assign.select(col("id").as("src"), col("block").as("b_src"))
      val bdst = assign.select(col("id").as("dst"), col("block").as("b_dst"))
      val eb = e.join(bsrc, "src").join(bdst, "dst")
        .filter(col("b_src") === col("b_dst"))
        .select(col("src"), col("dst")).pinned
      // min-label propagation to fixpoint along `adj` (intra-block edges
      // only, so labels never cross a block boundary) through
      // `minLabelFixpoint` (VERDICT r9 #2): self-loops fold the
      // own-label identity into one join+groupBy per round (label frame
      // referenced ONCE → the two-round unroll is legal), and the
      // convergence probe is a monotone Σlab comparison on the pinned
      // checkpoint instead of a self-join + count job per inner
      // iteration — inside outer-round × inner-iteration nesting where
      // the probe used to double the job count of the latency-bound loop.
      def minProp(adj: DataFrame): DataFrame = {
        val adjSelf = adj
          .union(assign.select(col("id").as("src"), col("id").as("dst")))
          .select(col("src").as("id"), col("dst")).cache()
        val labels = minLabelFixpoint(adjSelf, "dst",
          assign.select(col("id"), col("id").as("lab")).pinned, "lab", maxIters)
        adjSelf.unpersist()
        labels
      }
      // r17 (guide §2.6): the forward and backward min-label fixpoints
      // are independent of each other (both read only `eb` and `assign`)
      // — overlapped, each round costs ~max(f, b) instead of f + b, and
      // the many tiny inner-iteration jobs of one sweep back-fill the
      // other's scheduling gaps.
      val (f0, b0) = graft.plans.Par.both(
        minProp(eb),
        minProp(eb.select(col("dst").as("src"), col("src").as("dst"))))
      val f = f0.select(col("id"), col("lab").as("flabel"))
      val b = b0.select(col("id").as("b_id"), col("lab").as("blabel"))
      val joined = assign.join(f, "id").join(b, col("id") === col("b_id"))
        .select(col("id"), col("block"), col("flabel"), col("blabel"))
        .pinned
      val pending = joined.filter(col("flabel") =!= col("blabel")).count()
      // new block id = min member id of each (block, flabel, blabel) group
      val newBlocks = joined
        .groupBy(col("block"), col("flabel"), col("blabel"))
        .agg(min(col("id")).as("nb"))
      assign = joined.join(newBlocks, Seq("block", "flabel", "blabel"))
        .select(col("id"), col("nb").as("block")).pinned
      converged = pending == 0
      round += 1
    }
    e.unpersist()
    assign.select(col("id"), col("block").as("component"))
  }

  /** The level loop of the batched multi-source BFS family
    * ([[bfsDistances]], [[betweennessFixed]]'s forward pass): ALL sources
    * advance as ONE frontier keyed by (source, id), so a level is one
    * pin, not one per source × level. From the pinned level-0 frame
    * `lvl0(source, id, dist, …)`, `expand(frontier, seen, dist)` builds
    * the level at `dist` — the caller's own join, dedup and anti-join
    * against `seen` — which is pinned; the loop stops on an empty level
    * or after `maxDepth` levels. Returns the seen set and the level
    * frames, indexed by dist.
    *
    * The seen set is re-pinned per level: a lazy union-of-pins (the
    * kHopReach hop-frame pattern) CONCATENATES partitions, so every later
    * anti-join scans k × 32 partitions of tiny frames, and the extra task
    * waves cost more than the re-pin saves (measured r17: betweenness
    * 9.2 → 10.4 s with the lazy union, BASELINE.md). kHopReach keeps the
    * pattern because its frames are large enough to amortize. */
  private def bfsLevels(lvl0: DataFrame, maxDepth: Int)(
      expand: (DataFrame, DataFrame, Int) => DataFrame)
      : (DataFrame, IndexedSeq[DataFrame]) = {
    val levels = scala.collection.mutable.ArrayBuffer(lvl0)
    var seen = lvl0
    var done = false
    while (!done && levels.size <= maxDepth) {
      val nxt = expand(levels.last, seen, levels.size).pinned
      if (nxt.isEmpty) done = true
      else {
        levels += nxt
        seen = seen.union(nxt).pinned
      }
    }
    (seen, levels.toIndexedSeq)
  }

  /** G6 — Brandes betweenness centrality from a sampled source set
    * (unweighted), in order-independent BIGINT fixed point — the
    * oracle-checkable formulation (same technique as [[pageRankFixed]]).
    * The forward BFS ([[bfsLevels]]) and the backward dependency sweep
    * each run one pin per graph *level* for all sources at once: a
    * per-source driver loop would serialize |sources| independent BFSs
    * that are trivially batchable. Exact when `sources` = all nodes;
    * sampling bounds work at scale.
    *
    * Forward pass: σ path counts are exact BIGINTs. Backward pass: the
    * dependency δ is accumulated as `delta_fp` scaled by `scale`, each
    * per-edge term the truncating division
    * `(σ_v * (scale + δ_w)) DIV σ_w` — deterministic and summable in any
    * order. Truncation error ≤ levels/scale per path, irrelevant at 1e-9.
    * Overflow bound: σ_max · (scale + δ_max) < 2^63; with scale=1e9 and
    * δ_max ≤ |V|·scale that holds while σ_max·|V| < 9.2e9 — measured
    * σ_max=72 on the sf0.01 REFERENCES graph, with ~10⁹ headroom.
    *
    * `maxDepth` bounds the BFS (and is the twin's unroll depth — extra
    * levels past saturation are no-ops on both sides). */
  def betweennessFixed(edges: DataFrame, sources: Seq[Long], maxDepth: Int,
      scale: Long = 1000000000L): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val adj = edges.select(col("src"), col("dst")).distinct().cache()

    // forward: dist + sigma per (source, id) — column-renamed joins
    // throughout; string aliases don't survive localCheckpoint'd self-joins
    val lvl0 = sources.map(s => (s, s, 0, 1L))
      .toDF("source", "id", "dist", "sigma").pinned
    val (reached, levelFrames) = bfsLevels(lvl0, maxDepth) { (frontier, seen, d) =>
      frontier.select(col("source").as("f_source"), col("id").as("f_id"),
          col("sigma").as("f_sigma"))
        .join(adj, col("f_id") === col("src"))
        .select(col("f_source").as("source"), col("dst").as("id"),
          col("f_sigma").as("sigma"))
        .join(seen.select(col("source").as("s_seen"), col("id").as("seen")),
          col("source") === col("s_seen") && col("id") === col("seen"),
          "left_anti")
        .groupBy("source", "id").agg(sum("sigma").as("sigma"))
        .withColumn("dist", lit(d))
        .select("source", "id", "dist", "sigma")
    }
    var delta = reached.select(col("source"), col("id"), lit(0L).as("delta"))
      .pinned
    // r17: sweep from the SATURATED depth — rounds l > the deepest level
    // see an empty level, add 0 to every delta, and still cost a
    // full join+pin each (3 no-op rounds ≈ 1 s at sf0.1 with maxDepth=8
    // saturating at 5). The twin unrolls from maxDepth, where the same
    // rounds are empty no-op CTEs; the delta values are identical either
    // way. Sources whose BFS ended shallower simply contribute no rows at
    // deeper levels.
    for (l <- levelFrames.size - 1 to 1 by -1) {
      val w = levelFrames(l)
        .select(col("source").as("w_source"), col("id").as("w_id"),
          col("sigma").as("w_sigma"))
        .join(delta.select(col("source").as("d_source"), col("id").as("d_id"),
            col("delta").as("w_delta")),
          col("w_source") === col("d_source") && col("w_id") === col("d_id"))
        .select(col("w_source"), col("w_id"), col("w_sigma"), col("w_delta"))
      val prev = levelFrames(l - 1)
        .select(col("source").as("v_source"), col("id").as("v_id"),
          col("sigma").as("v_sigma"))
      val msgs = adj.join(w, col("dst") === col("w_id"))
        .join(prev, col("src") === col("v_id") &&
          col("v_source") === col("w_source"))
        .select(col("v_source").as("source"), col("v_id").as("id"),
          expr(s"(v_sigma * ($scale + w_delta)) DIV w_sigma").as("m"))
        .groupBy("source", "id").agg(sum("m").as("madd"))
      delta = delta
        .join(msgs.select(col("source").as("m_source"), col("id").as("m_id"),
            col("madd")),
          col("source") === col("m_source") && col("id") === col("m_id"),
          "left")
        .select(col("source"), col("id"),
          (col("delta") + coalesce(col("madd"), lit(0L))).as("delta"))
        .pinned
    }
    adj.unpersist()
    delta.filter(col("id") =!= col("source"))
      .groupBy("id").agg(sum("delta").as("betweenness_fp"))
      .withColumn("betweenness",
        col("betweenness_fp").cast("double") / lit(scale.toDouble))
  }

  /** DuckDB twin of [[betweennessFixed]] over `edgesCte(src, dst)` (must
    * be the distinct edge set): unrolled forward BFS levels `bl0..blK`,
    * then the backward dependency sweep `bd$maxDepth → bd0`. Final CTE
    * `bres(id, betweenness_fp)`. Levels past saturation are empty and
    * no-op, mirroring the Spark loop's early exit. */
  def betweennessCtesSql(edgesCte: String, sources: Seq[Long], maxDepth: Int,
      scale: Long = 1000000000L): String = {
    val srcRows = sources.map(s => s"($s)").mkString(", ")
    val fwd = Seq(
      s"""bl0 AS MATERIALIZED (SELECT s AS source, s AS id,
         |  CAST(1 AS BIGINT) AS sigma FROM (VALUES $srcRows) t(s)),
         |bseen0 AS MATERIALIZED (SELECT source, id FROM bl0)""".stripMargin) ++
      (1 to maxDepth).map { d =>
        s"""bl$d AS MATERIALIZED (
           |  SELECT f.source, e.dst AS id, CAST(SUM(f.sigma) AS BIGINT) AS sigma
           |  FROM bl${d - 1} f JOIN $edgesCte e ON e.src = f.id
           |  WHERE NOT EXISTS (SELECT 1 FROM bseen${d - 1} s
           |                    WHERE s.source = f.source AND s.id = e.dst)
           |  GROUP BY f.source, e.dst),
           |bseen$d AS MATERIALIZED (SELECT source, id FROM bseen${d - 1}
           |  UNION ALL SELECT source, id FROM bl$d)""".stripMargin
      }
    val ball =
      "ball AS MATERIALIZED (" +
        (0 to maxDepth).map(d =>
          s"SELECT source, id, $d AS dist, sigma FROM bl$d")
          .mkString(" UNION ALL ") + ")"
    val bwdInit =
      s"bd$maxDepth AS MATERIALIZED (SELECT source, id, CAST(0 AS BIGINT) AS delta FROM ball)"
    val bwd = (maxDepth to 1 by -1).map { l =>
      s"""bmsg$l AS MATERIALIZED (
         |  SELECT v.source, v.id,
         |         CAST(SUM((v.sigma * ($scale + w.delta)) // w.sigma) AS BIGINT) AS madd
         |  FROM $edgesCte e
         |  JOIN (SELECT b.source, b.id, b.sigma, d.delta
         |        FROM ball b JOIN bd$l d ON d.source = b.source AND d.id = b.id
         |        WHERE b.dist = $l) w ON e.dst = w.id
         |  JOIN (SELECT source, id, sigma FROM ball WHERE dist = ${l - 1}) v
         |    ON e.src = v.id AND v.source = w.source
         |  GROUP BY v.source, v.id),
         |bd${l - 1} AS MATERIALIZED (
         |  SELECT d.source, d.id, d.delta + COALESCE(m.madd, 0) AS delta
         |  FROM bd$l d LEFT JOIN bmsg$l m
         |    ON m.source = d.source AND m.id = d.id)""".stripMargin
    }
    val res =
      """bres AS (SELECT id, CAST(SUM(delta) AS BIGINT) AS betweenness_fp
        |  FROM bd0 WHERE id <> source GROUP BY id)""".stripMargin
    (fwd ++ Seq(ball, bwdInit) ++ bwd ++ Seq(res)).mkString(",\n")
  }

  /** G5 — community detection via synchronous label propagation:
    * each node adopts the most frequent label among its neighbors plus
    * its own (the self-vote damps bipartite oscillation), ties broken by
    * MIN label — fully deterministic at a fixed iteration count, which is
    * what makes the result reproducible (LPA has no unique fixpoint).
    * Complements [[connectedComponents]]: CC merges every weakly-connected
    * node into one community; LPA recovers internal community structure.
    * Each iteration is one shuffle keyed by node id.
    *
    * The vote edges are the distinct undirected edges (an input self-loop
    * casts its one edge-vote) plus one own-label vote per node, the
    * multiset of [[lpaCtesSql]]. Rounds run in [[BlockRounds.run]]: a
    * node sends its label along its vote edges, the (node, label) counts
    * combine map-side, and the new label is the most-voted one, ties to
    * the smaller label ([[LpaKernel]]) — the twin's `votes DESC, label
    * ASC` ROW_NUMBER. */
  def labelPropagation(edges: DataFrame, iters: Int = 10): DataFrame = {
    // each node votes to its distinct neighbors (an input self-loop
    // included) and to itself once more: the vote multiset of the twin
    val adj = Csr.adjacency("Graph.labelPropagation", edges, None,
      undirected = Some(true), selfVote = true)
    val labels = BlockRounds.run("Graph.labelPropagation", adj, iters, LpaKernel)
    stateFrame(edges, labels, StructField("label", _, nullable = true))
  }

  /** Newman modularity of a community labelling (closes the gap between
    * the repo's CC/LPA communities and the reference's `gds.louvain`,
    * which *optimizes* this quantity — graph_queries.cyp:19-30; here it
    * *scores* a given labelling, so the result is deterministic and
    * oracle-checkable).
    *
    * Q = Σ_c (e_c/m − (d_c/2m)²) over the simple undirected graph
    * (self-loops dropped). Computed as the exact rational
    * q_num / q_den with q_num = 2m·w − Σ_c d_c² and q_den = 4m², where
    * w = directed-pair count inside communities (= 2·Σe_c) — all BIGINT,
    * so both engines agree bit-for-bit; the reported double is ONE IEEE
    * division of exact operands. Exact while 2m < 3e9 (q_den < 2^63);
    * beyond that, switch the two final scalars to DECIMAL(38,0).
    *
    * SINGLE pass over the undirected edge set: one label-join tree feeds a
    * per-source aggregate from which m (= Σdeg/2), w and Σd_c² all roll up
    * — no cache to manage, nothing computed three times (the round-4
    * formulation cross-joined three aggregates over a cached `und` that
    * was unpersisted before it ever materialized). Unlabeled endpoints
    * (left joins) count toward m/deg but never toward w or Σd_c² —
    * matching [[modularityCtesSql]], whose m scans all of qund while qw/qdc
    * inner-join the labels. */
  def modularity(edges: DataFrame, labels: DataFrame): DataFrame = {
    val und = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().filter(col("src") =!= col("dst"))
    val lab = labels.select(col("id"), col("label"))
    val lsrc = lab.select(col("id").as("src"), col("label").as("lsrc"))
    val ldst = lab.select(col("id").as("dst"), col("label").as("ldst"))
    val perSrc = und.join(lsrc, Seq("src"), "left").join(ldst, Seq("dst"), "left")
      .groupBy(col("src"), col("lsrc"))
      .agg(count(lit(1)).as("deg"),
        // directed pairs whose endpoints share a community (2·e_c summed);
        // NULL === NULL is NULL → otherwise(0), so unlabeled never match
        sum(when(col("lsrc") === col("ldst"), 1L).otherwise(0L)).as("w_src"))
    val perLabel = perSrc.groupBy(col("lsrc"))
      .agg(sum(col("deg")).as("dc"), sum(col("w_src")).as("wl"))
    perLabel
      .agg(
        (coalesce(sum(col("dc")), lit(0L)) / 2L).cast("long").as("m"),
        coalesce(sum(col("wl")), lit(0L)).as("w"),
        coalesce(sum(when(col("lsrc").isNotNull, col("dc") * col("dc"))),
          lit(0L)).as("sdc2"))
      .select(
        (lit(2L) * col("m") * col("w") - col("sdc2")).as("q_num"),
        (lit(4L) * col("m") * col("m")).as("q_den"))
      .withColumn("modularity",
        col("q_num").cast("double") / col("q_den").cast("double"))
  }

  /** DuckDB twin of [[modularity]] over CTEs `edgesCte(src,dst)` and
    * `labelsCte(id,label)`; emits one CTE `qmod(q_num,q_den,modularity)`. */
  def modularityCtesSql(edgesCte: String, labelsCte: String): String =
    s"""qund AS MATERIALIZED (SELECT src, dst FROM (
       |    SELECT src, dst FROM $edgesCte UNION SELECT dst, src FROM $edgesCte)
       |  WHERE src <> dst),
       |qm AS (SELECT COUNT(*) // 2 AS m FROM qund),
       |qw AS (SELECT COUNT(*) AS w FROM qund u
       |  JOIN $labelsCte la ON la.id = u.src
       |  JOIN $labelsCte lb ON lb.id = u.dst
       |  WHERE la.label = lb.label),
       |qdc AS (SELECT la.label, CAST(SUM(d.deg) AS BIGINT) AS dc FROM
       |    (SELECT src, COUNT(*) AS deg FROM qund GROUP BY src) d
       |  JOIN $labelsCte la ON la.id = d.src GROUP BY la.label),
       |qsd AS (SELECT CAST(SUM(dc * dc) AS BIGINT) AS sdc2 FROM qdc),
       |qmod AS (SELECT 2 * m * w - sdc2 AS q_num, 4 * m * m AS q_den,
       |    CAST(2 * m * w - sdc2 AS DOUBLE) / CAST(4 * m * m AS DOUBLE) AS modularity
       |  FROM qm, qw, qsd)""".stripMargin

  /** DuckDB twin of [[labelPropagation]] over a CTE `undCte(src,dst)`
    * that must already be the distinct both-directions edge set; unrolled
    * vote/argmax pair per iteration, final labels in `lp$iters(id,label)`.
    * Votes are neighbor labels (one per directed edge) plus the node's own
    * label — UNION ALL, matching the Spark side's `union`. */
  def lpaCtesSql(undCte: String, iters: Int): String = {
    val init =
      s"lp0 AS MATERIALIZED (SELECT DISTINCT src AS id, src AS label FROM $undCte)"
    val rounds = (1 to iters).map { t =>
      s"""lpv$t AS MATERIALIZED (SELECT x.src, x.label, COUNT(*) AS votes FROM (
         |    SELECT u.src, l.label FROM $undCte u JOIN lp${t - 1} l ON l.id = u.dst
         |    UNION ALL SELECT id AS src, label FROM lp${t - 1}) x
         |  GROUP BY x.src, x.label),
         |lp$t AS MATERIALIZED (SELECT src AS id, label FROM (
         |    SELECT src, label, ROW_NUMBER() OVER (
         |      PARTITION BY src ORDER BY votes DESC, label) AS rn FROM lpv$t)
         |  WHERE rn = 1)""".stripMargin
    }
    (init +: rounds).mkString(",\n")
  }

  /** G5 — deterministic one-level Louvain: synchronous rounds of greedy
    * modularity-ASCENT moves (the quantity `gds.louvain` optimizes,
    * graph_queries.cyp:19-30 — [[modularity]] only *scores* a labelling;
    * this one *improves* it).
    *
    * Each round, every node v evaluates joining each neighboring
    * community C (or staying). The gain comparison is the exact BIGINT
    * score `2m·k_{v,C} − deg(v)·Σ_tot(C∖{v})` (ΔQ·4m², constant terms
    * dropped — order-independent, so a DuckDB twin unrolling the same
    * rounds is bit-identical; see [[louvainCtesSql]]). Argmax with ties
    * to the smaller community label; all nodes move simultaneously.
    * Synchronous argmax moves can livelock two singletons swapping
    * communities forever, so the published parallel-Louvain symmetry
    * breaker applies (Lu, Hendrickson & Halappanavar, "Parallel
    * heuristics for scalable community detection", Parallel Computing
    * 2015): when BOTH communities are singletons, only the higher-label
    * node moves. A fixed round count keeps the result deterministic
    * (like [[labelPropagation]] — Louvain phase 1 has no unique
    * fixpoint); each round is a constant number of shuffles keyed by
    * node/community id, nothing driver-side but the 2m scalar.
    *
    * One level merges the dense cores; [[louvain2]] adds the GDS-style
    * second level (graph coarsening + weighted re-run). */
  def louvain(edges: DataFrame, rounds: Int = 6): DataFrame =
    louvainLevelOne(edges, rounds)._3

  /** Louvain level one, shared by [[louvain]] and [[louvain2]]: the
    * undirected edge list ([[undirect]]), its pinned degrees, 2m, and
    * `rounds` unit-weight [[moveRounds]]. Returns (undirected edges, 2m,
    * level-one labels `(id, label)`). */
  private def louvainLevelOne(edges: DataFrame,
      rounds: Int): (DataFrame, Long, DataFrame) = {
    val und = undirect(edges)
    val deg = und.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
      .pinned
    val m2 = und.count() // = 2m (each undirected edge counted both ways)
    (und, m2, moveRounds(und.withColumn("w", lit(1L)), deg, m2, rounds))
  }

  /** G5 depth — two-level Louvain, the shape `gds.louvain` actually runs
    * (graph_queries.cyp:19-30 is multi-level): level 1 = [[louvain]]'s
    * greedy move rounds on the original graph; then communities CONTRACT
    * into a weighted graph (edge weight = inter-community edge count;
    * self-loop rows, weight 2·intra, are kept only in the weighted degree
    * so Σ_tot(contracted node) = Σ member degrees) and level 2 merges
    * WHOLE communities. Final labels map back through level 1. This
    * captures merges level 1 structurally cannot make: a single node
    * leaving a dense community always loses more than one cross-edge
    * gains, but the contracted community moves as a unit (GraphSpec's
    * ring-of-cliques fixture: 16 K4 cliques where pair-merging raises Q
    * iff n > 14).
    *
    * Level-2 dynamics are MATCHING-BASED agglomeration, not synchronous
    * argmax moves: each community picks the neighbor with the best
    * strictly-positive merge gain `2m·w(A,B) − Σ_tot(A)·Σ_tot(B)`
    * (= ΔQ·2·(2m)², exact BIGINT) and a merge happens only when the
    * choice is MUTUAL, adopting the smaller label. Mutual best-gain
    * pairs form a matching, so each round's merges are disjoint and
    * every one strictly increases Q — monotone ascent by construction,
    * where synchronous per-node argmax moves on a symmetric contracted
    * graph chase labels into chains (measured on the ring fixture: Q
    * DROPPED below the level-1 value). This is the parallel
    * agglomerative scheme of Riedy, Meyerhenke, Bader & Ediger,
    * "Parallel community detection for massive graphs" (PPAM 2011) —
    * ΔQ-weighted matching, contract, repeat. Ties in the argmax break
    * by candidate label, ASCENDING for even-label communities and
    * DESCENDING for odd — a deterministic stand-in for Riedy et al.'s
    * random orientation. On a tie-symmetric cycle whose labels happen
    * to share parity the split is inert, but the ascending rule still
    * makes the minimum-label community and its choice mutual, so tied
    * structures progress every round and merges CASCADE rather than
    * pair off at once (the ring fixture lands 6 merges across its 6
    * rounds); a no-merge round is a fixpoint and exits early.
    * Deterministic, each round a constant number of key-partitioned
    * shuffles; the DuckDB twin ([[louvain2CtesSql]]) unrolls both
    * levels from the same shapes (early exit is twin-safe because
    * post-fixpoint rounds unroll as no-ops). */
  def louvain2(edges: DataFrame, rounds1: Int = 6, rounds2: Int = 6): DataFrame = {
    val (und, m2, l1) = louvainLevelOne(edges, rounds1)
    val ce = und
      .join(l1.select(col("id").as("src"), col("label").as("csrc")), "src")
      .join(l1.select(col("id").as("dst"), col("label").as("cdst")), "dst")
      .groupBy(col("csrc").as("src"), col("cdst").as("dst"))
      .agg(count(lit(1)).as("w"))
      .pinned
    // r17 (guide §2.6): both frames derive from the pinned ce — overlap
    // their independent pins.
    val (cdeg, ew) = graft.plans.Par.both(
      ce.groupBy(col("src").as("id")).agg(sum(col("w")).as("deg")).pinned,
      ce.filter(col("src") =!= col("dst")).pinned)
    var labels = cdeg.select(col("id"), col("id").as("label"))
      .pinned
    var merged = true
    for (_ <- 1 to rounds2 if merged) {
      val lab = labels
      val st = lab.join(cdeg, "id")
        .groupBy(col("label")).agg(sum(col("deg")).as("st"))
      // current community-level edge weights (A≠B, symmetric)
      val comm = ew
        .join(lab.select(col("id").as("src"), col("label").as("ca")), "src")
        .join(lab.select(col("id").as("dst"), col("label").as("cb")), "dst")
        .filter(col("ca") =!= col("cb"))
        .groupBy(col("ca"), col("cb")).agg(sum(col("w")).as("w2"))
      val gains = comm
        .join(st.select(col("label").as("ca"), col("st").as("sa")), "ca")
        .join(st.select(col("label").as("cb"), col("st").as("sb")), "cb")
        .select(col("ca"), col("cb"),
          (lit(m2) * col("w2") - col("sa") * col("sb")).as("g"))
        .filter(col("g") > 0)
      // per-community argmax over its neighbors (≤ deg rows per key)
      val w = Window.partitionBy(col("ca")).orderBy(col("g").desc,
        when(col("ca") % 2 === 0, col("cb")).otherwise(-col("cb")))
      val best = gains.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).select(col("ca"), col("cb"))
      // mutual matching WITHOUT a pinned self-join (r11): gains is
      // symmetric, so the pair {a,b} is mutual-best iff BOTH of its
      // directed argmax rows (a,b) and (b,a) survive the rn=1 filter —
      // i.e. the canonical (min,max) key groups exactly 2 rows (best has
      // one row per ca, so 2 rows in a group are necessarily the two
      // directions). One hash aggregate replaces the former best pin +
      // two-sided join, removing a per-round checkpoint job and the
      // double window subtree it existed to truncate.
      val mutual = best
        .groupBy(least(col("ca"), col("cb")).as("a"),
          greatest(col("ca"), col("cb")).as("b"))
        .agg(count(lit(1)).as("nm"))
        .filter(col("nm") === 2)
        .select(col("a"), col("b"))
        .pinned
      // a no-merge round leaves labels untouched and recomputes the same
      // (empty) matching next round — a fixpoint, so breaking here is
      // indistinguishable from running the remaining rounds (the SQL twin
      // unrolls them as no-ops); the count is one row-count job on a
      // frame already materialized for the relabel join
      if (mutual.isEmpty) {
        merged = false
      } else {
        labels = lab
          .join(mutual.select(col("b").as("label"), col("a")), Seq("label"), "left")
          .select(col("id"), coalesce(col("a"), col("label")).as("label"))
          .pinned
      }
    }
    l1.select(col("id"), col("label").as("c1"))
      .join(labels.select(col("id").as("c1"), col("label")), "c1")
      .select(col("id"), col("label"))
  }

  /** Distinct both-directions self-loop-free edge list (2m rows). The
    * input edge plan is pinned FIRST: the union references it twice, and
    * un-pinned the (often expensive — a fact-table self-join in the
    * reference queries) edge derivation executed once per branch —
    * measured 0.7 s of the g_louvain bench time at sf0.1. */
  private def undirect(edges: DataFrame): DataFrame = {
    val e = edges.pinned
    e.select(col("src"), col("dst"))
      .union(e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().filter(col("src") =!= col("dst"))
      .pinned
  }

  /** Weighted synchronous greedy move rounds shared by both Louvain
    * levels: `ew(src, dst, w)` self-loop-free, `deg(id, deg)` weighted
    * degrees (self-loops included), `m2` the original graph's total
    * weight. Level 1 passes w=1 (sum(w) ≡ the old count). */
  private def moveRounds(ew: DataFrame, deg: DataFrame, m2: Long,
      rounds: Int): DataFrame = {
    // r11 (the LPA self-loop fold applied here): weight-0 self-loop rows
    // replace the per-round stay-candidate union — the kvc join now
    // emits the (cand = own) row by itself, with k = the node's true
    // intra-community weight when it has one (the old formulation kept a
    // DUPLICATE k=0 own-row that the argmax had to outscore) and k = 0
    // when it doesn't. One lab scan and |V| union rows per round gone;
    // vote/score set otherwise identical, so [[louvainCtesSql]] needs no
    // change. `deg` also rides INSIDE the label frame (it is
    // loop-invariant per id), deleting the per-round lab ⋈ deg join.
    val ewl = ew.unionByName(
      deg.select(col("id").as("src"), col("id").as("dst"),
        lit(0L).as("w")))
    var labels = deg.select(col("id"), col("id").as("label"), col("deg"))
      .pinned
    for (_ <- 1 to rounds) {
      val lab = labels
      // Σ_tot and size per community, under the previous round's labels
      val sigma = lab
        .groupBy(col("label")).agg(sum(col("deg")).as("st"),
          count(lit(1)).as("sz"))
      // k_{v,C}: edge weight from v into community C (self-loops emit
      // the stay candidate)
      val kvc = ewl
        .join(lab.select(col("id").as("dst"), col("label").as("cand")), "dst")
        .groupBy(col("src").as("id"), col("cand"))
        .agg(sum(col("w")).as("k"))
      val own = lab.select(col("id"), col("label").as("own"), col("deg"))
      val scored = kvc.join(own, "id")
        .join(sigma.withColumnRenamed("label", "cand"), "cand")
        .select(col("id"), col("own"), col("deg"), col("cand"),
          col("sz").as("cand_sz"),
          (lit(m2) * col("k") - col("deg") *
            (col("st") - when(col("cand") === col("own"), col("deg"))
              .otherwise(lit(0L)))).as("score"))
      // per-node argmax as a HASH aggregation with map-side partial
      // combine, not a sort window: max over the struct (score, -cand)
      // is lexicographic, i.e. exactly `score DESC, cand ASC` — the
      // twin's ROW_NUMBER ordering ([[louvainCtesSql]]) — over ≤ deg+1
      // candidate rows per node. (own/deg are constant per id: grouping
      // keys, so they ride along without an aggregate.)
      val best = scored
        .groupBy(col("id"), col("own"), col("deg"))
        .agg(max(struct(col("score"), (-col("cand")).as("nc"),
          col("cand_sz"))).as("b"))
        .select(col("id"), col("own"), col("deg"), (-col("b.nc")).as("cand"),
          col("b.cand_sz").as("cand_sz"))
      val ownSz = sigma.select(col("label").as("own"), col("sz").as("own_sz"))
      labels = best.join(ownSz, "own")
        .select(col("id"),
          when(col("cand") =!= col("own") && col("own_sz") === 1 &&
              col("cand_sz") === 1 && col("cand") > col("own"), col("own"))
            .otherwise(col("cand")).as("label"),
          col("deg"))
        .pinned
    }
    labels.select(col("id"), col("label"))
  }

  /** DuckDB twin of [[louvain]] over a CTE `undCte(src,dst)` that must
    * already be the distinct, both-directions, self-loop-free edge set;
    * unrolled score/argmax/move round per iteration, final labels in
    * `lv$rounds(id, label)`. Generated from the same scoring shape so the
    * two can't drift. */
  def louvainCtesSql(undCte: String, rounds: Int): String = {
    val init =
      s"""lvdeg AS MATERIALIZED (SELECT src AS id, COUNT(*) AS deg FROM $undCte GROUP BY src),
         |lvm AS MATERIALIZED (SELECT COUNT(*) AS m2 FROM $undCte),
         |lvew AS MATERIALIZED (SELECT src, dst, CAST(1 AS BIGINT) AS w FROM $undCte),
         |lv0 AS MATERIALIZED (SELECT id, id AS label FROM lvdeg)""".stripMargin
    init + ",\n" + weightedRoundsSql("lv", "lvew", "lvdeg", "lvm", rounds)
  }

  /** DuckDB twin of [[louvain2]]: level-1 CTEs from [[louvainCtesSql]],
    * contraction (weighted community edges / degrees, self-loops kept only
    * in the degree), unrolled matching-agglomeration rounds (gain →
    * parity-tie-broken argmax → mutual matching → relabel), and the label
    * map-back. Final labels in `lvf(id, label)`. */
  def louvain2CtesSql(undCte: String, rounds1: Int, rounds2: Int): String = {
    val contract =
      s"""lwce AS MATERIALIZED (SELECT ls.label AS src, ld.label AS dst,
         |    CAST(COUNT(*) AS BIGINT) AS w
         |  FROM $undCte u JOIN lv$rounds1 ls ON ls.id = u.src
         |       JOIN lv$rounds1 ld ON ld.id = u.dst
         |  GROUP BY ls.label, ld.label),
         |lwdeg AS MATERIALIZED (SELECT src AS id, CAST(SUM(w) AS BIGINT) AS deg
         |  FROM lwce GROUP BY src),
         |lwew AS MATERIALIZED (SELECT src, dst, w FROM lwce WHERE src <> dst),
         |lw0 AS MATERIALIZED (SELECT id, id AS label FROM lwdeg)""".stripMargin
    val rs = (1 to rounds2).map { t =>
      s"""lwt$t AS MATERIALIZED (SELECT l.label, CAST(SUM(d.deg) AS BIGINT) AS st
         |  FROM lw${t - 1} l JOIN lwdeg d ON d.id = l.id GROUP BY l.label),
         |lwg$t AS MATERIALIZED (SELECT e.ca, e.cb,
         |    m.m2 * e.w2 - sa.st * sb.st AS g
         |  FROM (SELECT a.label AS ca, b.label AS cb, CAST(SUM(u.w) AS BIGINT) AS w2
         |        FROM lwew u JOIN lw${t - 1} a ON a.id = u.src
         |             JOIN lw${t - 1} b ON b.id = u.dst
         |        WHERE a.label <> b.label GROUP BY a.label, b.label) e
         |       JOIN lwt$t sa ON sa.label = e.ca
         |       JOIN lwt$t sb ON sb.label = e.cb, lvm m
         |  WHERE m.m2 * e.w2 - sa.st * sb.st > 0),
         |lwb$t AS MATERIALIZED (SELECT ca, cb FROM (
         |    SELECT ca, cb, ROW_NUMBER() OVER (PARTITION BY ca ORDER BY g DESC,
         |      CASE WHEN ca % 2 = 0 THEN cb ELSE -cb END) AS rn FROM lwg$t)
         |  WHERE rn = 1),
         |lwm$t AS MATERIALIZED (SELECT x.ca AS a, x.cb AS b
         |  FROM lwb$t x JOIN lwb$t y ON y.ca = x.cb AND y.cb = x.ca
         |  WHERE x.ca < x.cb),
         |lw$t AS MATERIALIZED (SELECT l.id, COALESCE(mm.a, l.label) AS label
         |  FROM lw${t - 1} l LEFT JOIN lwm$t mm ON mm.b = l.label)""".stripMargin
    }
    val mapBack =
      s"""lvf AS MATERIALIZED (SELECT a.id, b.label
         |  FROM lv$rounds1 a JOIN lw$rounds2 b ON b.id = a.label)""".stripMargin
    (Seq(louvainCtesSql(undCte, rounds1), contract) ++ rs :+ mapBack)
      .mkString(",\n")
  }

  /** Weighted synchronous move rounds (SQL twin of [[moveRounds]]):
    * `$edgeCte(src,dst,w)` self-loop-free, `$degCte(id,deg)` weighted
    * degrees, `$mCte(m2)` the graph's total weight, labels start in
    * `${p}0`; final labels in `${p}$rounds`. */
  private def weightedRoundsSql(p: String, edgeCte: String, degCte: String,
      mCte: String, rounds: Int): String = {
    val rs = (1 to rounds).map { t =>
      s"""${p}s$t AS MATERIALIZED (SELECT l.label, CAST(SUM(d.deg) AS BIGINT) AS st,
         |    COUNT(*) AS sz
         |  FROM ${p}${t - 1} l JOIN $degCte d ON d.id = l.id GROUP BY l.label),
         |${p}c$t AS MATERIALIZED (SELECT id, cand, CAST(MAX(k) AS BIGINT) AS k FROM (
         |    SELECT u.src AS id, l.label AS cand, CAST(SUM(u.w) AS BIGINT) AS k
         |    FROM $edgeCte u JOIN ${p}${t - 1} l ON l.id = u.dst GROUP BY u.src, l.label
         |    UNION ALL SELECT id, label AS cand, 0 AS k FROM ${p}${t - 1})
         |  GROUP BY id, cand),
         |${p}b$t AS MATERIALIZED (SELECT id, own, cand, cand_sz FROM (
         |    SELECT c.id, o.label AS own, c.cand, s.sz AS cand_sz,
         |           ROW_NUMBER() OVER (PARTITION BY c.id ORDER BY
         |             (m.m2 * c.k - d.deg *
         |              (s.st - CASE WHEN c.cand = o.label THEN d.deg ELSE 0 END)) DESC,
         |             c.cand) AS rn
         |    FROM ${p}c$t c JOIN ${p}${t - 1} o ON o.id = c.id
         |         JOIN $degCte d ON d.id = c.id
         |         JOIN ${p}s$t s ON s.label = c.cand, $mCte m)
         |  WHERE rn = 1),
         |${p}$t AS MATERIALIZED (SELECT b.id,
         |    CASE WHEN b.cand <> b.own AND os.sz = 1 AND b.cand_sz = 1
         |              AND b.cand > b.own THEN b.own ELSE b.cand END AS label
         |  FROM ${p}b$t b JOIN ${p}s$t os ON os.label = b.own)""".stripMargin
    }
    rs.mkString(",\n")
  }

  /** Attachment-degree hub cap for [[projectViaClosure]] — the G7
    * `maxDegree` idea applied to the `ends(entity, node)` relation: per
    * node keep only the `maxPerNode` SMALLEST entity ids (deterministic,
    * so the capped projection is hash-stable across runs and engines).
    * The projection's pair volume is driven by attachment degree — a
    * node with d attached entities contributes up to d² projected pairs
    * — so capping d bounds the projection at |closure|·D on the near
    * side and |pairs|·D on the far side instead of |entities|² in the
    * dense case. The deploy knob beside `kHopReach(maxPairs=…)`: the
    * closure cap bounds REACHABILITY volume, this bounds PROJECTION
    * volume, and at 100 TB both bind before either |V|² shape does.
    * Partitioned window (by node) — no global sort, no single-partition
    * stage. */
  def capAttachment(ends: DataFrame, maxPerNode: Int): DataFrame =
    ends
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col("node")).orderBy(col("entity"))))
      .filter(col("_rn") <= maxPerNode)
      .drop("_rn")

  /** Project an entity→entity graph through a bounded transitive closure —
    * the reference's `(E)-[:R]-(node)-[:REFERENCES*1..k]->(node)-[:R]-(E2)`
    * GDS projection (graph_queries.cyp:10,53,66). `ends(entity, node)`
    * attaches entities to graph nodes; `closure(src, dst)` is a 1..k-hop
    * reachability table (from [[kHopReach]]). Self-edges are kept, as in
    * the Cypher pattern (an author citing their own earlier piece projects
    * a→a). Both joins shuffle on node id — the closure is never
    * collected or broadcast, so the projection scales with the closure's
    * own cardinality. */
  def projectViaClosure(ends: DataFrame, closure: DataFrame): DataFrame =
    // r17: `ends` feeds BOTH sides of the projection (near attachment +
    // far attachment) and callers pass an unmaterialized join+distinct
    // (+ cap window) — unpinned, that derivation ran twice per
    // projection (the r8 two-consumer rule, missed at this seam).
    projectPinned(Pins.pin(ends), closure)

  /** [[projectViaClosure]] over `ends` the caller has already pinned
    * (say, on a [[graft.plans.Par]] leg beside the closure), so they are
    * not checkpointed a second time. */
  private[graft] def projectPinned(e: DataFrame, closure: DataFrame): DataFrame =
    e.select(col("entity").as("e_src"), col("node").as("n1"))
      .join(closure, col("n1") === col("src"))
      // collapse to (entity, reachable node) BEFORE attaching the far
      // side: without it the row count multiplies by BOTH attachment
      // degrees (|closure|·deg²); with it each join is capped at
      // |entities|·|nodes| — the difference between 10⁸ and 10⁹+ rows
      // on a dense closure
      .select(col("e_src"), col("dst")).distinct()
      .join(e.select(col("entity").as("e_dst"), col("node").as("n2")),
        col("dst") === col("n2"))
      .select(col("e_src").as("src"), col("e_dst").as("dst"))
      .distinct()

  // ---- triangle counting ----------------------------------------------

  /** Degree-ordered triangle counting + local clustering coefficient
    * (GDS triangleCount / localClusteringCoefficient parity; algorithm =
    * the compact-forward / degree-orientation scheme, Latapy 2008):
    * orient every undirected edge from its (degree, id)-smaller endpoint
    * to the larger, generate wedges at each orientation source, close
    * them against the oriented edge set. Under this orientation
    * out-degrees are O(√m), so wedge generation is O(m^1.5) — the best
    * exact bound — instead of the naive join's Σ deg²; hubs never fan
    * out their full neighborhood.
    *
    * Scale shape: three id-keyed equi-joins, edge set pinned once, no
    * global state. Returns `(id, deg, tri, coeff)` with
    * coeff = 2·tri / (deg·(deg−1)), NULL when deg < 2 (nullif — ANSI
    * division guard, identical in the twin). */
  def triangles(edges: DataFrame): DataFrame = {
    val und = edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .pinned
    val deg = und.select(col("a").as("id"))
      .unionByName(und.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
      .pinned
    val withDeg = und
      .join(deg.select(col("id").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("id").as("b"), col("deg").as("db")), "b")
    // carry the target's order key so the wedge pair (y, z) is ordered
    // by the SAME total order that oriented the edges
    val ord = withDeg.select(
        when(col("da") < col("db") ||
            (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("u"), col("b").as("v"), col("db").as("dv")))
          .otherwise(
            struct(col("b").as("u"), col("a").as("v"), col("da").as("dv")))
          .as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"), col("e.dv").as("dv"))
      .pinned
    val wedges = ord.as("e1").join(ord.as("e2"),
        col("e1.u") === col("e2.u") &&
          (col("e1.dv") < col("e2.dv") ||
            (col("e1.dv") === col("e2.dv") && col("e1.v") < col("e2.v"))))
      .select(col("e1.u").as("x"), col("e1.v").as("y"), col("e2.v").as("z"))
    val tris = wedges
      .join(ord.select(col("u").as("y"), col("v").as("z")), Seq("y", "z"))
    val perNode = tris
      .select(explode(array(col("x"), col("y"), col("z"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("tri"))
    deg.join(perNode, Seq("id"), "left")
      .select(col("id"), col("deg"),
        coalesce(col("tri"), lit(0L)).as("tri"))
      .withColumn("coeff", lit(2.0) * col("tri") /
        nullif((col("deg") * (col("deg") - lit(1L))).cast("double"), lit(0.0)))
      .orderBy(col("id"))
  }

  /** k-core decomposition via the H-operator fixpoint (Lü et al., "The
    * H-index of a network node and its relation to degree and coreness",
    * Nature Communications 2016): start from degree and repeatedly replace
    * each node's value with the H-index of its neighbors' values — the
    * largest h such that ≥ h neighbors currently hold value ≥ h. The
    * sequence is monotone non-increasing and converges to the coreness of
    * every node; a FIXED `iters` on both engines yields the identical
    * t-step operator value (an upper bound on coreness, exact once the
    * graph's peeling depth ≤ iters — GraphSpec proves exactness on a
    * clique-plus-tail fixture).
    *
    * All-integer arithmetic (degree counts, LEAST/MAX), so the unrolled
    * [[kCoreCtesSql]] twin is bit-identical. Rounds run in
    * [[BlockRounds.run]]: a node sends its value to its distinct non-self
    * neighbors, the (node, value) counts combine map-side, and its
    * H-index is the largest h with ≥ h neighbors holding ≥ h
    * ([[KCoreKernel]]) — equal to the max over values v of min(v, #values
    * ≥ v), the twin's `max(least(val, rn))`, which no tie order among
    * equal values moves. */
  def kCoreFixed(edges: DataFrame, iters: Int): DataFrame = {
    val adj = Csr.adjacency("Graph.kCore", edges, None, undirected = Some(false))
    val vals = BlockRounds.run("Graph.kCore", adj, iters, KCoreKernel)
    stateFrame(edges, vals, _ => StructField("core", LongType, nullable = true))
  }

  /** DuckDB twin of [[kCoreFixed]] over an undirected, self-loop-free,
    * distinct edge CTE `undCte(src, dst)` (BOTH directions present). Final
    * values in `kc$iters(id, val)`. */
  def kCoreCtesSql(undCte: String, iters: Int): String = {
    val init =
      s"""kc0 AS MATERIALIZED (SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS val
         |  FROM $undCte GROUP BY src)""".stripMargin
    val rounds = (1 to iters).map { t =>
      s"""kc$t AS MATERIALIZED (
         |  SELECT src AS id, CAST(MAX(LEAST(val, rn)) AS BIGINT) AS val FROM (
         |    SELECT u.src, v.val,
         |           CAST(ROW_NUMBER() OVER (PARTITION BY u.src
         |                ORDER BY v.val DESC, u.dst) AS BIGINT) AS rn
         |    FROM $undCte u JOIN kc${t - 1} v ON v.id = u.dst)
         |  GROUP BY src)""".stripMargin
    }
    (init +: rounds).mkString(",\n")
  }

  /** HITS hubs & authorities (Kleinberg 1999) in order-independent
    * fixed-point arithmetic. Each round: authority = Σ of in-neighbors'
    * hub scores, renormalized to total `scale`; hub = Σ of out-neighbors'
    * fresh authority scores, renormalized likewise. The renormalizing
    * division `(raw · scale) DIV Σraw` runs through DECIMAL(38,0) on the
    * Spark side and HUGEINT in the [[hitsCtesSql]] twin — exact integer
    * arithmetic in both engines, so results are bit-identical and
    * independent of partition/summation order (the sim_kmeans technique).
    *
    * Overflow bounds (scale = 1e12): hub_fp ≤ scale after each
    * normalization, so raw sums ≤ max-degree·scale ≈ 1e16 « 2^63 and the
    * wide product raw·scale ≤ 1e28 « 10^38.
    *
    * r11 restructure (the SCC fold template, VERDICT r10 #1): the raw-sum
    * frames used to be pinned every round because each had two consumers
    * (the per-node normalize join + the grand total). The total is the
    * same BIGINT sum reassociated through the loop-invariant degree
    * tables — Σ_dst araw = Σ_{(s,d)∈E} hub_fp(s) = Σ_s outdeg(s)·hub_fp(s)
    * — so computing it from `hubs ⋈ outdeg` leaves the raw frame ONE
    * consumer and drops both per-round raw pins (2 of the 3 amortized
    * localCheckpoint jobs of a per-round-latency-bound loop). The score
    * frames are now each read twice per round (raw join + total), both
    * reads inside the ONE plan that pins the next frame — scans of the
    * previous pin, not recomputes — so they pin every round
    * unconditionally (the r8 rule: never leave a two-consumer frame
    * unpinned). */
  def hitsFixed(edges: DataFrame, iters: Int,
      scale: Long = 1000000000000L): DataFrame = {
    // Scoped AQE-off (r12, VERDICT r11 #6): HITS is the ONE loop that
    // runs faster without AQE — each round has two independent branches
    // (the auth grand total and the auth edge votes; then the hub pair)
    // that AQE's stage-by-stage execution serializes, while statically
    // planned they run concurrently. Measured −11% median (16.96 →
    // 15.03 s, 3/3 reps, quiet sf0.1 A/B, BASELINE.md r12); every OTHER
    // pin loop is 2.5–3× WORSE without AQE (the r11 negative result in
    // plans/Pins.scala) — do not generalize this wrap.
    //
    // r13 (VERDICT r12 #2 / ADVICE): the toggle used to flip the conf on
    // the SHARED session and restore in finally — any query planned
    // concurrently on that session was silently planned without AQE, and
    // two concurrent hitsFixed calls could race the save/restore. Spark 4
    // SQL confs are per-SESSION, so the loop now runs on a throwaway
    // `newSession()` clone (same SparkContext, shared block-manager cache,
    // isolated conf): runtime confs are copied over, AQE is switched off
    // there only, and the parent session's conf is never touched
    // (GraphSpec polls it mid-flight). The input edges hop sessions via
    // the RDD seam (session-independent) and the final score frames —
    // localCheckpoint pins, so `.rdd` is a wrapper, not a recompute — hop
    // back, keeping the caller-visible join planned under the parent's
    // own conf (AQE on) exactly as the measured r12 shape had it.
    //
    // r14 (ADVICE r13): ONE clone per SparkContext, created lazily and
    // reused — a long-lived driver calling hitsFixed repeatedly no longer
    // accumulates session state. Parent runtime confs are re-copied onto
    // the clone at every call (so conf drift on the parent is picked up),
    // AQE re-forced off after; copy failures for static confs are the
    // expected AnalysisException (silent), anything else is logged rather
    // than silently dropped.
    //
    // r15 (ADVICE r14): conf-sync + the whole loop run are SERIALIZED on
    // the clone — without the lock, caller B's conf copy could
    // momentarily re-enable AQE (or install a different parent's confs)
    // while caller A's iterations were still planning, breaking the
    // exact pinned-plan guarantee the clone exists for. The result
    // frames are localCheckpoint pins, so their .rdd extraction (also
    // inside the lock — its planning happens on the clone too) is a
    // wrapper, not a recompute, and the lock's scope ends before any
    // parent-session work. Entries whose SparkContext has stopped are
    // evicted up front (multi-context test JVMs no longer leak clones).
    //
    // Without the clone, g_hits runs 88 shuffle stages instead of 49
    // (BASELINE.md "One kernel per graph family").
    val parent = edges.sparkSession
    aqeOffClones.keySet.removeIf(_.isStopped)
    val loop = aqeOffClones.computeIfAbsent(
      parent.sparkContext, _ => parent.newSession())
    val in = edges.select(col("src"), col("dst"))
    val (aRdd, aSchema, hRdd, hSchema) = loop.synchronized {
      parent.conf.getAll.foreach { case (k, v) =>
        try loop.conf.set(k, v)
        catch {
          case _: org.apache.spark.sql.AnalysisException => () // static confs
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[graft] hitsFixed: conf copy of $k failed: $e")
        }
      }
      loop.conf.set("spark.sql.adaptive.enabled", "false")
      val (auths, hubs) =
        hitsFixedLoop(loop.createDataFrame(in.rdd, in.schema), iters, scale)
      (auths.rdd, auths.schema, hubs.rdd, hubs.schema)
    }
    val a = parent.createDataFrame(aRdd, aSchema)
    val h = parent.createDataFrame(hRdd, hSchema)
    hitsAssemble(a, h, scale)
  }

  /** [[hitsFixed]] without the cloned-session AQE-off wrap — the loop
    * planned under the caller's own session conf. GraphSpec's
    * bit-identity reference: the wrapped and unwrapped loops must return
    * the same scores. */
  private[graft] def hitsFixedNoWrap(edges: DataFrame, iters: Int,
      scale: Long = 1000000000000L): DataFrame = {
    val (auths, hubs) = hitsFixedLoop(edges, iters, scale)
    hitsAssemble(auths, hubs, scale)
  }

  private def hitsAssemble(auths: DataFrame, hubs: DataFrame,
      scale: Long): DataFrame =
    auths.join(hubs, Seq("id"))
      .withColumn("auth", col("auth_fp").cast("double") / lit(scale.toDouble))
      .withColumn("hub", col("hub_fp").cast("double") / lit(scale.toDouble))

  private def hitsFixedLoop(edges: DataFrame, iters: Int,
      scale: Long): (DataFrame, DataFrame) = {
    val adj = edges.select(col("src"), col("dst")).distinct().cache()
    val nodes = adj.select(col("src").as("id"))
      .union(adj.select(col("dst").as("id"))).distinct().cache()
    val n = nodes.count()
    // loop-invariant degree tables feeding the reassociated totals.
    // r17 (guide §2.6): the four init pins are pairwise independent
    // (degree tables read the cached adj; score frames read the cached
    // nodes) — overlapped two at a time.
    val (outdeg, indeg) = graft.plans.Par.both(
      adj.groupBy(col("src").as("id"))
        .agg(count(lit(1)).as("od")).pinned,
      adj.groupBy(col("dst").as("id"))
        .agg(count(lit(1)).as("idg")).pinned)
    var (hubs, auths) = graft.plans.Par.both(
      nodes.withColumn("hub_fp", lit(scale / n)).pinned,
      nodes.withColumn("auth_fp", lit(scale / n)).pinned)
    for (_ <- 1 to iters) {
      // Σ araw reassociated: nodes with no out-edge drop out of the inner
      // join and contribute 0 to the total, exactly as they send no edge
      // votes — bit-identical to the twin's SUM over htar$t
      val asum = hubs.join(outdeg, "id")
        .agg(sum(col("od") * col("hub_fp")).as("asum"))
      val araw = adj.join(hubs, adj("src") === hubs("id"))
        .groupBy(adj("dst")).agg(sum(col("hub_fp")).as("araw"))
      auths = nodes.join(araw, nodes("id") === araw("dst"), "left")
        .crossJoin(asum)
        .select(col("id"),
          coalesce(expr(s"CAST(araw AS DECIMAL(38,0)) * $scale div asum"),
            lit(0L)).as("auth_fp"))
        .pinned
      val hsum = auths.join(indeg, "id")
        .agg(sum(col("idg") * col("auth_fp")).as("hsum"))
      val hraw = adj.join(auths, adj("dst") === auths("id"))
        .groupBy(adj("src")).agg(sum(col("auth_fp")).as("hraw"))
      hubs = nodes.join(hraw, nodes("id") === hraw("src"), "left")
        .crossJoin(hsum)
        .select(col("id"),
          coalesce(expr(s"CAST(hraw AS DECIMAL(38,0)) * $scale div hsum"),
            lit(0L)).as("hub_fp"))
        .pinned
    }
    adj.unpersist(); nodes.unpersist()
    (auths, hubs)
  }

  /** DuckDB twin of [[hitsFixed]] over `edgesCte(src, dst)` (distinct
    * directed edges). Final scores in `hta$iters(id, auth_fp)` /
    * `hth$iters(id, hub_fp)`. */
  def hitsCtesSql(edgesCte: String, iters: Int,
      scale: Long = 1000000000000L): String = {
    val init =
      s"""htnodes AS MATERIALIZED (SELECT DISTINCT id FROM (
         |  SELECT src AS id FROM $edgesCte UNION ALL SELECT dst FROM $edgesCte)),
         |htn AS MATERIALIZED (SELECT COUNT(*) AS n FROM htnodes),
         |hth0 AS MATERIALIZED (SELECT id, (SELECT $scale // n FROM htn) AS hub_fp FROM htnodes)""".stripMargin
    val rounds = (1 to iters).map { t =>
      s"""htar$t AS MATERIALIZED (SELECT e.dst AS id,
         |    CAST(SUM(h.hub_fp) AS BIGINT) AS araw
         |  FROM $edgesCte e JOIN hth${t - 1} h ON h.id = e.src GROUP BY e.dst),
         |hta$t AS MATERIALIZED (SELECT nd.id,
         |    COALESCE(CAST((CAST(a.araw AS HUGEINT) * $scale)
         |      // (SELECT CAST(SUM(araw) AS HUGEINT) FROM htar$t) AS BIGINT), 0) AS auth_fp
         |  FROM htnodes nd LEFT JOIN htar$t a ON a.id = nd.id),
         |hthr$t AS MATERIALIZED (SELECT e.src AS id,
         |    CAST(SUM(a.auth_fp) AS BIGINT) AS hraw
         |  FROM $edgesCte e JOIN hta$t a ON a.id = e.dst GROUP BY e.src),
         |hth$t AS MATERIALIZED (SELECT nd.id,
         |    COALESCE(CAST((CAST(h.hraw AS HUGEINT) * $scale)
         |      // (SELECT CAST(SUM(hraw) AS HUGEINT) FROM hthr$t) AS BIGINT), 0) AS hub_fp
         |  FROM htnodes nd LEFT JOIN hthr$t h ON h.id = nd.id)""".stripMargin
    }
    (init +: rounds).mkString(",\n")
  }

  /** Batched multi-source BFS distance table `(source, id, dist)` —
    * unweighted SSSP (gds.bfs / gds.shortestPath without weights): all
    * sources advance as ONE (source, id)-keyed frontier, one pin per
    * graph level ([[bfsLevels]]). The building block [[harmonicFixed]]
    * aggregates; it is also a first-class result (reachability radius,
    * distance features). `dist` = 0 for the source itself; unreached
    * pairs are absent. No σ path counts ride along (unlike
    * [[betweennessFixed]]'s levels): they can overflow BIGINT on dense
    * graphs, where an ANSI sum would throw. */
  def bfsDistances(edges: DataFrame, sources: Seq[Long],
      maxDepth: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val adj = edges.select(col("src"), col("dst")).distinct().cache()
    val lvl0 = sources.map(s => (s, s, 0)).toDF("source", "id", "dist").pinned
    val (reached, _) = bfsLevels(lvl0, maxDepth) { (frontier, seen, d) =>
      frontier.select(col("source").as("f_source"), col("id").as("f_id"))
        .join(adj, col("f_id") === col("src"))
        .select(col("f_source").as("source"), col("dst").as("id"))
        .distinct()
        .join(seen.select(col("source").as("s_source"), col("id").as("s_id")),
          col("source") === col("s_source") && col("id") === col("s_id"),
          "left_anti")
        .withColumn("dist", lit(d))
    }
    adj.unpersist()
    reached
  }

  /** Sampled-source harmonic (closeness) centrality: for each node v,
    * Σ over sampled sources s of 1/d(s, v) — the harmonic formulation is
    * the one that stays well-defined on disconnected graphs (unreachable
    * pairs contribute 0 rather than poisoning a mean). Exact when
    * `sources` = all nodes; a fixed sample bounds work at scale, the same
    * contract as [[betweennessFixed]].
    *
    * Distances come from [[bfsDistances]] and are exact integers; the
    * contribution `scale DIV dist` is a truncating division, so sums
    * are order-independent BIGINTs and the unrolled [[harmonicCtesSql]]
    * twin is bit-identical. `maxDepth` bounds the unroll on both sides. */
  def harmonicFixed(edges: DataFrame, sources: Seq[Long], maxDepth: Int,
      scale: Long = 1000000000L): DataFrame = {
    bfsDistances(edges, sources, maxDepth).filter(col("dist") >= 1)
      .groupBy(col("id"))
      .agg(sum(expr(s"$scale DIV dist")).as("harmonic_fp"))
      .withColumn("harmonic",
        col("harmonic_fp").cast("double") / lit(scale.toDouble))
  }

  /** DuckDB twin of [[harmonicFixed]] over `edgesCte(src, dst)`: unrolled
    * per-level BFS `hm1..hm$maxDepth` (NOT EXISTS against the running seen
    * set, mirroring the Spark anti-join), result in
    * `hmres(id, harmonic_fp)`. */
  def harmonicCtesSql(edgesCte: String, sources: Seq[Long], maxDepth: Int,
      scale: Long = 1000000000L): String = {
    val srcRows = sources.map(s => s"($s)").mkString(", ")
    val init =
      s"""hm0 AS MATERIALIZED (SELECT s AS source, s AS id, 0 AS dist
         |  FROM (VALUES $srcRows) t(s)),
         |hmseen0 AS MATERIALIZED (SELECT source, id FROM hm0)""".stripMargin
    val rounds = (1 to maxDepth).map { d =>
      s"""hm$d AS MATERIALIZED (
         |  SELECT DISTINCT f.source, e.dst AS id, $d AS dist
         |  FROM hm${d - 1} f JOIN $edgesCte e ON e.src = f.id
         |  WHERE NOT EXISTS (SELECT 1 FROM hmseen${d - 1} s
         |                    WHERE s.source = f.source AND s.id = e.dst)),
         |hmseen$d AS MATERIALIZED (SELECT source, id FROM hmseen${d - 1}
         |  UNION ALL SELECT source, id FROM hm$d)""".stripMargin
    }
    val all = "hmall AS MATERIALIZED (" +
      (1 to maxDepth).map(d => s"SELECT id, dist FROM hm$d")
        .mkString(" UNION ALL ") + ")"
    val res =
      s"""hmres AS (SELECT id, CAST(SUM($scale // dist) AS BIGINT) AS harmonic_fp
         |  FROM hmall GROUP BY id)""".stripMargin
    (init +: rounds :+ all :+ res).mkString(",\n")
  }

  /** FastRP-lite node embeddings (Chen et al., "Fast and Accurate
    * Network Embeddings via Very Sparse Random Projection", CIKM 2019 —
    * the algorithm behind gds.fastRP): project each node to a random
    * ±1 d-vector, then repeatedly average neighbors; the final embedding
    * sums the deeper iterations (GDS iterationWeights (0, 1, 1, …) —
    * round 1 is pure init noise and is skipped).
    *
    * "Lite" deviations, both documented: the random projection is a
    * DENSE ±1 sign vector derived from md5(id:pos) — deterministic and
    * engine-portable where GDS uses seeded sparse Gaussian — and there
    * is no per-node L2 normalization (a sqrt would break cross-engine
    * bit-equality). Averaging is the truncating integer division
    * `Σ DIV deg` — BOTH engines truncate toward zero, verified, so the
    * unrolled [[fastRpCtesSql]] twin is bit-identical.
    *
    * Iteration weights are the UNEQUAL ramp (1, 2, …, iters−1) — GDS's
    * iterationWeights surface. With EQUAL weights, mean propagation on
    * any bipartite graph (every tree!) alternates between two phase
    * sequences and the summed embedding collapses to the same value for
    * adjacent structural classes; the ramp keeps rounds distinguishable.
    *
    * Scale shape: |V|·dim rows, two node-keyed shuffles per round,
    * constant rounds — the same budget as a PageRank iteration per
    * dimension batch. Returns `(id, pos, emb)` exploded. */
  def fastRpFixed(edges: DataFrame, dim: Int, iters: Int,
      scale: Long = 1000000000L): DataFrame = {
    require(iters >= 2, "fastRP sums iterations 2..iters")
    val e = edges.pinned
    val und = e.select(col("src"), col("dst"))
      .union(e.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct().cache()
    val deg = und.groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("deg")).cache()
    var r = deg
      .select(col("id"), explode(sequence(lit(0), lit(dim - 1))).as("pos"))
      .withColumn("v",
        when(graft.functions.TextFns.md5Hash54(
            concat(col("id").cast("string"), lit(":"),
              col("pos").cast("string"))) % 2 === 0,
          lit(scale)).otherwise(lit(-scale)))
      .select(col("id"), col("pos"), col("v"))
      .pinned
    val kept = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (t <- 1 to iters) {
      val msgs = und.join(r, und("dst") === r("id"))
        .select(col("src"), col("pos"), col("v"))
        .groupBy(col("src"), col("pos")).agg(sum(col("v")).as("s"))
      r = msgs.join(deg, msgs("src") === deg("id"))
        .select(deg("id"), col("pos"), expr("s DIV deg").as("v"))
        .pinned
      if (t >= 2) kept += r.withColumn("v", col("v") * lit(t - 1L))
    }
    und.unpersist()
    val out = kept.reduce(_ union _)
      .groupBy(col("id"), col("pos")).agg(sum(col("v")).as("emb"))
    deg.unpersist()
    out
  }

  /** DuckDB twin of [[fastRpFixed]] over an undirected distinct
    * self-loop-free edge CTE `undCte(src, dst)` (both directions).
    * Result in `fremb(id, pos, emb)`. */
  def fastRpCtesSql(undCte: String, dim: Int, iters: Int,
      scale: Long = 1000000000L): String = {
    val init =
      s"""frdeg AS MATERIALIZED (SELECT src AS id, COUNT(*) AS deg
         |  FROM $undCte GROUP BY src),
         |fr0 AS MATERIALIZED (SELECT d.id, g.pos,
         |    CASE WHEN CAST(('0x' || substr(md5(CAST(d.id AS VARCHAR) || ':' ||
         |           CAST(g.pos AS VARCHAR)), 1, 14)) AS BIGINT) % 2 = 0
         |         THEN $scale ELSE -$scale END AS v
         |  FROM frdeg d CROSS JOIN range(0, $dim) g(pos))""".stripMargin
    val rounds = (1 to iters).map { t =>
      s"""fr$t AS MATERIALIZED (SELECT m.id, m.pos, m.s // d.deg AS v FROM (
         |    SELECT u.src AS id, r.pos, CAST(SUM(r.v) AS BIGINT) AS s
         |    FROM $undCte u JOIN fr${t - 1} r ON r.id = u.dst
         |    GROUP BY u.src, r.pos) m
         |  JOIN frdeg d ON d.id = m.id)""".stripMargin
    }
    val acc = (2 to iters)
      .map(t => s"SELECT id, pos, v * ${t - 1} AS v FROM fr$t")
      .mkString(" UNION ALL ")
    val res =
      s"""fremb AS (SELECT id, pos, CAST(SUM(v) AS BIGINT) AS emb
         |  FROM ($acc) GROUP BY id, pos)""".stripMargin
    (init +: rounds :+ res).mkString(",\n")
  }

  /** Deterministic random walks (gds.randomWalk — the corpus generator
    * node2vec/DeepWalk train on): from every start node, `steps` hops
    * where hop `t` picks out-neighbor index `md5(walk_id:t) % deg` — a
    * hash-derived pseudo-random choice, so walks are uniform-ish per
    * step yet bit-reproducible across runs AND engines (an RNG would be
    * neither). Neighbor indexing is `row_number` per source ordered by
    * dst (partitioned window, degree-bounded). Dead-end nodes simply
    * end their walk (inner join drops it). Returns `(walk_id, step,
    * node)` including step 0.
    *
    * Scale: the walk frontier is |starts| rows hopping through
    * node-keyed joins — constant rounds, walk count independent of
    * graph size. Twin: [[randomWalksCtesSql]]. */
  def randomWalks(edges: DataFrame, startMax: Long, steps: Int): DataFrame = {
    val e = edges.select(col("src"), col("dst")).distinct().cache()
    // r17 (guide §2.4 — fewer joins per round): neighbor lists held as
    // ONE dst-sorted array per node, so each step is a single node-keyed
    // join + element_at pick. The old form paid TWO joins per step (a
    // degree join for the modulus, then a (node, idx) equi-join into the
    // row_number-indexed adjacency); `element_at(sorted_nbrs, pick + 1)`
    // is the identical neighbor — row_number over (src ORDER BY dst)
    // minus one IS the index into the dst-sorted array, and e is
    // distinct so the order is total. Twin unchanged; picks identical.
    // r17 (guide §2.6): the two init pins are independent (both read the
    // cached edge set) — overlap them.
    val (nbrs, cur0) = graft.plans.Par.both(
      e.groupBy(col("src").as("n_src"))
        .agg(sort_array(collect_list(col("dst"))).as("nbrs")).pinned,
      e.select(col("src")).distinct()
        .filter(col("src") < startMax)
        .select(col("src").as("walk_id"), col("src").as("node"))
        .pinned)
    var cur = cur0
    val acc = scala.collection.mutable.ArrayBuffer(
      cur.withColumn("step", lit(0)))
    for (t <- 1 to steps) {
      cur = cur.join(nbrs, cur("node") === col("n_src"))
        .select(col("walk_id"),
          element_at(col("nbrs"),
            (graft.functions.TextFns.md5Hash54(concat(
              col("walk_id").cast("string"), lit(":"),
              lit(t).cast("string")))
              % size(col("nbrs")) + 1L).cast("int")).as("node"))
        .pinned
      acc += cur.withColumn("step", lit(t))
    }
    e.unpersist()
    acc.reduce(_ unionByName _)
      .select(col("walk_id"), col("step"), col("node"))
  }

  /** DuckDB twin of [[randomWalks]] over `edgesCte(src, dst)` (distinct);
    * walk rows in `rwall(walk_id, step, node)`. */
  def randomWalksCtesSql(edgesCte: String, startMax: Long,
      steps: Int): String = {
    val init =
      s"""rwadj AS MATERIALIZED (SELECT src, dst,
         |    ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) - 1 AS idx
         |  FROM $edgesCte),
         |rwdeg AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM $edgesCte GROUP BY src),
         |rw0 AS MATERIALIZED (SELECT src AS walk_id, src AS node
         |  FROM (SELECT DISTINCT src FROM $edgesCte) WHERE src < $startMax)""".stripMargin
    val rounds = (1 to steps).map { t =>
      s"""rw$t AS MATERIALIZED (SELECT w.walk_id, a.dst AS node
         |  FROM rw${t - 1} w
         |  JOIN rwdeg d ON d.src = w.node
         |  JOIN rwadj a ON a.src = w.node
         |   AND a.idx = CAST(('0x' || substr(md5(CAST(w.walk_id AS VARCHAR) || ':$t'), 1, 14)) AS BIGINT) % d.deg)""".stripMargin
    }
    val all = "rwall AS (" +
      (0 to steps).map(t => s"SELECT walk_id, $t AS step, node FROM rw$t")
        .mkString(" UNION ALL ") + ")"
    (init +: rounds :+ all).mkString(",\n")
  }

  /** node2vec-biased SECOND-ORDER walks (Grover & Leskovec, KDD 2016;
    * gds.node2vec's walk stage): hop `t` weights each out-neighbor of
    * the current node by its relation to the PREVIOUS node — `wReturn`
    * for going back, `wCommon` when `prev→nbr` is itself an edge
    * (distance-1 "BFS-ish" move), `wFar` otherwise ("DFS-ish") — the
    * integer analogs of node2vec's 1/p, 1, 1/q. Selection is the
    * deterministic weighted draw: neighbors ordered by id carry a
    * cumulative weight, and `md5(walk_id:t) % totalWeight` picks the
    * bracket — reproducible across runs and engines, unlike alias-table
    * RNG sampling. Step 1 is a uniform first-order hop ([[randomWalks]]'
    * rule). All arithmetic integer; twin [[node2vecWalksCtesSql]].
    *
    * Per step: one neighbor join, one LEFT probe of the edge set for the
    * distance-1 test, one walk-keyed window over ≤ degree rows. Frontier
    * stays |starts| rows. */
  def node2vecWalks(edges: DataFrame, startMax: Long, steps: Int,
      wReturn: Long = 2L, wCommon: Long = 6L, wFar: Long = 3L): DataFrame = {
    val e = edges.select(col("src"), col("dst")).distinct().cache()
    // r17 (guide §2.6): three independent init pins over the cached edge
    // set — overlapped.
    val (adjR, probe, cur0) = graft.plans.Par.three(
      e.select(col("src").as("a_src"), col("dst").as("a_dst")).pinned,
      e.select(col("src").as("p_src"), col("dst").as("p_dst")).pinned,
      e.select(col("src")).distinct()
        .filter(col("src") < startMax)
        .select(col("src").as("walk_id"), col("src").as("prev"),
          col("src").as("node"))
        .pinned)
    var cur = cur0
    val acc = scala.collection.mutable.ArrayBuffer(
      cur.select(col("walk_id"), lit(0).as("step"), col("node")))
    for (t <- 1 to steps) {
      val hash = graft.functions.TextFns.md5Hash54(concat(
        col("walk_id").cast("string"), lit(":"), lit(t).cast("string")))
      val stepped =
        if (t == 1) {
          // uniform first-order hop: no previous node yet
          val deg = e.groupBy(col("src").as("d_src"))
            .agg(count(lit(1)).as("deg"))
          val idx = adjR.withColumn("idx",
            row_number().over(Window.partitionBy(col("a_src"))
              .orderBy(col("a_dst"))).cast("long") - 1L)
          cur.join(deg, col("node") === col("d_src"))
            .withColumn("pick", hash % col("deg"))
            .join(idx, col("node") === col("a_src") && col("pick") === col("idx"))
            .select(col("walk_id"), col("node").as("prev"),
              col("a_dst").as("node"))
        } else {
          val w = Window.partitionBy(col("walk_id")).orderBy(col("a_dst"))
          cur.join(adjR, col("node") === col("a_src"))
            .join(probe, col("prev") === col("p_src") &&
              col("a_dst") === col("p_dst"), "left")
            .withColumn("wt",
              when(col("a_dst") === col("prev"), lit(wReturn))
                .when(col("p_dst").isNotNull, lit(wCommon))
                .otherwise(lit(wFar)))
            .withColumn("cumw", sum(col("wt")).over(
              w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
            .withColumn("tot", sum(col("wt")).over(
              Window.partitionBy(col("walk_id"))))
            .withColumn("r", hash % col("tot"))
            .filter(col("cumw") > col("r") &&
              col("cumw") - col("wt") <= col("r"))
            .select(col("walk_id"), col("node").as("prev"),
              col("a_dst").as("node"))
        }
      cur = stepped.pinned
      acc += cur.select(col("walk_id"), lit(t).as("step"), col("node"))
    }
    e.unpersist()
    acc.reduce(_ unionByName _)
      .select(col("walk_id"), col("step"), col("node"))
  }

  /** DuckDB twin of [[node2vecWalks]]; walk rows in
    * `nvall(walk_id, step, node)`. */
  def node2vecWalksCtesSql(edgesCte: String, startMax: Long, steps: Int,
      wReturn: Long = 2L, wCommon: Long = 6L, wFar: Long = 3L): String = {
    def hashSql(t: Int) =
      s"CAST(('0x' || substr(md5(CAST(w.walk_id AS VARCHAR) || ':$t'), 1, 14)) AS BIGINT)"
    val init =
      s"""nvadj AS MATERIALIZED (SELECT src, dst,
         |    ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) - 1 AS idx
         |  FROM $edgesCte),
         |nvdeg AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM $edgesCte GROUP BY src),
         |nv0 AS MATERIALIZED (SELECT src AS walk_id, src AS prev, src AS node
         |  FROM (SELECT DISTINCT src FROM $edgesCte) WHERE src < $startMax),
         |nv1 AS MATERIALIZED (SELECT w.walk_id, w.node AS prev, a.dst AS node
         |  FROM nv0 w
         |  JOIN nvdeg d ON d.src = w.node
         |  JOIN nvadj a ON a.src = w.node
         |   AND a.idx = ${hashSql(1)} % d.deg)""".stripMargin
    val rounds = (2 to steps).map { t =>
      s"""nvc$t AS MATERIALIZED (SELECT w.walk_id, w.node, a.dst AS nbr,
         |    CASE WHEN a.dst = w.prev THEN $wReturn
         |         WHEN p.dst IS NOT NULL THEN $wCommon
         |         ELSE $wFar END AS wt,
         |    ${hashSql(t)} AS h
         |  FROM nv${t - 1} w
         |  JOIN $edgesCte a ON a.src = w.node
         |  LEFT JOIN $edgesCte p ON p.src = w.prev AND p.dst = a.dst),
         |nv$t AS MATERIALIZED (SELECT walk_id, node AS prev, nbr AS node FROM (
         |    SELECT walk_id, node, nbr, wt,
         |      SUM(wt) OVER (PARTITION BY walk_id ORDER BY nbr
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
         |      h % SUM(wt) OVER (PARTITION BY walk_id) AS r
         |    FROM nvc$t)
         |  WHERE cumw > r AND cumw - wt <= r)""".stripMargin
    }
    val all = "nvall AS (" +
      (0 to steps).map(t => s"SELECT walk_id, $t AS step, node FROM nv$t")
        .mkString(" UNION ALL ") + ")"
    ((init +: rounds) :+ all).mkString(",\n")
  }

  /** k-truss by bounded support peeling (Cohen 2008): each round counts
    * every surviving edge's triangle support (|N(a) ∩ N(b)| within the
    * surviving set, via the oriented u<v<w wedge join — each triangle
    * materializes once) and drops edges with support < k−2. FIXED round
    * count on both engines (a no-op once stable), so the unrolled
    * [[kTrussCtesSql]] twin is hash-identical by construction — the
    * kCoreFixed discipline, lifted from nodes to edges. The k-truss is
    * the standard community-core filter one notch stronger than k-core
    * (every k-truss edge is inside a (k−1)-core).
    *
    * Scale: the wedge join is the triangle-counting join (one shuffle on
    * the shared lower endpoint; hub cost bounded by orientation), support
    * aggregation keys on edges — no per-node state, rounds fixed. */
  def kTruss(edges: DataFrame, k: Int, rounds: Int = 8): DataFrame = {
    var e = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct().pinned
    for (_ <- 1 to rounds) {
      val tri = e.select(col("a").as("u"), col("b").as("v"))
        .join(e.select(col("a").as("u2"), col("b").as("w")),
          col("u") === col("u2") && col("w") > col("v"))
        .join(e.select(col("a").as("v2"), col("b").as("w2")),
          col("v") === col("v2") && col("w") === col("w2"))
        .select(col("u"), col("v"), col("w"))
      val support = tri.select(col("u").as("a"), col("v").as("b"))
        .unionAll(tri.select(col("u").as("a"), col("w").as("b")))
        .unionAll(tri.select(col("v").as("a"), col("w").as("b")))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("sup"))
      e = e.join(support, Seq("a", "b"), "left")
        .filter(coalesce(col("sup"), lit(0L)) >= k - 2)
        .select(col("a"), col("b")).pinned
    }
    e
  }

  /** DuckDB twin of [[kTruss]] over `edgesCte(src, dst)`: CTE chain
    * ending in `kt$rounds(a, b)`. */
  def kTrussCtesSql(edgesCte: String, k: Int, rounds: Int = 8): String = {
    val init =
      s"""kt0 AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a,
         |    greatest(src, dst) AS b
         |  FROM $edgesCte WHERE src <> dst)""".stripMargin
    val rs = (1 to rounds).map { t =>
      s"""ktt$t AS (SELECT e1.a AS u, e1.b AS v, e2.b AS w
         |  FROM kt${t - 1} e1
         |  JOIN kt${t - 1} e2 ON e2.a = e1.a AND e2.b > e1.b
         |  JOIN kt${t - 1} e3 ON e3.a = e1.b AND e3.b = e2.b),
         |kts$t AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS sup FROM (
         |    SELECT u AS a, v AS b FROM ktt$t
         |    UNION ALL SELECT u, w FROM ktt$t
         |    UNION ALL SELECT v, w FROM ktt$t) GROUP BY a, b),
         |kt$t AS MATERIALIZED (SELECT e.a, e.b FROM kt${t - 1} e
         |  LEFT JOIN kts$t s ON s.a = e.a AND s.b = e.b
         |  WHERE COALESCE(s.sup, 0) >= ${k - 2})""".stripMargin
    }
    (init +: rs).mkString(",\n")
  }

  /** Walk-window skip-gram co-occurrence counts: ordered (center,
    * context) pairs within ±`window` positions over [[randomWalks]] /
    * [[node2vecWalks]] output `(walk_id, step, node)` — the corpus
    * statistic word2vec/DeepWalk actually train on (Levy & Goldberg,
    * NeurIPS 2014 show skip-gram with negative sampling implicitly
    * factorizes this table's shifted PMI; node2vec = the same objective
    * over walk corpora). Pure integer counting.
    *
    * Scale: the self-join is keyed on walk_id (≤ walk-length rows per
    * key — no hub blowup possible), the groupBy on node pairs; both are
    * plain hash shuffles, and the pair space is bounded by
    * |walks|·len·window, independent of graph size. */
  def walkCooccurrence(walks: DataFrame, window: Int,
      minCount: Long = 1L): DataFrame = {
    val a = walks.select(col("walk_id").as("wa"), col("step").as("sa"),
      col("node").as("na"))
    val b = walks.select(col("walk_id").as("wb"), col("step").as("sb"),
      col("node").as("nb"))
    val cooc = a.join(b, col("wa") === col("wb") && col("sb") =!= col("sa") &&
        col("sb") >= col("sa") - window && col("sb") <= col("sa") + window)
      .groupBy(col("na").as("node_a"), col("nb").as("node_b"))
      .agg(count(lit(1)).as("cnt"))
    // minCount: the 100× knob (word2vec's min_count) — if the distinct
    // pair table is the bill at scale, pruning singletons bounds it while
    // barely moving the PPMI spectrum (singleton pairs carry the least
    // mass). Default 1 = the oracle's exact formulation.
    if (minCount <= 1L) cooc else cooc.filter(col("cnt") >= minCount)
  }

  /** SQL twin of [[walkCooccurrence]] over `walksCte(walk_id, step,
    * node)` → `cooc(node_a, node_b, cnt)`. */
  def walkCoocCteSql(walksCte: String, window: Int): String =
    s"""cooc AS MATERIALIZED (
       |  SELECT a.node AS node_a, b.node AS node_b, COUNT(*) AS cnt
       |  FROM $walksCte a JOIN $walksCte b
       |    ON a.walk_id = b.walk_id AND b.step <> a.step
       |   AND b.step BETWEEN a.step - $window AND a.step + $window
       |  GROUP BY a.node, b.node)""".stripMargin

  /** 1-D NetMF-style node embedding (Qiu et al., WSDM 2018): the
    * dominant eigenvector of the walk-corpus PPMI matrix — the spectral
    * factor skip-gram training approximates — via sparse power iteration
    * under the exact-grid discipline of [[Embeddings.powerVector]].
    *
    * PPMI(a,b) = max(0, ln(cnt·T / (row_a·row_b))) where T = Σcnt and
    * row_x = Σ_b cnt(x,·). The ONE transcendental — ln of an exact
    * rational — is snapped to the 1e-6 grid AT MATRIX BUILD (`floor(
    * ln·1e6 + ½)/1e6`), so both engines iterate on identical rationals
    * thereafter: each power step snaps the m·w terms to the grid before
    * the BIGINT sum, and the norm divide / sqrt are single
    * correctly-rounded IEEE ops of exact operands.
    *
    * Scale: M stays sparse (one row per co-occurring pair — never a
    * dense d×d or n×n); each step is one pair-keyed join, one node
    * groupBy, and a 1-row broadcast norm. Completes the walk stack:
    * [[randomWalks]] → [[walkCooccurrence]] → learned embedding. */
  /** The grid-snapped PPMI matrix shared by [[pmiEmbed]] /
    * [[pmiEmbed2]]: (node_a, node_b, m). */
  private def ppmiMatrix(cooc: DataFrame): DataFrame = {
    // r17: cooc has THREE consumers here (total, marginals, the matrix
    // join) and arrives as an unmaterialized join+agg over the walk
    // corpus — unpinned, the whole co-occurrence derivation ran three
    // times (the r8 two-consumer rule, missed at this seam). One pin,
    // identical values.
    val c = Pins.pin(cooc)
    val tot = c.agg(sum(col("cnt")).cast("double").as("t"))
    val marg = c.groupBy(col("node_a").as("mid"))
      .agg(sum(col("cnt")).cast("double").as("mc"))
    c
      .join(marg.select(col("mid").as("node_a"), col("mc").as("ra")), "node_a")
      .join(marg.select(col("mid").as("node_b"), col("mc").as("rb")), "node_b")
      .crossJoin(broadcast(tot))
      .select(col("node_a"), col("node_b"),
        (greatest(lit(0L),
          floor(log(col("cnt").cast("double") * col("t") /
            (col("ra") * col("rb"))) * lit(1e6) + lit(0.5)).cast("long"))
          .cast("double") / lit(1e6)).as("m"))
      .pinned
  }

  /** One snapped mat-vec: u_a = Σ_b snap(m_ab·w_b). */
  private def pmiMatVec(m: DataFrame, w: DataFrame): DataFrame =
    m.join(w.select(col("id").as("node_b"), col("w")), "node_b")
      .groupBy(col("node_a").as("id"))
      .agg((sum(floor(col("m") * col("w") * lit(1e6) + lit(0.5))
        .cast("long")).cast("double") / lit(1e6)).as("u"))

  /** Normalize `(id, u)` to unit length under the grid norm. */
  private def pmiNormalize(u: DataFrame): DataFrame = {
    val nrm = u.agg(sqrt(
      sum(floor(col("u") * col("u") * lit(1e6) + lit(0.5)).cast("long"))
        .cast("double") / lit(1e6)).as("nrm"))
    u.crossJoin(broadcast(nrm))
      .select(col("id"), (col("u") / col("nrm")).as("w")).pinned
  }

  private def pmiPower(m: DataFrame, iters: Int): DataFrame = {
    var w = m.select(col("node_a").as("id")).distinct()
      .withColumn("w", lit(1.0)).pinned
    for (_ <- 1 to iters) w = pmiNormalize(pmiMatVec(m, w))
    w
  }

  def pmiEmbed(cooc: DataFrame, iters: Int): DataFrame =
    pmiPower(ppmiMatrix(cooc), iters)
      .select(col("id"), col("w").as("emb"))

  /** 2-D NetMF embedding via DEFLATION: the top eigenvector v₁ as in
    * [[pmiEmbed]], then the second by power iteration on the implicitly
    * deflated M − λ₁·v₁v₁ᵀ — the matrix itself is never modified; each
    * step subtracts the rank-1 correction `λ₁·v₁_a·(v₁ᵀw)` from the
    * sparse mat-vec. λ₁ = v₁ᵀ(M·v₁) with every product snapped to the
    * 1e-6 grid, so both engines carry identical rationals end to end
    * and even the second component hashes. Scale shape unchanged: one
    * sparse join + a 1-row broadcast per step (the correction adds one
    * snapped scalar product). */
  def pmiEmbed2(cooc: DataFrame, iters: Int): DataFrame = {
    val m = ppmiMatrix(cooc)
    val v1 = pmiPower(m, iters)
    // λ1 = Σ_a snap(v1_a · (M·v1)_a)
    val mv1 = pmiMatVec(m, v1)
    val lam = v1.join(mv1, "id")
      .agg((sum(floor(col("w") * col("u") * lit(1e6) + lit(0.5))
        .cast("long")).cast("double") / lit(1e6)).as("lam"))
    var w2 = m.select(col("node_a").as("id")).distinct()
      // all-ones start has a v1 component; deflation removes it anyway
      .withColumn("w", lit(1.0)).pinned
    for (_ <- 1 to iters) {
      val mw = pmiMatVec(m, w2)
      // s = snap-sum(v1_a · w_a), 1-row
      val s = v1.select(col("id").as("sid"), col("w").as("v1w"))
        .join(w2.select(col("id").as("sid"), col("w").as("ww")), "sid")
        .agg((sum(floor(col("v1w") * col("ww") * lit(1e6) + lit(0.5))
          .cast("long")).cast("double") / lit(1e6)).as("s"))
      val u = mw.join(v1.select(col("id"), col("w").as("v1a")), Seq("id"))
        .crossJoin(broadcast(lam)).crossJoin(broadcast(s))
        .select(col("id"),
          (col("u") -
            floor(col("lam") * col("v1a") * col("s") * lit(1e6) + lit(0.5))
              .cast("long").cast("double") / lit(1e6)).as("u"))
      w2 = pmiNormalize(u)
    }
    v1.select(col("id"), col("w").as("emb1"))
      .join(w2.select(col("id"), col("w").as("emb2")), Seq("id"))
  }

  /** SQL twin of [[pmiEmbed]] over `cooc(node_a, node_b, cnt)`: CTE
    * chain ending in `pw$iters(id, w)`. Same grid constants, same snap
    * points. */
  def pmiEmbedCtesSql(iters: Int): String = {
    val init =
      s"""ptot AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS t FROM cooc),
         |pmarg AS (SELECT node_a AS mid, CAST(SUM(cnt) AS DOUBLE) AS mc
         |          FROM cooc GROUP BY node_a),
         |pm AS MATERIALIZED (SELECT c.node_a, c.node_b,
         |    CAST(GREATEST(CAST(0 AS BIGINT),
         |      CAST(FLOOR(ln(CAST(c.cnt AS DOUBLE) * ptot.t / (ra.mc * rb.mc))
         |        * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 AS m
         |  FROM cooc c
         |  JOIN pmarg ra ON ra.mid = c.node_a
         |  JOIN pmarg rb ON rb.mid = c.node_b
         |  CROSS JOIN ptot),
         |pw0 AS MATERIALIZED (SELECT DISTINCT node_a AS id, 1.0 AS w FROM pm)""".stripMargin
    val rounds = (1 to iters).map { t =>
      s"""pu$t AS MATERIALIZED (SELECT m.node_a AS id,
         |    CAST(SUM(CAST(FLOOR(m.m * w.w * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
         |      / 1000000.0 AS u
         |  FROM pm m JOIN pw${t - 1} w ON w.id = m.node_b
         |  GROUP BY m.node_a),
         |pn$t AS (SELECT sqrt(
         |    CAST(SUM(CAST(FLOOR(u * u * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
         |      / 1000000.0) AS nrm FROM pu$t),
         |pw$t AS MATERIALIZED (SELECT id, u / nrm AS w FROM pu$t CROSS JOIN pn$t)""".stripMargin
    }
    (init +: rounds).mkString(",\n")
  }

  /** SQL twin of [[pmiEmbed2]]: [[pmiEmbedCtesSql]]'s chain (v₁ =
    * `pw$iters`) extended with λ₁ and the deflated second power loop —
    * ends in `pq$iters(id, w)`. */
  def pmiEmbed2CtesSql(iters: Int): String = {
    val base = pmiEmbedCtesSql(iters)
    val v1 = s"pw$iters"
    val lam =
      s"""pmv AS MATERIALIZED (SELECT m.node_a AS id,
         |    CAST(SUM(CAST(FLOOR(m.m * w.w * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
         |      / 1000000.0 AS u
         |  FROM pm m JOIN $v1 w ON w.id = m.node_b GROUP BY m.node_a),
         |plam AS MATERIALIZED (SELECT
         |    CAST(SUM(CAST(FLOOR(v.w * mv.u * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
         |      / 1000000.0 AS lam
         |  FROM $v1 v JOIN pmv mv ON mv.id = v.id),
         |pq0 AS MATERIALIZED (SELECT DISTINCT node_a AS id, 1.0 AS w FROM pm)""".stripMargin
    val rounds = (1 to iters).map { t =>
      s"""pqm$t AS MATERIALIZED (SELECT m.node_a AS id,
         |    CAST(SUM(CAST(FLOOR(m.m * w.w * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
         |      / 1000000.0 AS u
         |  FROM pm m JOIN pq${t - 1} w ON w.id = m.node_b GROUP BY m.node_a),
         |pqs$t AS (SELECT
         |    CAST(SUM(CAST(FLOOR(v.w * q.w * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
         |      / 1000000.0 AS s
         |  FROM $v1 v JOIN pq${t - 1} q ON q.id = v.id),
         |pqu$t AS MATERIALIZED (SELECT mw.id,
         |    mw.u - CAST(CAST(FLOOR(plam.lam * v.w * pqs$t.s * 1000000.0 + 0.5)
         |      AS BIGINT) AS DOUBLE) / 1000000.0 AS u
         |  FROM pqm$t mw JOIN $v1 v ON v.id = mw.id
         |  CROSS JOIN plam CROSS JOIN pqs$t),
         |pqn$t AS (SELECT sqrt(
         |    CAST(SUM(CAST(FLOOR(u * u * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
         |      / 1000000.0) AS nrm FROM pqu$t),
         |pq$t AS MATERIALIZED (SELECT id, u / nrm AS w FROM pqu$t CROSS JOIN pqn$t)""".stripMargin
    }
    (base +: lam +: rounds).mkString(",\n")
  }

  /** SQL twin of [[triangles]] over an edge CTE `(src, dst)` — same
    * orientation, same wedge order, same nullif guard. */
  def trianglesSql(edgeCte: String): String =
    s"""und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |        FROM $edgeCte WHERE src <> dst),
       |dg AS (SELECT id, COUNT(*) AS deg
       |       FROM (SELECT a AS id FROM und UNION ALL SELECT b FROM und)
       |       GROUP BY id),
       |ord AS (SELECT CASE WHEN (da.deg < db.deg) OR (da.deg = db.deg AND u.a < u.b)
       |                    THEN u.a ELSE u.b END AS u,
       |               CASE WHEN (da.deg < db.deg) OR (da.deg = db.deg AND u.a < u.b)
       |                    THEN u.b ELSE u.a END AS v,
       |               CASE WHEN (da.deg < db.deg) OR (da.deg = db.deg AND u.a < u.b)
       |                    THEN db.deg ELSE da.deg END AS dv
       |        FROM und u JOIN dg da ON da.id = u.a JOIN dg db ON db.id = u.b),
       |wdg AS (SELECT e1.u AS x, e1.v AS y, e2.v AS z
       |        FROM ord e1 JOIN ord e2
       |          ON e1.u = e2.u
       |         AND ((e1.dv < e2.dv) OR (e1.dv = e2.dv AND e1.v < e2.v))),
       |tri AS (SELECT x, y, z FROM wdg JOIN ord o ON o.u = wdg.y AND o.v = wdg.z),
       |pn AS (SELECT id, COUNT(*) AS tri
       |       FROM (SELECT x AS id FROM tri UNION ALL SELECT y FROM tri
       |             UNION ALL SELECT z FROM tri)
       |       GROUP BY id)""".stripMargin
}
