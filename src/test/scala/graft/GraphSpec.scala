package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Graph

/** Known-answer micro-graphs for the iterative algorithms (FIXTURES.md
  * §A5): 3-cycle PageRank = 1/3 each, path-graph betweenness center,
  * two-component CC, identical-neighbor Jaccard = 1.0. */
class GraphSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def edges(es: (Long, Long)*) = es.toSeq.toDF("src", "dst")

  test("connectedComponents separates two components, min label wins") {
    val cc = Graph.connectedComponents(
      edges(1L -> 2L, 2L -> 3L, 10L -> 11L))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc(1L) == 1L && cc(2L) == 1L && cc(3L) == 1L)
    assert(cc(10L) == 10L && cc(11L) == 10L)
  }

  test("kTruss keeps K4, peels pendant edges and pure triangles at k=4") {
    // K4 on 1..4 (every edge in 2 triangles — a 4-truss), a pendant edge
    // 4-9, and a separate triangle 10-11-12 (support 1 < 2 → peeled)
    val g = edges(1L -> 2L, 1L -> 3L, 1L -> 4L, 2L -> 3L, 2L -> 4L,
      3L -> 4L, 4L -> 9L, 10L -> 11L, 10L -> 12L, 11L -> 12L)
    val kept = Graph.kTruss(g, k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(kept == Set((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L)))
  }

  test("star-contraction CC equals min-label CC (chains, merges, isolates)") {
    // two chains bridged late + a separate pair: exercises multi-round
    // contraction and the star-forest readout
    val g = edges(9L -> 8L, 8L -> 7L, 7L -> 6L, 1L -> 2L, 2L -> 3L,
      3L -> 6L, 20L -> 21L)
    val star = Graph.connectedComponentsStar(g)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cc = Graph.connectedComponents(g, maxIters = 50)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(star == cc)
    assert(star(9L) == 1L && star(20L) == 20L && star(21L) == 20L)
  }

  test("star CC converges on a 300-chain where 30-round min-label cannot") {
    // the diameter argument, concretely: min-label moves the min ONE hop
    // per round, so 30 rounds leave far nodes of a 300-chain mislabeled;
    // star contraction halves depth per round and finishes in ~log n
    val chain = (0L until 299L).map(i => i -> (i + 1)).toDF("src", "dst")
    val partial = Graph.connectedComponents(chain, maxIters = 30)
      .select("component").distinct().count()
    assert(partial > 1, "30-round min-label should NOT have converged")
    val star = Graph.connectedComponentsStar(chain)
      .select("component").distinct().count()
    assert(star == 1L)
  }

  test("SCC splits two cycles joined by a one-way edge (weak-CC merges them)") {
    // 1→2→3→1 and 4→5→6→4 joined by 3→4: ONE weak component, TWO SCCs
    val g = edges(1L -> 2L, 2L -> 3L, 3L -> 1L,
      4L -> 5L, 5L -> 6L, 6L -> 4L, 3L -> 4L)
    val weak = Graph.connectedComponents(g)
      .select("component").distinct().count()
    assert(weak == 1L)
    val scc = Graph.stronglyConnectedComponents(g)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L).forall(scc(_) == 1L))
    assert(Seq(4L, 5L, 6L).forall(scc(_) == 4L))
  }

  test("walkCooccurrence counts ±window skip-gram pairs") {
    val walks = Seq((0L, 0, 10L), (0L, 1, 11L), (0L, 2, 12L))
      .toDF("walk_id", "step", "node")
    val c1 = Graph.walkCooccurrence(walks, 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(c1 == Map((10L, 11L) -> 1L, (11L, 10L) -> 1L,
      (11L, 12L) -> 1L, (12L, 11L) -> 1L))
    val c2 = Graph.walkCooccurrence(walks, 2)
    assert(c2.count() == 6) // window 2 adds the (10,12)/(12,10) pair
  }

  test("pmiEmbed converges to the symmetric eigenvector on a 2-node corpus") {
    val cooc = Seq((1L, 2L, 2L), (2L, 1L, 2L)).toDF("node_a", "node_b", "cnt")
    val emb = Graph.pmiEmbed(cooc, 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // PPMI matrix is symmetric with equal rows → eigenvector (1/√2, 1/√2)
    assert(math.abs(emb(1L) - math.sqrt(0.5)) < 1e-3)
    assert(math.abs(emb(2L) - math.sqrt(0.5)) < 1e-3)
  }

  test("pmiEmbed2 recovers both blocks of a block-diagonal PPMI matrix") {
    // two disjoint pairs with different association strength: the top
    // eigenvector lives on the strong block, the deflated second on the
    // weak one (within power-iteration separation tolerance)
    val cooc = Seq((1L, 2L, 4L), (2L, 1L, 4L), (3L, 4L, 1L), (4L, 3L, 1L))
      .toDF("node_a", "node_b", "cnt")
    val out = Graph.pmiEmbed2(cooc, 8)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2))))
      .toMap
    val r = math.sqrt(0.5)
    // lift(3,4) = 10 > lift(1,2) = 2.5 → block {3,4} dominates
    assert(math.abs(out(3L)._1 - r) < 1e-2 && math.abs(out(4L)._1 - r) < 1e-2)
    assert(math.abs(out(1L)._1) < 1e-2 && math.abs(out(2L)._1) < 1e-2)
    assert(math.abs(out(1L)._2 - r) < 1e-2 && math.abs(out(2L)._2 - r) < 1e-2)
    assert(math.abs(out(3L)._2) < 1e-1 && math.abs(out(4L)._2) < 1e-1)
  }

  test("SCC labels a DAG all-singleton and a chain in one round") {
    // chain 1→2→3→4: every node its own SCC (canonical label = own id)
    val scc = Graph.stronglyConnectedComponents(
      edges(1L -> 2L, 2L -> 3L, 3L -> 4L))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 4L).forall(i => scc(i) == i))
  }

  test("kHopReach computes 2-hop closure on a path") {
    val r = Graph.kHopReach(edges(1L -> 2L, 2L -> 3L, 3L -> 4L), 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(r == Set((1L, 2L), (2L, 3L), (3L, 4L), (1L, 3L), (2L, 4L)))
    // 32-node chain at k = 31: the full closure, one new pair per source
    // per hop — 31 hops whose plans must not compound across hops
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val long = Graph.kHopReach(edges((1L to 31L).map(i => i -> (i + 1)): _*), 31)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(long.size == 496)
    assert(long == (for (i <- 1L to 32L; j <- i + 1 to 32L) yield (i, j)).toSet)
    // the 30 hop pins are released at the end of the call; only the base
    // edge pin and the result pin stay
    val left = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(left.size <= 2, s"hop storage left behind: ${left.size} RDDs")
  }

  test("kHopReach maxPairs cap stops expansion loudly, keeps completed hops") {
    // path 1→2→3→4: 1-hop = 3 pairs, 2-hop adds 2, 3-hop adds 1
    val chain = edges(1L -> 2L, 2L -> 3L, 3L -> 4L)
    val capped = Graph.kHopReach(chain, 3, maxPairs = Some(5L))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // hop 3 would reach 6 pairs > 5 → stops after hop 2
    assert(capped == Set((1L, 2L), (2L, 3L), (3L, 4L), (1L, 3L), (2L, 4L)))
    val uncapped = Graph.kHopReach(chain, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped == capped + ((1L, 4L)))
  }

  test("louvain merges the two-triangle fixture into its two communities") {
    val es = edges(1L -> 2L, 1L -> 3L, 2L -> 3L,
      4L -> 5L, 4L -> 6L, 5L -> 6L, 3L -> 4L)
    val labs = Graph.louvain(es, rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labs.size == 6)
    assert(labs(1L) == labs(2L) && labs(2L) == labs(3L))
    assert(labs(4L) == labs(5L) && labs(5L) == labs(6L))
    assert(labs(1L) != labs(4L))
    // the ascent reaches the fixture's optimal partition: Q = 5/14 exactly
    val q = Graph.modularity(es,
      Graph.louvain(es, rounds = 4).select(col("id"), col("label"))).head
    assert(q.getLong(0) == 70L && q.getLong(1) == 196L)
  }

  test("louvain is deterministic and stable once converged") {
    val es = edges(1L -> 2L, 1L -> 3L, 2L -> 3L,
      4L -> 5L, 4L -> 6L, 5L -> 6L, 3L -> 4L)
    val a = Graph.louvain(es, rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = Graph.louvain(es, rounds = 6) // extra rounds are no-ops
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
  }

  test("louvain2 merges the ring-of-cliques that one level cannot") {
    // 16 K4 cliques in a ring, one link edge per adjacent pair. Merging
    // adjacent cliques raises modularity iff n > 14 (Q_pairs − Q_singles
    // = 1/14 − 1/n), but a level-1 node move out of a clique always
    // scores negative (loses 3 intra edges, gains the 1 link) — the
    // resolution-limit fixture (Fortunato & Barthélemy 2007) where only
    // the contracted level-2 pass can merge.
    val n = 16
    val cliqueEdges = for {
      c <- 0 until n
      i <- 0 until 4
      j <- (i + 1) until 4
    } yield (c * 4L + i, c * 4L + j)
    val ringEdges = (0 until n).map { c =>
      (c * 4L, ((c + 1) % n) * 4L + 1)
    }
    val es = edges((cliqueEdges ++ ringEdges): _*)

    // level 1 finds exactly the cliques…
    val l1 = Graph.louvain(es, rounds = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val l1Comms = l1.groupBy(_._2).values.map(_.keys.toSet).toSet
    assert(l1Comms == (0 until n).map(c =>
      (0 until 4).map(i => c * 4L + i).toSet).toSet)

    // …and level 2 merges cliques (fewer communities, whole cliques only)
    val l2 = Graph.louvain2(es, rounds1 = 6, rounds2 = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(l2.size == 4 * n)
    val l2Sizes = l2.groupBy(_._2).values.map(_.size).toSeq
    assert(l2Sizes.size < n, s"level 2 did not merge: $l2Sizes")
    assert(l2Sizes.forall(_ % 4 == 0), "a level-2 community split a clique")

    // the merge is a genuine modularity ascent: Q(l2) > Q(l1), exactly
    def q(labs: Map[Long, Long]) = {
      val df = labs.toSeq.toDF("id", "label")
      val r = Graph.modularity(es, df).head
      (BigInt(r.getLong(0)), BigInt(r.getLong(1)))
    }
    val (n1, d1) = q(l1); val (n2, d2) = q(l2)
    assert(n2 * d1 > n1 * d2, s"Q did not improve: $n1/$d1 -> $n2/$d2")
    // determinism is covered by the g_louvain2 oracle: the DuckDB twin
    // unrolls the same rounds, so any run-to-run nondeterminism would
    // flake the hash compare; a second 60s fixture run adds nothing
  }

  test("articleRankFixed: deg+avgdeg divisor sheds mass vs pageRankFixed") {
    // 3-cycle: E=3, n=3 → avgDeg=1, so every contribution divides by
    // (1+1) instead of 1 — symmetric ranks strictly below PageRank's
    // (ArticleRank deliberately sheds mass from low-degree sources)
    val es = edges(1L -> 2L, 2L -> 3L, 3L -> 1L)
    val ar = Graph.articleRankFixed(es, iters = 15)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pr = Graph.pageRankFixed(es, iters = 15)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ar.size == 3 && ar.values.toSet.size == 1, s"asymmetric: $ar")
    assert(ar(1L) < pr(1L), s"ArticleRank did not shed mass: $ar vs $pr")
  }

  test("jaccardSimilarity: identical neighbor sets -> 1.0, excludes self") {
    // 1 and 2 both point at {10, 11}; 3 points at {10}.
    val j = Graph.jaccardSimilarity(
      edges(1L -> 10L, 1L -> 11L, 2L -> 10L, 2L -> 11L, 3L -> 10L), 0.0)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(j((1L, 2L)) == 1.0)
    assert(math.abs(j((1L, 3L)) - 0.5) < 1e-12)
    assert(!j.contains((1L, 1L)))
  }

  test("assortativity: star = -1, path P4 = -0.5 (hand-computed Newman r)") {
    // perfect star: every edge joins deg-3 hub to deg-1 leaf -> r = -1
    val star = Graph.assortativity(
      edges(1L -> 2L, 1L -> 3L, 1L -> 4L)).head
    assert(math.abs(star.getDouble(4) - (-1.0)) < 1e-12)
    // path 1-2-3-4: degrees 1,2,2,1; M=3, Σjk=8, Σ(j+k)=10, Σ(j²+k²)=18
    // -> num = 96-100 = -4, den = 108-100 = 8 -> r = -0.5
    val path = Graph.assortativity(
      edges(1L -> 2L, 2L -> 3L, 3L -> 4L)).head
    assert(path.getLong(0) == 3L)
    assert(math.abs(path.getDouble(4) - (-0.5)) < 1e-12)
  }

  test("overlapSimilarity: subset neighborhood -> 1.0 under min denominator") {
    // 1 -> {10, 11, 12}; 2 -> {10, 11}; 3 -> {12, 13}.
    // overlap(1,2) = 2/min(3,2) = 1.0 (2's set ⊂ 1's set);
    // jaccard(1,2) would be 2/3 — the metrics must disagree here.
    // overlap(1,3) = 1/min(3,2) = 0.5; overlap(2,3) = 0 (dropped).
    val o = Graph.overlapSimilarity(
      edges(1L -> 10L, 1L -> 11L, 1L -> 12L, 2L -> 10L, 2L -> 11L,
        3L -> 12L, 3L -> 13L), 0.0)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(o((1L, 2L)) == 1.0)
    assert(math.abs(o((1L, 3L)) - 0.5) < 1e-12)
    assert(!o.contains((2L, 3L)))
  }

  test("weightedJaccardSimilarity: hand-computed min/max weight sums") {
    // a=1: {x:3, y:1}; b=2: {x:1, y:1, z:2}.
    // Σmin = min(3,1)+min(1,1) = 2; Σmax = (4+4)−2 = 6 → 1/3.
    // Identical weighted neighborhoods (2 vs 3) → exactly 1.0.
    val e = Seq((1L, 10L, 3L), (1L, 11L, 1L), (2L, 10L, 1L), (2L, 11L, 1L),
        (2L, 12L, 2L), (3L, 10L, 1L), (3L, 11L, 1L), (3L, 12L, 2L))
      .toDF("src", "dst", "w")
    val wj = Graph.weightedJaccardSimilarity(e, 0.0)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(math.abs(wj((1L, 2L)) - 1.0 / 3.0) < 1e-12)
    assert(wj((2L, 3L)) == 1.0)
  }

  test("labelPropagation separates two triangles joined by a bridge") {
    val lpa = Graph.labelPropagation(
      edges(1L -> 2L, 1L -> 3L, 2L -> 3L, 4L -> 5L, 4L -> 6L, 5L -> 6L,
        3L -> 4L), iters = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lpa(1L) == lpa(2L) && lpa(2L) == lpa(3L))
    assert(lpa(4L) == lpa(5L) && lpa(5L) == lpa(6L))
    assert(lpa(1L) != lpa(4L))
  }

  test("projectViaClosure: REFERENCES*1..10 projection, hand-computed") {
    // pieces 1→2→…→12 (chain). Authors: 100 on piece 1, 200 on piece 11,
    // 300 on piece 12. Piece 1 reaches 11 in exactly 10 hops (in), but 12
    // in 11 hops (out); 11 reaches 12 in 1 hop.
    val chain = edges((1L to 11L).map(i => i -> (i + 1)): _*)
    val ends = Seq((100L, 1L), (200L, 11L), (300L, 12L))
      .toDF("entity", "node")
    val proj = Graph.projectViaClosure(ends, Graph.kHopReach(chain, 10))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(proj == Set((100L, 200L), (200L, 300L)))
  }

  test("projectViaClosure keeps self-citation self-loops (Cypher parity)") {
    // one author on both endpoints of a citation: a→a projects
    val ends = Seq((100L, 1L), (100L, 2L)).toDF("entity", "node")
    val proj = Graph.projectViaClosure(ends, Graph.kHopReach(edges(1L -> 2L), 10))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(proj == Set((100L, 100L)))
  }

  test("pageRankFixed: 3-cycle symmetric, ranks sum to ~1, matches float") {
    val pr = Graph.pageRankFixed(edges(1L -> 2L, 2L -> 3L, 3L -> 1L), iters = 30)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pr.length == 3)
    assert(pr.map(_._2).distinct.length == 1) // symmetry → identical BIGINTs
    pr.foreach { case (_, _, rank) => assert(math.abs(rank - 1.0 / 3) < 1e-9) }
  }

  test("pageRankFixed ranks the star hub highest, deterministic re-run") {
    val es = edges(2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L)
    val run1 = Graph.pageRankFixed(es, iters = 20)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val run2 = Graph.pageRankFixed(es, iters = 20)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(run1(1L) > run1(2L) * 3)
    assert(run1 == run2) // bit-identical across runs — the oracle contract
  }

  test("modularity: two triangles with a bridge = 70/196 exactly") {
    val es = edges(1L -> 2L, 1L -> 3L, 2L -> 3L, 4L -> 5L, 4L -> 6L,
      5L -> 6L, 3L -> 4L)
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 2L), (5L, 2L),
      (6L, 2L)).toDF("id", "label")
    val r = Graph.modularity(es, labels).collect().head
    assert(r.getLong(0) == 70L)   // q_num = 2m·w − Σd² = 2·7·12 − 98
    assert(r.getLong(1) == 196L)  // q_den = 4m² = 4·49
    assert(math.abs(r.getDouble(2) - 5.0 / 14) < 1e-15)
  }

  test("jaccardSimilarity degree cap excludes hubs from pair generation") {
    // 1 and 2 both point at {10, 11} (deg 2); 3 points at {10} (deg 1).
    val es = edges(1L -> 10L, 1L -> 11L, 2L -> 10L, 2L -> 11L, 3L -> 10L)
    val capped = Graph.jaccardSimilarity(es, 0.0, maxDegree = Some(1L))
      .collect()
    assert(capped.isEmpty) // only node 3 survives the cap → no pairs
    val loose = Graph.jaccardSimilarity(es, 0.0, maxDegree = Some(2L))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(loose((1L, 2L)) == 1.0) // cap above every degree = uncapped
  }

  test("overlap and weighted jaccard honour the degree cap like jaccard") {
    // 1 and 2 both point at {10, 11} (deg 2); 3 points at {10} (deg 1):
    // cap 1 leaves only node 3, cap 2 is above every degree = uncapped
    val es = Seq((1L, 10L, 1L), (1L, 11L, 1L), (2L, 10L, 1L), (2L, 11L, 1L),
      (3L, 10L, 1L)).toDF("src", "dst", "w")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs(Graph.overlapSimilarity(es, 0.0, maxDegree = Some(1L))).isEmpty)
    assert(pairs(Graph.weightedJaccardSimilarity(es, 0.0,
      maxDegree = Some(1L))).isEmpty)
    val o = pairs(Graph.overlapSimilarity(es, 0.0, maxDegree = Some(2L)))
    assert(o == Map((1L, 2L) -> 1.0, (1L, 3L) -> 1.0, (2L, 3L) -> 1.0), s"$o")
    val wj = pairs(Graph.weightedJaccardSimilarity(es, 0.0,
      maxDegree = Some(2L)))
    assert(wj((1L, 2L)) == 1.0 && math.abs(wj((1L, 3L)) - 0.5) < 1e-12, s"$wj")
  }

  test("capped jaccard construction is lazy; excluded hubs observable") {
    val es = edges(1L -> 10L, 1L -> 11L, 2L -> 10L, 2L -> 11L, 3L -> 10L)
    val n = obs.QueryProfile.during(spark) {
      Graph.jaccardSimilarity(es, 0.0, maxDegree = Some(1L))
        .queryExecution.executedPlan
    }.jobs
    assert(n == 0, s"capped jaccard construction launched $n job(s)")
    val hubs = Graph.jaccardExcludedHubs(es, 1L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hubs == Map(1L -> 2L, 2L -> 2L))
  }

  test("modularity: unlabeled nodes count in m but not in w or Σd²") {
    // triangle {1,2,3} labeled, bridge to unlabeled 4: m=4 (all edges),
    // w counts only intra-label directed pairs (6), Σd² over labeled only
    // (2+2+3)² = 49 → q_num = 2·4·6 − 49 = −1, q_den = 64
    val es = edges(1L -> 2L, 1L -> 3L, 2L -> 3L, 3L -> 4L)
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L)).toDF("id", "label")
    val r = Graph.modularity(es, labels).collect().head
    assert(r.getLong(0) == -1L)
    assert(r.getLong(1) == 64L)
  }

  test("betweennessFixed: path-graph center = 2.0 exactly, matches float") {
    val es = edges(1L -> 2L, 2L -> 3L, 3L -> 2L, 2L -> 1L)
    val b = Graph.betweennessFixed(es, Seq(1L, 2L, 3L), maxDepth = 5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(b(2L) == ((2000000000L, 2.0))) // σ=1 everywhere → no truncation
    assert(b.getOrElse(1L, (0L, 0.0))._1 == 0L)
    assert(b.getOrElse(3L, (0L, 0.0))._1 == 0L)
  }

  test("betweenness: path-graph center carries all pairs") {
    // two-way path 1-2-3-4-5, exact Brandes from all sources. maxDepth 8
    // is past the diameter (4): the BFS stops on its first empty level and
    // the backward sweep runs 4 levels. Interior node v carries every
    // ordered pair it separates: 2 → 2·(1·3), 3 → 2·(2·2), 4 → 2·(3·1).
    val b = Graph.betweennessFixed(
      edges(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L,
        2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 4L),
      Seq(1L, 2L, 3L, 4L, 5L), maxDepth = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(b(2L) == 6000000000L && b(3L) == 8000000000L &&
      b(4L) == 6000000000L, s"$b") // σ=1 everywhere → no truncation
    assert(b.getOrElse(1L, 0L) == 0L && b.getOrElse(5L, 0L) == 0L, s"$b")
  }

  test("triangles: K4 plus a pendant, hand-computed counts and coefficients") {
    // K4 on {1,2,3,4} (every node in 3 triangles, coeff 1.0) with a
    // pendant 5-1 (node 1: deg 4, still 3 triangles, coeff 0.5; node 5:
    // deg 1, no triangle, coeff NULL). Mixed edge directions on input -
    // canonicalization must not care.
    val tri = Graph.triangles(edges(
        1L -> 2L, 3L -> 1L, 1L -> 4L, 2L -> 3L, 4L -> 2L, 3L -> 4L, 5L -> 1L))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), if (r.isNullAt(3)) None else Some(r.getDouble(3))))).toMap
    assert(tri(1L) == ((4L, 3L, Some(0.5))))
    assert(tri(2L) == ((3L, 3L, Some(1.0))))
    assert(tri(3L) == ((3L, 3L, Some(1.0))))
    assert(tri(4L) == ((3L, 3L, Some(1.0))))
    assert(tri(5L) == ((1L, 0L, None)))
  }

  test("pageRankWeightedFixed: rank splits proportional to edge weight") {
    val we = Seq((1L, 2L, 9L), (1L, 3L, 1L)).toDF("src", "dst", "w")
    val pr = Graph.pageRankWeightedFixed(we, iters = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // node 1 has no in-edges: its rank IS the teleport term; subtracting
    // it isolates the weighted inflow, which must split 9:1
    val (c2, c3) = (pr(2L) - pr(1L), pr(3L) - pr(1L))
    assert(c3 > 0L && c2 > c3 * 8 && c2 < c3 * 10)
  }

  test("personalizedPageRankFixed: mass stays near the source set") {
    // two disjoint chains; personalize on {1} — the 3→4 chain gets 0.
    val ppr = Graph.personalizedPageRankFixed(
        edges(1L -> 2L, 3L -> 4L), Seq(1L), iters = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ppr(1L) > 0L && ppr(2L) > 0L)
    assert(ppr(3L) == 0L && ppr(4L) == 0L)
  }

  test("fastRP: deterministic; structurally equivalent nodes embed identically") {
    // 2 and 3 share the exact neighborhood {1}: every averaged round is
    // identical for them, and the embedding skips the round-0 noise.
    val g = edges(1L -> 2L, 1L -> 3L)
    val e1 = Graph.fastRpFixed(g, dim = 4, iters = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val e2 = Graph.fastRpFixed(g, dim = 4, iters = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(e1 == e2)                       // bit-identical re-run
    assert(e1.size == 12)                  // 3 nodes × 4 dims
    (0 until 4).foreach { p =>
      assert(e1((2L, p)) == e1((3L, p)))   // structural equivalence
    }
    assert((0 until 4).exists(p => e1((1L, p)) != e1((2L, p))))
  }

  test("kCoreFixed: K4 plus a tail — clique coreness 3, tail coreness 1") {
    // K4 on {1,2,3,4}; tail 4-5-6. True cores: 1,2,3,4 -> 3; 5,6 -> 1.
    // Node 4 has DEGREE 4 but core 3; node 5 degree 2 but core 1 — the
    // two cases where degree alone gets it wrong.
    val core = Graph.kCoreFixed(edges(
        1L -> 2L, 1L -> 3L, 1L -> 4L, 2L -> 3L, 2L -> 4L, 3L -> 4L,
        4L -> 5L, 5L -> 6L), iters = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L,
      5L -> 1L, 6L -> 1L))
  }

  test("hitsFixed: hubs and authorities separate on a directed bipartite") {
    // 1 links to both targets, 2 to one; 3 is cited twice, 4 once.
    val h = Graph.hitsFixed(edges(1L -> 3L, 1L -> 4L, 2L -> 3L), iters = 10)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2)))).toMap
    val (a3, a4, a1) = (h(3L)._1, h(4L)._1, h(1L)._1)
    val (h1, h2, h3) = (h(1L)._2, h(2L)._2, h(3L)._2)
    assert(a3 > a4 && a4 > 0L && a1 == 0L)
    assert(h1 > h2 && h2 > 0L && h3 == 0L)
    // renormalization keeps the total within truncation slack of scale
    val asum = h.values.map(_._1).sum
    assert(asum <= 1000000000000L && asum > 1000000000000L - 10)
  }

  test("hitsFixed: parent session's AQE conf untouched while the loop runs") {
    // VERDICT r12 #2 / ADVICE: the r12 wrap toggled adaptive.enabled on
    // the SHARED session (concurrent queries silently planned without
    // AQE); r13 runs the loop on a cloned newSession. A poller thread
    // samples the parent conf every 1 ms for the whole call — the old
    // wrap held it at "false" for essentially the full loop duration, so
    // any regression re-trips this immediately.
    val aqeKey = "spark.sql.adaptive.enabled"
    assert(spark.conf.get(aqeKey) == "true", "fixture precondition")
    @volatile var polluted = false
    @volatile var stop = false
    val poller = new Thread(() => {
      while (!stop) {
        if (spark.conf.get(aqeKey) != "true") polluted = true
        Thread.sleep(1)
      }
    })
    poller.start()
    val g = edges(1L -> 3L, 1L -> 4L, 2L -> 3L, 3L -> 1L, 4L -> 2L)
    val viaClone =
      try Graph.hitsFixed(g, iters = 10)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
        .toMap
      finally { stop = true; poller.join() }
    assert(!polluted, "hitsFixed leaked its AQE toggle into the parent session")
    assert(spark.conf.get(aqeKey) == "true")
    // cross-session hop is a pure re-wrap: bit-identical to the unwrapped
    // loop on the parent session (exact integer arithmetic both sides)
    val direct = Graph.hitsFixedNoWrap(g, iters = 10)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(viaClone == direct)
  }

  test("bfsDistances: exact levels on a diamond, unreached absent") {
    // 1→2, 1→3, 2→4, 3→4, plus isolated-from-1 edge 5→6
    val d = Graph.bfsDistances(
        edges(1L -> 2L, 1L -> 3L, 2L -> 4L, 3L -> 4L, 5L -> 6L),
        Seq(1L), maxDepth = 5)
      .collect().map(r => r.getLong(1) -> r.getInt(2)).toMap
    assert(d == Map(1L -> 0, 2L -> 1, 3L -> 1, 4L -> 2)) // 5,6 unreached
  }

  test("randomWalks: valid edges every hop, reproducible, dead ends stop") {
    // 1 -> {2,3}; 2 -> 4; 3 and 4 are dead ends
    val g = edges(1L -> 2L, 1L -> 3L, 2L -> 4L)
    val es = Set((1L, 2L), (1L, 3L), (2L, 4L))
    val w1 = Graph.randomWalks(g, startMax = 10L, steps = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val w2 = Graph.randomWalks(g, startMax = 10L, steps = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(w1.sorted.toSeq == w2.sorted.toSeq)      // reproducible
    val byWalk = w1.groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3)).toMap
    byWalk.values.foreach { path =>
      path.toSeq.sliding(2).foreach {
        case Seq(a, b) => assert(es.contains((a, b))) // every hop a real edge
        case _ =>
      }
    }
    assert(byWalk.keySet == Set(1L, 2L))            // starts = sources < 10
    assert(byWalk.values.forall(_.length <= 4))     // dead ends stop early
  }

  test("randomWalks: hop t picks the (md5(walk:t) % deg)-th smallest neighbor (r17)") {
    // pins the EXACT pick contract the r17 sorted-array form must keep:
    // element_at(dst-sorted neighbors, pick + 1) == the old
    // row_number-indexed choice
    val g = edges(1L -> 9L, 1L -> 2L, 1L -> 5L) // sorted nbrs of 1: 2,5,9
    val md = java.security.MessageDigest.getInstance("MD5")
    def h54(s: String): Long = java.lang.Long.parseLong(
      md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(14), 16)
    val w = Graph.randomWalks(g, startMax = 2L, steps = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(w((1L, 1)) == Seq(2L, 5L, 9L)((h54("1:1") % 3).toInt))
  }

  test("node2vecWalks: weighted bracket draw matches the hand-computed hash") {
    // 1→2; from 2: neighbors {1 (return, w=2), 3 (far, w=3)} ordered
    // (1 cumw 2, 3 cumw 5), tot 5; draw = md5("1:2")[0:14] % 5.
    val g = edges(1L -> 2L, 2L -> 1L, 2L -> 3L)
    val w = Graph.node2vecWalks(g, startMax = 2L, steps = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(w((1L, 0)) == 1L)
    assert(w((1L, 1)) == 2L) // only neighbor of 1
    val md = java.security.MessageDigest.getInstance("MD5")
    def h54(s: String): Long = java.lang.Long.parseLong(
      md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(14), 16)
    val expected = if (h54("1:2") % 5 < 2) 1L else 3L
    assert(w((1L, 2)) == expected)
    // reproducible end to end
    val w2 = Graph.node2vecWalks(g, startMax = 2L, steps = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(w == w2)
  }

  test("bellmanFord: cheap 2-hop path beats expensive direct edge") {
    import spark.implicits._
    val we = Seq((1L, 3L, 10L), (1L, 2L, 2L), (2L, 3L, 3L))
      .toDF("src", "dst", "cost")
    val d = Graph.bellmanFord(we, source = 1L, rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d == Map(1L -> 0L, 2L -> 2L, 3L -> 5L)) // not the direct 10
  }

  test("harmonicFixed: path graph distances invert exactly") {
    // 1→2→3→4, source {1}: harmonic_fp = scale/1, scale/2, scale/3.
    val hm = Graph.harmonicFixed(edges(1L -> 2L, 2L -> 3L, 3L -> 4L),
        Seq(1L), maxDepth = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hm == Map(2L -> 1000000000L, 3L -> 500000000L, 4L -> 333333333L))
  }

  // ------------------------------------------------------------------
  // The co-partitioned fixed points (rank variants, LPA, k-core) must not
  // depend on how the session partitions them. The fixture has a
  // dangling node (9: in-edges only), two source-only nodes (7, 8), a
  // repeated edge row (1→2 twice: it counts twice in deg and in the
  // contributions), an input self-loop (5→5: an extra LPA vote, dropped
  // by k-core) and two components. Rows and schemas below were frozen
  // from the DataFrame-round kernels these replaced.
  // ------------------------------------------------------------------
  private val fixedPointEdges = Seq(1L -> 2L, 1L -> 2L, 2L -> 3L, 3L -> 1L,
    1L -> 4L, 4L -> 5L, 5L -> 6L, 6L -> 4L, 2L -> 5L, 5L -> 5L, 8L -> 3L,
    6L -> 9L, 10L -> 11L, 11L -> 12L, 12L -> 10L, 12L -> 9L, 7L -> 1L,
    3L -> 12L)

  private val frozenFixedPoints: Map[String, (String, Seq[String])] = Map(
    "pr" -> ("id:bigint:false,rank_fp:bigint:false,rank:double:true", Seq(
        "[1,39687954951,0.039687954951]", "[10,51965677082,0.051965677082]",
        "[11,56670825519,0.056670825519]", "[12,72780697082,0.072780697082]",
        "[2,36721353188,0.036721353188]", "[3,39844689995,0.039844689995]",
        "[4,59813148978,0.059813148978]", "[5,145850450724,0.145850450724]",
        "[6,76063354318,0.076063354318]", "[7,12500000000,0.0125]",
        "[8,12500000000,0.0125]", "[9,87168149466,0.087168149466]")),
    "wpr" -> ("id:bigint:false,rank_fp:bigint:false,rank:double:true", Seq(
        "[1,35399332482,0.035399332482]", "[10,77962798719,0.077962798719]",
        "[11,68125711803,0.068125711803]",
        "[12,121894771114,0.121894771114]", "[2,25448001652,0.025448001652]",
        "[3,38290500990,0.03829050099]", "[4,71255343343,0.071255343343]",
        "[5,113653584140,0.11365358414]", "[6,85176928402,0.085176928402]",
        "[7,12500000000,0.0125]", "[8,12500000000,0.0125]",
        "[9,84564740223,0.084564740223]")),
    "ppr" -> ("id:bigint:false,rank_fp:bigint:false,rank:double:true", Seq(
        "[1,128258033854,0.128258033854]", "[10,14777382812,0.014777382812]",
        "[11,28275338541,0.028275338541]",
        "[12,108721197916,0.108721197916]", "[2,62203177082,0.062203177082]",
        "[3,100662725694,0.100662725694]", "[4,56114388020,0.05611438802]",
        "[5,188142261283,0.188142261283]", "[6,77341367187,0.077341367187]",
        "[7,0,0.0]", "[8,75000000000,0.075]",
        "[9,39790182291,0.039790182291]")),
    "ar" -> ("id:bigint:false,rank_fp:bigint:false,rank:double:true", Seq(
        "[1,25162018550,0.02516201855]", "[10,21629462247,0.021629462247]",
        "[11,21813775800,0.0218137758]", "[12,30138909765,0.030138909765]",
        "[2,23678875264,0.023678875264]", "[3,24570016396,0.024570016396]",
        "[4,26630976266,0.026630976266]", "[5,45746797582,0.045746797582]",
        "[6,27169931646,0.027169931646]", "[7,12500000000,0.0125]",
        "[8,12500000000,0.0125]", "[9,30171000881,0.030171000881]")),
    "lpa" -> ("id:bigint:false,label:bigint:true", Seq(
        "[1,1]", "[10,10]", "[11,10]", "[12,10]", "[2,1]", "[3,1]", "[4,1]",
        "[5,1]", "[6,1]", "[7,1]", "[8,1]", "[9,1]")),
    "lpa2" -> ("id:bigint:false,label:bigint:true", Seq(
        "[1,1]", "[10,10]", "[11,10]", "[12,10]", "[2,1]", "[3,1]", "[4,1]",
        "[5,1]", "[6,1]", "[7,1]", "[8,1]", "[9,3]")),
    "lpa1" -> ("id:bigint:false,label:bigint:true", Seq(
        "[1,1]", "[10,10]", "[11,10]", "[12,3]", "[2,1]", "[3,1]", "[4,1]",
        "[5,5]", "[6,4]", "[7,1]", "[8,3]", "[9,6]")),
    "kc" -> ("id:bigint:false,core:bigint:true", Seq(
        "[1,2]", "[10,2]", "[11,2]", "[12,2]", "[2,2]", "[3,2]", "[4,2]",
        "[5,2]", "[6,2]", "[7,1]", "[8,1]", "[9,2]")),
    "kc1" -> ("id:bigint:false,core:bigint:true", Seq(
        "[1,3]", "[10,2]", "[11,2]", "[12,2]", "[2,3]", "[3,3]", "[4,3]",
        "[5,3]", "[6,2]", "[7,1]", "[8,1]", "[9,2]")),
    "pr_int" -> ("id:int:false,rank_fp:bigint:false,rank:double:true", Seq(
        "[1,73593749999,0.073593749999]", "[10,62968749999,0.062968749999]",
        "[11,53229166666,0.053229166666]",
        "[12,133802083332,0.133802083332]", "[2,79791666666,0.079791666666]",
        "[3,48506944444,0.048506944444]", "[4,66510416666,0.066510416666]",
        "[5,164201388886,0.164201388886]", "[6,78020833332,0.078020833332]",
        "[7,12500000000,0.0125]", "[8,12500000000,0.0125]",
        "[9,83333333332,0.083333333332]")),
    "lpa_int" -> ("id:int:false,label:int:true", Seq(
        "[1,1]", "[10,10]", "[11,10]", "[12,3]", "[2,1]", "[3,1]", "[4,1]",
        "[5,5]", "[6,4]", "[7,1]", "[8,3]", "[9,6]")),
    "kc_int" -> ("id:int:false,core:bigint:true", Seq(
        "[1,3]", "[10,2]", "[11,2]", "[12,2]", "[2,3]", "[3,3]", "[4,3]",
        "[5,3]", "[6,2]", "[7,1]", "[8,1]", "[9,2]")))

  test("rank, LPA and k-core fixed points: same rows and schema at 1, 3 and 7 partitions") {
    val es = edges(fixedPointEdges: _*)
    val we = fixedPointEdges.map { case (s, d) => (s, d, (s * 3 + d) % 5 + 1) }
      .toDF("src", "dst", "w")
    val ie = fixedPointEdges.map { case (s, d) => (s.toInt, d.toInt) }.toDF("src", "dst")
    val runs: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "pr" -> (() => Graph.pageRankFixed(es, iters = 6)),
      "wpr" -> (() => Graph.pageRankWeightedFixed(we, iters = 5)),
      "ppr" -> (() => Graph.personalizedPageRankFixed(es, Seq(1L, 8L), iters = 5)),
      "ar" -> (() => Graph.articleRankFixed(es, iters = 5)),
      "lpa" -> (() => Graph.labelPropagation(es, iters = 4)),
      "lpa2" -> (() => Graph.labelPropagation(es, iters = 2)),
      "lpa1" -> (() => Graph.labelPropagation(es, iters = 1)),
      "kc" -> (() => Graph.kCoreFixed(es, iters = 3)),
      "kc1" -> (() => Graph.kCoreFixed(es, iters = 1)),
      "pr_int" -> (() => Graph.pageRankFixed(ie, iters = 2)),
      "lpa_int" -> (() => Graph.labelPropagation(ie, iters = 1)),
      "kc_int" -> (() => Graph.kCoreFixed(ie, iters = 1)))
    val key = "spark.sql.shuffle.partitions"
    val previous = spark.conf.get(key)
    try Seq("1", "3", "7").foreach { parts =>
      spark.conf.set(key, parts)
      runs.foreach { case (name, run) =>
        val df = run()
        val schema = df.schema.fields.map(f =>
          s"${f.name}:${f.dataType.simpleString}:${f.nullable}").mkString(",")
        val (wantSchema, wantRows) = frozenFixedPoints(name)
        assert(schema == wantSchema, s"$name at $parts partitions")
        assert(df.collect().map(_.toString).sorted.toSeq == wantRows,
          s"$name at $parts partitions")
      }
    } finally spark.conf.set(key, previous)
  }

  // ------------------------------------------------------------------
  // Edge cases of the blocked rounds, all six kernels at 1 and 7
  // partitions. `pair` (1→2) has two nodes, so at 7 partitions most
  // blocks are empty. `mixed` has six nodes: 4 is source-only, 5 is
  // sink-only, 1→2 is repeated (it counts twice in the ranks), 3→3 is an
  // input self-loop (an extra LPA vote, dropped by k-core), and both of
  // 6's neighbours (4 and 5) start with k-core value 2. Rows were frozen
  // from the per-record kernels these replaced.
  // ------------------------------------------------------------------
  private val blockFixtures: Map[String, Seq[(Long, Long)]] = Map(
    "pair" -> Seq(1L -> 2L),
    "mixed" -> Seq(1L -> 2L, 1L -> 2L, 2L -> 3L, 3L -> 1L, 3L -> 3L,
      4L -> 1L, 4L -> 6L, 2L -> 5L, 6L -> 5L))

  private val frozenBlockEdgeCases: Map[String, Seq[String]] = Map(
    "pair/pr" -> Seq("[1,75000000000,0.075]", "[2,138750000000,0.13875]"),
    "pair/wpr" -> Seq("[1,75000000000,0.075]", "[2,138750000000,0.13875]"),
    "pair/ppr" -> Seq("[1,75000000000,0.075]", "[2,63750000000,0.06375]"),
    "pair/ar" -> Seq("[1,75000000000,0.075]", "[2,138750000000,0.13875]"),
    "pair/lpa" -> Seq("[1,1]", "[2,1]"),
    "pair/lpa1" -> Seq("[1,1]", "[2,1]"),
    "pair/kc" -> Seq("[1,1]", "[2,1]"),
    "pair/kc1" -> Seq("[1,1]", "[2,1]"),
    "mixed/pr" -> Seq(
      "[1,106458333333,0.106458333333]", "[2,115489583332,0.115489583332]",
      "[3,144916406249,0.144916406249]", "[4,25000000000,0.025]",
      "[5,104364322916,0.104364322916]", "[6,35625000000,0.035625]"),
    "mixed/wpr" -> Seq(
      "[1,95725235420,0.09572523542]", "[2,104839562406,0.104839562406]",
      "[3,264354948660,0.26435494866]", "[4,25000000000,0.025]",
      "[5,78902946959,0.078902946959]", "[6,35625000000,0.035625]"),
    "mixed/ppr" -> Seq(
      "[1,183640625000,0.183640625]", "[2,156094531250,0.15609453125]",
      "[3,115374218750,0.11537421875]", "[4,75000000000,0.075]",
      "[5,65702343750,0.06570234375]", "[6,31875000000,0.031875]"),
    "mixed/ar" -> Seq(
      "[1,54047788064,0.054047788064]", "[2,58061676952,0.058061676952]",
      "[3,64632561726,0.064632561726]", "[4,25000000000,0.025]",
      "[5,56303523661,0.056303523661]", "[6,32083333333,0.032083333333]"),
    "mixed/lpa" -> Seq("[1,1]", "[2,1]", "[3,1]", "[4,1]", "[5,1]", "[6,1]"),
    "mixed/lpa1" -> Seq("[1,1]", "[2,1]", "[3,3]", "[4,1]", "[5,2]", "[6,4]"),
    "mixed/kc" -> Seq("[1,2]", "[2,2]", "[3,2]", "[4,2]", "[5,2]", "[6,2]"),
    "mixed/kc1" -> Seq("[1,2]", "[2,2]", "[3,2]", "[4,2]", "[5,2]", "[6,2]"))

  test("fixed points on edge-case blocks: empty blocks, sinks, sources, repeats, self-loops") {
    val key = "spark.sql.shuffle.partitions"
    val previous = spark.conf.get(key)
    val got = try (for {
      parts <- Seq("1", "7")
      (fixture, es) <- blockFixtures.toSeq.sortBy(_._1)
      (kernel, run) <- {
        val e = es.toDF("src", "dst")
        val we = es.map { case (s, d) => (s, d, (s * 3 + d) % 5 + 1) }.toDF("src", "dst", "w")
        Seq[(String, () => org.apache.spark.sql.DataFrame)](
          "pr" -> (() => Graph.pageRankFixed(e, iters = 4)),
          "wpr" -> (() => Graph.pageRankWeightedFixed(we, iters = 4)),
          "ppr" -> (() => Graph.personalizedPageRankFixed(e, Seq(1L, 4L), iters = 4)),
          "ar" -> (() => Graph.articleRankFixed(e, iters = 4)),
          "lpa" -> (() => Graph.labelPropagation(e, iters = 3)),
          "lpa1" -> (() => Graph.labelPropagation(e, iters = 1)),
          "kc" -> (() => Graph.kCoreFixed(e, iters = 2)),
          "kc1" -> (() => Graph.kCoreFixed(e, iters = 1)))
      }
    } yield {
      spark.conf.set(key, parts)
      (s"$fixture/$kernel", parts, run().collect().map(_.toString).sorted.toSeq)
    }) finally spark.conf.set(key, previous)
    got.foreach { case (name, parts, rows) =>
      assert(frozenBlockEdgeCases.get(name).contains(rows),
        s"$name at $parts partitions: ${rows.map("\"" + _ + "\"").mkString(", ")}")
    }
  }

  test("pageRankWeightedFixed: a weight overflowing rank_fp * 85 * w throws") {
    // rank_fp starts at 5e11: 5e11 * 85 * 1e6 > 2^63. A wrapping multiply
    // would return wrong ranks without a word.
    val e = intercept[Exception] {
      Graph.pageRankWeightedFixed(Seq((1L, 2L, 1000000L), (2L, 1L, 1L))
        .toDF("src", "dst", "w"), iters = 3).collect()
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[ArithmeticException]), e)
  }

  test("fixed-point rounds: jobs named by operator and round, keep the Par tag") {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.add((String.valueOf(e.properties.getProperty("spark.job.description")),
          String.valueOf(e.properties.getProperty("spark.job.tags"))))
    }
    sc.setJobDescription("outer")
    sc.addSparkListener(listener)
    val p = try graft.obs.QueryProfile.during(spark) {
      graft.plans.Par.both(
        Graph.pageRankFixed(edges(1L -> 2L, 2L -> 3L, 3L -> 1L), iters = 5),
        Graph.labelPropagation(edges(1L -> 2L, 2L -> 3L), iters = 3))
    } finally sc.removeSparkListener(listener)
    // the previous description is back once the loops are done
    assert(sc.getLocalProperty("spark.job.description") == "outer")
    sc.setJobDescription(null)
    val sites = p.perJob.map(_.callSite).toSet
    Seq("Graph.pageRank setup", "Graph.pageRank round 2/5",
      "Graph.pageRank round 4/5", "Graph.pageRank round 5/5",
      "Graph.labelPropagation round 2/3", "Graph.labelPropagation round 3/3")
      .foreach(l => assert(sites(l), s"no job labelled $l in $sites"))
    import scala.jdk.CollectionConverters._
    val rounds = seen.asScala.toSeq.filter(_._1.startsWith("Graph."))
    assert(rounds.nonEmpty)
    // every round job still carries its Par leg's cancellation tag
    rounds.foreach { case (label, tags) =>
      assert(tags.contains("graft-par-"), s"$label ran without a Par tag: $tags")
    }
  }

  test("fixed-point rounds: released cuts leave no WARN and no persisted RDD") {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val sc = spark.sparkContext
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("graph-spec-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = lines.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val root = ctx.getConfiguration.getRootLogger
    root.addAppender(appender, null, null)
    ctx.updateLoggers()
    def truncated = lines.toArray.map(_.toString).filter(_.contains("was locally checkpointed"))
    try {
      // the appender sees the line when a local checkpoint is unpersisted
      val probe = sc.parallelize(1 to 3).localCheckpoint()
      probe.count()
      probe.unpersist()
      assert(truncated.nonEmpty, "the capture appender saw no WARN")
      lines.clear()
      val before = sc.getPersistentRDDs.keySet
      val ranks = Graph.pageRankFixed(edges(1L -> 2L, 2L -> 3L, 3L -> 1L, 3L -> 4L), iters = 5)
      val kept = sc.getPersistentRDDs.keySet -- before
      assert(truncated.isEmpty, truncated.mkString("\n"))
      // only the last cut, which the result reads, stays persisted
      assert(kept.size == 1, s"persisted after the call: $kept")
      assert(ranks.count() == 4)
    } finally {
      root.removeAppender(appender.getName)
      ctx.updateLoggers()
      appender.stop()
    }
  }
}
