package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.obs.QueryProfile

/** Plan-shape regression guards: the scale claims in SURVEY/COVERAGE —
  * filters reach the parquet scan, projections prune the read schema, no
  * accidental cartesian products — asserted on the actual physical plans
  * so a refactor that silently loses them fails CI, not the 100 TB run. */
class PlanGuardSpec extends AnyFunSuite {
  import TestSpark.spark

  private val sf = "/root/testdata/sf0.001"
  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf)
      .queryExecution.explainString(FormattedMode)

  test("q06: dimension filter is pushed into the parquet scan") {
    val p = plan("q06_rank_nations_by_order_count")
    assert(p.contains("PushedFilters"), p)
    assert("""PushedFilters: \[[^\]]*n_name""".r.findFirstIn(p).isDefined,
      s"n_name filter not pushed:\n$p")
  }

  test("p4_length_filter: scan reads only the projected columns") {
    val p = plan("p4_length_filter")
    val read = """ReadSchema: struct<([^>]*)>""".r
      .findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    val cols = read.split(",").map(_.trim.takeWhile(_ != ':')).toSet
    assert(cols == Set("doc_id", "text", "lang"),
      s"expected pruned read of {doc_id,text,lang}, got $cols:\n$p")
  }

  test("agg queries keep whole-stage codegen on the hot path") {
    // AQE only annotates codegen spans ("*(n) Operator") once the plan is
    // final — execute, then read the executed plan.
    val df = SparkEntry.queries("agg_lineitem_pricing")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert("""\*\(\d+\) HashAggregate""".r.findFirstIn(p).isDefined, p)
  }

  test("asofJoin plans exactly one key shuffle (the carry-forward window)") {
    val p = SparkEntry.queries("evt_asof_purchase")(spark, sf)
      .queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)
    val keyExchanges = "hashpartitioning\\(_k".r.findAllIn(p).length
    assert(keyExchanges == 1, s"expected ONE _k exchange, got $keyExchanges:\n$p")
  }

  test("no accidental cartesian products in shuffle-heavy pipelines") {
    for (name <- Seq("dd_exact_dedup", "dd_minhash_lsh_neardup",
        "q01_rank_customers_by_order_count", "q05_rank_orders_by_price",
        "evt_sessionize", "g_pattern_scan")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"cartesian in $name:\n$p")
    }
  }

  test("bm25 top-k plans TakeOrderedAndProject, never a global sort") {
    val p = plan("txt_bm25_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  // ------------------------------------------------------------------
  // The standing gate (VERDICT r11 #2): EVERY SparkEntry query's plan,
  // not a hand-picked sample, walked for the two invariants that decide
  // whether the plan survives a 100× scale-up. A refactor that silently
  // reintroduces a single-partition window or an unbounded cartesian
  // now fails `sbt test`, not the 100 TB run.
  // ------------------------------------------------------------------

  /** CartesianProduct allowlist. Two kinds of legitimate appearances:
    * the LABELED exact baselines (quadratic by declared semantics, each
    * with a documented banded/bucketed scale path), and bounded-side
    * pairings (group×group or constant-row frames whose static stats
    * Catalyst can't see — AQE converts them to broadcast at runtime,
    * and the side is structurally bounded: event types, sketch
    * registers, probe constants). Every name here must carry a reason.
    */
  private val cartesianAllowed: Map[String, String] = Map(
    "dd_containment" -> "labeled exact Σdf² baseline (COVERAGE.md)",
    "sim_bruteforce_topk" -> "labeled exact brute-force baseline",
    "sketch_kmv_jaccard" -> "event-type pairs: bounded dim × bounded dim",
    "dd_ngram_jaccard" -> "labeled exact inverted-index baseline (Σdf²)",
    "sim_exact_near_pairs" -> "labeled exact all-pairs witness for the LSH twin"
  )

  /** Mirrors GlobalRankRewrite's `throughCheap` gate: descend through
    * no-op wrappers; an Aggregate (GROUP BY / DISTINCT collapse to it in
    * the optimized plan) or a row-bounded Limit means the window input's
    * cardinality is bounded, so a single-partition window is the cheaper
    * plan, not a scale bug. A Join OF bounded inputs stays bounded. */
  private def boundedInput(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    p match {
      case _: Aggregate => true
      case _: GlobalLimit | _: LocalLimit => true
      case proj: Project => boundedInput(proj.child)
      case f: Filter => boundedInput(f.child)
      case s: SubqueryAlias => boundedInput(s.child)
      case w: Window => boundedInput(w.child)
      case srt: Sort => boundedInput(srt.child)
      case j: Join => boundedInput(j.left) && boundedInput(j.right)
      case _ => false
    }
  }

  test("ALL queries: no unallowed CartesianProduct, no unpartitioned Window") {
    val names = SparkEntry.queries.keys.toSeq.sorted
    val violations = scala.collection.mutable.ListBuffer.empty[String]
    for (name <- names) {
      val df = SparkEntry.queries(name)(spark, sf)
      // physical (AQE initial) plan: unbounded cartesians are banned —
      // the string check sees the STATIC plan, so bounded-side pairs
      // AQE would convert at runtime must be allowlisted with a reason
      val phys = df.queryExecution
        .explainString(org.apache.spark.sql.execution.SimpleMode)
      if (phys.contains("CartesianProduct") &&
          !cartesianAllowed.contains(name))
        violations += s"$name: CartesianProduct in physical plan"
      // optimized logical plan: a Window with an empty partition spec
      // executes on ONE partition whatever the cluster size — the
      // anti-pattern GlobalRankRewrite exists to eliminate. Same gate
      // as the rule itself (GlobalRankRewrite scaladoc): an
      // unpartitioned window over an AGGREGATED input is fine — its
      // cardinality is dimension-bounded (25 nations ranked on one
      // partition is the cheaper plan); the scale-killer is an
      // unpartitioned window over an unbounded (fact-shaped) input.
      val badWin = df.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
            if w.partitionSpec.isEmpty && !boundedInput(w.child) => w
      }
      if (badWin.nonEmpty)
        violations += s"$name: unpartitioned Window over unbounded input"
      // the repo's zero-UDF claim as a standing gate: every scalar stays
      // a codegen'd Catalyst expression — a ScalaUDF anywhere in an
      // optimized plan breaks whole-stage codegen on that hot path
      val udfs = df.queryExecution.optimizedPlan.collect {
        case p => p.expressions.flatMap(_.collect {
          case u: org.apache.spark.sql.catalyst.expressions.ScalaUDF => u
        })
      }.flatten
      if (udfs.nonEmpty)
        violations += s"$name: ScalaUDF in optimized plan"
    }
    assert(violations.isEmpty,
      s"plan-invariant violations:\n${violations.mkString("\n")}")
  }

  test("sketch_mg: the trim's rank filter gets the WindowGroupLimit pushdown") {
    // λ = (k+1)-th largest needs only a per-group top-(k+1); Spark's
    // InferWindowGroupLimit turns the rank predicate into map-side
    // group limits — without it the trim would SORT every distinct key
    // per group, the difference between top-k and sort-everything at
    // 100 TB key cardinalities
    val p = plan("sketch_mg")
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("sketch_psample: the priority trim gets the same WindowGroupLimit pushdown") {
    // the top-(k+1) selection orders by a computed priority EXPRESSION —
    // the pushdown must survive that (it keys on the rank predicate, not
    // the order key's shape); without it the sample build sorts every
    // distinct key per group
    val p = plan("sketch_psample")
    assert(p.contains("WindowGroupLimit"), p)
  }

  // ------------------------------------------------------------------
  // Exchange-count budgets for the loop family (VERDICT r12 #5): the
  // r9–r12 wins were bought in jobs-per-round and pins-per-round —
  // quantities the cartesian/window/UDF gates can't see. A refactor
  // that doubles the shuffles inside a louvain round must now
  // consciously raise its budget here, not slip through CI.
  // Metric = shuffle-map stages EXECUTED across the whole query
  // (construction pins + final materialization), counted off the
  // scheduler bus — the loop bodies run eagerly at construction, so
  // the final plan alone can't see them. Budgets are the counts
  // measured at sf0.001 on the r13 tree (stage skipping from reused
  // exchanges keeps them stable run to run).
  // ------------------------------------------------------------------

  // Measured r13 counts: lpa 26, hits 49, louvain2 111–112, scc 32,
  // pagerank 21. +2 headroom absorbs the ±1 AQE jitter observed across
  // test orderings (runtime join-strategy decisions shift one stage);
  // a restructure that adds even one shuffle PER ROUND costs 6–12
  // stages and still trips. The budgets are version-pinned (below), so
  // the tightness is deliberate: on THIS Spark, ±1 is the whole jitter.
  // The rank, LPA and k-core loops run as co-partitioned RDD rounds, one
  // shuffle stage per round: re-measured pagerank 18, weighted 13, ppr
  // 13, tightcap 34, lpa 14, kcore 15 (from 20/15/14/35/26/16).
  private val shuffleBudgets: Map[String, Int] = Map(
    "g_lpa_communities" -> 16,
    "g_hits" -> 51,
    "g_louvain2" -> 114,
    "g_scc" -> 34,
    "g_pagerank_parts" -> 20,
    // r13 late wave: the remaining loop shapes + the composed pipeline
    // (measured 16/16/47/12/36, same +2 convention; betweenness reads 27
    // since the r17 sweep trim)
    "g_kcore" -> 17,
    "g_components" -> 18,
    "g_betweenness_sample" -> 29,
    "g_harmonic" -> 14,
    // re-measured 32 after the blocked graph rounds, same +2 convention
    "pipe_end_to_end" -> 34,
    // r14 (VERDICT r13 #5): the rest of the iterative family
    // (measured 48/11/34/12/8/111/14/15/30, same +2 convention) —
    // every loop-shaped query in the registry is now budget-pinned
    "g_louvain" -> 50,
    "g_bellman_ford" -> 13,
    "g_ktruss" -> 36,
    "g_eccentricity" -> 14,
    "g_fastrp" -> 10,
    "g_pmi_embed2" -> 105, // re-measured 103 after the blocked graph rounds
    "g_ppr_sample" -> 15,
    "g_pagerank_weighted" -> 15,
    "g_components_star" -> 32,
    // r16: the capped projected-rank BENCH configuration enters the
    // timed headline, so its loop shape (kHopReach counts + projection
    // + 10 pageRankFixed rounds) gets pinned like its siblings
    // (measured 35, same +2 convention)
    "g_articlerank_tightcap" -> 36,
    // the BFS level loop's third caller (measured 11, same +2 convention)
    "g_sssp" -> 13,
    // the second label-propagation caller (measured 17, same +2 convention)
    "g_modularity" -> 19)

  /** The Spark version the budgets were measured on (ADVICE r13): a
    * Spark upgrade can legitimately shift executed map stages, so on any
    * OTHER version this gate CANCELS with re-baseline instructions
    * instead of flaking CI. Every other gate in this spec is
    * shape-based (plan strings) and stays live across upgrades. */
  private val budgetSparkVersion = "4.1.2"

  // Job budgets beside the shuffle budgets: an extra action on a cached
  // frame (say, a rank kernel that starts counting nodes for the
  // personalized variant) executes no new shuffle, so only the job count
  // sees it. Measured 17/14/13/55/12/14/16 at sf0.001 (the DataFrame
  // rounds ran 71/53/51/94/48/43 for the first six), counted by the same
  // listener in the same run as the stages; same +2 convention.
  private val jobBudgets: Map[String, Int] = Map(
    "g_pagerank_parts" -> 19,
    "g_pagerank_weighted" -> 16,
    "g_ppr_sample" -> 15,
    "g_articlerank_tightcap" -> 57,
    "g_lpa_communities" -> 14,
    "g_kcore" -> 16,
    "g_modularity" -> 18,
    // the BFS level loop and Louvain's level one (measured 65–66/39/37/
    // 38/87/202–206 across Profile and test runs, +2 on the highest)
    "g_betweenness_sample" -> 68,
    "g_harmonic" -> 41,
    "g_eccentricity" -> 39,
    "g_sssp" -> 40,
    "g_louvain" -> 89,
    "g_louvain2" -> 208)

  test("loop family: executed shuffle stages stay within their budgets") {
    assume(spark.version == budgetSparkVersion,
      s"shuffle budgets were measured on Spark $budgetSparkVersion " +
        s"(running ${spark.version}) — re-measure at sf0.001 and " +
        "re-baseline the map above")
    val got = shuffleBudgets.keys.toSeq.sorted.map { name =>
      val p = QueryProfile.during(spark) {
        SparkEntry.queries(name)(spark, sf)
          .write.mode("overwrite").format("noop").save()
      }
      val (n, jobs) = (p.shuffleStages, p.jobs)
      info(s"$name: $n shuffle stages (budget ${shuffleBudgets(name)}), " +
        s"$jobs jobs" + jobBudgets.get(name).fold("")(b => s" (budget $b)"))
      // the counters of the same window agree with each other: every
      // executed shuffle stage ran a task, and shuffle bytes were written
      // and read exactly when a shuffle stage ran. (Read bytes may exceed
      // written ones: a range-partitioned sort samples its shuffled input
      // in a job of its own, then reads it again.)
      assert(p.tasks >= n, s"$name: ${p.tasks} tasks < $n shuffle stages")
      assert((p.shuffleWriteBytes > 0) == (n > 0) &&
        (p.shuffleReadBytes > 0) == (n > 0), s"$name: $p")
      (name, n, jobs)
    }
    val over = got.collect { case (q, n, _) if n > shuffleBudgets(q) =>
      s"$q=$n>(${shuffleBudgets(q)})" }
    assert(over.isEmpty, s"shuffle budgets exceeded: ${over.mkString(", ")}")
    val overJobs = got.collect { case (q, _, j) if jobBudgets.get(q).exists(j > _) =>
      s"$q=$j>(${jobBudgets(q)})" }
    assert(overJobs.isEmpty, s"job budgets exceeded: ${overJobs.mkString(", ")}")
  }

  // ROADMAP direction 1's "one exchange per round": with broadcast joins
  // off, g_pagerank_parts still executes exactly one shuffle stage per
  // rank round, plus a fixed prelude (the edge self-join and distinct,
  // the adjacency build, the final name join and sort). Each cut job
  // runs one map stage per round since the previous cut and the cut's
  // result stage, one task per partition each. A round's map task writes
  // one pre-combined block per destination partition, so a round writes
  // at most partitions × partitions shuffle records; per-edge or
  // per-node records would write thousands.
  private val pageRankRounds = 15
  private val pageRankPreludeStagesNoBroadcast = 7

  test("g_pagerank_parts: one shuffle stage per round with broadcast joins off") {
    assume(spark.version == budgetSparkVersion,
      s"the prelude stage count was measured on Spark $budgetSparkVersion")
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val previous = spark.conf.get(key)
    spark.conf.set(key, "-1")
    val p = try QueryProfile.during(spark) {
      SparkEntry.queries("g_pagerank_parts")(spark, sf)
        .write.mode("overwrite").format("noop").save()
    } finally spark.conf.set(key, previous)
    assert(spark.conf.get(key) == previous)
    info(s"g_pagerank_parts, no broadcast: ${p.shuffleStages} shuffle stages, ${p.jobs} jobs")
    assert(p.shuffleStages == pageRankRounds + pageRankPreludeStagesNoBroadcast, p)
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val cuts = p.perJob.map(_.callSite).collect {
      case s if s.startsWith("Graph.pageRank round ") =>
        s.stripPrefix("Graph.pageRank round ").takeWhile(_ != '/').toInt
    }
    assert(cuts == (2 to pageRankRounds by 2) :+ pageRankRounds, p.perJob)
    val roundJobs = p.perJob.filter(_.callSite.startsWith("Graph.pageRank round "))
    cuts.zip(0 +: cuts).zip(roundJobs).foreach { case ((t, prev), j) =>
      assert(j.tasks == (t - prev + 1) * parts, s"round $t: $j")
      assert(j.shuffleWriteRecords <= (t - prev).toLong * parts * parts, s"round $t: $j")
    }
  }

  test("query profile: one grouped aggregation has the known shape") {
    // a job finished just before the window must not leak into it
    spark.range(0, 100).count()
    val p = QueryProfile.during(spark) {
      spark.range(0, 10000, 1, 4).groupBy(col("id") % 10).count()
        .write.mode("overwrite").format("noop").save()
    }
    assert(p.shuffleStages == 1, p)
    // AQE runs the exchange as its own map-stage job: the 4 range
    // partitions are its 4 map tasks
    val mapJobs = p.perJob.filter(_.shuffleWriteBytes > 0)
    assert(mapJobs.map(_.tasks) == Seq(4), p)
    // the one shuffle is read once, whole
    assert(p.shuffleWriteBytes > 0 && p.shuffleReadBytes == p.shuffleWriteBytes, p)
    // the map-stage job and the write — not the count before the window
    assert(p.jobs == 2, p)
    // a 10-group aggregate's task holds a fast-hash-map page and the
    // BytesToBytesMap's pointer array: a few heap-sized pages
    // (Sessions.allocationSizes; 1 MB at a 7 GB heap), not Spark's
    // 64 MB cluster-default pages
    val page = Sessions.allocationSizes(Runtime.getRuntime.maxMemory).pageBytes
    info(s"peak execution memory ${p.peakExecMemBytes} bytes, page $page bytes")
    assert(p.peakExecMemBytes <= 4 * page, p)
  }

  test("decon_semantic broadcasts the quarantine side only") {
    // the corpus × quarantine pairing must be a broadcast nested loop of
    // the SMALL side — a shuffled cross of the corpus would be the
    // scale-killer this operator exists to avoid
    val p = plan("decon_semantic")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
  }
  // ------------------------------------------------------------------
  // Warehouse commit shape: every frame loadBatch derives is a pinned
  // batch-scale delta, so each state table is the recovered snapshot ∪
  // checkpointed rows — no cached plan (an InMemoryRelation keeps its
  // physical plan and broadcast relations reachable for the whole
  // commit) and no snapshot re-derived inside the table's own plan.
  // ------------------------------------------------------------------

  private def stagedFiles(batches: DataFrame*): String = {
    val src = java.nio.file.Files.createTempDirectory("pg-wh-src").toString
    val cols = pipeline.StreamingWarehouse.stagedSchema.fieldNames
      .map(org.apache.spark.sql.functions.col)
    batches.foreach(_.select(cols: _*).coalesce(1)
      .write.mode("append").parquet(src))
    src
  }
  private val whBase = Fixtures.staged(Seq(
    ("w1", "physics", 2020, "journal-article", "PRL", "APS", 9,
      Seq(("Ada", "A", "MIT", "female", "A Ada"))),
    ("w2", "mathematics", 2019, "preprint", "arXiv", "arXiv", 3,
      Seq(("Bob", "B", null, "male", "B Bob"), ("Ada", "A", "MIT", "female", "A Ada")))))
  private val whNext = Fixtures.staged(Seq(
    ("w3", "physics", 2021, "journal-article", "PRL", "APS", 4,
      Seq(("Ada", "A", "MIT", "female", "A Ada"), ("Cy", "C", "ETH", "male", "C Cy"))),
    ("w4", "biology", 2022, "journal-article", "Cell", "CP", 1,
      Seq(("Dee", "D", "UT", "female", "D Dee")))))

  private def stateTables(s: pipeline.Warehouse.State): Seq[(String, DataFrame)] =
    Seq("dim_year" -> s.dimYear, "dim_domain" -> s.dimDomain,
      "dim_type" -> s.dimType, "dim_venue" -> s.dimVenue,
      "dim_author" -> s.dimAuthor, "dim_affiliation" -> s.dimAffiliation,
      "paper_fact" -> s.fact, "bridge_author_group" -> s.bridgeAuthor,
      "bridge_affiliation_group" -> s.bridgeAffiliation)

  test("warehouse commit: state tables are snapshot ∪ pinned delta, no cached plan") {
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val stateDir = java.nio.file.Files.createTempDirectory("pg-wh-state").toString
    pipeline.StreamingWarehouse.run(spark, stagedFiles(whBase),
      java.nio.file.Files.createTempDirectory("pg-wh-ck").toString, stateDir)
    val recovered = pipeline.StreamingWarehouse.loadLatestState(spark, stateDir).get
    val next = pipeline.Warehouse.loadBatch(spark, recovered, whNext)
    for ((name, df) <- stateTables(next)) {
      val plan = df.queryExecution.optimizedPlan
      val cached = plan.collect { case r: InMemoryRelation => r }
      assert(cached.isEmpty, s"$name holds a cached plan:\n$plan")
      val scans = plan.collect {
        case l: LogicalRelation => l.relation match {
          case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
          case _ => Nil
        }
      }.flatten
      val repeated = scans.groupBy(identity).collect {
        case (path, hits) if hits.size > 1 => s"$path x${hits.size}"
      }
      assert(repeated.isEmpty,
        s"$name re-derives a recovered snapshot: ${repeated.mkString(", ")}\n$plan")
    }
  }

  /** Jobs of one incremental 2-paper commit (recovery, the loadBatch
    * pins and the nine snapshot writes), measured 97 on Spark 4.1.2
    * local[2]. The same +2 convention as the shuffle budgets; recovery
    * rescanning the dims for the key high-water marks, and the mint
    * joining its ranks back onto its own keys, ran 106, one key-minting
    * rank per dim (and one for the group keys) 160, the lazily cached
    * commit before that 183. */
  private val commitJobBudget = 99

  test("warehouse commit: job count of one incremental commit stays within budget") {
    assume(spark.version == budgetSparkVersion,
      s"the commit job budget was measured on Spark $budgetSparkVersion")
    val stateDir = java.nio.file.Files.createTempDirectory("pg-wh-jobs").toString
    val src = stagedFiles(whBase)
    val ck = java.nio.file.Files.createTempDirectory("pg-wh-ck").toString
    pipeline.StreamingWarehouse.run(spark, src, ck, stateDir)
    // same checkpoint: the measured run recovers the state from disk and
    // commits exactly one micro-batch, the new file
    whNext.select(pipeline.StreamingWarehouse.stagedSchema.fieldNames
        .map(org.apache.spark.sql.functions.col): _*)
      .coalesce(1).write.mode("append").parquet(src)
    val profile = QueryProfile.during(spark) {
      pipeline.StreamingWarehouse.run(spark, src, ck, stateDir); ()
    }
    val jobs = profile.jobs
    val bySite = profile.perJob.groupBy(_.callSite).toSeq
      .map { case (site, js) => (js.size, site) }.sortBy { case (n, s) => (-n, s) }
    info(s"one incremental commit: $jobs jobs (budget $commitJobBudget)\n" +
      bySite.map { case (n, site) => f"$n%4d  $site" }.mkString("\n"))
    assert(jobs <= commitJobBudget,
      s"commit ran $jobs jobs > budget $commitJobBudget")
    // a pin's jobs name the operator that pinned, not the pin helper
    // (nor the stream's start, the site every other commit job reports)
    val anonymous = bySite.filter { case (_, site) =>
      site.contains("Pins.scala") || site.contains("Ranking.scala") }
    assert(anonymous.isEmpty, s"jobs without their caller's site: $anonymous")
    assert(bySite.exists(_._2.startsWith("localCheckpoint at Warehouse.scala:")),
      s"no pin job names loadBatch: $bySite")
  }
}
