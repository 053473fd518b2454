package graftbench

import java.io.File

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.SparkEntry
import graft.pipeline.{BiQueriesWarehouse, StreamingWarehouse, Warehouse}

/** One timed operation: a public call, its latency, and what went wrong. */
final case class OpResult(name: String, seconds: Double, error: Option[String])

/** A named workload: set-up builds its inputs from the seed in a fresh
  * directory; each pass runs its operations once, closed loop. */
trait Workload {
  def name: String
  /** Set-ups per run; `setup_s` is their median. */
  def setupReps: Int = 3
  /** Build the inputs under `dir`; the last set-up is the one measured. */
  def setup(spark: SparkSession, probe: Probe, dir: String): Unit
  /** One pass. `check` verifies every output (outside the timed window). */
  def pass(spark: SparkSession, probe: Probe, index: Int, check: Boolean): Seq[OpResult]
  /** Workload-specific figures for the detail record, name -> value. */
  def details: Seq[(String, Double)] = Nil
}

object Workloads {
  val names: Seq[String] = Seq("bi_mix", "graph_fixpoint", "corpus_dedup", "warehouse_ingest")

  def apply(name: String, seed: Long): Workload = name match {
    case "bi_mix" => new ReadWorkload(name, seed, biMix,
      Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events",
        "documents"))
    case "graph_fixpoint" => new ReadWorkload(name, seed,
      Seq("g_pagerank_parts", "g_lpa_communities"), Seq("part", "lineitem"))
    case "corpus_dedup" => new ReadWorkload(name, seed,
      Seq("dd_ngram_jaccard", "dd_simhash_pairs", "dd_minhash_lsh_neardup",
        "decon_ngram_overlap", "txt_quality", "txt_pii_scrub", "sim_ivf_topk"),
      Seq("documents", "embeddings"))
    case "warehouse_ingest" => new IngestWorkload(seed)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (known: ${names.mkString(", ")})")
  }

  /** The sub-second relational entries: the fifteen rank queries and the
    * metric, aggregation, window, event, join and dedup entries. */
  def biMix: Seq[String] = SparkEntry.queries.keys.filter(_.matches("q\\d\\d_.*")).toSeq.sorted ++
    Seq("m_hindex", "m_gindex", "m_euclidean", "agg_lineitem_pricing", "rollup_orders",
      "agg_cube_orders", "topk_orders", "w3_running_sum_per_customer", "win_analytics",
      "o6_latest_event_per_user", "evt_sessionize", "evt_asof_purchase", "evt_range_join",
      "evt_funnel", "evt_retention", "j3_anti_join_parts_never_ordered",
      "j11_semi_join_big_spenders", "d1_dedup_keep_first", "d2_upsert_dim", "d3_surrogate_keys")

  /** Release everything an operation pinned, so nothing is reused by the
    * next one and no leftover block is evicted under a later operation. */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def errorOf(e: Throwable): String = e.toString.takeWhile(_ != '\n').take(300)

  /** Deliver every row of `df` to the client, as an analyst's query does.
    * Unlike count(), collecting keeps the final sorts and projections; the
    * rows are then fingerprinted outside the timed window. */
  def collect(df: DataFrame): Seq[Row] = df.collect().toSeq
}

/** A read workload: entries of `SparkEntry.queries` over the named tables
  * of the read corpus, in a seed-shuffled order per pass. The corpus seed
  * is constant, so outputs are fixed and their fingerprints committed. */
final class ReadWorkload(val name: String, seed: Long, val ops: Seq[String],
    tables: Seq[String]) extends Workload {
  private val corpus = Gen.ReadCorpus(sf = 0.01, seed = 20221)
  private var dir: String = _
  private var expected: Map[String, String] = Map.empty

  /** Fingerprints the outputs must match, `name -> rows:hash`. */
  def expect(fps: Map[String, String]): Unit = expected = fps

  def setup(spark: SparkSession, probe: Probe, d: String): Unit = {
    probe.span("generate", "setup")(corpus.write(spark, d, tables))
    // touch every table so footers and scan code are warm
    probe.span("warm", "setup")(tables.foreach(t => graft.Tables.load(spark, d, t).count()))
    dir = d
  }

  def pass(spark: SparkSession, probe: Probe, index: Int, check: Boolean): Seq[OpResult] =
    new Random(seed * 1000003L + index).shuffle(ops).map { op =>
      val fn = SparkEntry.queries(op)
      var out: Option[(DataFrame, Seq[Row])] = None
      val t0 = System.nanoTime()
      val error = probe.span(op, "op") {
        try {
          val df = probe.span("build", "queries")(fn(spark, dir))
          out = Some(df -> probe.span("execute", "spark")(Workloads.collect(df)))
          None
        } catch { case e: Throwable => Some(Workloads.errorOf(e)) }
      }
      val seconds = (System.nanoTime() - t0) / 1e9
      Workloads.release(spark)
      OpResult(op, seconds, error.orElse(out.flatMap { case (df, rows) =>
        if (check) verify(op, Fingerprint.of(df.schema, rows)) else None }))
    }

  private def verify(op: String, got: String): Option[String] =
    expected.get(op) match {
      case Some(want) if want == got => None
      case Some(want) => Some(s"wrong output: fingerprint $got, expected $want")
      case None => Some(s"no expected fingerprint (got $got)")
    }

  /** Fingerprint every operation once (used to regenerate expectations). */
  def fingerprints(spark: SparkSession): Seq[(String, String)] = ops.sorted.map { op =>
    val fp = Fingerprint.of(SparkEntry.queries(op)(spark, dir))
    Workloads.release(spark)
    op -> fp
  }
}

/** Expected output fingerprints of a read workload, one `name<TAB>rows:hash`
  * line per operation; `#` starts a comment line. */
object Expected {
  def load(file: File): Map[String, String] =
    if (!file.exists) Map.empty
    else {
      val src = scala.io.Source.fromFile(file, "UTF-8")
      try src.getLines().filter(l => l.nonEmpty && !l.startsWith("#"))
        .map(_.split('\t')).map(a => a(0) -> a(1)).toMap
      finally src.close()
    }

  def write(file: File, header: String, fps: Seq[(String, String)]): Unit =
    java.nio.file.Files.writeString(file.toPath,
      header.linesIterator.map("# " + _).mkString("", "\n", "\n") +
        fps.map { case (n, fp) => s"$n\t$fp" }.mkString("", "\n", "\n"))
}

/** The write path. Set-up lands a seeded base corpus of 100 batches (5,000
  * papers) as staged parquet and loads it with one `StreamingWarehouse.run`.
  * Each pass lands one more seeded 50-paper batch, folds it in with a
  * second `run` (which recovers the state the last one committed), then
  * runs the fifteen `BiQueriesWarehouse.all` reads on the returned state.
  *
  * One set-up per run, not three: a set-up holds a full warehouse commit
  * (about 30 s on four cores), and three would not fit the run budget. */
final class IngestWorkload(seed: Long) extends Workload {
  val name = "warehouse_ingest"
  override val setupReps = 1
  val BatchSize = 50
  val BaseBatches = 100
  val SampleAuthors = 8

  private val gen = Gen.Papers(seed, BatchSize)
  private var dir: String = _
  private val emitted = ArrayBuffer[Gen.Paper]()
  private val seen = scala.collection.mutable.HashSet[String]()
  private var fresh = 0
  private var nextBatch = 1
  private val stateBytesPerPaper = ArrayBuffer[Double]()

  private def land(spark: SparkSession, papers: Seq[Gen.Paper]): Unit = {
    Gen.frame(spark, papers.map(gen.row), StreamingWarehouse.stagedSchema)
      .coalesce(1).write.mode("append").parquet(s"$dir/staged")
    emitted ++= papers
    seen ++= papers.map(_.id)
  }

  private def runStream(spark: SparkSession): Warehouse.State =
    StreamingWarehouse.run(spark, s"$dir/staged", s"$dir/checkpoint", s"$dir/state")

  def setup(spark: SparkSession, probe: Probe, d: String): Unit = {
    dir = d
    emitted.clear()
    seen.clear()
    val base = gen.base(BatchSize * BaseBatches)
    fresh = base.size
    nextBatch = 1
    probe.span("land", "setup")(land(spark, base))
    probe.span("base_load", "setup")(runStream(spark))
    Workloads.release(spark)
  }

  def pass(spark: SparkSession, probe: Probe, index: Int, check: Boolean): Seq[OpResult] = {
    val out = ArrayBuffer[OpResult]()
    probe.span("land", "bench") {
      val b = gen.batch(nextBatch, fresh)
      nextBatch += 1
      fresh += b.map(_.id).distinct.count(id => !seen(id))
      land(spark, b)
    }
    var state: Option[Warehouse.State] = None
    val t0 = System.nanoTime()
    val err = probe.span("ingest", "op") {
      try { state = Some(probe.span("run", "pipeline")(runStream(spark))); None }
      catch { case e: Throwable => Some(Workloads.errorOf(e)) }
    }
    out += OpResult("ingest", (System.nanoTime() - t0) / 1e9, err)
    state.foreach { s =>
      val reads = BiQueriesWarehouse.all(s).toSeq.sortBy(_._1)
      new Random(seed * 1000003L + index).shuffle(reads).foreach { case (q, df) =>
        val t1 = System.nanoTime()
        val err = probe.span(s"read_$q", "op") {
          try { probe.span("read", "pipeline")(Workloads.collect(df)); None }
          catch { case e: Throwable => Some(Workloads.errorOf(e)) }
        }
        out += OpResult(s"read_$q", (System.nanoTime() - t1) / 1e9, err)
      }
      if (check) {
        val (facts, problems) = probe.span("check", "bench")(verify(s))
        if (problems.nonEmpty) out += OpResult("check", 0.0, Some(problems.mkString("; ")))
        stateBytesPerPaper += stateBytes / math.max(1L, facts).toDouble
      }
    }
    Workloads.release(spark)
    out.toSeq
  }

  /** Compare the warehouse with the generator's ground truth; returns the
    * fact row count and the problems found. */
  private def verify(s: Warehouse.State): (Long, Seq[String]) = {
    val truth = Gen.Truth(emitted.toSeq)
    val problems = ArrayBuffer[String]()
    val facts = s.fact.count()
    if (facts != truth.factRows) problems += s"fact rows $facts, expected ${truth.factRows}"
    val bridges = s.bridgeAuthor.count()
    if (bridges != truth.bridgeRows) problems += s"bridge rows $bridges, expected ${truth.bridgeRows}"
    val sample = new Random(seed + nextBatch).shuffle(truth.authors).take(SampleAuthors)
    val got = s.dimAuthor.filter(col("full_name").isin(sample: _*))
      .select("full_name", "h_index", "g_index").collect()
      .map(r => r.getString(0) -> (r.getInt(1), r.getInt(2))).toMap
    sample.foreach { a =>
      val want = (truth.hIndex(a), truth.gIndex(a))
      if (!got.get(a).contains(want)) problems += s"$a h/g ${got.get(a)}, expected $want"
    }
    (facts, problems.toSeq)
  }

  /** On-disk bytes of the newest committed state version. */
  private def stateBytes: Double = {
    def size(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(size).sum else f.length
    val versions = Option(new File(s"$dir/state").listFiles()).getOrElse(Array.empty)
      .filter(v => v.getName.matches("v\\d+") && new File(v, "_GRAFT_COMMITTED").exists)
    size(versions.maxBy(_.getName.drop(1).toLong)).toDouble
  }

  override def details: Seq[(String, Double)] =
    if (stateBytesPerPaper.isEmpty) Nil
    else Seq("state_bytes_per_paper" -> Stats.median(stateBytesPerPaper.toSeq))
}
