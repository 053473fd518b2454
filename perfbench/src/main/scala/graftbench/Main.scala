package graftbench

import java.io.File
import java.util.Locale

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One benchmark run: `--workload W --seed N --seconds S --trace 0|1`.
  *
  * Set-up runs `setupReps` times, on fresh inputs each time; the median
  * is `setup_s`. Timed passes follow, closed loop with one client, until
  * `--seconds` have passed (whole passes, at least one). Every output of
  * an untraced pass is checked, outside its operation's timed window.
  * With `--trace 1` an untimed warm-up pass comes first, then the passes
  * alternate traced and untraced (at least one of each); the per-layer
  * metrics come from the traced ones. The last stdout line is the result
  * object.
  *
  * Two maintenance modes for read workloads replace the run:
  * `GRAFT_BENCH_EMIT_FINGERPRINTS=<file>` writes the expected fingerprints
  * (`run.py --emit-expected`), `GRAFT_BENCH_CORPUS_OUT=<dir>` writes the
  * corpus and prints the operation names (`oracle_crosscheck.py`). */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: File, expected: File, cores: Int)

  def parse(args: Array[String]): Args = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      new File(need("work")), new File(need("expected")), need("cores").toInt)
  }

  def session(cores: Int): SparkSession = {
    val spark = graft.Sessions.local(cores.toString, "graft-perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val w = Workloads(a.workload, a.seed)
    a.work.mkdirs()
    val spark = session(a.cores)
    try {
      w match {
        case r: ReadWorkload => r.expect(Expected.load(new File(a.expected, s"${w.name}.tsv")))
        case _ =>
      }
      (sys.env.get("GRAFT_BENCH_EMIT_FINGERPRINTS"), sys.env.get("GRAFT_BENCH_CORPUS_OUT"), w) match {
        case (Some(out), _, r: ReadWorkload) =>
          r.setup(spark, new Probe(spark), new File(a.work, "corpus").getPath)
          Expected.write(new File(out), s"${w.name}: output fingerprints (rows:hash) over its fixed corpus",
            r.fingerprints(spark))
        case (None, Some(dir), r: ReadWorkload) =>
          r.setup(spark, new Probe(spark), dir)
          println(r.ops.mkString(","))
        case (None, None, _) => run(spark, w, a)
        case _ => sys.error(s"${w.name} is checked against generated ground truth, not fingerprints")
      }
    } finally spark.stop()
  }

  private def run(spark: SparkSession, w: Workload, a: Args): Unit = {
    val load0 = Env.loadAvg()
    val probe = new Probe(spark)
    val setupS = (1 to w.setupReps).map { rep =>
      val t0 = System.nanoTime()
      probe.span(s"setup$rep", "setup")(w.setup(spark, probe, new File(a.work, s"setup$rep").getPath))
      (System.nanoTime() - t0) / 1e9
    }
    // a traced run compares traced with untraced passes, both warm
    val warm = if (a.trace) w.pass(spark, probe, 0, check = true) else Nil

    System.gc()
    val cpu0 = Env.cpu()
    probe.heapWatch(on = true)
    val t0 = System.nanoTime()
    val passes = ArrayBuffer[(Boolean, Seq[OpResult])]()
    var gcTracedMs = 0L
    while (passes.size < (if (a.trace) 2 else 1) || (System.nanoTime() - t0) / 1e9 < a.seconds) {
      val traced = a.trace && passes.size % 2 == 0
      probe.tracing(traced)
      probe.pass = passes.size + 1
      val gc0 = probe.gcMillis()
      val ops = w.pass(spark, probe, passes.size + 1, check = !traced)
      if (traced) gcTracedMs += probe.gcMillis() - gc0
      probe.tracing(on = false)
      passes += traced -> ops
    }
    probe.heapWatch(on = false)
    val cpu1 = Env.cpu()
    val env = Env.json(a.cores, Env.stealPct(cpu0, cpu1), load0, Env.loadAvg())

    val all = warm ++ passes.flatMap(_._2)
    val failures = all.filter(_.error.isDefined)
    val timed = passes.toSeq.filter(p => !p._1)
    val ops = timed.flatMap(_._2).filter(_.error.isEmpty)
    val passS = timed.map(_._2.map(_.seconds).sum)
    val timedPasses = passes.indices.filter(i => !passes(i)._1).map(_ + 1).toSet
    val passCpu = probe.allSpans.filter(s => s.layer == "op" && timedPasses(s.pass))
      .groupBy(_.pass).values.map(_.map(_.cpuSeconds).sum).toSeq

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) Seq(
        ("setup_s", Stats.median(setupS), "s"),
        ("pass_s", Stats.median(passS), "s"),
        ("pass_cpu_s", Stats.median(passCpu), "s"),
        ("peak_live_heap_mb", probe.peakHeapMb, "MB"))
      else Layers.metrics(probe, w, passes.toSeq, gcTracedMs, a.cores)

    val detail = ArrayBuffer[String]()
    detail += s""""workload":"${w.name}","seed":${a.seed},"trace":${if (a.trace) 1 else 0}"""
    detail += s""""setup_s":${setupS.map(fmt).mkString("[", ",", "]")}"""
    detail += s""""passes":${passes.size},"ops":${ops.size}"""
    val lat = ops.map(_.seconds)
    detail += s""""op_p50_s":${pct(lat, Some(50.0))},"op_top_s":${pct(lat, Stats.highest(lat).map(_.p))}"""
    w.details.foreach { case (k, v) => detail += s""""$k":${fmt(v)}""" }
    detail += s""""fail_frac":${fmt(failures.size.toDouble / all.size)}"""
    detail += s""""failures":${failures.map(f => Json.str(s"${f.name}: ${f.error.get}")).mkString("[", ",", "]")}"""
    detail += s""""env":$env"""
    println(detail.mkString("{\"detail\":{", ",", "}}"))

    Trace.write(new File(a.work.getParentFile, s"${w.name}-seed${a.seed}-trace${if (a.trace) 1 else 0}.jsonl"),
      probe.allSpans)
    probe.close()

    val m = metrics.map { case (k, v, u) => s""""$k":{"value":$v,"unit":"$u"}""" }
    println(s"""{"correct":${failures.isEmpty},"attempted":${all.size},"failed":${failures.size},""" +
      s""""metrics":${m.mkString("{", ",", "}")}}""")
  }

  def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else String.format(Locale.ROOT, "%.6f", Double.box(v))

  /** A percentile with its sample count; the value is null where fewer
    * than ten samples lie beyond it. */
  private def pct(xs: Seq[Double], p: Option[Double]): String =
    p.flatMap(Stats.percentile(xs, _)).fold(s"""{"value":null,"n":${xs.size}}""")(x =>
      s"""{"p":${x.p},"value":${fmt(x.value)},"n":${x.n}}""")
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** Spans written out when the run ends, one JSON object per line. */
object Trace {
  def write(f: File, spans: Seq[Probe.Span]): Unit = {
    f.getParentFile.mkdirs()
    java.nio.file.Files.writeString(f.toPath, spans.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"layer":"${s.layer}",""" +
        s""""pass":${s.pass},"traced":${s.traced},"start_ms":${s.startMs},"end_ms":${s.endMs},""" +
        s""""seconds":${Main.fmt(s.seconds)},"cpu_seconds":${Main.fmt(s.cpuSeconds)}}"""
    }.mkString("", "\n", "\n"))
  }
}
