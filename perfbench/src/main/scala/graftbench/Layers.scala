package graftbench

/** Per-layer metrics of a traced run, each averaged over its traced
  * passes (peak execution memory is a maximum). Layers are the engine's
  * modules as seen from outside: `queries` (building a query, where eager
  * pin loops run), `plans` (Catalyst analysis, optimization and physical
  * planning, GraftExtensions rules included), `spark` (the scheduler),
  * `operators` (executor work), `pipeline` (the streaming warehouse) and
  * `jvm`. */
object Layers {

  def metrics(probe: Probe, w: Workload, passes: Seq[(Boolean, Seq[OpResult])],
      gcTracedMs: Long, cores: Int): Seq[(String, Double, String)] = {
    val traced = passes.filter(_._1)
    val n = traced.size.toDouble
    val t = probe.totals
    val execs = probe.opExecutions
    val spans = probe.allSpans.filter(_.traced)
    def layerS(layer: String, name: String = null) =
      spans.filter(s => s.layer == layer && (name == null || s.name == name)).map(_.seconds).sum
    val opWall = spans.filter(_.layer == "op").map(_.seconds).sum
    val runSpans = spans.filter(s => s.layer == "pipeline" && s.name == "run")
    val batches = runSpans.flatMap { r =>
      probe.batches(r.startMs).filter(_.startMs <= r.endMs).map(r -> _) }
    val recover = runSpans.map { r =>
      batches.filter(_._1 == r).map(_._2.startMs).minOption.fold(r.seconds)(b => (b - r.startMs) / 1000.0)
    }.sum
    val passS = (sel: Boolean) => passes.filter(_._1 == sel).map(_._2.map(_.seconds).sum)
    val mb = 1048576.0
    Seq(
      ("queries.build_s", layerS("queries") / n, "s"),
      ("queries.build_jobs", t.buildJobs / n, "count"),
      ("plans.planning_s", execs.map(_.planMs).sum / 1000.0 / n, "s"),
      ("plans.executions", execs.size / n, "count"),
      ("spark.jobs", t.jobs / n, "count"),
      ("spark.stages", t.stages / n, "count"),
      ("spark.tasks", t.tasks / n, "count"),
      ("spark.idle_s", probe.idleSeconds / n, "s"),
      ("spark.core_util", if (opWall > 0) t.runMs / 1000.0 / (opWall * cores) else 0.0, "ratio"),
      ("operators.task_run_s", t.runMs / 1000.0 / n, "s"),
      ("operators.task_cpu_s", t.cpuNs / 1e9 / n, "s"),
      ("operators.gc_s", t.gcMs / 1000.0 / n, "s"),
      ("operators.shuffle_read_mb", t.shuffleRead / mb / n, "MB"),
      ("operators.shuffle_write_mb", t.shuffleWrite / mb / n, "MB"),
      ("operators.spill_mb", t.spill / mb / n, "MB"),
      ("operators.peak_exec_mem_mb", t.peakExecMem / mb, "MB"),
      ("pipeline.commit_s", if (batches.isEmpty) 0.0 else batches.map(_._2.triggerS).sum / batches.size, "s"),
      ("pipeline.add_batch_s", batches.map(_._2.addBatchS).sum / n, "s"),
      ("pipeline.stream_overhead_s", batches.map(b => b._2.triggerS - b._2.addBatchS).sum / n, "s"),
      ("pipeline.recover_s", recover / n, "s"),
      ("pipeline.bytes_written_mb", t.outBytes / mb / n, "MB"),
      ("pipeline.files_written", execs.map(_.files).sum / n, "count"),
      ("pipeline.bi_read_s", layerS("pipeline", "read") / n, "s"),
      ("pipeline.state_bytes_per_paper", w.details.toMap.getOrElse("state_bytes_per_paper", 0.0), "B"),
      ("jvm.gc_s", gcTracedMs / 1000.0 / n, "s"),
      ("trace.overhead_s", Stats.median(passS(true)) - Stats.median(passS(false)), "s"))
  }
}
