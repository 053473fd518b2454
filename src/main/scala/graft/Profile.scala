package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.obs.QueryProfile

/** Developer tool: profile `SparkEntry` queries one at a time. Each query
  * is built and written through the noop sink (as Bench times it) inside
  * one [[QueryProfile]] window, so its job and shuffle-stage counts are
  * the ones PlanGuardSpec budgets. Per query it prints a summary line,
  * one line per Spark job (id, call site, wall, tasks, shuffle write) and
  * plan-smell flags, and writes the formatted executed plan of the final
  * write to `<outDir>/<query>.txt`. With no query names it profiles the
  * bench headline. Run:
  * `SPARK_GRAFT_CPUS=4 sbt "runMain graft.Profile <sfDir> <outDir> g_pagerank_parts"`. */
object Profile {
  private def mb(bytes: Long): Double = bytes / 1048576.0

  /** Plan smells: a sort-merge join (a join that did not broadcast), a
    * cartesian product, no whole-stage codegen. */
  private def smells(plan: String): Seq[String] = Seq(
    "SortMergeJoin" -> plan.contains("SortMergeJoin"),
    "CartesianProduct" -> plan.contains("CartesianProduct"),
    "no-codegen" -> !plan.contains("codegen id"))
    .collect { case (s, true) => s }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: graft.Profile <sfDir> <outDir> [query…]")
    val Seq(sfDir, outDir) = args.toSeq.take(2)
    val qs = SparkEntry.queries
    val asked = args.toSeq.drop(2)
    val unknown = asked.filterNot(qs.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val names = if (asked.nonEmpty) asked else Bench.headline.filter(qs.contains)
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"), "graft-profile")
    new java.io.File(outDir).mkdirs()
    // warm-up, as in Bench: JIT and file-footer caches must not bill the
    // first profiled query
    Tables.all.foreach(t => Tables.load(spark, sfDir, t).count())

    // the last execution in a window is the noop write: its executed plan
    // is AQE-final and carries the codegen ids the smell flags read
    @volatile var lastPlan: Option[QueryExecution] = None
    val planListener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        lastPlan = Some(qe)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        lastPlan = Some(qe)
    }
    spark.listenerManager.register(planListener)

    names.foreach { name =>
      lastPlan = None
      val t0 = System.nanoTime()
      val p = QueryProfile.during(spark) {
        qs(name)(spark, sfDir).write.mode("overwrite").format("noop").save()
      }
      val wallS = (System.nanoTime() - t0) / 1e9
      val plan = lastPlan.fold("")(_.explainString(FormattedMode))
      Files.writeString(Paths.get(s"$outDir/$name.txt"), plan)
      val flags = smells(plan)
      println(f"[profile] $name: wall $wallS%.2f s, ${p.jobs} jobs, " +
        f"${p.shuffleStages} shuffle stages, ${p.tasks} tasks, " +
        f"run ${p.runMs / 1e3}%.2f s, cpu ${p.cpuMs / 1e3}%.2f s, " +
        f"shuffle read ${mb(p.shuffleReadBytes)}%.2f MB, " +
        f"write ${mb(p.shuffleWriteBytes)}%.2f MB (${p.shuffleWriteRecords} records), " +
        f"spill mem ${mb(p.memorySpillBytes)}%.2f MB disk ${mb(p.diskSpillBytes)}%.2f MB, " +
        f"peak exec ${mb(p.peakExecMemBytes)}%.2f MB; " +
        (if (flags.isEmpty) "ok" else flags.mkString(", ")))
      p.perJob.foreach { j =>
        println(f"[profile]   job ${j.id}%5d ${j.callSite}%-48s " +
          f"${j.wallMs / 1e3}%7.2f s ${j.tasks}%5d tasks " +
          f"${mb(j.shuffleWriteBytes)}%8.2f MB shuffle write " +
          f"${j.shuffleWriteRecords}%8d records")
      }
      // nothing carries over between profiled queries
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    }
    spark.stop()
  }
}
