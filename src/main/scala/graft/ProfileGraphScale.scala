package graft
import org.apache.spark.sql.functions._

/** Scale-stress for the bounded-iteration graph family on the sf0.1
  * REFERENCES graph replicated ×1/×10 by id-offset copies (disjoint
  * components — the per-round shuffle volume grows linearly while round
  * COUNT stays fixed, so the claim under test is wall ∝ edges, not
  * edges²; any superlinear growth would indicate a hidden
  * cross-component join). Results recorded in BASELINE.md.
  *
  * Op set selected by SPARK_GRAFT_GS_OPS (comma list). Default is the
  * round-11 RESTRUCTURED trio — lpa (self-loop fold + hash argmax),
  * hits (reassociated totals), louvain2 (canonical-pair matching) —
  * whose per-round plans postdate the r9 kcore/hits/pagerank sweep
  * this profiler originally certified (VERDICT r11 #1). */
object ProfileGraphScale {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"),
      "prof-graph-scale")
    val edges = graft.queries.GraphQueries
      .refEdgesPublic(spark, "/root/testdata/sf0.1").cache()
    edges.count()
    // The ids to protect are the InMemoryRelation's persisted RDD ids, NOT
    // edges.rdd.id (each .rdd call deserializes a fresh RDD with a new id)
    val protectedIds = spark.sparkContext.getPersistentRDDs.keySet
    def t[A](l: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[gs] $l%-16s ${(System.nanoTime() - t0) / 1e9}%7.2fs"); r
    }
    def sweep(): Unit =
      spark.sparkContext.getPersistentRDDs
        .filterNot { case (id, _) => protectedIds.contains(id) }
        .values.foreach(_.unpersist(true))
    val ops = sys.env.getOrElse("SPARK_GRAFT_GS_OPS", "lpa,hits,louvain2")
      .split(",").map(_.trim).filter(_.nonEmpty).toSet
    for (m <- Seq(1, 10)) {
      val e = (0 until m).map(i =>
          edges.select((col("src") + lit(i * 10000000L)).as("src"),
            (col("dst") + lit(i * 10000000L)).as("dst")))
        .reduce(_ unionByName _)
      if (ops("lpa")) {
        t(s"lpa x$m") {
          println("rows: " +
            graft.operators.Graph.labelPropagation(e, 10).count())
        }
        sweep()
      }
      if (ops("hits")) {
        t(s"hits x$m") {
          println("rows: " +
            graft.operators.Graph.hitsFixed(e, 10).count())
        }
        sweep()
      }
      if (ops("louvain2")) {
        t(s"louvain2 x$m") {
          println("rows: " +
            graft.operators.Graph.louvain2(e, 6, 6).count())
        }
        sweep()
      }
      if (ops("kcore")) {
        t(s"kcore x$m") {
          println("rows: " +
            graft.operators.Graph.kCoreFixed(e, 12).count())
        }
        sweep()
      }
      if (ops("pagerank")) {
        t(s"pagerank x$m") {
          println("rows: " +
            graft.operators.Graph.pageRankFixed(e, 10).count())
        }
        sweep()
      }
    }
    spark.stop()
  }
}
