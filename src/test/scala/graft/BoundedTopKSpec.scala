package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Pq, Sampling, Similarity}

/** [[graft.plans.BoundedTopK]] vs the window `row_number` formulation it
  * replaces: identical rows AND ranks on tied and untied scores, both
  * orderings; and the plans of the operators it serves must show the
  * bounded aggregate with no Window operator (the pair shuffle is gone). */
class BoundedTopKSpec extends AnyFunSuite {
  import TestSpark.spark

  private val dir = "/root/testdata/sf0.001"

  // 2000 rows, 37 keys, quantized scores (ties guaranteed), unique ids
  private def df = spark.range(2000).select(
    (col("id") % 37).as("k"),
    (((col("id") * 2654435761L) % 97) / 7.0).as("score"),
    col("id"))

  private def windowed(desc: Boolean) = {
    val ord = if (desc) col("score").desc else col("score").asc
    val w = Window.partitionBy(col("k")).orderBy(ord, col("id"))
    df.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 5)
      .select(col("k"), col("id"), col("rnk"))
  }

  private def bounded(desc: Boolean) =
    df.groupBy(col("k"))
      .agg(graft.plans.GraftExtensions.boundedTopK(
        struct(col("score"), col("id")), 5, descFirst = desc).as("top"))
      .select(col("k"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("k"), col("t.id").as("id"), (col("pos") + 1).as("rnk"))

  private def rows(d: org.apache.spark.sql.DataFrame) =
    d.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

  test("equals window row_number, score descending") {
    assert(rows(bounded(desc = true)) == rows(windowed(desc = true)))
  }

  test("equals window row_number, score ascending (distance mode)") {
    assert(rows(bounded(desc = false)) == rows(windowed(desc = false)))
  }

  test("groups smaller than k keep all rows, still ranked") {
    val tiny = spark.range(3).select(lit(0L).as("k"),
      col("id").cast("double").as("score"), col("id"))
    val got = tiny.groupBy(col("k"))
      .agg(graft.plans.GraftExtensions.boundedTopK(
        struct(col("score"), col("id")), 10, descFirst = true).as("top"))
      .select(posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("t.id"), (col("pos") + 1).as("rnk"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq.sorted
    assert(got == Seq((0L, 3), (1L, 2), (2L, 1)))
  }

  test("quantizedTopK plan: bounded aggregate present, Window gone") {
    val plan = Similarity.quantizedTopK(Tables.embeddings(spark, dir),
      col("vec_id") < 5, 3).queryExecution.executedPlan.toString
    assert(plan.contains("bounded_topk"), s"no bounded_topk in:\n$plan")
    assert(!plan.contains("Window"), s"Window survived in:\n$plan")
  }

  test("every operator finishing through topKPerGroup plans a bounded aggregate, no Window") {
    import spark.implicits._
    // 16 vectors of dim 8: planning reads no table, and the one operator
    // that executes anything (the residual codebook pins) pins 16 rows
    val emb = (0L until 16L).map(i => (i,
        Array.tabulate(8)(j => ((i * 7 + j * 3) % 11 - 5).toFloat)))
      .toDF("vec_id", "embedding")
    val (m, dsub, isQ) = (2, 4, col("vec_id") < 3)
    val ivfC = Similarity.kMeansCentroids(emb, 3, iters = 0)
    val pqC = Pq.subVectors(emb, m, dsub).filter(col("vec_id") < 3)
      .select(col("sub"), col("vec_id").as("centroid_id"), col("sv").as("cv"))
    Seq(
      "bruteForceTopK" -> Similarity.bruteForceTopK(emb, isQ, 3),
      "quantizedRerankTopK" ->
        Similarity.quantizedRerankTopK(emb, isQ, 3, shortlist = 6),
      "ivfTopKWith" -> Similarity.ivfTopKWith(emb, ivfC, isQ, 3, nProbe = 2),
      "adcTopK" -> Pq.adcTopK(emb, pqC, isQ, 3, m, dsub),
      "ivfAdcTopK" -> Pq.ivfAdcTopK(emb, ivfC, pqC, isQ, 3, m, dsub, nProbe = 2),
      "ivfAdcResidualTopK" -> Pq.ivfAdcResidualTopK(emb, ivfC, isQ, 3, m,
        dsub, ksub = 2, pqIters = 0, nProbe = 2),
      "reservoir" -> Sampling.reservoir(emb, col("vec_id"),
        col("vec_id") % 2, 3, "s")
    ).foreach { case (name, df) =>
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("bounded_topk"), s"$name: no bounded_topk in:\n$plan")
      assert(!plan.contains("Window"), s"$name: a Window in:\n$plan")
    }
  }
}
