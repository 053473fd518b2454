package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Pq, Similarity}

/** IVF×PQ compositions ([[Pq.ivfAdcTopK]], [[Pq.ivfAdcResidualTopK]]):
  * ADC distances must equal the full-scan ADC path pair-for-pair (the
  * residual path: the sum of its own per-(query, bucket) table entries),
  * candidates must come only from probed buckets, and ranks must be
  * dense and distance-ordered. */
class IvfPqSpec extends AnyFunSuite {
  import TestSpark.spark

  private val dir = "/root/testdata/sf0.001"
  private val (m, dsub, ksub) = (4, 16, 8)

  private lazy val emb = Tables.embeddings(spark, dir)
  private lazy val ivfC = Similarity.kMeansCentroids(emb, 8, iters = 1)
  private lazy val pqC = Pq.trainCentroids(emb, m, dsub, ksub, iters = 1)
  private lazy val isQ = col("vec_id") < 10

  private lazy val got = Pq.ivfAdcTopK(emb, ivfC, pqC, isQ, k = 5,
    m, dsub, nProbe = 2).collect()

  test("adist values match the full-scan ADC path pair-for-pair") {
    // adcTopK with k = |corpus| is the exhaustive ADC ranking — every
    // (query, neighbor) the IVF path returns must carry the same adist
    val n = emb.count().toInt
    val full = Pq.adcTopK(emb, pqC, isQ, k = n, m, dsub)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(got.nonEmpty)
    got.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      assert(full.contains(key), s"pair $key missing from full ADC scan")
      assert(full(key) == r.getDouble(3),
        s"adist drift at $key: ${full(key)} vs ${r.getDouble(3)}")
    }
  }

  // the IVF rank as a window, independent of the operators' bounded
  // aggregate: each vector's bucket and the queries' two probed buckets
  private lazy val (bucketOf, probesOf) = {
    val e0 = emb.select(col("vec_id"),
      Similarity.vecD(col("embedding")).as("v"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos").desc, col("centroid_id"))
    val scored = e0.crossJoin(broadcast(
        ivfC.select(col("centroid_id"), col("cv"))))
      .withColumn("cos", Similarity.cosine(col("v"), col("cv")))
      .withColumn("rnk", row_number().over(w))
    (scored.filter(col("rnk") === 1)
      .select(col("vec_id"), col("centroid_id").cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap,
     scored.filter(isQ && col("rnk") <= 2)
      .select(col("vec_id"), col("centroid_id").cast("long"))
      .collect().groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet })
  }

  private def assertProbedOnly(rows: Array[Row]): Unit =
    rows.foreach { r =>
      val (q, nb) = (r.getLong(0), r.getLong(1))
      assert(probesOf(q).contains(bucketOf(nb)),
        s"neighbor $nb of query $q is outside its probed buckets")
    }

  private def assertDenseByDistance(rows: Array[Row]): Unit = {
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getInt(2))
      assert(sorted.map(_.getInt(2)).toSeq == (1 to sorted.length).toSeq)
      val byDist = sorted.map(r => (r.getDouble(3), r.getLong(1))).toSeq
      assert(byDist == byDist.sorted)
    }
  }

  test("neighbors come only from the query's probed buckets") {
    assertProbedOnly(got)
  }

  test("ranks are dense, start at 1, and follow (adist asc, vec_id)") {
    assertDenseByDistance(got)
  }

  test("residual IVFADC: probed buckets only, dense (adist, vec_id) ranks, " +
      "adist = the sum of the query-bucket residual table over the codes") {
    val res = Pq.ivfAdcResidualTopK(emb, ivfC, isQ, k = 5, m, dsub, ksub,
      pqIters = 1, nProbe = 2).collect()
    assertProbedOnly(res)
    assertDenseByDistance(res)
    // the residual codebooks and codes, rebuilt from driver-side residuals
    def long(r: Row, c: String) = r.getAs[Number](c).longValue
    def doubles(r: Row, c: String) =
      r.getAs[collection.Seq[Number]](c).map(_.doubleValue).toArray
    val vec = emb.collect().map(r => long(r, "vec_id") -> doubles(r, "embedding")).toMap
    val cent = ivfC.collect().map(r => long(r, "centroid_id") -> doubles(r, "cv")).toMap
    def minus(a: Array[Double], b: Array[Double]) = a.zip(b).map { case (x, y) => x - y }
    import spark.implicits._
    val residuals = vec.toSeq.map { case (id, v) => (id, minus(v, cent(bucketOf(id)))) }
      .toDF("vec_id", "embedding")
    val rCents = Pq.trainCentroids(residuals, m, dsub, ksub, iters = 1)
    val book = rCents.collect().map(r =>
      (long(r, "sub"), long(r, "centroid_id")) -> doubles(r, "cv")).toMap
    val code = Pq.codes(residuals, rCents, m, dsub).collect().map(r =>
      (long(r, "vec_id"), long(r, "sub")) -> long(r, "code")).toMap
    // l2sq: index-ascending squares, summed left to right from 0.0
    def l2sq(a: Array[Double], b: Array[Double]) =
      minus(a, b).map(d => d * d).foldLeft(0.0)(_ + _)
    res.foreach { r =>
      val (q, nb) = (r.getLong(0), r.getLong(1))
      val rq = minus(vec(q), cent(bucketOf(nb)))
      val s = (0 until m).map(j => l2sq(rq.slice(j * dsub, (j + 1) * dsub),
        book((j.toLong, code((nb, j.toLong))))))
      val expected = (1 until m).foldLeft(s(0))(_ + s(_))
      assert(r.getDouble(3) == expected, s"adist of ($q, $nb)")
    }
  }
}
