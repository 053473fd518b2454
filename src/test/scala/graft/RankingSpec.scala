package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Ranking

/** The two-pass global dense rank must be bit-identical to the
  * single-partition window AND keep every WindowExec partitioned (the
  * whole point of the rewrite — SURVEY §7 risk 2). The naive-window
  * references are computed with the [[graft.plans.GlobalRankRewrite]]
  * kill-switch off — with the rule active they'd be rewritten too and the
  * comparison would be circular. */
class RankingSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  // 500 rows over 37 distinct values — dense ties across partitions.
  private def data = (1 to 500).map(i => (i.toLong, (i % 37) * 1.5)).toDF("id", "v")

  /** Run `f` with the optimizer rewrite disabled (reference plans). */
  private def withoutRewrite[T](f: => T): T = {
    spark.conf.set("spark.graft.globalRankRewrite", "false")
    try f finally spark.conf.set("spark.graft.globalRankRewrite", "true")
  }

  /** Run `f` with 7 shuffle partitions, so the two-pass rank spreads the
    * 37 distinct values over several range partitions. */
  private def with7Partitions[T](f: => T): T = {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try f finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  // an unpartitioned window renders windowspecdefinition(<sort> ASC/DESC
  // …) — partitioned ones lead with the partition column(s) then a comma
  private val unpartitioned = """windowspecdefinition\([^,]*(ASC|DESC)""".r
  private def planOf(df: DataFrame): String =
    df.queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)

  test("globalDenseRank (desc) matches dense_rank window exactly") {
    val expected = withoutRewrite {
      data.withColumn("r", dense_rank().over(Window.orderBy(col("v").desc)))
        .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    }
    val got = with7Partitions(Ranking.globalDenseRank(data, "v", "r")
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap)
    assert(got == expected)
  }

  test("globalDenseRank (asc) matches dense_rank window exactly") {
    val expected = withoutRewrite {
      data.withColumn("r", dense_rank().over(Window.orderBy(col("v").asc)))
        .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    }
    val got = with7Partitions(Ranking.globalDenseRank(data, "v", "r", ascending = true)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap)
    assert(got == expected)
  }

  test("q05 executes with no unpartitioned WindowExec") {
    val df = SparkEntry.queries("q05_rank_orders_by_price")(
      spark, "/root/testdata/sf0.001")
    assert(df.count() > 0)
    assert(unpartitioned.findFirstIn(planOf(df)).isEmpty,
      s"single-partition window found:\n${planOf(df)}")
  }

  test("SQL-text DENSE_RANK over a raw table is rewritten, bit-identical") {
    data.createOrReplaceTempView("rk_t")
    val q = """SELECT id, v, DENSE_RANK() OVER (ORDER BY v DESC) AS r
              |FROM rk_t ORDER BY r, id""".stripMargin
    val df = spark.sql(q)
    val got = df.collect().map(r => (r.getLong(0), r.getInt(2)))
    val expected = withoutRewrite {
      spark.sql(q).collect().map(r => (r.getLong(0), r.getInt(2)))
    }
    assert(got.sameElements(expected))
    assert(unpartitioned.findFirstIn(planOf(df)).isEmpty,
      s"SQL-text path kept the single-partition window:\n${planOf(df)}")
  }

  test("rewrite keeps NULL-ranked rows (null-safe join-back)") {
    Seq((1L, Some(2.0)), (2L, None), (3L, Some(1.0)), (4L, None))
      .toDF("id", "v").createOrReplaceTempView("rk_null")
    val q = """SELECT id, DENSE_RANK() OVER (ORDER BY v DESC) AS r
              |FROM rk_null ORDER BY r, id""".stripMargin
    val got = spark.sql(q).collect().map(r => (r.getLong(0), r.getInt(1)))
    val expected = withoutRewrite {
      spark.sql(q).collect().map(r => (r.getLong(0), r.getInt(1)))
    }
    assert(got.sameElements(expected))
    assert(got.toSeq == Seq((1L, 1), (3L, 2), (2L, 3), (4L, 3)))
  }

  test("globalRankCols matches RANK() gap semantics exactly") {
    val expected = withoutRewrite {
      data.withColumn("r", rank().over(Window.orderBy(col("v").desc)))
        .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    }
    val got = with7Partitions(Ranking.globalRankCols(data, Seq("v"), "r")
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap)
    assert(got == expected)
  }

  test("SQL-text RANK() over a raw table is rewritten, bit-identical") {
    data.createOrReplaceTempView("rk_t2")
    val q = """SELECT id, v, RANK() OVER (ORDER BY v ASC) AS r
              |FROM rk_t2 ORDER BY r, id""".stripMargin
    val df = spark.sql(q)
    val got = df.collect().map(r => (r.getLong(0), r.getInt(2)))
    val expected = withoutRewrite {
      spark.sql(q).collect().map(r => (r.getLong(0), r.getInt(2)))
    }
    assert(got.sameElements(expected))
    assert(unpartitioned.findFirstIn(planOf(df)).isEmpty,
      s"RANK SQL path kept the single-partition window:\n${planOf(df)}")
  }

  test("ROW_NUMBER is left alone (no safe rewrite without unique order)") {
    data.createOrReplaceTempView("rk_t3")
    val df = spark.sql(
      "SELECT id, ROW_NUMBER() OVER (ORDER BY v DESC) AS r FROM rk_t3")
    assert(unpartitioned.findFirstIn(planOf(df)).isDefined)
  }

  private def jobsDuring(f: => Unit): Int = obs.QueryProfile.during(spark)(f).jobs

  test("columns named like rewrite temporaries are gated, results correct") {
    // _vn and _prior are RANK()'s pass-1 temporaries (Ranking.scala) — a
    // child carrying them must NOT be rewritten (ambiguous resolution /
    // silently wrong aggregation otherwise). Round-4 regression: the gate
    // listed only the dense-rank temporaries.
    val poisoned = (1 to 100).map(i => (i.toLong, (i % 11) * 2.0, i * 10L, s"p$i"))
      .toDF("id", "v", "_vn", "_prior")
    poisoned.createOrReplaceTempView("rk_poison")
    for (fn <- Seq("RANK", "DENSE_RANK")) {
      val q = s"""SELECT id, _vn, _prior, $fn() OVER (ORDER BY v DESC) AS r
                 |FROM rk_poison ORDER BY r, id""".stripMargin
      val df = spark.sql(q)
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
      val expected = withoutRewrite {
        spark.sql(q).collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
      }
      assert(got.sameElements(expected), s"$fn over poisoned columns diverged")
      assert(unpartitioned.findFirstIn(planOf(df)).isDefined,
        s"$fn: temp-name gate failed to reject the rewrite")
    }
  }

  test("planning/explain of a rewritten rank query launches zero jobs") {
    data.createOrReplaceTempView("rk_lazy")
    val q = """SELECT id, v, DENSE_RANK() OVER (ORDER BY v DESC) AS r
              |FROM rk_lazy""".stripMargin
    val n = jobsDuring {
      val df = spark.sql(q)
      planOf(df) // full physical planning, rule applied
      planOf(spark.sql(q)) // re-planning must not re-run anything either
    }
    assert(n == 0, s"explain() launched $n Spark job(s)")
    // …and the plan really was rewritten (not a gated no-op)
    assert(unpartitioned.findFirstIn(planOf(spark.sql(q))).isEmpty)
  }

  test("job-free-planning rank construction launches zero jobs") {
    // the optimizer rule's building block: with jobFreePlanning the pin is
    // a lazy persist, so building + physical-planning runs nothing. (The
    // DEFAULT mode deliberately runs one eager checkpoint job instead —
    // plan truncation; see Ranking.pin.)
    val n = with7Partitions(jobsDuring {
      Ranking.globalDenseRankCols(data, Seq("v"), "r",
        jobFreePlanning = true).queryExecution.executedPlan
      Ranking.globalRankCols(data, Seq("v"), "r",
        jobFreePlanning = true).queryExecution.executedPlan
    })
    assert(n == 0, s"construction launched $n Spark job(s)")
  }

  test("N successive SQL-text rank queries leave zero persisted frames") {
    // VERDICT r6 #2: the rule-mode lazy persist of the boundary frame used
    // to pin one InMemoryRelation per SQL-text rank query until clearCache.
    // RankPinRelease now sweeps each frame when its query completes.
    import org.apache.spark.sql.graftshim.Shims
    val before = spark.sparkContext.getPersistentRDDs.keySet
    data.createOrReplaceTempView("rk_sweep")
    for (i <- 1 to 4) {
      // distinct SQL text per iteration → distinct plan → distinct frame
      val fn = if (i % 2 == 0) "RANK" else "DENSE_RANK"
      val df = spark.sql(
        s"""SELECT id, v, $fn() OVER (ORDER BY v DESC) AS r
           |FROM rk_sweep WHERE id > $i""".stripMargin)
      // collect, not count: count() prunes the rank column, the window
      // disappears before the rule, and nothing would ever materialize
      assert(df.collect().nonEmpty)
      assert(unpartitioned.findFirstIn(planOf(df)).isEmpty,
        "query was not rewritten — sweep test would be vacuous")
    }
    Shims.drainListenerBus(spark) // listener completions are async
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"rank queries left persisted RDDs: $leaked")
  }

  test("post-aggregate dense_rank is NOT rewritten (cardinality gate)") {
    val agg = data.groupBy("v").agg(count(lit(1)).as("n"))
      .withColumn("r", dense_rank().over(Window.orderBy(col("n").desc)))
    assert(unpartitioned.findFirstIn(planOf(agg)).isDefined,
      "gate failed: post-aggregate window was rewritten")
  }
}
