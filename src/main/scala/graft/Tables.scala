package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated TPC-H-ish parquet tables (TESTDATA.md).
  *
  * All readers are plain `spark.read.parquet` — schemas live in the parquet
  * footers, and Catalyst pushes projection/predicates into the vectorized
  * scan. At 100 TB these would be partitioned-directory tables (partitioned
  * by date for `orders`/`lineitem`/`events`), but the read API is identical.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** `events.ts` is parquet TIMESTAMP(NANOS), which Spark 4's vectorized
    * reader rejects outright. With `spark.sql.legacy.parquet.nanosAsLong`
    * (set by [[graft.Sessions]]) it lands as a nanos-since-epoch Long; we
    * convert to a µs-precision timestamp — the same truncation DuckDB
    * applies (its TIMESTAMP is µs) — so both engines see identical values.
    */
  private def normalizeTs(df: DataFrame): DataFrame =
    if (df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      // integral `div`, not `/`: double division of an epoch-nanos Long
      // (~1.7e18 > 2^53) carries ±128 ns of rounding error, enough to land
      // on the wrong microsecond vs DuckDB's exact truncation
      df.withColumn("ts",
        org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts div 1000")))
    else df

  /** Adaptive scan fan-out for per-row-HEAVY downstream work (r17,
    * optimization guide §2.5 "input skew: one huge unsplittable file —
    * repartition immediately after the read"): the test corpora are
    * single-row-group parquet, so every scan arrives as ONE partition
    * and per-row-expensive expression chains (multi-stage regex scrubs,
    * tokenizers) run on one core of local[32]. When the input's planned
    * parallelism is already at least half the session's shuffle
    * parallelism — a real cluster scan of split files — this is the
    * IDENTITY: no exchange, no payload shuffle. Only starved inputs pay
    * one narrow exchange, hash-keyed with an EXPLICIT partition count
    * (the Multimodal.fannedIds lesson: AQE coalesces a bare
    * repartition(col) of few bytes right back to one partition — it
    * sizes by bytes and cannot see per-row cost downstream). Use only
    * where downstream per-row work dominates the one-off shuffle of the
    * payload. */
  def fanned(df: DataFrame, key: org.apache.spark.sql.Column): DataFrame = {
    val target = df.sparkSession.sessionState.conf.numShufflePartitions
    // The `rdd.getNumPartitions` probe plans `df` in full on the driver,
    // afresh on every call. Keep it outside loops: inside an iterative
    // operator it would re-plan a frame that grows every round.
    if (df.rdd.getNumPartitions * 2 >= target) df
    else df.repartition(target, key)
  }

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame     = normalizeTs(load(s, d, "events"))
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
