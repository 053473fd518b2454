package graft

import org.apache.spark.sql.SparkSession

/** One place for session config shared by Verify, Bench, and tests.
  *
  * - `shuffle.partitions` = worker-thread count, not the 200 default — at
  *   test scale extra partitions are pure scheduling overhead; on a real
  *   cluster this would be sized to ~2-3× total cores with AQE coalescing.
  * - AQE on: runtime partition coalescing, skew-join splitting, and
  *   dynamic broadcast selection — the knobs that matter at 100 TB.
  * - `nanosAsLong`: the driver's `events.parquet` carries TIMESTAMP(NANOS)
  *   which Spark 4 otherwise refuses to read (see [[Tables]]).
  * - Tungsten page and broadcast block sizes come from the JVM heap
  *   ([[allocationSizes]]), not from Spark's cluster defaults. Spark sizes
  *   a page as if every core ran one big task (64 MB at any heap over a
  *   few GB); every hash-aggregate task takes a whole page for its fast
  *   hash map however few its rows, and its `BytesToBytesMap` and sorters
  *   grow page by page; every stage's task-binary broadcast allocates one
  *   whole 4 MB block.
  *   On a G1 heap both are humongous objects (larger than half a region),
  *   which start concurrent cycles of their own. The rule: a page is the
  *   next power of two ≥ heap / 8192, clamped to 1–64 MB. 8,192 is the
  *   task memory manager's page table (13 page-number bits), so one task
  *   can still address the whole heap in pages; G1's default region is
  *   about heap / 2048 (at most 32 MB), so up to a 64 GB heap a page
  *   stays under half a region and is not humongous. A broadcast block
  *   is min(page, 4 MB), never above Spark's default. A 7 GB heap gets
  *   1 MB and 1 MB, 20 GB gets 4 MB and 4 MB, 90 GB gets 16 MB pages and
  *   4 MB blocks.
  */
object Sessions {
  def local(cpus: String, appName: String = "graft"): SparkSession = {
    val sizes = allocationSizes(Runtime.getRuntime.maxMemory)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.buffer.pageSize", s"${sizes.pageBytes >> 20}m")
      .config("spark.broadcast.blockSize", s"${sizes.broadcastBlockBytes >> 20}m")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // native function + ranking-rewrite rule on every engine session
    graft.plans.GraftExtensions.register(spark)
    spark
  }

  /** `spark.buffer.pageSize` and `spark.broadcast.blockSize`, in bytes. */
  final case class AllocationSizes(pageBytes: Long, broadcastBlockBytes: Long)

  private val MB = 1L << 20
  private val PageTableSize = 8192L

  /** The sizes for a JVM whose `Runtime.maxMemory` is `maxHeapBytes`
    * (rule in the object scaladoc); both are powers of two in whole MB. */
  def allocationSizes(maxHeapBytes: Long): AllocationSizes = {
    var page = MB
    while (page < 64 * MB && page * PageTableSize < maxHeapBytes) page <<= 1
    AllocationSizes(page, math.min(page, 4 * MB))
  }
}
