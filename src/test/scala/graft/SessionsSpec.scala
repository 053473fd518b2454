package graft

import org.apache.spark.sql.functions.{col, concat, count, format_string, lit, repeat, sum}
import org.scalatest.funsuite.AnyFunSuite

import graft.obs.QueryProfile

/** The heap-sized Tungsten page and broadcast block ([[Sessions.allocationSizes]]),
  * and the engine's hash aggregate and sort under those small pages. */
class SessionsSpec extends AnyFunSuite {
  import TestSpark.spark

  private val MB = 1L << 20
  private val GB = 1L << 30

  test("allocationSizes: page = next power of two >= heap/8192 in 1..64 MB, block <= 4 MB") {
    def sizes(heap: Long) = {
      val s = Sessions.allocationSizes(heap)
      (s.pageBytes / MB, s.broadcastBlockBytes / MB)
    }
    assert(sizes(1 * GB) == ((1, 1)))        // 128 KB wanted: the 1 MB floor
    assert(sizes(7 * GB) == ((1, 1)))        // 896 KB wanted
    assert(sizes(20 * GB) == ((4, 4)))       // 2.5 MB wanted
    assert(sizes(90 * GB) == ((16, 4)))      // 11.25 MB wanted: the 4 MB block cap
    assert(sizes(1024 * GB) == ((64, 4)))    // 128 MB wanted: the 64 MB cap
    // exact powers of two stay put; one byte more doubles the page
    assert(sizes(16 * GB) == ((2, 2)))
    assert(sizes(16 * GB + 1) == ((4, 4)))
    assert(sizes(0L) == ((1, 1)))
  }

  test("TestSpark's session carries the sizes its own heap gives") {
    val want = Sessions.allocationSizes(Runtime.getRuntime.maxMemory)
    val conf = spark.sparkContext.getConf
    assert(conf.getSizeAsBytes("spark.buffer.pageSize") == want.pageBytes)
    assert(conf.getSizeAsBytes("spark.broadcast.blockSize") == want.broadcastBlockBytes)
  }

  // One input partition, 2·N rows over N distinct ~200-byte string keys:
  // the aggregate runs as one task (one partition needs no exchange) that
  // overflows the fast hash map into a BytesToBytesMap growing over far
  // more than 64 one-MB pages, and
  // the sort of N rows chains its pages the same way. Expected answers
  // come from the generator's arithmetic, not from Spark.
  private val n = 200000
  private val stride = 7919L // prime, coprime to n: scrambles the key order
  private val pad = 190

  private def keyOf(j: Long): String = f"k$j%09d" + ("x" * pad)

  private def rows = spark.range(0L, 2L * n, 1, 1)
    .select(format_string("k%09d", (col("id") * stride) % n).as("j"), col("id").as("v"))
    .select(concat(col("j"), repeat(lit("x"), pad)).as("k"), col("v"))

  // the id i < n that generates key j; its twin is i + n
  private lazy val owner: Array[Int] = {
    val a = new Array[Int](n)
    var i = 0
    while (i < n) { a(((i * stride) % n).toInt) = i; i += 1 }
    a
  }

  test("small pages: a one-partition aggregate over 200k distinct string keys is exact") {
    val agg = rows.groupBy("k").agg(count(lit(1)).as("c"), sum("v").as("s"))
    val seen = new java.util.BitSet(n)
    val p = QueryProfile.during(spark) {
      val it = agg.toLocalIterator()
      while (it.hasNext) {
        val r = it.next()
        val k = r.getString(0)
        val j = k.substring(1, 10).toInt
        assert(k == keyOf(j), k)
        assert(!seen.get(j), s"key $j twice")
        seen.set(j)
        assert(r.getLong(1) == 2L, k)
        assert(r.getLong(2) == 2L * owner(j) + n, k)
      }
    }
    assert(seen.cardinality == n)
    info(f"aggregate peak execution memory: ${p.peakExecMemBytes.toDouble / MB}%.1f MB")
    assert(p.peakExecMemBytes > 64 * MB, p)
    assert(p.peakExecMemBytes < 150 * MB, p)
  }

  test("small pages: a global sort of 200k ~200-byte rows is exact") {
    val sorted = rows.where(col("v") < n).orderBy("k")
    var next = 0
    val p = QueryProfile.during(spark) {
      val it = sorted.toLocalIterator()
      while (it.hasNext) {
        val r = it.next()
        assert(r.getString(0) == keyOf(next), s"row $next")
        assert(r.getLong(1) == owner(next), s"row $next")
        next += 1
      }
    }
    assert(next == n)
    info(f"sort peak execution memory: ${p.peakExecMemBytes.toDouble / MB}%.1f MB")
    assert(p.peakExecMemBytes < 150 * MB, p)
  }
}
