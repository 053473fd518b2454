package graft.operators

import java.util.Arrays

import scala.collection.mutable

import org.apache.spark.{Partitioner, SparkContext}
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.storage.StorageLevel

/** One partition's static side in [[BlockRounds]], in CSR form: the
  * partition's node ids sorted, and node `i`'s targets at `to(off(i))`
  * until `to(off(i + 1))`, one entry per edge, with an integer weight per
  * entry (`w == null`: every weight 1). */
private[operators] final class Csr(val ids: Array[Long], val off: Array[Int],
    val to: Array[Long], val w: Array[Long]) extends Serializable {
  def size: Int = ids.length
  def weight(j: Int): Long = if (w == null) 1L else w(j)

  /** The position of `id` in this block; a message for a node the block
    * does not hold fails loudly. */
  def indexOf(op: String, id: Long): Int = {
    val i = Arrays.binarySearch(ids, id)
    if (i < 0) throw new IllegalStateException(
      s"$op: a message for node $id reached a partition that does not hold it")
    i
  }
}

/** Builds the [[Csr]] blocks of [[BlockRounds]]. */
private[operators] object Csr {

  /** The static side, built under the label `<op> setup` from `edges`'
    * `src`, `dst` and integer `weight` column (1 when absent), read as
    * longs off the executed plan (a null endpoint fails loudly), into one
    * [[Csr]] per partition of the session's `spark.sql.shuffle.partitions`.
    *
    * Directed (`undirected = None`): every edge row is one entry of its
    * source, a repeated row twice, self-loops kept, and every node is
    * present (a sink with no targets). Undirected (`Some(selfLoops)`):
    * both directions of every edge, self-loops only with `selfLoops`,
    * each node's targets distinct and sorted, plus its own id once more
    * with `selfVote`; a node with no such edge is absent. */
  def adjacency(op: String, edges: DataFrame, weight: Option[String],
      undirected: Option[Boolean], selfVote: Boolean = false): RDD[Csr] = {
    val spark = edges.sparkSession
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val weighted = weight.isDefined
    val rows = BlockRounds.labelled(spark.sparkContext, s"$op setup") {
      edges.select(col("src").cast("long"), col("dst").cast("long"),
        weight.fold(lit(1L))(col(_).cast("long"))).queryExecution.toRdd
    }
    val sends = rows.mapPartitions { it =>
      val node, target, w, present = Array.fill(parts)(new mutable.ArrayBuilder.ofLong)
      def edge(s: Long, d: Long, x: Long): Unit = {
        val p = BlockRounds.partitionOf(s, parts)
        node(p) += s; target(p) += d
        if (weighted) w(p) += x
      }
      it.foreach { r =>
        require(!r.isNullAt(0) && !r.isNullAt(1), s"$op: null node id in edges")
        val (s, d) = (r.getLong(0), r.getLong(1))
        undirected match {
          case None => edge(s, d, r.getLong(2)); present(BlockRounds.partitionOf(d, parts)) += d
          case Some(selfLoops) => if (s != d || selfLoops) { edge(s, d, 1L); edge(d, s, 1L) }
        }
      }
      (0 until parts).iterator.filter(p => node(p).length + present(p).length > 0).map { p =>
        (p, new Block(node(p).result() ++ present(p).result(), target(p).result(),
          if (weighted) w(p).result() else null))
      }
    }
    new ShuffledRDD[Int, Block, Block](sends, new ToPartition(parts))
      .mapPartitions(bs => Iterator(build(bs.map(_._2).toArray, undirected.isDefined, selfVote)))
      .persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** One partition's [[Csr]] from the setup [[Block]]s it received. */
  private def build(blocks: Array[Block], undirected: Boolean, selfVote: Boolean): Csr = {
    val ids = sortedDistinct(blocks.flatMap(_.to), 0, blocks.iterator.map(_.to.length).sum)
    val off = new Array[Int](ids.length + 1)
    for (b <- blocks; k <- b.value.indices) off(Arrays.binarySearch(ids, b.to(k)) + 1) += 1
    for (i <- 1 to ids.length) off(i) += off(i - 1)
    val to = new Array[Long](off.last)
    val w = if (blocks.exists(_.n != null)) new Array[Long](off.last) else null
    val fill = off.clone()
    for (b <- blocks; k <- b.value.indices) {
      val i = Arrays.binarySearch(ids, b.to(k))
      to(fill(i)) = b.value(k)
      if (w != null) w(fill(i)) = b.n(k)
      fill(i) += 1
    }
    if (!undirected) new Csr(ids, off, to, w)
    else {
      val out = new mutable.ArrayBuilder.ofLong
      val outOff = new Array[Int](ids.length + 1)
      for (i <- ids.indices) {
        val targets = sortedDistinct(to, off(i), off(i + 1))
        out ++= targets
        if (selfVote) out += ids(i)
        outOff(i + 1) = outOff(i) + targets.length + (if (selfVote) 1 else 0)
      }
      new Csr(ids, outOff, out.result(), null)
    }
  }

  /** The distinct values of `xs(from until until)`, sorted. */
  private def sortedDistinct(xs: Array[Long], from: Int, until: Int): Array[Long] = {
    val s = Arrays.copyOfRange(xs, from, until)
    Arrays.sort(s)
    var n = 0
    for (i <- s.indices if i == 0 || s(i) != s(i - 1)) { s(n) = s(i); n += 1 }
    Arrays.copyOf(s, n)
  }
}

/** One shuffle record of [[BlockRounds]]: what one map task sends one
  * destination partition, as parallel primitive arrays. A round sends
  * `n(k)` to node `to(k)` (ranks: a pre-summed contribution, `value ==
  * null`) or `n(k)` votes for `value(k)` (histograms). The setup sends
  * node `to(k)`'s edge to `value(k)` with weight `n(k)` (`n == null`:
  * weight 1) for `k < value.length`; the entries of `to` past that are
  * nodes with nothing to send. */
private[operators] final class Block(val to: Array[Long], val value: Array[Long],
    val n: Array[Long]) extends Serializable

/** Routes a [[Block]] keyed by its destination partition. */
private final class ToPartition(val numPartitions: Int) extends Partitioner {
  def getPartition(key: Any): Int = key.asInstanceOf[Int]
}

/** A primitive open-addressing map (key, value) → exact Long sum, the
  * pre-combiner of [[BlockRounds]]: linear probing, at most half full. */
private[operators] final class PairSums(hint: Int) {
  private var cap = Integer.highestOneBit(math.max(hint, 8) * 2 - 1) * 2
  private var keys, values, sums = new Array[Long](cap)
  private var used = new Array[Boolean](cap)
  private var count = 0

  def size: Int = count

  def add(k: Long, v: Long, n: Long): Unit = {
    val mask = cap - 1
    var h = k * 0x9E3779B97F4A7C15L + v
    h = (h ^ (h >>> 32)) * 0xD6E8FEB86659FD93L
    var i = (h ^ (h >>> 32)).toInt & mask
    while (used(i) && (keys(i) != k || values(i) != v)) i = (i + 1) & mask
    if (used(i)) sums(i) = Math.addExact(sums(i), n)
    else {
      used(i) = true; keys(i) = k; values(i) = v; sums(i) = n
      count += 1
      if (count * 2 > cap) grow()
    }
  }

  private def grow(): Unit = {
    val (ks, vs, ss, us) = (keys, values, sums, used)
    cap *= 2
    keys = new Array[Long](cap); values = new Array[Long](cap)
    sums = new Array[Long](cap); used = new Array[Boolean](cap)
    count = 0
    for (i <- us.indices if us(i)) add(ks(i), vs(i), ss(i))
  }

  /** The entries as parallel arrays (keys, values, sums), in no order. */
  def entries: (Array[Long], Array[Long], Array[Long]) = {
    val (ks, vs, ss) = (new Array[Long](count), new Array[Long](count), new Array[Long](count))
    var (i, k) = (0, 0)
    while (i < cap) {
      if (used(i)) { ks(k) = keys(i); vs(k) = values(i); ss(k) = sums(i); k += 1 }
      i += 1
    }
    (ks, vs, ss)
  }

  /** The entries as one [[Block]] per destination partition of their key,
    * sorted by key (`withValues = false`: keys and sums only). Sorted, a
    * key repeated over several values sits in one run, which the shuffle's
    * compression codec folds. */
  def blocks(parts: Int, withValues: Boolean): Iterator[(Int, Block)] = {
    val (ks, vs, ss) = entries
    sortByKey(ks, vs, ss, 0, ks.length)
    val dest = ks.map(BlockRounds.partitionOf(_, parts))
    val sizes = new Array[Int](parts)
    dest.foreach(sizes(_) += 1)
    val out = Array.tabulate(parts)(p =>
      if (sizes(p) == 0) null
      else new Block(new Array(sizes(p)), if (withValues) new Array(sizes(p)) else null,
        new Array(sizes(p))))
    val fill = new Array[Int](parts)
    var e = 0
    while (e < ks.length) {
      val (b, k) = (out(dest(e)), fill(dest(e)))
      b.to(k) = ks(e); b.n(k) = ss(e)
      if (withValues) b.value(k) = vs(e)
      fill(dest(e)) = k + 1
      e += 1
    }
    (0 until parts).iterator.filter(out(_) != null).map(p => (p, out(p)))
  }

  /** Quicksort of `ks(lo until hi)`, permuting `vs` and `ss` alike. */
  private def sortByKey(ks: Array[Long], vs: Array[Long], ss: Array[Long], lo: Int, hi: Int): Unit =
    if (hi - lo > 1) {
      val pivot = ks((lo + hi) >>> 1)
      var (i, j) = (lo, hi - 1)
      while (i <= j) {
        while (ks(i) < pivot) i += 1
        while (ks(j) > pivot) j -= 1
        if (i <= j) {
          swap(ks, i, j); swap(vs, i, j); swap(ss, i, j)
          i += 1; j -= 1
        }
      }
      sortByKey(ks, vs, ss, lo, j + 1)
      sortByKey(ks, vs, ss, i, hi)
    }

  private def swap(a: Array[Long], i: Int, j: Int): Unit = { val t = a(i); a(i) = a(j); a(j) = t }
}

/** One fixed point run by [[BlockRounds]]: the start state of a block, a
  * round's pre-combined messages from it, and its next state from what
  * arrived. A serialized object rather than closures over `Graph`: Spark's
  * `ClosureCleaner` reads the class file that defines each closure it
  * cleans, so the round closures live in [[BlockRounds]] alone. */
private[operators] sealed abstract class Kernel extends Serializable {
  def init(a: Csr): Array[Long]
  def send(a: Csr, state: Array[Long], parts: Int): Iterator[(Int, Block)]
  def next(op: String, a: Csr, in: Iterator[Block]): Array[Long]
}

/** The rank kernel's arithmetic (see `Graph.rankFixed`): a source's
  * contribution over an out-edge of weight w is `(rank_fp * 85 * w) DIV
  * ((deg + extraDeg) * 100)`, `deg` its weight sum; each node starts at
  * `start` and adds `teleport` to its inflow each round, or, with `only`
  * (sorted), only the nodes in `only` do and the rest take 0. Every
  * product and sum is `Math.*Exact`. */
private[operators] final class RankKernel(extraDeg: Long, start: Long,
    teleport: Long, only: Array[Long]) extends Kernel {
  private def term(x: Long, id: Long): Long =
    if (only == null || Arrays.binarySearch(only, id) >= 0) x else 0L

  def init(a: Csr): Array[Long] = a.ids.map(term(start, _))

  def send(a: Csr, rank: Array[Long], parts: Int): Iterator[(Int, Block)] = {
    val m = new PairSums(a.size)
    var i = 0
    while (i < a.size) {
      val (from, until) = (a.off(i), a.off(i + 1))
      if (from < until) {
        var (deg, j) = (0L, from)
        while (j < until) { deg = Math.addExact(deg, a.weight(j)); j += 1 }
        val r85 = Math.multiplyExact(rank(i), 85L)
        val den = Math.multiplyExact(Math.addExact(deg, extraDeg), 100L)
        j = from
        while (j < until) {
          m.add(a.to(j), 0L, Math.multiplyExact(r85, a.weight(j)) / den)
          j += 1
        }
      }
      i += 1
    }
    m.blocks(parts, withValues = false)
  }

  def next(op: String, a: Csr, in: Iterator[Block]): Array[Long] = {
    val got = new Array[Long](a.size)
    in.foreach { b =>
      var k = 0
      while (k < b.to.length) {
        val i = a.indexOf(op, b.to(k))
        got(i) = Math.addExact(got(i), b.n(k))
        k += 1
      }
    }
    Array.tabulate(a.size)(i => Math.addExact(term(teleport, a.ids(i)), got(i)))
  }
}

/** A kernel whose node sends its value along every target and picks its
  * next value from the histogram of what arrives (value → count),
  * pre-combined per (target, value) on the map side and merged per
  * (position, value) on the reduce side. */
private[operators] sealed abstract class HistogramKernel extends Kernel {
  /** The next value from one node's histogram: distinct values
    * `vals(from until until)` with counts `counts(…)`, in no order. */
  protected def pick(vals: Array[Long], counts: Array[Long], from: Int, until: Int): Long

  def send(a: Csr, state: Array[Long], parts: Int): Iterator[(Int, Block)] = {
    val m = new PairSums(a.size)
    var i = 0
    while (i < a.size) {
      var j = a.off(i)
      while (j < a.off(i + 1)) { m.add(a.to(j), state(i), 1L); j += 1 }
      i += 1
    }
    m.blocks(parts, withValues = true)
  }

  def next(op: String, a: Csr, in: Iterator[Block]): Array[Long] = {
    val blocks = in.toArray
    val m = new PairSums(blocks.iterator.map(_.to.length).sum)
    blocks.foreach { b =>
      var k = 0
      while (k < b.to.length) { m.add(a.indexOf(op, b.to(k)), b.value(k), b.n(k)); k += 1 }
    }
    // counting sort of the merged (position, value) entries by position
    val (pos, vs, ns) = m.entries
    val start = new Array[Int](a.size + 1)
    pos.foreach(i => start(i.toInt + 1) += 1)
    for (i <- 1 to a.size) start(i) += start(i - 1)
    val (vals, counts, fill) = (new Array[Long](pos.length), new Array[Long](pos.length), start.clone())
    var e = 0
    while (e < pos.length) {
      val k = fill(pos(e).toInt)
      vals(k) = vs(e); counts(k) = ns(e)
      fill(pos(e).toInt) = k + 1
      e += 1
    }
    Array.tabulate(a.size)(i => pick(vals, counts, start(i), start(i + 1)))
  }
}

/** Label propagation (see `Graph.labelPropagation`): a node starts with
  * its own id and takes the most-voted label, ties to the smaller one. */
private[operators] object LpaKernel extends HistogramKernel {
  def init(a: Csr): Array[Long] = a.ids.clone()

  protected def pick(vals: Array[Long], counts: Array[Long], from: Int, until: Int): Long = {
    require(from < until, "label propagation: a node received no vote")
    var (best, k) = (from, from + 1)
    while (k < until) {
      if (counts(k) > counts(best) || counts(k) == counts(best) && vals(k) < vals(best)) best = k
      k += 1
    }
    vals(best)
  }
}

/** The k-core H-operator (see `Graph.kCoreFixed`): a node starts at its
  * degree and takes the largest h such that at least h neighbors hold a
  * value ≥ h. */
private[operators] object KCoreKernel extends HistogramKernel {
  def init(a: Csr): Array[Long] = Array.tabulate(a.size)(i => (a.off(i + 1) - a.off(i)).toLong)

  protected def pick(vals: Array[Long], counts: Array[Long], from: Int, until: Int): Long = {
    // h ≤ d, the neighbor count: bucket counts by min(value, d), then
    // walk h down from d until ≥ h neighbors hold ≥ h
    var (d, k) = (0L, from)
    while (k < until) { d += counts(k); k += 1 }
    val atLeast = new Array[Long](d.toInt + 1)
    k = from
    while (k < until) {
      if (vals(k) > 0) atLeast(math.min(vals(k), d).toInt) += counts(k)
      k += 1
    }
    var (h, seen) = (d.toInt, 0L)
    while (h > 0 && { seen += atLeast(h); seen < h }) h -= 1
    h.toLong
  }
}

/** The fixed-point loop of `Graph.rankFixed`, `Graph.labelPropagation`
  * and `Graph.kCoreFixed` as blocked co-partitioned rounds: every RDD in
  * the loop holds one record per partition. Node `id` lives on partition
  * [[partitionOf]]`(id)` (Spark's `HashPartitioner` placement). */
private[operators] object BlockRounds {

  private val PinEvery = 2

  /** `HashPartitioner(parts).getPartition(id)` without boxing. */
  def partitionOf(id: Long, parts: Int): Int = {
    val m = java.lang.Long.hashCode(id) % parts
    if (m < 0) m + parts else m
  }

  /** Run `f` with the thread's job description and short call site set to
    * `label` (so an event log, the UI and [[graft.obs.QueryProfile]] name
    * the operator and round), then restore both. Job tags, such as a
    * [[graft.plans.Par]] leg's, are left alone. */
  def labelled[T](sc: SparkContext, label: String)(f: => T): T = {
    val keys = Seq("spark.job.description", "callSite.short")
    val previous = keys.map(sc.getLocalProperty)
    keys.foreach(sc.setLocalProperty(_, label))
    try f finally keys.zip(previous).foreach { case (k, v) => sc.setLocalProperty(k, v) }
  }

  /** The node and edge-entry counts of `adj`: one job. */
  def sizes(adj: RDD[Csr]): (Long, Long) =
    adj.map(a => (a.size.toLong, a.to.length.toLong))
      .fold((0L, 0L))((x, y) => (x._1 + y._1, x._2 + y._2))

  /** `kernel`'s fixed point after `iters` rounds over `adj`, as one (ids,
    * values) record per partition, the ids those of `adj`'s block.
    *
    * The state is one `Array[Long]` per partition, aligned with the
    * block's ids. A round zips each block with its state, lets the kernel
    * pre-combine what it sends in a [[PairSums]] map, and ships one
    * [[Block]] per (map partition, destination partition) through an
    * aggregator-less shuffle keyed by destination partition; zipping what
    * arrives with the block again gives the next state. Joins are
    * therefore local, a round is one shuffle stage, and no per-edge or
    * per-node record passes through Spark (no size estimation, combiner
    * map or per-object serialization per record).
    *
    * Every `PinEvery`-th round and the last are cut with
    * `localCheckpoint` and one count (one job that runs the rounds since
    * the previous cut), labelled `<op> round t/iters`; the previous cut is
    * released then, and `adj` when the loop ends (the last cut carries
    * the ids). */
  def run(op: String, adj: RDD[Csr], iters: Int, kernel: Kernel): RDD[(Array[Long], Array[Long])] = {
    val parts = adj.getNumPartitions
    var state = adj.map(a => (a.ids, kernel.init(a)))
    var cut = Option.empty[RDD[(Array[Long], Array[Long])]]
    try for (t <- 1 to iters) {
      val sends = adj.zipPartitions(state) { (as, ss) =>
        val (a, (ids, v)) = (as.next(), ss.next())
        require(ids.length == a.size, s"$op: a state of ${ids.length} beside a block of ${a.size}")
        kernel.send(a, v, parts)
      }
      val inflow = new ShuffledRDD[Int, Block, Block](sends, new ToPartition(parts))
      state = adj.zipPartitions(inflow) { (as, bs) =>
        val a = as.next()
        Iterator((a.ids, kernel.next(op, a, bs.map(_._2))))
      }
      if (t % PinEvery == 0 || t == iters) {
        state = state.localCheckpoint()
        labelled(adj.sparkContext, s"$op round $t/$iters")(state.count())
        cut.foreach(Shims.releaseCheckpoint)
        cut = Some(state)
      }
    } finally adj.unpersist(blocking = false)
    state
  }
}
