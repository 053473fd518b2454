package graftbench

import java.time.LocalDateTime
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Deterministic input generators. Every value is a pure function of
  * (seed, stream, row index), so the same seed gives the same tables and
  * batches regardless of how Spark partitions the write. */
object Gen {

  /** Row-local generator for (seed, stream, index). */
  def rng(seed: Long, stream: Int, i: Long): SplittableRandom =
    new SplittableRandom(mix(mix(seed ^ (stream.toLong << 48)) + i))

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def pick[T](r: SplittableRandom, xs: IndexedSeq[T]): T = xs(r.nextInt(xs.length))
  private def money(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  /** Zipf(s) sampler over 0 until n by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot)
    }
    def sample(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  // ---------------------------------------------------------------- tables

  /** The TPC-H-ish read corpus the read workloads query: the ten tables of
    * the engine's test data, with the same schemas and value domains, at
    * scale factor `sf` (customer = 150,000 × sf rows, as in TPC-H). */
  final case class ReadCorpus(sf: Double, seed: Long) {
    val nCustomer: Int = (150000 * sf).toInt
    val nSupplier: Int = math.max(10, (10000 * sf).toInt)
    val nPart: Int = (200000 * sf).toInt
    val nOrders: Int = (1500000 * sf).toInt
    val nLineitem: Int = (6000000 * sf).toInt
    val nEvents: Int = (1000000 * sf).toInt
    val nUsers: Int = math.max(15, (15000 * sf).toInt)
    val nDocuments: Int = math.max(500, (50000 * sf).toInt)
    val nEmbeddings: Int = math.max(500, (20000 * sf).toInt)

    private val regions = IndexedSeq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    private val segments = IndexedSeq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    private val adjectives = IndexedSeq("blue", "cold", "hot", "large", "new", "old", "red", "small")
    private val nouns = IndexedSeq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
    private val types = IndexedSeq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
    private val priorities = IndexedSeq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    private val eventTypes = IndexedSeq("click", "error", "purchase", "signup", "view")
    private val vocab = IndexedSeq("a", "agg", "batch", "big", "column", "customer", "data",
      "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
      "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
      "value", "vector", "window")
    private val langs = IndexedSeq("de", "es", "fr", "zh")
    private val day0 = LocalDateTime.of(1995, 1, 1, 0, 0)
    private val eventsStart = LocalDateTime.of(2024, 1, 1, 0, 0)

    private def r(stream: Int, i: Long) = rng(seed, stream, i)

    def region: Seq[Row] = regions.indices.map(i => Row(i, regions(i)))
    def nation: Seq[Row] = (0 until 25).map(i => Row(i, s"NATION_$i", i % 5))
    def customer: Seq[Row] = (0 until nCustomer).map { i =>
      val g = r(1, i)
      Row(i.toLong, f"Customer#$i%09d", g.nextInt(25), money(g, -999.99, 9999.99), pick(g, segments))
    }
    def supplier: Seq[Row] = (0 until nSupplier).map { i =>
      val g = r(2, i)
      Row(i.toLong, f"Supplier#$i%09d", g.nextInt(25), money(g, -999.99, 9999.99))
    }
    def part: Seq[Row] = (0 until nPart).map { i =>
      val g = r(3, i)
      Row(i.toLong, s"${pick(g, adjectives)} ${pick(g, nouns)}", s"Brand#${1 + g.nextInt(25)}",
        pick(g, types), 1 + g.nextInt(50), 900.0 + (i % 1000) / 10.0)
    }
    def orders: Seq[Row] = (0 until nOrders).map { i =>
      val g = r(4, i)
      Row(i.toLong, g.nextInt(nCustomer).toLong, pick(g, IndexedSeq("F", "O", "P")),
        money(g, 1000, 500000), day0.plusDays(g.nextInt(2404)), pick(g, priorities))
    }
    def lineitem: Seq[Row] = (0 until nLineitem).map { i =>
      val g = r(5, i)
      Row(g.nextInt(nOrders).toLong, g.nextInt(nPart).toLong, g.nextInt(nSupplier).toLong,
        1 + g.nextInt(7), (1 + g.nextInt(50)).toDouble, money(g, 900, 105000),
        g.nextInt(11) / 100.0, g.nextInt(9) / 100.0, pick(g, IndexedSeq("A", "N", "R")),
        pick(g, IndexedSeq("F", "O")), day0.plusDays(1 + g.nextInt(2499)))
    }
    def events: Seq[Row] = {
      val stepMicros = 30L * 86400L * 1000000L / math.max(1, nEvents)
      (0 until nEvents).map { i =>
        val g = r(6, i)
        val ts = eventsStart.plusNanos((i * stepMicros + g.nextLong(stepMicros)) * 1000L)
        Row(i.toLong, ts, g.nextInt(nUsers).toLong, pick(g, eventTypes), money(g, 0.01, 490),
          s"""{"k": ${g.nextInt(100)}}""")
      }
    }
    /** Bag-of-words documents over a 30-word vocabulary; one in twenty is
      * an earlier document's text with " dup" appended (a near-duplicate). */
    def documents: Seq[Row] = {
      val texts = new Array[String](nDocuments)
      (0 until nDocuments).map { i =>
        val g = r(7, i)
        texts(i) =
          if (i > 0 && g.nextInt(20) == 0) texts(g.nextInt(i)) + " dup"
          else Seq.fill(10 + g.nextInt(90))(pick(g, vocab)).mkString(" ")
        val lang = if (g.nextInt(100) < 44) "en" else pick(g, langs)
        Row(i.toLong, texts(i), lang, s"src${g.nextInt(20)}", texts(i).length.toLong)
      }
    }
    /** Unit-norm 64-d vectors around ten seeded cluster centres. */
    def embeddings: Seq[Row] = {
      val centres = Array.tabulate(10) { c =>
        val g = r(8, c); Array.fill(64)(g.nextDouble() * 2 - 1) }
      (0 until nEmbeddings).map { i =>
        val g = r(9, i)
        val label = g.nextInt(10)
        val v = centres(label).map(_ + (g.nextDouble() * 2 - 1) * 0.8)
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
      }
    }

    def tables: Seq[(String, StructType, () => Seq[Row])] = Seq(
      ("region", Schemas.region, () => region), ("nation", Schemas.nation, () => nation),
      ("customer", Schemas.customer, () => customer), ("supplier", Schemas.supplier, () => supplier),
      ("part", Schemas.part, () => part), ("orders", Schemas.orders, () => orders),
      ("lineitem", Schemas.lineitem, () => lineitem), ("events", Schemas.events, () => events),
      ("documents", Schemas.documents, () => documents),
      ("embeddings", Schemas.embeddings, () => embeddings))

    /** Write the named tables as single-file parquet tables under `dir`, as
      * the engine's test data is laid out (`<dir>/<name>.parquet`). */
    def write(spark: SparkSession, dir: String, names: Seq[String]): Unit =
      tables.filter(t => names.contains(t._1)).foreach { case (name, schema, rows) =>
        frame(spark, rows(), schema).coalesce(1).write.mode("overwrite")
          .parquet(s"$dir/$name.parquet")
      }
  }

  def frame(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema)
  }

  object Schemas {
    private def s(fields: (String, DataType)*) =
      StructType(fields.map { case (n, t) => StructField(n, t) })
    val region = s("r_regionkey" -> IntegerType, "r_name" -> StringType)
    val nation = s("n_nationkey" -> IntegerType, "n_name" -> StringType, "n_regionkey" -> IntegerType)
    val customer = s("c_custkey" -> LongType, "c_name" -> StringType, "c_nationkey" -> IntegerType,
      "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType)
    val supplier = s("s_suppkey" -> LongType, "s_name" -> StringType, "s_nationkey" -> IntegerType,
      "s_acctbal" -> DoubleType)
    val part = s("p_partkey" -> LongType, "p_name" -> StringType, "p_brand" -> StringType,
      "p_type" -> StringType, "p_size" -> IntegerType, "p_retailprice" -> DoubleType)
    val orders = s("o_orderkey" -> LongType, "o_custkey" -> LongType, "o_orderstatus" -> StringType,
      "o_totalprice" -> DoubleType, "o_orderdate" -> TimestampNTZType,
      "o_orderpriority" -> StringType)
    val lineitem = s("l_orderkey" -> LongType, "l_partkey" -> LongType, "l_suppkey" -> LongType,
      "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType, "l_returnflag" -> StringType,
      "l_linestatus" -> StringType, "l_shipdate" -> TimestampNTZType)
    val events = s("event_id" -> LongType, "ts" -> TimestampNTZType, "user_id" -> LongType,
      "event_type" -> StringType, "value" -> DoubleType, "props" -> StringType)
    val documents = s("doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
      "source" -> StringType, "n_chars" -> LongType)
    val embeddings = s("vec_id" -> LongType, "embedding" -> ArrayType(FloatType),
      "label" -> IntegerType)
  }

  // ---------------------------------------------------------------- papers

  final case class Author(fullName: String, family: String, given: String,
      gender: String, affiliation: Option[String])

  final case class Paper(id: String, subject: String, year: Int, kind: String,
      venue: String, publisher: String, cites: Int, doi: Option[String], title: String,
      version: String, authors: Seq[Author])

  /** Staged paper batches for the warehouse: authors and venues reused
    * with a Zipf skew, ~5% of each batch replaying an already-emitted
    * paper verbatim, ~20% of author affiliations null. Paper `k` is a
    * pure function of (seed, k); batch `b` of (seed, b). */
  final case class Papers(seed: Long, batchSize: Int = 50) {
    private val nAuthors = 4000
    private val authorZipf = new Zipf(nAuthors, 0.9)
    private val venueZipf = new Zipf(200, 1.1)
    private val givens = IndexedSeq("Ada", "Alan", "Barbara", "Boris", "Chen", "Clara", "Dmitri",
      "Elena", "Emil", "Fatima", "Grace", "Hugo", "Ines", "Ivan", "Jana", "Jonas", "Kaito",
      "Lena", "Liam", "Maria", "Mart", "Nadia", "Noah", "Olga", "Omar", "Priya", "Raul",
      "Sara", "Sven", "Tara", "Timo", "Uma", "Viktor", "Wen", "Xenia", "Yusuf", "Zofia",
      "Kea", "Liis", "Rein")
    private val subjects = IndexedSeq("physics", "Condensed Matter Physics", "astrophysics",
      "math", "Applied mathematics", "computer science", "biology", "statistics")
    private val kinds = IndexedSeq("journal-article", "journal-article", "journal-article",
      "proceedings-article", "posted-content")

    def author(k: Int): Author = {
      val g = rng(seed, 20, k)
      val given = givens(k % givens.length)
      val family = s"Family${k / givens.length}"
      val gender = if (k % 7 == 0) "unknown" else if (k % 2 == 0) "male" else "female"
      Author(s"$given $family", family, given, gender, Some(s"Institute ${g.nextInt(300)}"))
    }

    def paper(k: Int): Paper = {
      val g = rng(seed, 21, k)
      val v = venueZipf.sample(g)
      val nA = 1 + g.nextInt(5)
      val authors = Iterator.continually(authorZipf.sample(g)).distinct.take(nA).toSeq
        .map { a => val au = author(a); if (g.nextInt(5) == 0) au.copy(affiliation = None) else au }
      val year = if (g.nextInt(30) == 0) 0 else 1995 + g.nextInt(28)
      Paper(f"p$k%07d", pick(g, subjects), year, pick(g, kinds), s"Venue $v",
        s"Publisher ${v % 20}", math.exp(g.nextDouble() * 5.5).toInt - 1,
        if (g.nextInt(10) == 0) None else Some(f"10.1000/p$k%07d"),
        s"On ${pick(g, subjects)} $k", s"v${1 + g.nextInt(3)}", authors)
    }

    /** The base corpus: papers 0 until n, no replays. */
    def base(n: Int): Seq[Paper] = (0 until n).map(paper)

    /** Batch `b` (b >= 1) when `before` fresh papers exist already: fresh
      * papers first, then two or three replays of earlier papers. */
    def batch(b: Int, before: Int): Seq[Paper] = {
      val g = rng(seed, 22, b)
      val replays = 2 + g.nextInt(2)
      val fresh = (before until before + batchSize - replays).map(paper)
      fresh ++ Seq.fill(replays)(paper(g.nextInt(math.max(1, before))))
    }

    def row(p: Paper): Row = Row(p.id, p.subject, p.year, p.kind, p.venue, p.publisher,
      p.cites, p.doi.orNull, p.title, p.version,
      p.authors.map(a => Row(a.family, a.given, a.affiliation.orNull, a.gender, a.fullName)))
  }

  /** What the warehouse must hold after loading `papers`, computed
    * without Spark: first occurrence of an id wins, replays add nothing. */
  final case class Truth(papers: Seq[Paper]) {
    val distinct: Seq[Paper] = papers.groupBy(_.id).values.map(_.head).toSeq
    def factRows: Long = distinct.size.toLong
    def bridgeRows: Long = distinct.map(_.authors.map(_.fullName).distinct.size.toLong).sum
    private lazy val citesByAuthor: Map[String, Seq[Int]] =
      distinct.flatMap(p => p.authors.map(a => a.fullName -> p.cites))
        .groupBy(_._1).map { case (a, xs) => a -> xs.map(_._2).sortBy(-_) }
    def authors: Seq[String] = citesByAuthor.keys.toSeq.sorted
    def hIndex(a: String): Int = Truth.h(citesByAuthor(a))
    def gIndex(a: String): Int = Truth.g(citesByAuthor(a))
  }

  object Truth {
    /** Largest h with h papers cited at least h times. */
    def h(desc: Seq[Int]): Int =
      desc.zipWithIndex.collect { case (c, i) if c >= i + 1 => i + 1 }.lastOption.getOrElse(0)
    /** Ranks r (papers with citations, descending) whose top-r citations
      * sum to at least r². */
    def g(desc: Seq[Int]): Int =
      desc.filter(_ > 0).scanLeft(0L)(_ + _).tail.zipWithIndex
        .count { case (cum, i) => cum >= (i + 1).toLong * (i + 1) }
  }
}
