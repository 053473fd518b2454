package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.Pins.PinnedOps

import graft.functions.TextFns._

/** Document deduplication for large-scale training-data pipelines:
  * exact (content-hash groupBy), MinHash+LSH near-dup, SimHash, and
  * exact n-gram Jaccard — generalizing the reference's normalized-key
  * dedup (`/root/reference/dags/transforms.py:19-21`) to fuzzy matching.
  *
  * Scale design:
  *  - everything is hash-partitioned by doc or shingle key — no global
  *    windows, no driver-side state;
  *  - MinHash+LSH is the 100 TB path: |candidate pairs| scales with the
  *    number of *actual* near-dups (band collisions), not |docs|²;
  *  - exact Jaccard runs only on LSH candidates (or, in
  *    [[exactJaccardPairs]], over an inverted shingle index whose cost is
  *    Σ_s df(s)² — use the long-shingle variant where df is small);
  *  - hashes derive from md5 (not Murmur3 `hash()`) so results are
  *    reproducible across engines — the DuckDB oracle re-derives them.
  */
object Dedup {

  /** Exact dedup: keep the lowest-id row per content hash. One shuffle on
    * the 128-bit content hash. */
  def exact(df: DataFrame, text: Column, id: Column): DataFrame = {
    val w = Window.partitionBy(col("content_hash")).orderBy(id)
    df.withColumn("content_hash", md5(text))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  /** Exploded distinct character-n-gram shingle set: (doc_id, s).
    *
    * `lower(text)` is projected to an attribute BEFORE the shingle HOF:
    * expressions referenced inside a lambda re-evaluate per array element,
    * so inlining it would lowercase the whole document once per shingle
    * (~450× per doc — measured 7s→<1s at sf0.1 for this one change). */
  def shingleSet(df: DataFrame, id: Column, text: Column, n: Int): DataFrame =
    df.select(id.as("doc_id"), lower(text).as("lt"))
      .select(col("doc_id"), explode(shingles(col("lt"), n)).as("s"))


  /** LSH banding with `rowsPerBand` rows per band over a wide signature:
    * docs sharing any full band become candidate pairs. The banded rows
    * are |docs|·(k/rowsPerBand) — linear in docs; the JOIN output is where
    * scale lives: a random pair collides on one band with probability
    * ≈ J^rowsPerBand, so candidates = true-dup-driven pairs plus a
    * residual quadratic tail with that coefficient. The 10× scale-stress
    * (BASELINE.md round 7) measured the tail directly on this corpus
    * (baseline J ≈ 0.14): rowsPerBand=2 leaves ~2% of random pairs
    * colliding (candidates grew 128× across a 10× docs step), while
    * rowsPerBand=4 at k=16 cuts the coefficient to J⁴ ≈ 4·10⁻⁴ at
    * band-match recall (1−(1−J^4)^4) ≈ 0.99 for J ≥ 0.9 — the knob to
    * turn FIRST when candidates outgrow true dupes at corpus scale.
    * Only the (k=8, rowsPerBand=2) default is oracle-checked; the SQL
    * twin embeds that shape. */
  def lshCandidates(sig: DataFrame, k: Int, rowsPerBand: Int = 2): DataFrame = {
    require(rowsPerBand >= 1 && k % rowsPerBand == 0,
      s"lshCandidates: k=$k must be a multiple of rowsPerBand=$rowsPerBand")
    val bandStructs = (0 until k / rowsPerBand).map { j =>
      struct(lit(j).as("band") +:
        (0 until rowsPerBand).map(i =>
          col(s"mh${rowsPerBand * j + i}").as(s"m$i")): _*)
    }
    val bands = sig.select(col("doc_id"),
        explode(array(bandStructs: _*)).as("b"))
      .select(col("doc_id") +: col("b.band").as("band") +:
        (0 until rowsPerBand).map(i => col(s"b.m$i").as(s"m$i")): _*)
    val a = bands.as("a")
    val b = bands.as("b")
    val keyEq = (col("a.band") === col("b.band")) +:
      (0 until rowsPerBand).map(i => col(s"a.m$i") === col(s"b.m$i"))
    a.join(b, keyEq.reduce(_ && _) && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }


  /** Signature-agreement estimate filter: of the LSH candidates, keep only
    * pairs whose MinHash signatures agree on ≥ minMatches of k positions
    * (agreement fraction is an unbiased Jaccard estimate). Exact
    * verification then runs on the survivors only — the band join recalls,
    * the estimate prunes, the intersect verifies. */
  def estimateFilter(cand: DataFrame, sig: DataFrame, k: Int,
      minMatches: Int): DataFrame = {
    val sigA = sig.select(col("doc_id").as("doc_a") +:
      (0 until k).map(i => col(s"mh$i").as(s"a$i")): _*)
    val sigB = sig.select(col("doc_id").as("doc_b") +:
      (0 until k).map(i => col(s"mh$i").as(s"b$i")): _*)
    val matches = (0 until k).map { i =>
      when(col(s"a$i") === col(s"b$i"), 1).otherwise(0)
    }.reduce(_ + _)
    // No broadcast hints: the signature table grows with |docs| and would
    // OOM a 100 TB run if pinned driver-side. Plain shuffle joins keyed on
    // doc_a/doc_b — AQE still picks broadcast while the side fits.
    cand.join(sigA, "doc_a").join(sigB, "doc_b")
      .filter(matches >= minMatches)
      .select(col("doc_a"), col("doc_b"))
  }

  /** Per-salt mixing constants for the derived MinHash family: xor with a
    * 56-bit md5-derived constant (14 hex digits), multiply by a prime
    * ≤ 59, mask back to 54 bits. Worst pre-mask product is 56+6 = 62 bits
    * < 63, so no Long overflow — which matters on BOTH engines: DuckDB
    * errors on BIGINT overflow and Spark 4's default ANSI mode would
    * throw too. Widening the hash beyond 56 bits or the multipliers
    * beyond 6 bits breaks this bound. One real md5 per shingle; the k
    * derivations are integer arithmetic. Embedded as literals in the SQL
    * twin. Supports k ≤ 16. */
  val saltXor: Seq[Long] = (0 until 16).map(i =>
    java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"salt:$i".getBytes("UTF-8"))
        .take(7).map("%02x".format(_)).mkString, 16))
  val saltMul: Seq[Long] = Seq(3L, 5L, 7L, 11L, 13L, 17L, 19L, 23L,
    29L, 31L, 37L, 41L, 43L, 47L, 53L, 59L)
  val hashMask: Long = (1L << 54) - 1

  /** Wide MinHash signature table `(doc_id, mh0..mh{k-1})`.
    *
    * Shuffle-free per-doc stage, one fused native-expression eval per
    * document ([[graft.plans.MinHashSignature]] — stage-profiling showed
    * the interpreted HOF chain was the hottest stage of the whole bench;
    * the expression consumes md5 bytes directly and stays inside
    * whole-stage codegen). No explode, no exchange. */
  def minHashSignatures(df: DataFrame, id: Column, text: Column,
      shingleN: Int, k: Int): DataFrame = {
    require(k <= saltXor.length && k <= saltMul.length,
      s"minHashSignatures: derived-salt family supports k <= ${saltXor.length}, got $k")
    df.select(id.as("doc_id"),
        graft.plans.GraftExtensions.minhashSig(lower(text), shingleN, k).as("sig"))
      .select(Seq(col("doc_id")) ++
        (0 until k).map(i => element_at(col("sig"), i + 1).as(s"mh$i")): _*)
  }

  def nearDupPairs(df: DataFrame, id: Column, text: Column,
      shingleN: Int, k: Int, threshold: Double,
      rowsPerBand: Int = 2): DataFrame = {
    // Only the narrow signature rows persist — caching the shingle arrays
    // costs ~10s of columnar serialization at sf0.1, so the verify stage
    // recomputes arrays for candidate docs.
    // repartition(id) before the signature pass: the test corpora are
    // single-row-group parquet, so the scan is ONE partition and the
    // heaviest per-row compute of the pipeline (k MinHash evals per doc)
    // would run single-threaded; at cluster scale the scan arrives
    // already split and this is one narrow extra exchange of raw docs.
    val sig = minHashSignatures(df.repartition(id), id, text, shingleN, k)
      .persist()
    val cand = lshCandidates(sig, k, rowsPerBand)
    val pruned = estimateFilter(cand, sig, k, minMatches = k / 2)
      .persist()
    val candDocs = pruned.select(col("doc_a").as("doc_id"))
      .union(pruned.select(col("doc_b"))).distinct()
    // candDocs and the shingle arrays scale with the number of near-dup
    // candidates — unbounded at 100 TB, so no broadcast hints anywhere in
    // the verify stage: shuffle joins on doc_a/doc_b, AQE broadcasts only
    // while a side actually fits.
    // Persisted so the two pair-side joins don't recompute the shingle
    // arrays, and so AQE sees exact (candidates-only, small) sizes and can
    // still choose broadcast at runtime.
    val docArr = df.select(id.as("doc_id"), lower(text).as("lt"))
      .join(candDocs, "doc_id")
      .select(col("doc_id"), shingles(col("lt"), shingleN).as("arr"))
      .withColumn("n", size(col("arr")))
      .persist()
    val verified = pruned
      .join(docArr.select(col("doc_id").as("doc_a"),
        col("arr").as("arr_a"), col("n").as("n_a")), "doc_a")
      .join(docArr.select(col("doc_id").as("doc_b"),
        col("arr").as("arr_b"), col("n").as("n_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (size(array_intersect(col("arr_a"), col("arr_b"))) * lit(1.0) /
          (col("n_a") + col("n_b") -
            size(array_intersect(col("arr_a"), col("arr_b"))))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .orderBy(col("doc_a"), col("doc_b"))
      // Eagerly materialize the (near-dup-sized) result so the persisted
      // intermediates can be released HERE: without this, sig/pruned/docArr
      // stay pinned for the session unless callers remember clearCache —
      // a leak for library consumers and steady memory pressure in Verify.
      .pinned
    sig.unpersist()
    pruned.unpersist()
    docArr.unpersist()
    verified
  }

  /** Per-document shingle-hash ARRAYS in df-ASCENDING global order for
    * the exact-pairs family (r18): each doc's distinct gram hashes as
    * one array sorted by (corpus document frequency, hash) — rarest
    * grams first — so (a) candidate generation explodes only each doc's
    * PREFIX under the prefix-filtering principle, and (b) verification
    * computes |A∩B| as one `array_intersect` over the two candidate
    * docs' arrays instead of counting every index co-occurrence.
    *
    * Why df-ascending (not the hash order `gramHashes` emits): the
    * prefix principle is ORDER-AGNOSTIC — any one total order shared by
    * all docs is correct — but candidate volume is not. This corpus
    * (sf0.1) has 5,000 docs, Σdf² = 114 M and 9.0 M of the 12.5 M
    * possible pairs sharing ≥ 1 gram; hash-ordered prefixes left 4.1 M
    * Jaccard candidates (the shared boilerplate grams land in prefixes
    * at random), df-ordered prefixes leave 454 k (boilerplate ranks
    * LAST in every doc, so prefixes hold only rare grams and the probe
    * volume Σ df_prefix·df collapses). Measured at sf0.1: BASELINE.md
    * "Prefix-filtered exact dedup".
    *
    * Intersections are order-independent sets, so verification on the
    * df-ordered arrays is exact. Docs shorter than one window (NULL
    * gram array) drop out exactly as the r8 index explode dropped them.
    * The r8 parallelism fixes carry over: repartition by doc id spreads
    * the hashing across the cluster (single-row-group test parquet);
    * the index pin feeds its two consumers (df table + re-join) once;
    * the arrays PERSIST (not pin — the planner must see the exact,
    * small materialized size so the verify joins can go broadcast at
    * this SF while staying shuffle joins at scale, the
    * [[nearDupPairs]] docArr pattern) until the caller's final pin
    * releases them. */
  private def shingleArrays(df: DataFrame, id: Column, text: Column,
      n: Int): DataFrame = {
    val idx = df.repartition(id)
      .select(id.as("doc_id"),
        explode(graft.plans.GraftExtensions.gramHashes(lower(text), n))
          .as("s"))
      .pinned
    val dfs = idx.groupBy(col("s")).agg(count(lit(1)).as("df"))
    idx.join(dfs, "s")
      .groupBy(col("doc_id"))
      .agg(transform(array_sort(collect_list(struct(col("df"), col("s")))),
        e => e.getField("s")).as("arr"))
      .withColumn("n", size(col("arr")).cast("long"))
      .persist()
  }

  /** Prefix entries (with 0-based positions) of each doc's df-ordered
    * hash array under required overlap ⌈t·n⌉: a pair with
    * |A∩B| ≥ ⌈t·|A|⌉ MUST share an element inside A's first
    * |A| − ⌈t·|A|⌉ + 1 hashes (if every common element sat in the
    * suffix, the suffix's ⌈t·|A|⌉ − 1 slots could not hold them — the
    * standard prefix-filtering principle, Chaudhuri 2006 / Xiao 2008,
    * which prunes candidates WITHOUT changing the verified result set).
    * The 1e-6 slack makes the double `ceil` conservative at exact
    * boundaries (a too-long prefix only admits extra candidates; the
    * exact verify discards them). */
  private def prefixEntries(docs: DataFrame, t: Double): DataFrame =
    docs.select(col("doc_id"), col("n"),
      posexplode(slice(col("arr"), lit(1),
        (col("n") - ceil(lit(t) * col("n") - lit(1e-6)) + 1).cast("int")))
        .as(Seq("p", "s")))

  /** PPJoin-style positional filter (EXISTS semantics): for the pair's
    * FIRST common element in the global order, matched at 0-based
    * positions (pa, pb), every other common element ranks after it in
    * BOTH arrays, so |A∩B| ≤ 1 + min(n_a−1−pa, n_b−1−pb). A qualifying
    * pair therefore always keeps that first match under this filter —
    * later matches may be dropped, but candidates are deduped anyway. */
  private def positionalOk(o: Column): Column =
    lit(1) + least(col("a.n") - 1 - col("a.p"),
      col("b.n") - 1 - col("b.p")) >= o

  /** Exact verification of candidate pairs on the full arrays: the
    * measure expression is verbatim the pre-r18 join-count formulation
    * with `inter` = `size(array_intersect(...))` — equal to the old
    * co-occurrence count because both arrays are distinct sets. */
  private def verifiedPairs(cand: DataFrame, docs: DataFrame,
      measureName: String, measure: (Column, Column, Column) => Column,
      threshold: Double): DataFrame = {
    val verified = cand
      .join(docs.select(col("doc_id").as("doc_a"), col("arr").as("arr_a"),
        col("n").as("n_a")), "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"), col("arr").as("arr_b"),
        col("n").as("n_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("arr_a"), col("arr_b"))).cast("long")
          .as("inter"),
        col("n_a"), col("n_b"))
      .select(col("doc_a"), col("doc_b"),
        measure(col("inter"), col("n_a"), col("n_b")).as(measureName))
      .filter(col(measureName) >= threshold)
      .orderBy(col("doc_a"), col("doc_b"))
      // Eagerly materialize the (near-dup-sized) result so the persisted
      // array table can be released HERE — the [[nearDupPairs]]
      // discipline: without it docs stays pinned for the session unless
      // callers remember clearCache.
      .pinned
    docs.unpersist()
    verified
  }

  /** Exact all-pairs n-gram Jaccard via a PREFIX-FILTERED inverted
    * shingle index (r18, guide §3: pre-filter the join's big side —
    * here both sides — with a pruning predicate that provably admits
    * every qualifying pair). J(A,B) ≥ t forces |A∩B| ≥ t·max(|A|,|B|),
    * so candidates come from a prefix×prefix self-join plus the length
    * filter t·|A| ≤ |B| ≤ |A|/t; survivors are verified EXACTLY on the
    * full arrays — the result set and every score are identical to the
    * unfiltered Σ_s df(s)² join (DedupSpec pins the equivalence), the
    * join just probes ~(1−t)² of the volume. */
  def exactJaccardPairs(df: DataFrame, id: Column, text: Column,
      shingleN: Int, threshold: Double): DataFrame = {
    val docs = shingleArrays(df, id, text, shingleN)
    val pre = prefixEntries(docs, threshold)
    // J(A,B) ≥ t forces |A∩B| ≥ ⌈t·max(|A|,|B|)⌉ — prefix join + length
    // filter t·|A| ≤ |B| ≤ |A|/t + positional filter on that overlap.
    val cand = pre.as("a")
      .join(pre.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id") &&
        col("b.n").cast("double") >= lit(threshold) * col("a.n") - lit(1e-6) &&
        col("a.n").cast("double") >= lit(threshold) * col("b.n") - lit(1e-6) &&
        positionalOk(ceil(lit(threshold) *
          greatest(col("a.n"), col("b.n")) - lit(1e-6))))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    verifiedPairs(cand, docs, "jaccard", (inter, na, nb) =>
      inter * lit(1.0) / (na + nb - inter), threshold)
  }

  /** Containment near-dup pairs: `inter / min(|A|, |B|)` over the same
    * distinct-shingle sets as [[exactJaccardPairs]]. Containment is the
    * dedup mode Jaccard misses: a short document wholly embedded in a
    * long one (quote, boilerplate wrapper, truncated re-crawl) has high
    * containment but LOW Jaccard — the union is dominated by the long
    * side. Same inverted-index join shape and scale notes as the Jaccard
    * path; the ordering `doc_a < doc_b` makes the measure symmetric-pair
    * unique while the score itself is direction-free (min of the two
    * sizes). */
  def containmentPairs(df: DataFrame, id: Column, text: Column,
      shingleN: Int, threshold: Double): DataFrame = {
    val docs = shingleArrays(df, id, text, shingleN)
    // Prefix filtering with the MIN denominator (r18): C(A,B) ≥ t forces
    // |A∩B| ≥ t·min(|A|,|B|) — a bound on the pair's SMALLER set only
    // (containment deliberately admits a short doc inside a long one, so
    // no Jaccard-style length filter exists). Hence candidates join the
    // designated-smaller side's PREFIX against the larger side's FULL
    // hash set: any qualifying pair must collide there (prefix principle
    // over the smaller side's ⌈t·n_min⌉ requirement). Ties on size
    // designate the lower doc_id as the prefix side. Survivors are
    // verified exactly; results identical to the unfiltered join
    // (DedupSpec pins the equivalence), at ~(1−t)·Σdf² probe volume.
    val pre = prefixEntries(docs, threshold)
    val full = docs.select(col("doc_id"), col("n"),
      posexplode(col("arr")).as(Seq("p", "s")))
    val cand = pre.as("a")
      .join(full.as("b"),
        col("a.s") === col("b.s") &&
        (col("a.n") < col("b.n") ||
          (col("a.n") === col("b.n") &&
            col("a.doc_id") < col("b.doc_id"))) &&
        positionalOk(ceil(lit(threshold) * col("a.n") - lit(1e-6))))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
      .distinct()
    verifiedPairs(cand, docs, "containment", (inter, na, nb) =>
      inter * lit(1.0) / least(na, nb), threshold)
  }

  /** Default SimHash width (32 keeps the per-bit agg column count sane
    * while giving byte-banding 4 bands). The 10× scale-stress
    * (BASELINE.md round 7) showed 32 bits SATURATE on a shared-vocabulary
    * corpus — hamming ≤ 2 of 32 admitted 7.9% of ALL pairs at sf0.1 — so
    * `bits` is a parameter: 48 (6 byte-bands, still inside the 54-bit
    * token hash) is the measured scale configuration, oracle-checked as
    * `dd_simhash_wide_pairs`. */
  val simHashBits = 32

  /** SimHash fingerprint per doc: per-bit majority vote over token hashes.
    * One explode + one groupBy with `bits` conditional sums — all
    * codegen'd. Token hash is the engine-portable md5-derived 54-bit
    * hash, so `bits ≤ 54` (and a multiple of 8 for the byte-banding). */
  def simHash(df: DataFrame, id: Column, text: Column,
      bits: Int = simHashBits): DataFrame = {
    require(bits >= 8 && bits <= 54 && bits % 8 == 0,
      s"simHash: bits must be a multiple of 8 in [8, 54], got $bits")
    // Single-space split (not \s+) to match the SQL twin byte-for-byte.
    // repartition(id): fan the tokenize+hash explode out of the
    // single-row-group test scan (same rationale as nearDupPairs).
    val tok = df.repartition(id).select(id.as("doc_id"),
        explode(array_distinct(
          filter(split(lower(text), " "), t => length(t) > 0))).as("t"))
      .withColumn("th", md5Hash54(col("t")))
    val bitSums = (0 until bits).map { j =>
      sum(when(shiftright(col("th"), j) % 2 === 1, 1).otherwise(-1)).as(s"b$j")
    }
    val fp = (0 until bits).map { j =>
      when(col(s"b$j") >= 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    tok.groupBy(col("doc_id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), fp.as("simhash"))
  }

  /** SimHash near-pair search: byte-banding over the `bits`-wide
    * fingerprint (two fingerprints within hamming distance d < bits/8
    * must agree on at least one byte — pigeonhole), then exact hamming ≤
    * `maxHamming` on band-collision candidates. Same candidates-scale-
    * with-duplicates property as MinHash LSH. */
  def simHashPairs(fp: DataFrame, maxHamming: Int,
      bits: Int = simHashBits): DataFrame = {
    val nBands = bits / 8
    // byte banding only guarantees recall for distances < nBands — beyond
    // it a pair can differ in every byte and silently never collide.
    require(maxHamming < nBands,
      s"simHashPairs: $nBands-byte banding guarantees recall only for maxHamming < $nBands, got $maxHamming")
    val bands = (0 until nBands).map { j =>
      struct(lit(j).as("band"),
        (shiftright(col("simhash"), 8 * j) % 256).as("bk"))
    }
    val banded = fp.select(col("doc_id"), col("simhash"),
        explode(array(bands: _*)).as("b"))
      .select(col("doc_id"), col("simhash"),
        col("b.band").as("band"), col("b.bk").as("bk"))
    val a = banded.as("a")
    val b = banded.as("b")
    a.join(b, col("a.band") === col("b.band") && col("a.bk") === col("b.bk") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** SQL twin of [[simHashPairs]] (DuckDB), from the same constants — the
    * fingerprint query nests as a CTE (a CTE body may carry its own WITH). */
  def simHashPairsSql(table: String, maxHamming: Int,
      bits: Int = simHashBits): String = {
    val bandSelects = (0 until bits / 8)
      .map(j => s"SELECT doc_id, simhash, $j AS band, (simhash // ${1L << (8 * j)}) % 256 AS bk FROM fp")
      .mkString("\n          UNION ALL ")
    s"""WITH fp AS (
       |${simHashSql(table, bits)}),
       |banded AS ($bandSelects),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |                bit_count(xor(a.simhash, b.simhash)) AS hamming
       |         FROM banded a JOIN banded b
       |           ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, hamming FROM cand
       |WHERE hamming <= $maxHamming
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** SQL twin of [[simHash]] for the DuckDB oracle — generated from the
    * same bit constants so the two can't drift. */
  def simHashSql(table: String, bits: Int = simHashBits): String = {
    val bitSums = (0 until bits).map { j =>
      s"SUM(CASE WHEN (th // ${1L << j}) % 2 = 1 THEN 1 ELSE -1 END) AS b$j"
    }.mkString(",\n             ")
    val fp = (0 until bits).map { j =>
      s"CASE WHEN b$j >= 0 THEN ${1L << j} ELSE 0 END"
    }.mkString(" + ")
    s"""WITH tok AS (
       |  SELECT DISTINCT doc_id, t
       |  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t FROM $table)
       |  WHERE length(t) > 0),
       |th AS (SELECT doc_id, CAST(('0x' || substr(md5(t), 1, 14)) AS BIGINT) AS th FROM tok),
       |bits AS (SELECT doc_id,
       |             $bitSums
       |         FROM th GROUP BY doc_id)
       |SELECT doc_id, $fp AS simhash FROM bits""".stripMargin
  }

  /** Duplicate-substring spans — the exact-substring pass of Lee et al.
    * 2022 ("Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499), re-expressed relationally instead of via a
    * suffix array: every `winLen`-token window whose text occurs anywhere
    * else in the corpus (another document OR another position of the same
    * document) is a duplicated window; overlapping/adjacent duplicated
    * windows within a document merge into maximal spans
    * (gaps-and-islands). Downstream a pipeline cuts the spans out rather
    * than dropping whole documents — the within-document mode also makes
    * this the span-level form of the Gopher repetition gate.
    *
    * Scale shape: windows are hashed to 54-bit md5 keys (oracle
    * re-derivable) so the single exchange that detects repeats carries
    * `(doc_id, pos, BIGINT)` — never window text. Repeat detection is a
    * count over the hash partition; island-merge is a per-document
    * window. |corpus|·tokens narrow rows through one hash-partitioned
    * exchange, no pairwise term anywhere — unlike the near-dup family
    * there is no candidate join at all, so this is the cheapest dedup
    * pass and in production runs first. */
  def duplicateSpans(df: DataFrame, id: Column, text: Column,
      winLen: Int): DataFrame = {
    // Single-space split (not \s+) to match the SQL twin byte-for-byte;
    // repartition(id): fan the window-hash explode out of the
    // single-row-group test scans (no-op at cluster scale).
    val toks = df.repartition(id)
      .select(id.as("doc_id"),
        filter(split(lower(text), " "), t => length(t) > 0).as("t"))
      .filter(size(col("t")) >= winLen)
    val grams = toks.select(col("doc_id"),
      posexplode(transform(sequence(lit(0), size(col("t")) - winLen),
          i => md5Hash54(concat_ws(" ", slice(col("t"), i + 1, lit(winLen))))))
        .as(Seq("pos", "gh")))
    val hits = grams
      .withColumn("occ", count(lit(1)).over(Window.partitionBy(col("gh"))))
      .filter(col("occ") > 1)
      .select(col("doc_id"), col("pos").cast("long").as("pos"))
    // Island merge: windows [p, p+L-1] sorted by p have monotone ends, so
    // a span breaks exactly when pos jumps past prev_pos + L (beyond
    // adjacency). First row's lag is NULL → comparison NULL → no break,
    // identical in both engines.
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    hits
      .withColumn("brk",
        when(col("pos") > lag(col("pos"), 1).over(byDoc) + winLen, 1)
          .otherwise(0))
      .withColumn("isl", sum(col("brk")).over(byDoc))
      .groupBy(col("doc_id"), col("isl"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + winLen - 1).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"))
      .orderBy(col("doc_id"), col("span_start"))
  }

  /** CTE chain twin of the span derivation — ends in
    * `spans(doc_id, span_start, span_end, span_tokens)` over a `toks`
    * CTE, shared by [[duplicateSpansSql]] and the span-cut twin.
    * `maxToks` bounds the generate_series at oracle scale (the Spark
    * side uses true length). */
  def duplicateSpanCtes(table: String, winLen: Int,
      maxToks: Int = 1000): String =
    s"""toks AS (
       |  SELECT doc_id, list_filter(string_split(lower(text), ' '),
       |                             t -> length(t) > 0) AS t
       |  FROM $table),
       |grams AS (
       |  SELECT doc_id, CAST(g.i AS BIGINT) AS pos,
       |         CAST(('0x' || substr(md5(array_to_string(
       |           t[CAST(g.i + 1 AS INT):CAST(g.i + $winLen AS INT)], ' ')), 1, 14)) AS BIGINT) AS gh
       |  FROM toks CROSS JOIN generate_series(0, $maxToks) g(i)
       |  WHERE g.i <= len(t) - $winLen),
       |occ AS (SELECT doc_id, pos, COUNT(*) OVER (PARTITION BY gh) AS occ
       |        FROM grams),
       |hits AS (SELECT doc_id, pos FROM occ WHERE occ > 1),
       |brk AS (SELECT doc_id, pos,
       |               CASE WHEN pos > lag(pos) OVER w + $winLen THEN 1 ELSE 0 END AS brk
       |        FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
       |isl AS (SELECT doc_id, pos,
       |               SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS isl
       |        FROM brk),
       |spans AS (SELECT doc_id, MIN(pos) AS span_start,
       |                 MAX(pos) + $winLen - 1 AS span_end,
       |                 MAX(pos) + $winLen - MIN(pos) AS span_tokens
       |          FROM isl GROUP BY doc_id, isl)""".stripMargin

  /** SQL twin of [[duplicateSpans]] — same single-space tokenize, same
    * md5-54 window hash, same island rule. */
  def duplicateSpansSql(table: String, winLen: Int,
      maxToks: Int = 1000): String =
    s"""WITH ${duplicateSpanCtes(table, winLen, maxToks)}
       |SELECT doc_id, span_start, span_end, span_tokens FROM spans
       |ORDER BY doc_id, span_start""".stripMargin

  /** Span CUTTING — apply [[duplicateSpans]] to the corpus: remove every
    * duplicated token range and re-assemble the cleaned document (what
    * the Lee et al. pipeline actually ships — cut the spans, keep the
    * document). Returns `(doc_id, n_tokens, kept_tokens, cleaned)` for
    * every tokenizable document; docs without spans pass through whole.
    *
    * Scale shape: spans come from the one-exchange span pass; the cut is
    * a doc-keyed anti range-join (equi on doc_id + range residual) and
    * the re-assembly a per-document ordered aggregation — both
    * partitioned by doc id, nothing global. */
  def cutSpans(df: DataFrame, id: Column, text: Column,
      winLen: Int): DataFrame = {
    val spans = duplicateSpans(df, id, text, winLen)
      .select(col("doc_id").as("s_doc"), col("span_start"), col("span_end"))
    val toks = df.repartition(id)
      .select(id.as("doc_id"),
        filter(split(lower(text), " "), t => length(t) > 0).as("t"))
      .filter(size(col("t")) > 0)
      .select(col("doc_id"),
        posexplode(col("t")).as(Seq("pos", "tok")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("tok"))
    val kept = toks.join(spans,
        col("doc_id") === col("s_doc") &&
          col("pos") >= col("span_start") && col("pos") <= col("span_end"),
        "left_anti")
    val total = toks.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"))
    kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("kept_tokens"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          s => s.getField("tok"))).as("cleaned"))
      .join(total, "doc_id")
      .select(col("doc_id"), col("n_tokens"), col("kept_tokens"),
        col("cleaned"))
      .orderBy(col("doc_id"))
  }

  /** SQL twin of [[cutSpans]]. Documents whose every token is inside a
    * span drop out of the kept aggregation on BOTH sides (inner join
    * back to totals). */
  def cutSpansSql(table: String, winLen: Int, maxToks: Int = 1000): String =
    s"""WITH ${duplicateSpanCtes(table, winLen, maxToks)},
       |tk AS (SELECT doc_id, CAST(g.i AS BIGINT) AS pos,
       |              t[CAST(g.i + 1 AS INT)] AS tok
       |       FROM toks CROSS JOIN generate_series(0, $maxToks) g(i)
       |       WHERE g.i < len(t)),
       |kept AS (SELECT tk.doc_id, tk.pos, tk.tok FROM tk
       |         WHERE NOT EXISTS (SELECT 1 FROM spans s
       |                           WHERE s.doc_id = tk.doc_id
       |                             AND tk.pos BETWEEN s.span_start AND s.span_end)),
       |tot AS (SELECT doc_id, COUNT(*) AS n_tokens FROM tk GROUP BY doc_id)
       |SELECT k.doc_id, tot.n_tokens, COUNT(*) AS kept_tokens,
       |       string_agg(k.tok, ' ' ORDER BY k.pos) AS cleaned
       |FROM kept k JOIN tot ON tot.doc_id = k.doc_id
       |GROUP BY k.doc_id, tot.n_tokens
       |ORDER BY k.doc_id""".stripMargin
}
