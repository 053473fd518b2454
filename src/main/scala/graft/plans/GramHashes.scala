package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the DISTINCT md5-derived 56-bit hashes of
  * a document's character n-gram windows — the per-document inverted-
  * index key set that decontamination (and any gram-join) explodes.
  *
  * The composable formulation (`explode(array_distinct(shingles(lt, n)))
  * → md5Hash54`) pays the interpreted-HOF tax documented on
  * [[MinHashSignature]] — per window: substring materialization, md5 →
  * 32-char hex string, substring, base-16 `conv` — and additionally
  * `array_distinct` compares full gram STRINGS. Stage-profiled in the
  * pipeline breakdown (BASELINE.md "Round-8 fourth wave"): the
  * decontamination gram pass was
  * 5.4–5.8 s at sf0.1 while the same hash volume through the native
  * MinHash expression costs ~1.4 s.
  *
  * Bit-compatibility contract (spec-checked against the HOF form):
  * windows are the character substrings `[i, i+n)` for
  * `0 ≤ i ≤ numChars−n`; the hash is the first 14 hex digits of md5
  * (= first 7 bytes big-endian unsigned — exactly `TextFns.md5Hash54`).
  * Result is the distinct hash set, SORTED ASCENDING (the HOF form keeps
  * first-occurrence order; every consumer explodes into an unordered
  * join/agg, so set equality is the contract — the spec asserts it).
  * Deduping by hash instead of by gram text collapses a cross-gram
  * collision (~2⁻⁵⁶ per in-doc pair); downstream `countDistinct(gh)`
  * already counts hashes, so results are unchanged. A document shorter
  * than one window yields NULL (explode drops the row, exactly as it
  * drops an empty array); NULL input yields NULL. */
case class GramHashes(child: Expression, shingleN: Int)
    extends UnaryExpression {

  require(shingleN >= 1, s"gram_hashes: n must be >= 1, got $shingleN")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"gram_hashes expects a string column, got $t")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullable: Boolean = true

  override def prettyName: String = "gram_hashes"

  override protected def nullSafeEval(s: Any): Any =
    GramHashes.compute(s.asInstanceOf[UTF8String], shingleN)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.plans.GramHashes.compute($c, $shingleN);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): GramHashes =
    copy(child = newChild)
}

object GramHashes {

  /** One pass: hash every window via the shared ThreadLocal digest
    * ([[MinHashSignature.md5]]), then sort + linear-dedupe — no boxing,
    * no per-window string materialization on ASCII documents. */
  def compute(s: UTF8String, n: Int): ArrayData = {
    val numChars = s.numChars()
    if (numChars < n) return null
    val md = MinHashSignature.md5.get()
    md.reset()
    val count = numChars - n + 1
    val hs = new Array[Long](count)
    val bytes = s.getBytes
    val ascii = bytes.length == numChars
    var i = 0
    while (i < count) {
      if (ascii) md.update(bytes, i, n)
      else md.update(s.substring(i, i + n).getBytes)
      val d = md.digest()
      var h = 0L
      var b = 0
      while (b < 7) { h = (h << 8) | (d(b) & 0xffL); b += 1 }
      hs(i) = h
      i += 1
    }
    java.util.Arrays.sort(hs)
    var w = 0
    var r = 0
    while (r < count) {
      if (r == 0 || hs(r) != hs(r - 1)) { hs(w) = hs(r); w += 1 }
      r += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(hs, w))
  }
}
