package graftbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class FingerprintSpec extends AnyFunSuite {
  private val schema = StructType(Seq(StructField("k", LongType), StructField("v", DoubleType),
    StructField("xs", ArrayType(StringType))))
  private val rows = (1 to 50).map(i => Row(i.toLong, i / 7.0, Seq(s"a$i", null)))

  test("the fingerprint does not depend on row order") {
    val fp = Fingerprint.of(schema, rows)
    assert(Fingerprint.of(schema, rows.reverse) == fp)
    assert(Fingerprint.of(schema, scala.util.Random.shuffle(rows)) == fp)
    assert(fp.startsWith("50:"))
  }

  test("the fingerprint sees content, duplicates and schema") {
    val fp = Fingerprint.of(schema, rows)
    assert(Fingerprint.of(schema, rows.updated(3, Row(4L, 0.5, Seq("a4", null)))) != fp)
    assert(Fingerprint.of(schema, rows :+ rows.head) != fp)
    assert(Fingerprint.of(StructType(schema.fields.updated(0, StructField("key", LongType))), rows) != fp)
  }

  test("doubles match at nine significant digits, whatever the summation order") {
    val a = Seq(0.1, 0.2, 0.3).sum
    val b = Seq(0.3, 0.2, 0.1).sum
    assert(a != b)
    assert(Fingerprint.canon(a) == Fingerprint.canon(b))
    assert(Fingerprint.canon(-0.0) == Fingerprint.canon(0.0))
  }
}
