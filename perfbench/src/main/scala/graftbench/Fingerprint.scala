package graftbench

import java.util.Locale

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.StructType

/** Row count plus an order-insensitive hash of a result: the sum, mod
  * 2^64, of one 64-bit hash per row, computed in the client JVM from the
  * collected rows. Doubles are hashed at nine significant digits, so a
  * float sum reduced in a different order still matches; column names and
  * types are part of the hash. */
object Fingerprint {

  def canon(v: Any): String = v match {
    case null => "~"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
    case x => x.toString
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else String.format(Locale.ROOT, "%.9g", Double.box(d))

  def rowHash(r: Row): Long = {
    val s = canon(r)
    (MurmurHash3.stringHash(s, 0x3c6ef372).toLong << 32) |
      (MurmurHash3.stringHash(s, 0x1b873593).toLong & 0xffffffffL)
  }

  /** Fingerprint of collected rows with their schema, as `rows:hash`. */
  def of(schema: StructType, rows: Seq[Row]): String = {
    var sum = MurmurHash3.stringHash(schema.simpleString).toLong
    rows.foreach(r => sum += rowHash(r))
    f"${rows.size}%d:$sum%016x"
  }

  /** Fingerprint of `df`, collected to the client. */
  def of(df: DataFrame): String = of(df.schema, df.collect().toSeq)
}
