package graft.perfbench

import java.math.{BigDecimal => JBigDecimal}
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row}

/** Row count plus a row-order-insensitive hash of a result: the output
  * check the benchmark pins each entry to.
  *
  * Each row is rendered to a canonical string (doubles rounded to six
  * significant digits, so summation order cannot flip a pin), hashed to
  * 64 bits, and the row hashes are added modulo 2^64. Addition is
  * commutative and keeps duplicates, so the result depends on the
  * multiset of rows only: not on their order, nor on how they are
  * partitioned.
  */
object Fingerprint {

  final case class Pin(rows: Long, cols: Int, hash: String) {
    override def toString: String = s"$rows\t$cols\t$hash"
  }

  def canonical(v: Any): String = v match {
    case null => "∅"
    case d: Double => roundDouble(d)
    case f: Float => roundDouble(f.toDouble)
    case b: JBigDecimal => b.stripTrailingZeros.toPlainString
    case b: BigDecimal => b.bigDecimal.stripTrailingZeros.toPlainString
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("0x", "", "")
    case r: Row => r.toSeq.map(canonical).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canonical(k) + "->" + canonical(x) }
        .sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canonical).mkString("[", ",", "]")
    case other => other.toString
  }

  /** `d` to six significant digits, as mantissa and exponent. */
  private def roundDouble(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else {
      val e = math.floor(math.log10(math.abs(d))).toInt - 5
      val m = math.rint(if (e >= 0) d / math.pow(10, e) else d * math.pow(10, -e))
      if (math.abs(m) >= 1e6) s"${math.rint(m / 10).toLong}e${e + 1}"
      else s"${m.toLong}e$e"
    }

  /** 64-bit hash of one row's canonical values, in column order. */
  def rowHash(values: Seq[Any]): Long = {
    val s = values.map(canonical).mkString("␟")
    (MurmurHash3.stringHash(s, 0x1b873593).toLong << 32) |
      (MurmurHash3.stringHash(s, 0x5bd1e995).toLong & 0xffffffffL)
  }

  /** Fold row hashes into (count, sum mod 2^64). */
  def combine(hashes: Iterator[Long]): (Long, Long) =
    hashes.foldLeft((0L, 0L)) { case ((n, sum), h) => (n + 1, sum + h) }

  /** Fingerprint a result by executing it once more. The schema (names
    * and types, in order) is folded into the hash.
    */
  def of(df: DataFrame): Pin = {
    val parts = df.rdd
      .mapPartitions(rows => Iterator(combine(rows.map(r => rowHash(r.toSeq)))))
      .collect()
    val rows = parts.map(_._1).sum
    val sum = parts.map(_._2).sum
    val schema = df.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}")
      .mkString(",")
    val hash = sum + MurmurHash3.stringHash(schema).toLong * 0x9e3779b97f4a7c15L
    Pin(rows, df.schema.size, f"$hash%016x")
  }
}
