package perfbench

import java.math.MathContext

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.Row

/** Row count plus an order-insensitive 64-bit hash of a result, with
  * floating-point values rounded to 9 significant digits so that a sum
  * taken in another order still matches. */
final case class ResultHash(rows: Long, hash: Long) {
  override def toString: String = f"$rows%d:$hash%016x"
}

object ResultHash {
  private val Mc = new MathContext(9)

  def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case a: Array[Byte] => a.map(b => f"$b%02x").mkString
    case o => o.toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else BigDecimal(d).round(Mc).bigDecimal.stripTrailingZeros.toPlainString

  def of(items: Iterable[String]): ResultHash = {
    var n = 0L
    var h = 0L
    items.foreach { s =>
      n += 1
      h += (MurmurHash3.stringHash(s, 17).toLong << 32) ^ (MurmurHash3.stringHash(s, 31) & 0xffffffffL)
    }
    ResultHash(n, h)
  }

  def ofRows(rows: Iterable[Row]): ResultHash = of(rows.map(canon))

  def parse(s: String): ResultHash = {
    val Array(n, h) = s.split(":")
    ResultHash(n.toLong, java.lang.Long.parseUnsignedLong(h, 16))
  }
}
