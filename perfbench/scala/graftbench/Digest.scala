package graftbench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.Row

/** Order-insensitive result digest: the row count plus the sum (mod 2^64) of
  * a 64-bit hash of each row's canonical text. Doubles hash by their exact
  * bits, so a result that drifts by one ulp reads as a mismatch. */
object Digest {
  def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double => java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(d))
    case f: Float => java.lang.Integer.toHexString(java.lang.Float.floatToIntBits(f))
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString("0x", "", "")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  def hash64(s: String): Long =
    (MurmurHash3.stringHash(s, 0x9747b28c).toLong << 32) ^
      (MurmurHash3.stringHash(s, 0x5bd1e995).toLong & 0xffffffffL)

  def rowHash(r: Row): Long = hash64(canon(r))

  /** 64-bit hash of a text, in hex. */
  def text(s: String): String = java.lang.Long.toHexString(hash64(s))

  def of(rows: Array[Row]): String = {
    var sum = 0L
    rows.foreach(r => sum += rowHash(r))
    s"${rows.length}:${java.lang.Long.toHexString(sum)}"
  }
}
