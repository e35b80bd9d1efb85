package perfbench

import scala.util.hashing.MurmurHash3

/** Order-independent result digest: row count plus the wrapping sum of a
  * 64-bit hash of each row's canonical text. Two results agree when they
  * hold the same multiset of rows, whatever order they arrive in.
  */
final case class Digest(rows: Long, hash: Long) {
  override def toString: String = f"$rows rows/$hash%016x"
}

object Check {
  /** canonical text of one value: integral numbers print the same
    * whether they arrive as Int or Long */
  def canon(v: Any): String = v match {
    case null => "∅"
    case d: java.lang.Double => d.toString
    case n: java.lang.Number => n.longValue.toString
    case other => other.toString
  }

  def rowHash(row: Iterable[Any]): Long = {
    val text = row.map(canon).mkString("\u0001")
    val hi = MurmurHash3.stringHash(text, 0x5eed0001)
    val lo = MurmurHash3.stringHash(text, 0x5eed0002)
    (hi.toLong << 32) | (lo.toLong & 0xffffffffL)
  }

  def digest(rows: Iterable[Iterable[Any]]): Digest = {
    var n = 0L
    var h = 0L
    rows.foreach { r => n += 1; h += rowHash(r) }
    Digest(n, h)
  }

  def digestRows(rows: Array[org.apache.spark.sql.Row]): Digest =
    digest(rows.iterator.map(_.toSeq).toSeq)

  /** None when `actual` matches `expected`, else the mismatch text */
  def compare(actual: Digest, expected: Digest): Option[String] =
    if (actual == expected) None
    else Some(s"expected $expected, got $actual")
}
