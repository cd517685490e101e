package perfbench

import org.apache.spark.sql.{DataFrame, Row}

/** Order-insensitive result digest.
  *
  * Each row is rendered to one canonical string, hashed to 64 bits, and the
  * hashes are summed modulo 2^64 beside a row count. The sum is invariant
  * under row order and partitioning; columns are taken in name order, so
  * the digest is invariant under column order too. The rendering is exact:
  * doubles print their shortest round-trip form (so two values render
  * alike only if they are the same double, except that -0.0 and 0.0, and
  * all NaNs, are one value, as Spark's grouping treats them), binary prints
  * as hex, and nested arrays, maps and structs render recursively. */
final case class Digest(rows: Long, sum: Long) {
  def +(o: Digest): Digest = Digest(rows + o.rows, sum + o.sum)
  override def toString: String = f"$rows:$sum%016x"
}

object Digest {
  val empty: Digest = Digest(0L, 0L)

  def parse(s: String): Digest = {
    val Array(n, h) = s.split(':')
    Digest(n.toLong, java.lang.Long.parseUnsignedLong(h, 16))
  }

  def render(v: Any): String = v match {
    case null => "∅"
    case d: Double =>
      if (d.isNaN) "NaN" else if (d == 0.0) "0.0" else java.lang.Double.toString(d)
    case f: Float => render(f.toDouble)
    case b: Array[Byte] => "0x" + hex(b)
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case bd: java.math.BigDecimal => bd.stripTrailingZeros.toPlainString
    case ts: java.sql.Timestamp => s"ts${ts.getTime}.${ts.getNanos}"
    case ts: java.time.Instant => s"ts${ts.getEpochSecond}.${ts.getNano}"
    case r: Row => r.toSeq.map(render).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("<", ",", ">")
    case xs: scala.collection.Seq[_] => xs.map(render).mkString("[", ",", "]")
    case other => other.toString
  }

  private val hexDigits = "0123456789abcdef".toCharArray
  private def hex(b: Array[Byte]): String = {
    val out = new Array[Char](b.length * 2)
    var i = 0
    while (i < b.length) {
      out(2 * i) = hexDigits((b(i) >> 4) & 0xf)
      out(2 * i + 1) = hexDigits(b(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  private val md5 = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  def hashRow(values: Seq[Any]): Long = {
    val d = md5.get().digest(values.map(render).mkString("|").getBytes("UTF-8"))
    java.nio.ByteBuffer.wrap(d).getLong
  }

  def ofRows(rows: Iterator[Seq[Any]]): Digest =
    rows.foldLeft(empty)((acc, r) => acc + Digest(1L, hashRow(r)))

  /** Distributed digest of a DataFrame, columns in name order. */
  def of(df: DataFrame): Digest = {
    val cols = df.columns.sorted
    df.select(cols.map(org.apache.spark.sql.functions.col).toIndexedSeq: _*)
      .rdd.mapPartitions(it => Iterator(ofRows(it.map(_.toSeq))))
      .fold(empty)(_ + _)
  }
}
