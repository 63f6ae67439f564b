package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.{DataFrame, Encoders, Row}

/** Order-insensitive digest of a query's output, canonicalized the way
  * `tools/compare.py` compares results: columns matched by name, doubles
  * compared exactly, integral numbers equal whatever their type, rows as a
  * multiset. `perfbench/digest.py` computes the same digest over DuckDB
  * oracle results; the two must stay in step.
  *
  * Each row is rendered as its values in column-name order, joined by
  * U+001F, and hashed with MD5; the first eight bytes, read as a signed
  * big-endian long, are summed (mod 2^64) over all rows, plus the hash
  * of the sorted column names.
  */
object Digest {
  val Null = "␀"
  val Sep = '\u001f'

  private def dbl(d: Double, b: java.lang.StringBuilder): Unit =
    if (d.isNaN) b.append("NaN")
    else if (d == math.rint(d) && math.abs(d) < 9.2e18) b.append(d.toLong)
    else {
      val h = java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(d))
      b.append("0x").append("0" * (16 - h.length)).append(h)
    }

  private def micros(i: java.time.Instant): Long =
    Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)

  def value(v: Any, b: java.lang.StringBuilder): Unit = v match {
    case null => b.append(Null)
    case x: Boolean => b.append(if (x) '1' else '0')
    case x: Byte => b.append(x.toLong)
    case x: Short => b.append(x.toLong)
    case x: Int => b.append(x.toLong)
    case x: Long => b.append(x)
    case x: Double => dbl(x, b)
    case x: Float => dbl(x.toDouble, b)
    case x: java.math.BigDecimal => dbl(x.doubleValue, b)
    case x: scala.math.BigDecimal => dbl(x.toDouble, b)
    case x: String => b.append(x)
    case x: java.sql.Date => b.append(x.toLocalDate.toString)
    case x: java.time.LocalDate => b.append(x.toString)
    case x: java.sql.Timestamp => b.append(micros(x.toInstant))
    case x: java.time.Instant => b.append(micros(x))
    case x: java.time.LocalDateTime =>
      b.append(micros(x.toInstant(java.time.ZoneOffset.UTC)))
    case x: Array[Byte] => x.foreach(y => b.append(String.format(java.util.Locale.ROOT, "%02x", Byte.box(y))))
    case other => b.append(other.toString)
  }

  def hash(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8))
    java.nio.ByteBuffer.wrap(md, 0, 8).getLong
  }

  def hex(d: Long): String = {
    val h = java.lang.Long.toHexString(d)
    "0" * (16 - h.length) + h
  }

  /** (rows, digest) of one partition; `order` lists column indices in
    * column-name order.
    */
  def partition(rows: Iterator[Row], order: Array[Int]): (Long, Long) = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val b = new java.lang.StringBuilder
    var n = 0L
    var sum = 0L
    rows.foreach { r =>
      b.setLength(0)
      var i = 0
      while (i < order.length) {
        if (i > 0) b.append(Sep)
        value(r.get(order(i)), b)
        i += 1
      }
      sum += java.nio.ByteBuffer.wrap(md.digest(b.toString.getBytes(UTF_8)), 0, 8).getLong
      n += 1
    }
    (n, sum)
  }

  /** Runs the query to completion, materializing every output column (the
    * final sort included: no aggregate sits above the plan for the
    * optimizer to prune under), and returns (rows, hex digest).
    */
  def drain(df: DataFrame): (Long, String) = {
    val cols = df.columns
    val order = cols.indices.sortBy(cols(_)).toArray
    val parts = df.mapPartitions(it => Iterator(partition(it, order)))(
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)).collect()
    val sum = parts.map(_._2).sum + hash(order.map(cols(_)).mkString(Sep.toString))
    (parts.map(_._1).sum, hex(sum))
  }
}
