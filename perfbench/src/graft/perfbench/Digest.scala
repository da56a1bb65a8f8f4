package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import org.apache.spark.sql.{DataFrame, Row}

/** Order-insensitive digest of a DataFrame's rows.
  *
  * Each row is encoded engine-independently (columns sorted by name,
  * integral values as decimal integers, other doubles as their IEEE bits,
  * timestamps as UTC microseconds), hashed with SHA-256, and the first
  * 8 bytes of every row hash are summed mod 2^64. `expected.py`
  * implements the same encoding over DuckDB results, so a digest pinned
  * from the DuckDB oracle compares directly with one computed here.
  */
object Digest {
  final case class Result(rows: Long, digest: String)

  def of(df: DataFrame): Result = {
    val order = df.columns.zipWithIndex.sortBy(_._1).map(_._2)
    val parts = df.rdd.mapPartitions { it =>
      val md = MessageDigest.getInstance("SHA-256")
      var n = 0L
      var sum = 0L
      it.foreach { row =>
        val s = order.map(i => enc(row.get(i))).mkString("\u001f")
        sum += java.nio.ByteBuffer.wrap(md.digest(s.getBytes(UTF_8))).getLong
        n += 1
      }
      Iterator((n, sum))
    }.collect()
    Result(parts.map(_._1).sum, f"${parts.map(_._2).sum}%016x")
  }

  private val MaxExact = 9.007199254740992e15 // 2^53

  private def encDouble(d: Double): String =
    if (d.isNaN) "nan"
    else if (d.isInfinite) (if (d > 0) "inf" else "-inf")
    else if (d == math.rint(d) && math.abs(d) < MaxExact) d.toLong.toString
    else "d:" + java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(d))

  private def encDecimal(b: java.math.BigDecimal): String = {
    val s = b.stripTrailingZeros()
    if (s.signum == 0 || s.scale <= 0) s.toBigIntegerExact.toString
    else s.toPlainString
  }

  private def enc(v: Any): String = v match {
    case null => "\\N"
    case b: Boolean => b.toString
    case x: Byte => x.toString
    case x: Short => x.toString
    case x: Int => x.toString
    case x: Long => x.toString
    case x: Float => encDouble(x.toDouble)
    case x: Double => encDouble(x)
    case x: java.math.BigDecimal => encDecimal(x)
    case x: scala.math.BigDecimal => encDecimal(x.bigDecimal)
    case x: String => x
    case x: java.sql.Timestamp =>
      "t:" + (Math.floorDiv(x.getTime, 1000L) * 1000000L + x.getNanos / 1000)
    case x: java.time.Instant =>
      "t:" + (x.getEpochSecond * 1000000L + x.getNano / 1000)
    case x: java.time.LocalDateTime =>
      enc(x.toInstant(java.time.ZoneOffset.UTC))
    case x: java.sql.Date => "D:" + x.toLocalDate.toEpochDay
    case x: java.time.LocalDate => "D:" + x.toEpochDay
    case x: Array[Byte] => "b:" + x.map(b => f"${b & 0xff}%02x").mkString
    case x: Row => x.toSeq.map(enc).mkString("{", "\u001e", "}")
    case x: scala.collection.Map[_, _] =>
      x.toSeq.map { case (k, w) => enc(k) + "=" + enc(w) }.sorted
        .mkString("<", "\u001e", ">")
    case x: Iterable[_] => x.map(enc).mkString("[", "\u001e", "]")
    case x => throw new IllegalArgumentException(
      s"no digest encoding for ${x.getClass.getName}")
  }
}
