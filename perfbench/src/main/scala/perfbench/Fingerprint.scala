package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Order-insensitive fingerprint of a query result, computed the same way
  * by `pin_fingerprints.py` over a DuckDB result: each row is encoded with
  * its columns in name order, hashed with SHA-256, and the first 8 bytes of
  * every row hash are summed modulo 2^64. Values are encoded exactly
  * (doubles by their IEEE bits), so any differing value changes it.
  */
object Fingerprint {

  def encode(v: Any): String = v match {
    case null => "n"
    case b: Boolean => if (b) "b1" else "b0"
    case x: Byte => "i" + x
    case x: Short => "i" + x
    case x: Int => "i" + x
    case x: Long => "i" + x
    case x: Float => encode(x.toDouble)
    case x: Double =>
      val d = if (x == 0.0) 0.0 else x // -0.0 and 0.0 compare equal
      "f" + java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(d))
    case x: java.math.BigDecimal => "d" + x.stripTrailingZeros.toPlainString
    case x: scala.math.BigDecimal => encode(x.bigDecimal)
    case x: String => "s" + x
    case x: java.sql.Timestamp => "t" + micros(x.toInstant)
    case x: java.time.Instant => "t" + micros(x)
    case x: java.time.LocalDateTime => "t" + micros(x.toInstant(java.time.ZoneOffset.UTC))
    case x: java.sql.Date => "D" + x.toLocalDate.toEpochDay
    case x: java.time.LocalDate => "D" + x.toEpochDay
    case x => "o" + x.toString
  }

  private def micros(i: java.time.Instant): Long =
    Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)

  def rowHash(names: Seq[String], values: Seq[Any]): Long = {
    val s = names.zip(values).sortBy(_._1)
      .map { case (n, v) => n + "=" + encode(v) }.mkString("\u0001")
    val h = MessageDigest.getInstance("SHA-256").digest(s.getBytes(StandardCharsets.UTF_8))
    java.nio.ByteBuffer.wrap(h, 0, 8).getLong
  }

  /** "<16 hex digits>:<row count>" */
  def of(schema: StructType, rows: Seq[Row]): String = {
    val names = schema.fieldNames.toSeq
    val sum = rows.foldLeft(0L)((acc, r) => acc + rowHash(names, r.toSeq))
    f"$sum%016x:${rows.size}"
  }
}
