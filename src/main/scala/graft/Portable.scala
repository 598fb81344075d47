package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.HexFormat

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{conv, md5, substring}

/** The engine-portable md5 integer, written once for every engine.
  *
  * The recipe: hex characters `[from, from + len)` (1-based) of a lowercase
  * hex string — almost always `md5(key)` — read as a non-negative BIGINT.
  * Spark, DuckDB and the JVM each spell it differently, and every query
  * that samples, splits, sketches, shards or Bloom-indexes by a
  * deterministic coin needs the three spellings to agree bit for bit, or
  * its oracle hash breaks. So each spelling lives here and nowhere else:
  *
  *  - Spark: `conv(substring(h, from, len), 16, 10)` cast to long;
  *  - DuckDB: `CAST('0x' || substr(h, from, len) AS BIGINT)`;
  *  - JVM: the first `len` hex characters of the digest, base 16.
  *
  * `len` ≤ 13 keeps every value double-exact (2^52). The derived uniform
  * double is the 8-character integer scaled by the exact power-of-two
  * division `h / 2^31 - 1` ∈ [-1, 1): one correctly-rounded op, so the
  * DuckDB and JVM values are bit-equal.
  */
object Portable {

  /** Hex characters `[from, from + len)` of the hex string `h` as a long. */
  def hexInt(h: Column, from: Int = 1, len: Int = 8): Column =
    conv(substring(h, from, len), 16, 10).cast("long")

  /** The first `len` hex characters of `md5(key)` as a long. */
  def md5Int(key: Column, len: Int = 8): Column = hexInt(md5(key), 1, len)

  /** DuckDB twin of [[hexInt]]; `from` is a SQL expression (`1 + 8 * r`). */
  def hexIntSql(h: String, from: String = "1", len: Int = 8): String =
    s"CAST('0x' || substr($h, $from, $len) AS BIGINT)"

  /** DuckDB twin of [[md5Int]]. */
  def md5IntSql(key: String, len: Int = 8): String = hexIntSql(s"md5($key)", "1", len)

  /** DuckDB twin of [[md5Unit]]. */
  def md5UnitSql(key: String): String = s"${md5IntSql(key)} / 2147483648 - 1"

  // MessageDigest is not thread-safe; one per thread, reused across rows
  private val digest = ThreadLocal.withInitial[MessageDigest](() => MessageDigest.getInstance("MD5"))
  private val lowerHex = HexFormat.of()

  /** `md5` of the UTF-8 bytes as lowercase hex, as Spark's and DuckDB's `md5`. */
  def md5Hex(s: String): String = lowerHex.formatHex(digest.get.digest(s.getBytes(UTF_8)))

  /** JVM twin of [[md5Int]]. */
  def md5Int(s: String, len: Int): Long = java.lang.Long.parseLong(md5Hex(s), 0, len, 16)

  def md5Int(s: String): Long = md5Int(s, 8)

  /** Uniform double in [-1, 1) of a key; DuckDB twin [[md5UnitSql]]. */
  def md5Unit(s: String): Double = md5Int(s).toDouble / 2147483648.0 - 1.0
}
