package graft

import org.apache.spark.sql.functions.{col, md5}

/** Each JVM twin of the portable md5 recipe against its Spark column,
  * key by key. Queries only meet the twins through their outputs; these
  * pin the twins directly, so a drift names the twin instead of a query.
  */
class PortableSpec extends SparkSpec {

  /** empty, ASCII, Cyrillic (multi-byte UTF-8), and "k1", whose digest
    * starts with byte 0xb6 — a sign-bit byte, checked below
    */
  private val keys = Seq("", "graft:42", "Привет, мир", "k1")

  /** per key: Spark's md5, md5Int at 8 and 13 chars, hexInt at offset 9,
    * and the unit double computed by Spark
    */
  private lazy val byKey = {
    import spark.implicits._
    keys.toDF("k").select(col("k"), md5(col("k")), Portable.md5Int(col("k")),
        Portable.md5Int(col("k"), 13), Portable.hexInt(md5(col("k")), 9, 8),
        Portable.md5Int(col("k")) / 2147483648.0 - 1.0)
      .collect().map(r => r.getString(0) -> r).toMap
  }

  test("md5Hex equals Spark's md5, a sign-bit first byte included") {
    keys.foreach(k => assert(Portable.md5Hex(k) == byKey(k).getString(1), k))
    assert(Integer.parseInt(byKey("k1").getString(1).take(2), 16) >= 0x80)
  }

  test("md5Int at 8 and 13 hex chars equals the Spark column") {
    keys.foreach { k =>
      assert(Portable.md5Int(k) == byKey(k).getLong(2), k)
      assert(Portable.md5Int(k, 8) == byKey(k).getLong(2), k)
      assert(Portable.md5Int(k, 13) == byKey(k).getLong(3), k)
    }
  }

  test("hexInt from offset 9 equals the JVM value read from offset 9") {
    keys.foreach { k =>
      val jvm = java.lang.Long.parseLong(Portable.md5Hex(k), 8, 16, 16)
      assert(byKey(k).getLong(4) == jvm, k)
    }
  }

  test("md5Unit lies in [-1, 1) and equals the Spark hex integer / 2^31 - 1") {
    keys.foreach { k =>
      val u = Portable.md5Unit(k)
      assert(u >= -1.0 && u < 1.0, k)
      assert(u == byKey(k).getDouble(5), k)
    }
  }

  test("the SQL twins render the DuckDB recipe") {
    assert(Portable.md5IntSql("k") == "CAST('0x' || substr(md5(k), 1, 8) AS BIGINT)")
    assert(Portable.hexIntSql("h", "1 + 8 * r", 8) == "CAST('0x' || substr(h, 1 + 8 * r, 8) AS BIGINT)")
    assert(Portable.md5UnitSql("k") ==
      "CAST('0x' || substr(md5(k), 1, 8) AS BIGINT) / 2147483648 - 1")
  }
}
