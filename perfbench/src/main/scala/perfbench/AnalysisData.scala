package perfbench

import java.time.LocalDateTime
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** The TPC-H-like star schema plus `events` that the registered analyses
  * read (`graft.Tables`), generated inside the benchmark's own work
  * directory: one parquet file per table, naive (NTZ) timestamps, money
  * with two decimals. The tables are the same on every run, so each
  * analysis output has one fingerprint that can be pinned.
  */
object AnalysisData {
  val Seed = 20240101L
  /** about this many lineitem rows; the other tables scale from it as in TPC-H */
  val Lineitems = 15000

  private val day0 = LocalDateTime.of(1995, 1, 1, 0, 0)
  private val ev0 = LocalDateTime.of(2024, 1, 1, 0, 0)

  private def money(r: SplittableRandom, lo: Int, hi: Int): Double =
    (lo * 100L + r.nextLong((hi - lo) * 100L)) / 100.0

  private def write(spark: SparkSession, dir: String, name: String,
      schema: StructType, rows: Seq[Row]): Unit =
    spark.createDataFrame(rows.asJava, schema).coalesce(1)
      .write.parquet(s"$dir/$name.parquet")

  private def f(n: String, t: DataType) = StructField(n, t)

  def generate(spark: SparkSession, dir: String): Unit = {
    val r = new SplittableRandom(Seed)
    val orders = Lineitems / 4
    val customers = Lineitems / 40
    val parts = Lineitems / 30
    val suppliers = math.max(10, Lineitems / 600)
    val events = Lineitems / 6

    write(spark, dir, "region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex.map { case (n, i) => Row(i, n) })
    write(spark, dir, "nation", StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
      f("n_regionkey", IntegerType))), (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    val segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    write(spark, dir, "customer", StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
      f("c_nationkey", IntegerType), f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
      (0 until customers).map(i => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25),
        money(r, -999, 9999), segments(r.nextInt(segments.length)))))
    write(spark, dir, "supplier", StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
      f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))),
      (0 until suppliers).map(i => Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25), money(r, -999, 9999))))
    val adj = Array("small", "red", "blue", "hot", "old", "large", "green", "shiny")
    val noun = Array("ring", "widget", "bolt", "gear", "gizmo", "plate", "valve", "spring")
    val types = Array("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
    write(spark, dir, "part", StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
      f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
      f("p_retailprice", DoubleType))),
      (0 until parts).map(i => Row(i.toLong, s"${adj(r.nextInt(adj.length))} ${noun(r.nextInt(noun.length))}",
        s"Brand#${1 + r.nextInt(25)}", types(r.nextInt(types.length)), 1 + r.nextInt(50),
        900.0 + (i % 1000) / 10.0)))
    val priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val status = Array("F", "O", "P")
    val orderRows = (0 until orders).map(i => Row(i.toLong, r.nextLong(customers),
      status(r.nextInt(3)), money(r, 1000, 500000), day0.plusDays(r.nextInt(2400)),
      priorities(r.nextInt(5))))
    write(spark, dir, "orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
      f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
      f("o_orderdate", TimestampNTZType), f("o_orderpriority", StringType))), orderRows)
    // 1-7 lines per order: (l_orderkey, l_linenumber) is a key, as in TPC-H
    val flags = Array("A", "N", "R")
    val lineRows = (0 until orders).iterator.map { o =>
      (1 to 1 + r.nextInt(7)).map { ln =>
        Row(o.toLong, r.nextLong(parts), r.nextLong(suppliers), ln, (1 + r.nextInt(50)).toDouble,
          money(r, 900, 105000), r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
          flags(r.nextInt(3)), if (r.nextBoolean()) "O" else "F",
          day0.plusDays(1 + r.nextInt(2500)))
      }
    }.flatten.take(Lineitems).toSeq
    write(spark, dir, "lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
      f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
      f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
      f("l_returnflag", StringType), f("l_linestatus", StringType),
      f("l_shipdate", TimestampNTZType))), lineRows)
    val kinds = Array("click", "signup", "error", "view", "purchase")
    val span = 30L * 86400L * 1000000L
    val offsets = Array.fill(events)(r.nextLong(span)).sorted
    write(spark, dir, "events", StructType(Seq(f("event_id", LongType), f("ts", TimestampNTZType),
      f("user_id", LongType), f("event_type", StringType), f("value", DoubleType),
      f("props", StringType))),
      offsets.toSeq.zipWithIndex.map { case (us, i) =>
        Row(i.toLong, ev0.plusNanos(us * 1000L), r.nextLong(150), kinds(r.nextInt(kinds.length)),
          (1 + r.nextLong(49001)) / 100.0, s"""{"k": ${r.nextInt(100)}}""")
      })
  }
}
