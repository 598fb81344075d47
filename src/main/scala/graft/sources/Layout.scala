package graft.sources

import graft.{Q, QueryPack, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Z-order clustering + per-file min/max manifest + skipping scan — the
  * data-layout triple behind every modern table format's "data skipping"
  * (Delta OPTIMIZE ZORDER BY, Iceberg sort orders, Hudi clustering).
  *
  * The reference stores rows in arrival order (ClickHouse insert order,
  * SURVEY.md §1.4), so any 2-D predicate (company × time, customer × date)
  * scans everything. Interleaving the bits of the two predicate columns
  * into one sort key clusters rows so that EVERY file's bounding box over
  * BOTH columns is tight; a per-file (min, max) manifest — the stats a
  * table-format metadata log keeps — then lets a box predicate open only
  * the few files whose boxes intersect it.
  *
  * Scale notes (100 TB posture):
  *   - The cluster write is `repartitionByRange(z)` + a partition-local
  *     sort: one shuffle, spillable sorts, no global sort, no driver data.
  *   - The manifest is one narrow aggregate keyed by file name — metadata
  *     scale (rows = files), the same asymptotics as a Delta log. Pruning
  *     consults ONLY the manifest; the data files never open.
  *   - Skipping is sound by construction: a file is read iff its
  *     [min, max] × [min, max] box intersects the predicate box, and the
  *     row-level filter still runs over what is read — so the result is
  *     EXACTLY the unpruned result (the oracle gate proves it), pruning
  *     only removes provably-empty reads.
  *   - Bit interleaving is ~4·[[ZBits]] codegen'd shift/mask/or ops, no
  *     UDF; values beyond 2^[[ZBits]]−1 clamp, which can only LOOSEN
  *     clustering (correctness never depends on the z-value).
  */
object Layout extends QueryPack {

  /** bits interleaved per dimension (z-value fits a long: 2·ZBits ≤ 63) */
  val ZBits = 21

  private val MaxV = (1L << ZBits) - 1

  /** Morton / Z-value of two non-negative longs: bit i of `a` lands at even
    * position 2i, bit i of `b` at odd position 2i+1. Negative or
    * out-of-range inputs clamp to the edge of the grid.
    */
  def zValue(a: Column, b: Column): Column = {
    def clamp(c: Column): Column =
      least(greatest(c.cast("long"), lit(0L)), lit(MaxV))
    val (ca, cb) = (clamp(a), clamp(b))
    (0 until ZBits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftright(ca, i).bitwiseAND(lit(1L)), 2 * i))
        .bitwiseOR(shiftleft(shiftright(cb, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }
  }

  /** N-dimensional Morton value: bit i of column j lands at position
    * N·i + j, with each dimension granted floor(62 / N) bits (values beyond
    * that clamp to the grid edge — clamping can only LOOSEN clustering,
    * never correctness, exactly as in the 2-D form). 2 ≤ N ≤ 6 keeps ≥ 10
    * bits (1024 distinct cells) per dimension — beyond that interleaving
    * stops buying anything over plain lexicographic sort.
    */
  def zValueN(cols: Seq[Column]): Column = {
    val n = cols.length
    require(n >= 2 && n <= 6, s"zValueN takes 2..6 columns, got $n")
    val bits = 62 / n
    val maxV = (1L << bits) - 1
    def clamp(c: Column): Column =
      least(greatest(c.cast("long"), lit(0L)), lit(maxV))
    val clamped = cols.map(clamp)
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      clamped.zipWithIndex.foldLeft(acc) { case (a, (c, j)) =>
        a.bitwiseOR(shiftleft(shiftright(c, i).bitwiseAND(lit(1L)), n * i + j))
      }
    }
  }

  /** Order-preserving long key for a STRING dimension: the first
    * floor(bits/7) characters pack 7 bits each (most significant first), so
    * ASCII prefixes order EXACTLY like the string; code points above 127
    * clamp to 127 and shorter strings pad 0 — both only LOOSEN clustering,
    * never correctness, because the stats sidecar re-gathers on the REAL
    * string values after the rewrite (the same clamp contract as the
    * numeric grid edge). Pure codegen'd shift/or — no UDF.
    */
  def stringZKey(c: Column, bits: Int): Column = {
    val k = math.max(1, bits / 7)
    (1 to k).foldLeft(lit(0L)) { (acc, i) =>
      acc.bitwiseOR(shiftleft(
        least(coalesce(ascii(substring(c, i, 1)).cast("long"), lit(0L)), lit(127L)),
        7 * (k - i)))
    }
  }

  /** Rewrite `df` clustered by z(colA, colB) into `nFiles` range-partitioned,
    * locally-sorted Parquet files, then write the per-file manifest next to
    * it (`<out>_manifest`). Returns (tableDir, manifestDir).
    */
  def writeZOrdered(
      df: DataFrame,
      colA: Column,
      colB: Column,
      out: String,
      nFiles: Int): (String, String) = {
    df.withColumn("_z", zValue(colA, colB))
      .repartitionByRange(nFiles, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
      .write.mode("overwrite").parquet(out)
    val manifestDir = out + "_manifest"
    val spark = df.sparkSession
    spark.read.parquet(out)
      .groupBy(input_file_name().as("file"))
      .agg(
        count(lit(1)).as("n_rows"),
        min(colA).as("min_a"), max(colA).as("max_a"),
        min(colB).as("min_b"), max(colB).as("max_b"))
      .coalesce(1)
      .write.mode("overwrite").parquet(manifestDir)
    (out, manifestDir)
  }

  /** Files whose [min,max]×[min,max] box intersects the predicate box —
    * the manifest lookup a table format serves from its metadata log.
    * Driver-side by design: the result is file NAMES (metadata scale,
    * rows = files), never data.
    */
  def selectFiles(
      spark: SparkSession,
      manifestDir: String,
      loA: Column, hiA: Column, loB: Column, hiB: Column): Seq[String] = {
    spark.read.parquet(manifestDir)
      .where(col("max_a") >= loA && col("min_a") < hiA &&
        col("max_b") >= loB && col("min_b") < hiB)
      .select("file").collect().map(_.getString(0)).toSeq
  }

  /** Manifest-pruned box scan: open only files intersecting the
    * [loA,hiA)×[loB,hiB) box, then apply `rowFilter` to what is read.
    * SOUNDNESS CONTRACT: `rowFilter` must select no row lying outside the
    * box (it is the box predicate, or stricter) — then the result is
    * identical to the unpruned scan (LayoutSpec pins identity; the
    * `zorder_pruned_scan` oracle pins it cross-engine).
    */
  def prunedScan(
      spark: SparkSession,
      tableDir: String,
      manifestDir: String,
      loA: Column, hiA: Column, loB: Column, hiB: Column,
      rowFilter: Column): DataFrame = {
    val files = selectFiles(spark, manifestDir, loA, hiA, loB, hiB)
    val base =
      if (files.isEmpty) spark.read.parquet(tableDir).limit(0)
      else spark.read.parquet(files: _*)
    base.where(rowFilter)
  }

  // ---- the graded query: orders z-ordered by (customer, order day) -------

  /** one clustered table + manifest per data dir per JVM (query construction
    * must stay read-only after the first materialization — the gridCandles
    * memo discipline)
    */
  private val zOrdered =
    graft.Scratch.fixture[(String, String)]("graft_zorder", "orders", "orders_manifest")

  private[graft] def ordersZOrdered(s: SparkSession, dir: String): (String, String) = {
    zOrdered(dir) { root =>
      val path = root + "/orders"
      writeZOrdered(
        Tables.load(s, dir, "orders"),
        col("o_custkey"),
        datediff(col("o_orderdate"), lit("1970-01-01").cast("date")),
        path, nFiles = 32)
    }
  }

  /** predicate box: one customer band × one calendar year (non-empty at
    * every driver SF — sf0.001's custkey range is only 0..149)
    */
  private val CustLo = 100L
  private val CustHi = 400L
  private val DayLo = "1996-01-01"
  private val DayHi = "1997-01-01"

  /** Box-predicate aggregate over the z-ordered orders table, reading only
    * manifest-selected files. The oracle runs the same predicate over the
    * ORIGINAL parquet — green means the clustered rewrite preserved every
    * row and pruning skipped only provably-empty files.
    */
  def zorderPrunedScan(s: SparkSession, dir: String): DataFrame = {
    val (table, manifest) = ordersZOrdered(s, dir)
    val epoch = lit("1970-01-01").cast("date")
    val scan = prunedScan(s, table, manifest,
      lit(CustLo), lit(CustHi),
      datediff(lit(DayLo).cast("date"), epoch),
      datediff(lit(DayHi).cast("date"), epoch),
      col("o_custkey") >= CustLo && col("o_custkey") < CustHi &&
        col("o_orderdate") >= lit(DayLo).cast("timestamp") &&
        col("o_orderdate") < lit(DayHi).cast("timestamp"))
    scan.groupBy("o_orderstatus")
      .agg(
        count(lit(1)).as("n_orders"),
        countDistinct(col("o_custkey")).as("n_customers"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("sum_price"),
        date_format(min(col("o_orderdate")), "yyyy-MM-dd").as("first_day"),
        date_format(max(col("o_orderdate")), "yyyy-MM-dd").as("last_day"))
  }

  private val zorderPrunedScanSql =
    s"""SELECT o_orderstatus, count(*) AS n_orders,
      |       count(DISTINCT o_custkey) AS n_customers,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |       strftime(min(o_orderdate), '%Y-%m-%d') AS first_day,
      |       strftime(max(o_orderdate), '%Y-%m-%d') AS last_day
      |FROM orders
      |WHERE o_custkey >= $CustLo AND o_custkey < $CustHi
      |  AND o_orderdate >= TIMESTAMP '$DayLo 00:00:00'
      |  AND o_orderdate < TIMESTAMP '$DayHi 00:00:00'
      |GROUP BY o_orderstatus""".stripMargin

  override val all: Seq[Q] = Seq(
    Q("zorder_pruned_scan", zorderPrunedScan, Some(zorderPrunedScanSql)))
}
