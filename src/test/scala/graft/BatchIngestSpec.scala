package graft

import graft.ingest.{BatchIngest, IngestPack}
import org.apache.spark.sql.functions._

/** E1 batch grid ingest: window-partitioned layout, partition pruning, and
  * multi-run convergence under the epoch-anchored grid.
  */
class BatchIngestSpec extends SparkSpec {

  private def fresh(path: String): String = {
    Scratch.wipe(path)
    path
  }

  test("grid ingest writes window-partitioned parquet and a window predicate prunes") {
    val out = fresh("/tmp/graft_test_grid/candles")
    val table = BatchIngest.ingestCandles(
      IngestPack.apiCandles(spark, sfDir), "1995-01-01", "2002-01-01", out, gridBuckets = 2)

    // layout: window partition dirs on disk, ChunkDays apart, epoch-aligned
    val dirs = new java.io.File(out).listFiles.filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("window=")).sorted
    assert(dirs.nonEmpty)
    val epoch = java.time.LocalDate.parse(BatchIngest.GridEpoch)
    val starts = dirs.map(d => java.time.LocalDate.parse(d.stripPrefix("window=")))
    starts.foreach { s =>
      assert(java.time.temporal.ChronoUnit.DAYS.between(epoch, s) % BatchIngest.ChunkDays == 0)
    }

    // a window predicate reaches PartitionFilters (pruned scan — no data read
    // outside the window) and the pruned slice matches the source computation
    val win = starts(starts.length / 2).toString
    val q = table.where(col("window") === lit(win).cast("date"))
    val plan = q.queryExecution.executedPlan.toString
    val partFilters = plan.linesIterator.find(_.contains("PartitionFilters"))
    assert(partFilters.exists(_.contains("window")), s"no window partition filter in:\n$plan")

    val expected = IngestPack.apiCandles(spark, sfDir)
      .select(to_timestamp(col("time")).as("ts"))
      .where(expr(s"date_add(DATE '${BatchIngest.GridEpoch}', CAST(floor(datediff(ts, DATE '${BatchIngest.GridEpoch}') / ${BatchIngest.ChunkDays}) AS INT) * ${BatchIngest.ChunkDays}) = DATE '$win'"))
      .count()
    assert(q.count() == expected && expected > 0)
  }

  test("dim-filtered join onto the partitioned table plans dynamic partition pruning") {
    // the DPP scenario: the partition key is only constrained THROUGH a join
    // to a filtered dim — static pruning can't fire, Spark must inject a
    // runtime subquery filter on `window` so only matching partition dirs
    // are scanned (the mechanism a date-dim star schema lives by at 100 TB)
    // self-contained fixture: build the grid if the layout test hasn't run
    // (order/isolation independence), and pick the two EARLIEST windows
    // deterministically — an unordered limit(2) could return any pair
    val out = "/tmp/graft_test_grid/candles"
    if (!new java.io.File(out).isDirectory)
      BatchIngest.ingestCandles(
        IngestPack.apiCandles(spark, sfDir), "1995-01-01", "2002-01-01", out, gridBuckets = 2)
    val fact = spark.read.parquet(out)
    val wins = fact.select(col("window")).distinct().orderBy(col("window")).limit(2)
      .collect().map(_.getDate(0))
    assert(wins.length == 2, s"grid fixture spans ${wins.length} window(s), need 2 for DPP")
    // dim must be a REAL source with a residual filter: an in-memory local
    // relation gets its filter constant-folded away, and DPP only fires when
    // the filtering side carries a selective predicate
    val dimPath = fresh("/tmp/graft_test_grid/window_dim")
    spark.createDataFrame(
      java.util.List.of(
        org.apache.spark.sql.Row(wins(0), "keep"),
        org.apache.spark.sql.Row(wins(1), "drop")),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("d_window", org.apache.spark.sql.types.DateType),
        org.apache.spark.sql.types.StructField("tag", org.apache.spark.sql.types.StringType))))
      .write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath)
    // at test scale the stats-based benefit estimate vetoes DPP (pruning a
    // few KB "isn't worth" a subquery); production-size partitions pass it.
    // Disable the estimate, keep the mechanism under test.
    val key = "spark.sql.optimizer.dynamicPartitionPruning.useStats"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "false")
      val joined = fact.join(dim, col("window") === col("d_window") && col("tag") === "keep")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("dynamicpruning"), s"no DPP subquery in:\n${plan.take(2500)}")
      // and the join result is exactly that window's slice
      assert(joined.count() == fact.where(col("window") === wins(0)).count())
    } finally spark.conf.set(key, prev)
  }

  test("chunked / overlapping runs converge to the single-run result") {
    val api = IngestPack.apiCandles(spark, sfDir)
    // reference: one ingest over the whole range
    val ref = BatchIngest.ingestCandles(
      api, "1996-01-01", "1998-01-01", fresh("/tmp/graft_test_grid_ref/candles"), gridBuckets = 1)
    val refCount = ref.count()
    assert(refCount > 0)

    // same range as two chunked runs, then an overlapping re-run
    val out = fresh("/tmp/graft_test_grid_multi/candles")
    BatchIngest.ingestCandles(api, "1996-01-01", "1997-01-01", out, gridBuckets = 1)
    BatchIngest.ingestCandles(api, "1997-01-01", "1998-01-01", out, gridBuckets = 1)
    val twoRuns = spark.read.parquet(out)
    assert(twoRuns.count() == refCount)

    BatchIngest.ingestCandles(api, "1996-06-01", "1997-06-01", out, gridBuckets = 1)
    assert(spark.read.parquet(out).count() == refCount) // no duplication, no loss
  }

  test("a partial-source run preserves boundary-window rows outside its range") {
    import org.apache.spark.sql.functions.{struct => st}
    import spark.implicits._
    def apiOf(rows: (String, String)*) = rows.toSeq
      .toDF("figi", "time")
      .select($"figi", $"time",
        st(lit(10L).as("units"), lit(0).as("nano")).as("open"),
        st(lit(11L).as("units"), lit(0).as("nano")).as("high"),
        st(lit(9L).as("units"), lit(0).as("nano")).as("low"),
        st(lit(10L).as("units"), lit(0).as("nano")).as("close"),
        lit(1L).as("volume"))
    val out = fresh("/tmp/graft_test_grid_partial/candles")
    // the epoch-anchored window [1996-01-15, 1996-02-14) straddles Feb 1
    // run 1: January range, January rows
    BatchIngest.ingestCandles(
      apiOf("FIGI1" -> "1996-01-20 10:00:00", "FIGI1" -> "1996-01-25 10:00:00"),
      "1996-01-01", "1996-02-01", out, gridBuckets = 1)
    // run 2: February range fed by a FEBRUARY-ONLY source — it overwrites
    // the straddling window and must carry run 1's late-January rows through
    BatchIngest.ingestCandles(
      apiOf("FIGI1" -> "1996-02-05 10:00:00"),
      "1996-02-01", "1996-03-01", out, gridBuckets = 1)
    val days = spark.read.parquet(out)
      .select(date_format(col("timestamp"), "yyyy-MM-dd").as("d"))
      .as[String].collect().sorted.toSeq
    assert(days == Seq("1996-01-20", "1996-01-25", "1996-02-05"))
    // and a run's source rows OUTSIDE its requested range are not written
    BatchIngest.ingestCandles(
      apiOf("FIGI1" -> "1996-02-05 10:00:00", "FIGI1" -> "1996-03-05 10:00:00"),
      "1996-02-01", "1996-03-01", out, gridBuckets = 1)
    assert(spark.read.parquet(out).count() == 3)
  }

  test("grid ingest handles the trades route (P4 enum projection end to end)") {
    import org.apache.spark.sql.functions.{struct => st}
    import spark.implicits._
    val api = Seq(
      ("FIGI1", "1996-02-01 10:00:00", 100L, 250000000, 5L, 1),
      ("FIGI1", "1996-02-01 11:00:00", 101L, 0, 3L, 2))
      .toDF("figi", "time", "units", "nano", "quantity", "direction")
      .select($"figi", $"time",
        st($"units", $"nano").as("price"), $"quantity", $"direction")
    val t = BatchIngest.ingest(api, "trades", "1996-01-01", "1996-12-31",
      fresh("/tmp/graft_test_grid_trades/trades"), gridBuckets = 1)
    val rows = t.orderBy("timestamp").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[String]("side") == "buy" && rows(0).getAs[Double]("price") == 100.25)
    assert(rows(1).getAs[String]("side") == "sell" && rows(1).getAs[Double]("price") == 101.0)
    intercept[IllegalArgumentException] {
      BatchIngest.ingest(api, "companies", "1996-01-01", "1996-12-31", "/tmp/x")
    }
    ()
  }
}
