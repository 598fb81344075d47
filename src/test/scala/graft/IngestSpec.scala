package graft

import graft.ingest.{Ingest, Normalize, Quotation, Schemas}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Pins the reference consumer's drop-on-invalid semantics
  * (`from_rabbitmq_to_clickhouse.py:142-177`) and the producer projections
  * (`from_parser_to_rabbitmq.py:57-65,99-105,189-200`), per FIXTURES.md §A:
  * valid / missing-field / malformed-JSON / bad-timestamp / unknown-shape /
  * duplicate-kept.
  */
class IngestSpec extends SparkSpec {
  import spark.implicits._

  private val validCandle =
    """{"company_id":"FIGI1","timestamp":"2024-03-01 10:00:00","open":1.5,"high":2.0,"low":1.0,"close":1.75,"volume":10}"""
  private val missingField = // no close → F2 drop
    """{"company_id":"FIGI1","timestamp":"2024-03-01 11:00:00","open":1.5,"high":2.0,"low":1.0,"volume":10}"""
  private val malformedJson = """{"company_id":"FIGI1","open":1.5,"""
  private val badTimestamp = // unparseable ts → F3 drop
    """{"company_id":"FIGI1","timestamp":"01/03/2024 10am","open":1.5,"high":2.0,"low":1.0,"close":1.75,"volume":10}"""
  private val unknownShape = """{"foo":1,"bar":"baz"}"""
  private val validTrade =
    """{"company_id":"FIGI2","timestamp":"2024-03-01 10:00:01","price":99.5,"volume":3,"side":"buy"}"""

  private def raw(msgs: String*) = msgs.toSeq.toDF("value")

  /** one frame of every kind: a valid frame per route, then one per gate */
  private val mixed = Seq(
    validCandle, validTrade,
    """{"company_id":"F","timestamp":"2024-01-01 00:00:00","bid_price":1.0,"bid_volume":1,"ask_price":2.0,"ask_volume":1}""",
    """{"company_id":"F","name":"n","ticker":"t","sector":"s"}""",
    malformedJson, unknownShape, missingField,
    """{"company_id":"FIGI2","timestamp":"2024-03-01 10:00:02","price":99.5,"volume":"abc","side":"sell"}""",
    badTimestamp)

  private def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq

  test("F1 classify routes by field-sniffing; malformed/unknown → unknown") {
    val routed = Ingest.classify(
      raw(validCandle, validTrade, malformedJson, unknownShape,
        """{"company_id":"F","timestamp":"2024-01-01 00:00:00","bid_price":1.0,"bid_volume":1,"ask_price":2.0,"ask_volume":1}""",
        """{"company_id":"F","name":"n","ticker":"t","sector":"s"}"""))
      .select("route").as[String].collect().toSeq
    assert(routed == Seq("candles", "trades", "unknown", "unknown", "order_book", "companies"))
  }

  test("F2 missing required field drops the row") {
    val out = Ingest.parseTable(raw(validCandle, missingField), "candles")
    assert(out.count() == 1)
    assert(out.select("close").as[Double].head() == 1.75)
  }

  test("F3 unparseable timestamp drops the row; valid ts parses to TimestampType") {
    val out = Ingest.parseTable(raw(validCandle, badTimestamp), "candles")
    assert(out.count() == 1)
    assert(out.schema("timestamp").dataType.typeName == "timestamp")
  }

  test("malformed JSON drops (classify → unknown; parse → null row)") {
    val out = Ingest.demux(raw(validCandle, malformedJson))
    assert(out("candles").count() == 1)
    assert(out.values.map(_.count()).sum == 1)
  }

  test("duplicate messages are KEPT (at-least-once fidelity to the reference)") {
    val out = Ingest.parseTable(raw(validCandle, validCandle), "candles")
    assert(out.count() == 2)
  }

  test("demux routes every table; dropStats accounts received/kept/dropped") {
    val stats = Ingest.dropStats(
        raw(validCandle, missingField, malformedJson, badTimestamp, unknownShape, validTrade))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(stats("candles") == ((3L, 1L, 2L))) // valid + missing-field + bad-ts
    assert(stats("trades") == ((1L, 1L, 0L)))
    assert(stats("unknown") == ((2L, 0L, 2L))) // malformed + unknown shape
  }

  test("every frame lands exactly once: in its table or in quarantine") {
    val frames = raw(mixed: _*)
    val out = Ingest.demux(frames) + ("quarantine" -> Ingest.quarantine(frames))
    assert(out.values.map(_.count()).sum == mixed.size)
    Schemas.msgSchema.keys.foreach { t =>
      assert(rows(out(t)) == rows(Ingest.parseTable(frames, t)), s"$t rows")
      assert(out(t).schema.map(_.dataType) == Ingest.parseTable(frames, t).schema.map(_.dataType))
    }
    val reasons = out("quarantine").select("route", "reason").as[(String, String)].collect()
    assert(reasons.sorted.toSeq == Seq(
      "candles" -> "bad_timestamp", "candles" -> "missing_required",
      "trades" -> "missing_required", "unknown" -> "unknown_type", "unknown" -> "unknown_type"))
  }

  test("one batch is read once: every output of a trigger shares one source read") {
    val dir = "/tmp/graft_test_ingest_once"
    Scratch.wipe(dir)
    CountingUpstream.frames = mixed
    CountingUpstream.served.set(0)
    val q = spark.readStream
      .format("graft.sources.SeedRateSource")
      .option("upstream", classOf[CountingUpstream].getName)
      .option("rowsPerBatch", "1000")
      .load()
      .writeStream
      .option("checkpointLocation", s"$dir/ckpt")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val out = Ingest.demux(batch) + ("quarantine" -> Ingest.quarantine(batch))
        out.foreach { case (t, df) => df.write.mode("append").parquet(s"$dir/$t") }
      }
      .trigger(Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "an AvailableNow query must stop once drained")
    assert(CountingUpstream.served.get() == mixed.size,
      s"${CountingUpstream.served.get()} frames served for ${mixed.size}")
    val landed = (Schemas.msgSchema.keys.toSeq :+ "quarantine")
      .map(t => spark.read.parquet(s"$dir/$t").count()).sum
    assert(landed == mixed.size)
  }

  test("the shared base holds no heap: a trigger's classification lives on disk") {
    val dir = "/tmp/graft_test_ingest_disk"
    Scratch.wipe(dir)
    val before = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    val frames = raw(mixed: _*)
    val out = Ingest.demux(frames) + ("quarantine" -> Ingest.quarantine(frames))
    out.foreach { case (t, df) => df.write.parquet(s"$dir/$t") }
    val fresh = spark.sparkContext.getRDDStorageInfo.filterNot(i => before(i.id))
    assert(fresh.map(_.memSize).sum == 0, fresh.mkString(", "))
    assert(fresh.map(_.diskSize).sum > 0, "the classification was not materialized once")
    assert(out.size == 5)
  }

  test("P2 quotation fold: positive, negative (sign on both), nano edge cases") {
    val df = Seq((2L, 250000000), (-2L, -250000000), (1L, 999999999), (0L, -1))
      .toDF("units", "nano")
      .select(
        Quotation.toDouble(col("units"), col("nano")).as("d"),
        Quotation.toDecimal(col("units"), col("nano")).cast("string").as("dec"))
    val rows = df.collect()
    assert(rows.map(_.getDouble(0)).toSeq == Seq(2.25, -2.25, 1.999999999, -1.0e-9))
    assert(rows.map(_.getString(1)).toSeq ==
      Seq("2.250000000", "-2.250000000", "1.999999999", "-0.000000001"))
  }

  test("P1/P3 candle projection folds quotations and truncates ts to seconds") {
    val api = Seq(
      ("FIGIX", "2024-03-01T10:15:30.789Z", Row(100L, 500000000), Row(101L, 0), Row(99L, 0), Row(100L, 250000000), 42L))
      .map { case (f, t, o, h, l, c, v) => Row(f, t, o, h, l, c, v) }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(api.map(identity)), Schemas.apiCandle)
    val out = Normalize.projectCandles(df).collect().head
    assert(out.getString(0) == "FIGIX")
    assert(out.getString(1) == "2024-03-01 10:15:30") // sub-second dropped
    assert(out.getDouble(2) == 100.5 && out.getDouble(5) == 100.25)
    assert(out.getLong(6) == 42L)
  }

  test("P4 trade projection maps direction 1→buy else sell") {
    val rows = Seq(Row("F", "2024-01-01T00:00:00Z", Row(1L, 0), 5L, 1),
      Row("F", "2024-01-01T00:00:01Z", Row(2L, 0), 6L, 2))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows), Schemas.apiTrade)
    val sides = Normalize.projectTrades(df).select("side").as[String].collect().toSeq
    assert(sides == Seq("buy", "sell"))
  }

  test("P5 top-of-book extracts bids[0]/asks[0] from depth-N arrays") {
    val book = Row("F", "2024-01-01T00:00:00Z",
      Seq(Row(Row(10L, 500000000), 3L), Row(Row(9L, 0), 7L)),
      Seq(Row(Row(11L, 0), 2L), Row(Row(12L, 0), 8L)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(Seq(book)), Schemas.apiOrderBook)
    val out = Normalize.projectOrderBook(df).collect().head
    assert(out.getDouble(2) == 10.5 && out.getLong(3) == 3L) // best bid
    assert(out.getDouble(4) == 11.0 && out.getLong(5) == 2L) // best ask
  }

  test("depth ladder: projection keeps flat top-of-book columns; stats guard on column presence") {
    val book = Row("F", "2024-01-01T00:00:00Z",
      Seq(Row(Row(10L, 500000000), 3L), Row(Row(9L, 0), 7L)),
      Seq(Row(Row(11L, 0), 2L), Row(Row(12L, 0), 8L)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(Seq(book)), Schemas.apiOrderBook)
    val depth = Normalize.projectOrderBookDepth(df)
    // the flat P5 columns are IDENTICAL (an existing order_book table
    // upgrades by a widening commit, never a migration)
    val flatCols = Normalize.projectOrderBook(df).columns.toSeq
    assert(depth.columns.take(flatCols.length).toSeq == flatCols)
    val d = depth.collect().head
    assert(d.getDouble(2) == 10.5 && d.getDouble(4) == 11.0)

    // ladder present → stats aggregate ALL levels
    val withLadder = ingest.IngestPack.depthStats(depth).collect().head
    assert(withLadder.getAs[Long]("bid_depth_vol") == 10L) // 3 + 7
    assert(withLadder.getAs[Long]("ask_depth_vol") == 10L) // 2 + 8
    assert(withLadder.getAs[Long]("bid_notional_e9") ==
      3L * 10500000000L + 7L * 9000000000L)

    // ladder ABSENT (pre-depth snapshot) → same consumer, top-of-book only
    val noLadder = ingest.IngestPack.depthStats(
      Normalize.projectOrderBook(df)).collect().head
    assert(noLadder.getAs[Long]("bid_depth_vol") == 3L)
    assert(noLadder.getAs[Long]("ask_depth_vol") == 2L)
    assert(noLadder.getAs[Long]("bid_notional_e9") == 3L * 10500000000L)
  }

  test("microStats: ladder microprice/VWAP/span; flat-only snapshot degrades to span 0") {
    val book = Row("F", "2024-01-01T00:00:00Z",
      Seq(Row(Row(10L, 500000000), 3L), Row(Row(9L, 0), 7L)),
      Seq(Row(Row(11L, 0), 2L), Row(Row(12L, 0), 8L)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(Seq(book)), Schemas.apiOrderBook)

    // ladder present: microprice weights by the OPPOSITE side's top volume,
    // spans run level 1 → deepest on each side
    val m = ingest.IngestPack.microStats(
      Normalize.projectOrderBookDepth(df)).collect().head
    assert(m.getAs[Long]("micro_num_e9") ==
      10500000000L * 2L + 11000000000L * 3L) // bid_e9·ask_vol + ask_e9·bid_vol
    assert(m.getAs[Long]("micro_den") == 5L)
    assert(m.getAs[Long]("bid_span_e9") == 1500000000L) // |10.5 - 9.0| e9
    assert(m.getAs[Long]("ask_span_e9") == 1000000000L) // |11.0 - 12.0| e9
    assert(m.getAs[Long]("bid_notional_e9") ==
      3L * 10500000000L + 7L * 9000000000L) // full-ladder VWAP numerator

    // flat-only snapshot (pre-depth generation): same consumer, 1-level
    // ladder semantics — top-of-book notional, zero span, microprice intact
    val f = ingest.IngestPack.microStats(
      Normalize.projectOrderBook(df)).collect().head
    assert(f.getAs[Long]("micro_num_e9") == m.getAs[Long]("micro_num_e9"))
    assert(f.getAs[Long]("micro_den") == 5L)
    assert(f.getAs[Long]("bid_span_e9") == 0L && f.getAs[Long]("ask_span_e9") == 0L)
    assert(f.getAs[Long]("bid_notional_e9") == 3L * 10500000000L)
    assert(f.getAs[Long]("bid_depth_vol") == 3L)
  }

  test("P7/P8 serialize∘parse is identity on valid flat messages") {
    val out = Ingest.parseTable(
      Normalize.serialize(Ingest.parseTable(raw(validTrade), "trades")
        .withColumn("timestamp", date_format(col("timestamp"), Schemas.TsFormat))),
      "trades")
    val r = out.collect().head
    assert(r.getString(0) == "FIGI2" && r.getDouble(2) == 99.5 && r.getString(4) == "buy")
  }
}

/** A [[graft.sources.FrameUpstream]] that counts the frames it serves: the
  * number of source reads an ingest trigger makes. Serves
  * [[CountingUpstream.frames]] (local-mode executors share the JVM).
  */
class CountingUpstream(opts: Map[String, String]) extends graft.sources.FrameUpstream {
  override def total(): Long = CountingUpstream.frames.size.toLong
  override def open(lo: Long, hi: Long): graft.sources.FrameSlice =
    new graft.sources.FrameSlice {
      private val it = CountingUpstream.frames.slice(lo.toInt, hi.toInt).iterator
      override def hasNext: Boolean = it.hasNext
      override def next(): String = { CountingUpstream.served.incrementAndGet(); it.next() }
      override def close(): Unit = ()
    }
}

object CountingUpstream {
  @volatile var frames: Seq[String] = Nil
  val served = new java.util.concurrent.atomic.AtomicLong
}
