package graft

import graft.streaming.StreamIngest
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import java.sql.Timestamp

/** S7/K2: checkpointed file-stream ingest with exactly-once fan-out, the
  * watermarked windowed aggregate, and stateful sessionization.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private val base = Files.createTempDirectory("graft_stream").toString
  private val src = s"$base/src"
  private val tables = s"$base/tables"
  private val ckpt = s"$base/ckpt"

  private val candle =
    """{"company_id":"FIGI%d","timestamp":"2024-03-01 10:0%d:00","open":1.0,"high":2.0,"low":0.5,"close":1.5,"volume":7}"""
  private val trade =
    """{"company_id":"FIGI1","timestamp":"2024-03-01 10:00:05","price":9.5,"volume":2,"side":"sell"}"""

  test("file-stream ingest fans out to 4 tables exactly-once across restarts") {
    Files.createDirectories(Paths.get(src))
    Files.writeString(Paths.get(s"$src/batch0.json"),
      Seq(candle.format(1, 1), candle.format(2, 2), trade, """{"junk":true}""").mkString("\n"))

    StreamIngest.start(spark, src, tables, ckpt).awaitTermination()
    assert(spark.read.parquet(s"$tables/candles").count() == 2)
    assert(spark.read.parquet(s"$tables/trades").count() == 1)
    // the junk frame is QUARANTINED with its failed gate, not silently lost
    val quarantined = spark.read.parquet(s"$tables/_quarantine")
      .select("route", "reason").collect().map(r => (r.getString(0), r.getString(1)))
    assert(quarantined.toSeq == Seq(("unknown", "unknown_type")))

    // restart with NO new data → replayed plan must not duplicate rows
    StreamIngest.start(spark, src, tables, ckpt).awaitTermination()
    assert(spark.read.parquet(s"$tables/candles").count() == 2)

    // restart with one new frame → exactly one appended row
    Files.writeString(Paths.get(s"$src/batch1.json"), candle.format(3, 3))
    StreamIngest.start(spark, src, tables, ckpt).awaitTermination()
    assert(spark.read.parquet(s"$tables/candles").count() == 3)
    assert(spark.read.parquet(s"$tables/trades").count() == 1)
    // typed schema survived the wire
    assert(spark.read.parquet(s"$tables/candles").schema("timestamp").dataType.typeName == "timestamp")
  }

  test("rate-limited consume splits a backlog into bounded per-trigger batches") {
    val src2 = s"$base/rate_src"; val tables2 = s"$base/rate_tables"; val ck2 = s"$base/rate_ckpt"
    Files.createDirectories(Paths.get(src2))
    (0 until 3).foreach { i =>
      Files.writeString(Paths.get(s"$src2/f$i.json"), candle.format(10 + i, i))
    }
    // cap = 1 file per micro-batch; AvailableNow still drains the whole
    // backlog, but in rate-limited checkpointed steps
    StreamIngest.start(spark, src2, tables2, ck2,
      maxFilesPerTrigger = Some(1)).awaitTermination()
    val candles = spark.read.parquet(s"$tables2/candles")
    assert(candles.count() == 3)
    val batches = candles.select("ingest_batch").distinct().count()
    assert(batches == 3L, s"expected 3 rate-limited batches, got $batches")
  }

  test("streaming materialized view: incremental rollup across triggers equals full recompute") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.types._
    val mvSrc = s"$base/mv_src"
    val mvBase = s"$base/mv_base"
    val mvAgg = s"$base/mv_agg"
    val mvCkpt = s"$base/mv_ckpt"
    Files.createDirectories(Paths.get(mvSrc))

    val schema = StructType(Seq(
      StructField("win", StringType), StructField("k", StringType),
      StructField("v", LongType)))
    def aggFn(b: DataFrame): DataFrame =
      b.groupBy("win", "k").agg(count(lit(1)).as("n"), sum(col("v")).as("sum_v"))
    def run(): Unit = StreamIngest.maintainRollup(
      spark.readStream.schema(schema).json(mvSrc),
      "win", mvBase, mvAgg, mvCkpt, aggFn).awaitTermination()

    // trigger 1: windows w0, w1
    Files.writeString(Paths.get(s"$mvSrc/t0.json"),
      Seq("""{"win":"w0","k":"a","v":1}""", """{"win":"w0","k":"b","v":2}""",
        """{"win":"w1","k":"a","v":3}""").mkString("\n"))
    run()
    val w0Files = new java.io.File(s"$mvAgg/win=w0").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toMap

    // trigger 2 (fresh query, same checkpoint): w1 straddles both triggers
    Files.writeString(Paths.get(s"$mvSrc/t1.json"),
      Seq("""{"win":"w1","k":"a","v":10}""", """{"win":"w2","k":"c","v":30}""").mkString("\n"))
    run()

    // untouched w0 partition not rewritten by the second refresh
    val w0After = new java.io.File(s"$mvAgg/win=w0").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toMap
    assert(w0After == w0Files, "untouched window partition was rewritten")

    // derived table equals a from-scratch aggregate of everything streamed
    val got = spark.read.parquet(mvAgg)
      .select("win", "k", "n", "sum_v").as[(String, String, Long, Long)].collect().toSet
    assert(got == Set(
      ("w0", "a", 1L, 1L), ("w0", "b", 1L, 2L),
      ("w1", "a", 2L, 13L), ("w2", "c", 1L, 30L)))

    // replay with no new data: agg table content unchanged (idempotent)
    run()
    val again = spark.read.parquet(mvAgg)
      .select("win", "k", "n", "sum_v").as[(String, String, Long, Long)].collect().toSet
    assert(again == got)
  }

  test("windowed pressure aggregate emits finalized 1-minute windows under watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Timestamp, Long, String)]
    val df = mem.toDF().toDF("company_id", "timestamp", "volume", "side")
    val q = StreamIngest.windowedPressure(df)
      .writeStream.format("memory").queryName("pressure").outputMode("append").start()
    mem.addData(
      ("F1", Timestamp.valueOf("2024-03-01 10:00:10"), 5L, "buy"),
      ("F1", Timestamp.valueOf("2024-03-01 10:00:40"), 3L, "sell"))
    q.processAllAvailable()
    // advance event time past watermark (10 min) to finalize the first window
    mem.addData(("F1", Timestamp.valueOf("2024-03-01 10:20:00"), 1L, "buy"))
    q.processAllAvailable()
    val rows = spark.table("pressure").collect()
    q.stop()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getString(0) == "F1" && r.getLong(2) == 5L && r.getLong(3) == 3L)
  }

  test("streaming OHLCV bars: open/close by event time, finalized by watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Timestamp, Double, Long)]
    val df = mem.toDF().toDF("company_id", "timestamp", "price", "volume")
    val q = StreamIngest.ohlcvBars(df, "1 hour")
      .writeStream.format("memory").queryName("bars").outputMode("append").start()
    mem.addData(
      ("F1", Timestamp.valueOf("2024-03-01 10:20:00"), 12.0, 3L), // not first by ts
      ("F1", Timestamp.valueOf("2024-03-01 10:05:00"), 10.0, 1L), // open
      ("F1", Timestamp.valueOf("2024-03-01 10:40:00"), 9.0, 2L),  // low + close
      ("F1", Timestamp.valueOf("2024-03-01 10:30:00"), 15.0, 4L)) // high
    q.processAllAvailable()
    mem.addData(("F1", Timestamp.valueOf("2024-03-01 12:00:00"), 1.0, 1L)) // advance watermark
    q.processAllAvailable()
    val rows = spark.table("bars").collect()
    q.stop()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getDouble(2) == 10.0 && r.getDouble(3) == 15.0 &&
      r.getDouble(4) == 9.0 && r.getDouble(5) == 9.0 && r.getLong(6) == 10L)
  }

  test("streaming dedup collapses redeliveries within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Timestamp, Double, Long, String)]
    val df = mem.toDF().toDF("company_id", "timestamp", "price", "volume", "side")
    val q = StreamIngest.dedupedTrades(df)
      .writeStream.format("memory").queryName("deduped").outputMode("append").start()
    val t0 = Timestamp.valueOf("2024-03-01 10:00:00")
    mem.addData(
      ("F1", t0, 10.5, 3L, "buy"),
      ("F1", t0, 10.5, 3L, "buy"))                   // same-batch duplicate
    q.processAllAvailable()
    mem.addData(("F1", t0, 10.5, 3L, "buy"))         // redelivery next batch
    mem.addData(("F1", t0, 11.0, 3L, "buy"))         // different price → kept
    q.processAllAvailable()
    val rows = spark.table("deduped").collect()
    q.stop()
    assert(rows.length == 2, rows.mkString(", "))
    assert(rows.map(_.getDouble(2)).sorted.toSeq == Seq(10.5, 11.0))
  }

  test("PII redaction column works unchanged under structured streaming") {
    // the batch redaction Column is a narrow stateless projection, so the
    // SAME definition must run in a streaming plan — governance applied at
    // ingest time, not as a later batch sweep
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val out = mem.toDF().toDF("line")
      .select(graft.llm.Governance.redactPii(col("line")).as("r"))
      .writeStream.format("memory").queryName("redacted").outputMode("append").start()
    mem.addData(
      "uid=1 email=a.user@ex.com ip=10.0.0.1 phone=+79990001122 done",
      "no pii here")
    out.processAllAvailable()
    out.stop()
    val rows = spark.table("redacted").collect().map(_.getString(0)).sorted
    assert(rows.toSeq == Seq(
      "no pii here",
      "uid=1 email=<EMAIL> ip=<IP> phone=<PHONE> done"), rows.mkString("|"))
  }

  test("stream-stream interval join matches trades to in-window book snapshots only") {
    implicit val sqlCtx = spark.sqlContext
    val tmem = MemoryStream[(String, Timestamp, Double, Long, String)]
    val bmem = MemoryStream[(String, Timestamp, Double, Double)]
    val trades = tmem.toDF().toDF("company_id", "timestamp", "price", "volume", "side")
    val books = bmem.toDF().toDF("company_id", "timestamp", "bid_price", "ask_price")
    val q = StreamIngest.tradesWithQuotes(trades, books)
      .writeStream.format("memory").queryName("enriched").outputMode("append").start()
    bmem.addData(
      ("F1", Timestamp.valueOf("2024-03-01 10:02:00"), 9.9, 10.1),  // in 5-min window
      ("F1", Timestamp.valueOf("2024-03-01 09:50:00"), 9.0, 9.2),   // too old
      ("F2", Timestamp.valueOf("2024-03-01 10:03:00"), 5.0, 5.2))   // wrong key
    tmem.addData(("F1", Timestamp.valueOf("2024-03-01 10:05:00"), 10.0, 3L, "buy"))
    q.processAllAvailable()
    val rows = spark.table("enriched").collect()
    q.stop()
    assert(rows.length == 1)
    assert(rows.head.getString(0) == "F1" && rows.head.getDouble(6) == 9.9)
  }

  test("stream-stream LEFT OUTER join releases unmatched trades as nulls only after watermark expiry") {
    implicit val sqlCtx = spark.sqlContext
    val tmem = MemoryStream[(String, Timestamp, Double, Long, String)]
    val bmem = MemoryStream[(String, Timestamp, Double, Double)]
    val trades = tmem.toDF().toDF("company_id", "timestamp", "price", "volume", "side")
    val books = bmem.toDF().toDF("company_id", "timestamp", "bid_price", "ask_price")
    val q = StreamIngest.tradesWithQuotesOuter(trades, books)
      .writeStream.format("memory").queryName("outer_enriched").outputMode("append").start()
    // a quoted trade and an unquoted one in the same batch
    bmem.addData(("F1", Timestamp.valueOf("2024-03-01 10:02:00"), 9.9, 10.1))
    tmem.addData(
      ("F1", Timestamp.valueOf("2024-03-01 10:05:00"), 10.0, 3L, "buy"),
      ("F3", Timestamp.valueOf("2024-03-01 10:06:00"), 7.0, 1L, "sell"))
    q.processAllAvailable()
    val early = spark.table("outer_enriched").collect()
    // the unmatched F3 trade must NOT have been emitted yet — a matching
    // snapshot could still arrive within the watermark horizon
    assert(!early.exists(_.getString(0) == "F3"), "unmatched row released before expiry")
    // advance BOTH watermarks past 10:06 (+10min delay → needs events ≥ 10:16)
    bmem.addData(("F1", Timestamp.valueOf("2024-03-01 10:40:00"), 9.8, 10.0))
    tmem.addData(("F1", Timestamp.valueOf("2024-03-01 10:40:00"), 10.1, 2L, "buy"))
    q.processAllAvailable()
    tmem.addData(("F1", Timestamp.valueOf("2024-03-01 10:41:00"), 10.2, 2L, "buy"))
    q.processAllAvailable()
    val rows = spark.table("outer_enriched").collect()
    q.stop()
    val f3 = rows.filter(_.getString(0) == "F3")
    assert(f3.length == 1, s"expected exactly one null-quoted F3 row, got ${f3.length}")
    assert(f3.head.isNullAt(5) && f3.head.isNullAt(6) && f3.head.isNullAt(7))
    // the matched trade emitted with its quote exactly once
    val f1 = rows.filter(r => r.getString(0) == "F1" &&
      r.getTimestamp(1) == Timestamp.valueOf("2024-03-01 10:05:00"))
    assert(f1.length == 1 && f1.head.getDouble(6) == 9.9)
  }

  test("stateful sessionization closes sessions on >30min event-time gaps") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamIngest.Event]
    val q = StreamIngest.sessionize(mem.toDS())
      .writeStream.format("memory").queryName("sessions").outputMode("append").start()
    mem.addData(
      StreamIngest.Event(7L, Timestamp.valueOf("2024-03-01 10:00:00"), "click"),
      StreamIngest.Event(7L, Timestamp.valueOf("2024-03-01 10:10:00"), "view"),
      // 40-minute gap → closes session 1 (2 events, 600s)
      StreamIngest.Event(7L, Timestamp.valueOf("2024-03-01 10:50:00"), "click"))
    q.processAllAvailable()
    mem.addData(StreamIngest.Event(9L, Timestamp.valueOf("2024-03-01 14:00:00"), "click"))
    q.processAllAvailable()
    val rows = spark.table("sessions").as[StreamIngest.Session].collect()
    q.stop()
    assert(rows.exists(s => s.user_id == 7L && s.n_events == 2 &&
      (s.end_ts.getTime - s.start_ts.getTime) == 600000L))
  }

  test("native session windows merge at exactly last+gap and finalize past the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamIngest.Event]
    val q = StreamIngest.sessionizeNative(mem.toDS())
      .writeStream.format("memory").queryName("nsessions").outputMode("append").start()
    mem.addData(
      StreamIngest.Event(7L, Timestamp.valueOf("2024-03-01 10:00:00"), "click"),
      StreamIngest.Event(7L, Timestamp.valueOf("2024-03-01 10:10:00"), "view"),
      // exactly last + gap: the [10:40, 11:10) window TOUCHES the session
      // end → Spark merges (the boundary rule CLAUDE.md mis-stated until
      // round 8; the custom sessionize's <= gap fold agrees)
      StreamIngest.Event(7L, Timestamp.valueOf("2024-03-01 10:40:00"), "click"),
      // one microsecond past the gap → genuinely a new session
      StreamIngest.Event(7L, Timestamp.valueOf("2024-03-01 11:40:00.000001"), "click"))
    q.processAllAvailable()
    assert(spark.table("nsessions").isEmpty,
      "no session may emit before the watermark passes its end")
    // advance the watermark (18:00 − 1h) past every user-7 window
    mem.addData(StreamIngest.Event(9L, Timestamp.valueOf("2024-03-01 18:00:00"), "click"))
    q.processAllAvailable()
    val rows = spark.table("nsessions").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
    q.stop()
    assert(rows.contains((7L, Timestamp.valueOf("2024-03-01 10:00:00"),
      Timestamp.valueOf("2024-03-01 11:10:00"), 3L)),
      s"boundary event must merge: [10:00 .. 10:40] + gap end, got ${rows.mkString(", ")}")
    assert(rows.contains((7L, Timestamp.valueOf("2024-03-01 11:40:00.000001"),
      Timestamp.valueOf("2024-03-01 12:10:00.000001"), 1L)),
      "an event one microsecond past the gap must open its own session")
    assert(!rows.exists(_._1 == 9L), "user 9's session is still open")
  }

  test("streaming CDC apply: per-batch merge into the table log, exactly-once, time-travelable") {
    import graft.sources.TableLog
    val cdcSrc = s"$base/cdc_src"; val tbl = s"$base/cdc_table"; val ck = s"$base/cdc_ckpt"
    Files.createDirectories(Paths.get(cdcSrc))
    def run(): Unit = StreamIngest.cdcApply(spark, cdcSrc, tbl, ck,
      "k LONG, ver LONG, op STRING, v DOUBLE",
      keyCols = Seq("k"), versionCols = Seq("ver"), opCol = "op",
      payloadCols = Seq("v")).awaitTermination()
    def snapshot(asOf: Option[Long] = None): Map[Long, Double] =
      TableLog.read(spark, tbl, asOf).collect()
        .map(r => r.getAs[Long]("k") -> r.getAs[Double]("v")).toMap

    Files.writeString(Paths.get(s"$cdcSrc/c0.json"),
      """{"k":1,"ver":1,"op":"U","v":10.0}
        |{"k":2,"ver":1,"op":"U","v":20.0}""".stripMargin)
    run()
    assert(snapshot() == Map(1L -> 10.0, 2L -> 20.0))
    val v0 = TableLog.versions(tbl)
    assert(v0.size == 1)

    // later batch: update k=1 (two versions in ONE batch — latest wins),
    // delete k=2, insert k=3
    Files.writeString(Paths.get(s"$cdcSrc/c1.json"),
      """{"k":1,"ver":2,"op":"U","v":11.0}
        |{"k":1,"ver":3,"op":"U","v":12.0}
        |{"k":2,"ver":2,"op":"D","v":null}
        |{"k":3,"ver":1,"op":"U","v":30.0}""".stripMargin)
    run()
    assert(snapshot() == Map(1L -> 12.0, 3L -> 30.0))
    assert(TableLog.versions(tbl).size == 2)
    // the pre-CDC snapshot is still readable (time travel)
    assert(snapshot(Some(v0.head)) == Map(1L -> 10.0, 2L -> 20.0))

    // replay with no new data: no batch fires, no version appears
    run()
    assert(TableLog.versions(tbl).size == 2)
    // and a re-delivered txn id is a no-op by construction
    assert(TableLog.commitOnceOverwrite(
      TableLog.read(spark, tbl), tbl, "stream_batch_1").isEmpty)
  }

  test("bounded-state top-k aggregate runs under streaming (complete mode)") {
    implicit val sqlCtx = spark.sqlContext
    val topk2 = udaf(new graft.operators.TopKAgg(2))
    val mem = MemoryStream[(String, Long, Long)]
    val df = mem.toDF().toDF("grp", "v", "id")
    val q = df.groupBy("grp").agg(topk2(col("v"), col("id")).as("top"))
      .writeStream.format("memory").queryName("topk").outputMode("complete").start()
    mem.addData(("a", 10L, 1L), ("a", 30L, 2L), ("b", 5L, 3L))
    q.processAllAvailable()
    mem.addData(("a", 20L, 4L), ("a", 40L, 5L)) // displaces 10 and 20
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("topk").collect()
      .map(r => r.getString(0) -> r.getSeq[org.apache.spark.sql.Row](1)
        .map(x => (x.getLong(0), x.getLong(1)))).toMap
    assert(rows("a") == Seq((40L, 5L), (30L, 2L)))
    assert(rows("b") == Seq((5L, 3L)))
  }

  test("streaming DSIR admission scores bit-equal to the batch selection") {
    implicit val sqlCtx = spark.sqlContext
    import graft.llm.Curation
    val weights = Curation.dsirWeightVector(spark, sfDir)
    // the batch top-K is the ground truth: feed those exact documents
    // through the stream and require identical integer scores
    val batch = Curation.dsirSelect(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    val docs = Tables.load(spark, sfDir, "documents")
      .where(col("doc_id").isInCollection(batch.keys.toSeq))
      .select("doc_id", "text").as[(Long, String)].collect()
    val mem = MemoryStream[(Long, String)]
    val q = StreamIngest.dsirAdmission(
        mem.toDF().toDF("doc_id", "text"), weights, minScore = 0L)
      .select("doc_id", "dsir_score")
      .writeStream.format("memory").queryName("dsir_adm").outputMode("append").start()
    mem.addData(docs.toIndexedSeq: _*)
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("dsir_adm").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed.keySet == batch.keySet)
    batch.foreach { case (id, score) =>
      assert(streamed(id) == score, s"doc $id: stream ${streamed(id)} != batch $score")
    }
  }

  test("train→serve DSIR stream: admitted set deterministic across checkpoint restart") {
    import graft.llm.Curation
    val srcD = s"$base/dsir_serve/src"; val outD = s"$base/dsir_serve/out"
    val ckD  = s"$base/dsir_serve/ckpt"
    // weights TRAINED in this job — the same vector then rides the stream
    val weights = Curation.dsirWeightVector(spark, sfDir)
    val docs = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1)
    // batch ground truth on the full corpus; median score as the admission
    // bar → a proper nonempty subset is admitted
    val scores = StreamIngest.dsirAdmission(
        docs.toSeq.toDF("doc_id", "text"), weights, Long.MinValue)
      .select("doc_id", "dsir_score").as[(Long, Long)].collect().toMap
    val minScore = scores.values.toSeq.sorted.apply(scores.size / 2)
    val expected = scores.filter(_._2 >= minScore)
    assert(expected.nonEmpty && expected.size < docs.length)

    // phase 1: two-thirds of the corpus arrives; drain in 1-file batches
    val (phase1, phase2) = docs.splitAt(docs.length * 2 / 3)
    phase1.toSeq.toDF("doc_id", "text").repartition(3).write.mode("append").json(srcD)
    StreamIngest.dsirAdmitStream(spark, srcD, outD, ckD, weights, minScore,
      maxFilesPerTrigger = Some(1)).awaitTermination()
    // restart from the checkpoint after the upstream grew
    phase2.toSeq.toDF("doc_id", "text").repartition(2).write.mode("append").json(srcD)
    StreamIngest.dsirAdmitStream(spark, srcD, outD, ckD, weights, minScore,
      maxFilesPerTrigger = Some(1)).awaitTermination()

    val served = spark.read.parquet(outD)
      .select("doc_id", "dsir_score").as[(Long, Long)].collect()
    assert(served.length == served.map(_._1).distinct.length,
      "restart re-admitted already-committed documents")
    assert(served.toMap == expected,
      "admitted set across restart differs from the single-job batch admission")
    // a restart with NO new upstream data admits nothing further
    StreamIngest.dsirAdmitStream(spark, srcD, outD, ckD, weights, minScore,
      maxFilesPerTrigger = Some(1)).awaitTermination()
    assert(spark.read.parquet(outD).count() == expected.size.toLong)
  }

  test("streaming dedup admission: corpus, prior-batch, and in-batch dups rejected; replay exactly-once") {
    import graft.llm.Dedup
    val root = s"$base/dedup_admit"
    val srcD = s"$root/src"; val outD = s"$root/out"
    val idxD = s"$root/baseidx"; val sIdxD = s"$root/streamidx"; val ckD = s"$root/ckpt"
    // standing corpus index: two docs with >= 3 tokens each
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven")).toDF("doc_id", "text")
    Dedup.writeMinhashIndex(corpus, idxD, append = false)
    // phase 1: copy of corpus doc 1 (reject), a novel doc (admit), and an
    // in-batch near-dup of that novel doc with a LARGER id (reject)
    val novel = "quick brown fox jumps over lazy dog tonight"
    Seq(
      (101L, "alpha beta gamma delta epsilon zeta"),
      (102L, novel),
      (103L, novel)).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").json(srcD)
    StreamIngest.dedupAdmitStream(spark, srcD, outD, sIdxD, idxD, ckD).awaitTermination()
    val p1 = spark.read.parquet(outD).select("doc_id").as[Long].collect().sorted
    assert(p1.sameElements(Array(102L)), s"phase 1 admitted ${p1.toSeq}")
    // phase 2 (restart from checkpoint): dup of the phase-1 ADMISSION
    // (reject via the stream index) and a genuinely new doc (admit)
    Seq(
      (201L, novel),
      (202L, "totally different words appear in this sentence")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").json(srcD)
    StreamIngest.dedupAdmitStream(spark, srcD, outD, sIdxD, idxD, ckD).awaitTermination()
    val p2 = spark.read.parquet(outD).select("doc_id").as[Long].collect().sorted
    assert(p2.sameElements(Array(102L, 202L)), s"phase 2 admitted ${p2.toSeq}")
    // stream index carries exactly the admitted docs' sketches
    val idxDocs = spark.read.parquet(s"$sIdxD/sketch").select("doc_id").as[Long].collect().sorted
    assert(idxDocs.sameElements(Array(102L, 202L)))
    // a restart with no new upstream data must change nothing (exactly-once)
    StreamIngest.dedupAdmitStream(spark, srcD, outD, sIdxD, idxD, ckD).awaitTermination()
    assert(spark.read.parquet(outD).select("doc_id").as[Long].collect().sorted
      .sameElements(Array(102L, 202L)))
    assert(spark.read.parquet(s"$sIdxD/buckets").select("doc_id").distinct().count() == 2L)
  }

  test("streaming as-of enrich: in-batch + cross-batch matches, no retro-update, replay exactly-once") {
    val root = s"$base/asof_enrich"
    val srcD = s"$root/src"; val outD = s"$root/out"
    val refD = s"$root/ref"; val ckD = s"$root/ckpt"
    def ev(uid: Long, eid: Long, ts: Long, typ: String, v: Double) =
      s"""{"user_id":$uid,"event_id":$eid,"ts":$ts,"event_type":"$typ","value":$v}"""
    def readOut(): Map[Long, (Option[Long], Option[Double])] =
      spark.read.parquet(outD).collect().map { r =>
        r.getAs[Long]("event_id") ->
          ((if (r.isNullAt(r.fieldIndex("p_ts"))) None else Some(r.getAs[Long]("p_ts"))),
            (if (r.isNullAt(r.fieldIndex("pval"))) None else Some(r.getAs[Double]("pval"))))
      }.toMap
    // phase 1: purchase u1@10 (two same-(user,ts) rows — max_by(event_id)
    // picks 1.5); click u1@15 matches IN-BATCH; click u1@5 precedes it → null
    Files.createDirectories(Paths.get(srcD))
    Files.writeString(Paths.get(s"$srcD/b0.json"), Seq(
      ev(1, 100, 10, "purchase", 9.0), ev(1, 101, 10, "purchase", 1.5),
      ev(1, 200, 15, "click", 0), ev(1, 201, 5, "click", 0)).mkString("\n"))
    StreamIngest.asofEnrichStream(spark, srcD, outD, refD, ckD).awaitTermination()
    assert(readOut() === Map(
      200L -> (Some(10L), Some(1.5)), 201L -> (None, None)))
    // phase 2 (restart): click u1@20 matches the PHASE-1 purchase via the
    // reference table; purchase u1@18 + click u1@19 match in-batch; a LATE
    // purchase u1@3 must not retro-update the phase-1 click u1@5; click
    // u2@50 has no purchases at all → null
    Files.writeString(Paths.get(s"$srcD/b1.json"), Seq(
      ev(1, 300, 20, "click", 0),
      ev(1, 102, 18, "purchase", 2.5), ev(1, 301, 19, "click", 0),
      ev(1, 103, 3, "purchase", 7.0),
      ev(2, 302, 50, "click", 0)).mkString("\n"))
    StreamIngest.asofEnrichStream(spark, srcD, outD, refD, ckD).awaitTermination()
    val p2 = readOut()
    assert(p2(300L) === (Some(18L), Some(2.5)), "cross-batch pick must see in-batch p@18 too")
    assert(p2(301L) === (Some(18L), Some(2.5)))
    assert(p2(201L) === (None, None), "late purchase must NOT retro-update an enriched click")
    assert(p2(302L) === (None, None))
    assert(p2(200L) === (Some(10L), Some(1.5)))
    // reference table carries every purchase exactly once per (user, ts, batch)
    assert(spark.read.parquet(refD).count() === 3)
    // replay restart with no new data: nothing changes (exactly-once sinks)
    StreamIngest.asofEnrichStream(spark, srcD, outD, refD, ckD).awaitTermination()
    assert(readOut() === p2)
    assert(spark.read.parquet(refD).count() === 3)
  }

  test("streaming trending: decayed scores exact and trigger-split invariant, old windows evicted") {
    implicit val sqlCtx = spark.sqlContext
    import StreamIngest.{ItemDay, TrendScore}
    val t1 = Seq(ItemDay(1L, 0L), ItemDay(1L, 0L), ItemDay(1L, 7L), ItemDay(2L, 0L))
    val t2 = Seq(ItemDay(1L, 14L), ItemDay(1L, 7L), ItemDay(2L, 300L))
    def run(name: String, batches: Seq[Seq[ItemDay]]): Map[Long, (Long, Long, Long)] = {
      val mem = MemoryStream[ItemDay]
      val q = StreamIngest.streamingTrending(mem.toDS())
        .writeStream.format("memory").queryName(name).outputMode("update").start()
      batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      q.stop()
      spark.table(name).as[TrendScore].collect()
        .groupBy(_.item).map { case (k, v) =>
          val last = v.maxBy(r => (r.last_win, r.n_events))
          k -> ((last.score, last.last_win, last.n_events))
        }
    }
    val split = run("trend_split", Seq(t1, t2))
    // item 1: windows {0:2, 1:2, 2:1}, newest 2 →
    //   2·(2^20>>2) + 2·(2^20>>1) + 1·2^20
    assert(split(1L) == ((2L * (1L << 18) + 2L * (1L << 19) + (1L << 20), 2L, 5L)))
    // item 2: the day-0 window is 42 half-lives stale → evicted, only the
    // fresh event survives
    assert(split(2L) == (((1L << 20), 42L, 1L)))
    // the same events in ONE trigger give identical final state
    val whole = run("trend_whole", Seq(t1 ++ t2))
    assert(whole == split, "scores must not depend on trigger boundaries")
  }

  test("streaming drift monitor: exactly-once state growth, verdict flips on planted drift") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("drift_mon").toString
    val (stateT, outD, ckD) = (s"$root/state", s"$root/out", s"$root/ck")
    // frozen reference: balanced two-type distribution
    val ref = Map("view" -> 500L, "purchase" -> 500L)
    val mem = MemoryStream[String]
    def run(): Unit = {
      val q = StreamIngest.driftMonitorStream(
        mem.toDS().toDF("event_type"), ref, stateT, outD, ckD)
      q.processAllAvailable(); q.stop()
    }
    // trigger 1: matches the reference -> no drift
    mem.addData((1 to 50).map(_ => "view") ++ (1 to 50).map(_ => "purchase"): _*)
    run()
    val v1 = spark.read.parquet(outD).orderBy("batch_id")
      .as[(Long, Long, Long, Boolean, Long)].collect()
    assert(v1.last._2 == 100L && !v1.last._4, s"balanced batch must not drift: ${v1.toSeq}")
    // trigger 2: heavy one-sided skew -> accumulated live diverges from ref
    mem.addData((1 to 900).map(_ => "view"): _*)
    run()
    val v2 = spark.read.parquet(outD).orderBy("batch_id")
      .as[(Long, Long, Long, Boolean, Long)].collect()
    assert(v2.last._2 == 1000L, "state must accumulate across triggers")
    assert(v2.last._4, s"planted skew must flip the verdict: ${v2.toSeq}")
    assert(v2.last._3 > v1.last._3, "chi2 must grow with the divergence")
    // replay: restarting with no new data must not double-count state
    run()
    val st = graft.sources.TableLog.read(spark, stateT)
      .as[(String, Long)].collect().toMap
    assert(st("view") == 950L && st("purchase") == 50L, s"state corrupted on replay: $st")
    // chi2 replays the pure function of (ref, live)
    assert(v2.last._3 == StreamIngest.chi2Milli(ref, st))
  }

  test("streaming CDF drift: exactly-once histogram growth, final CvM/W1 equal the batch twins") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("cdf_drift_mon").toString
    // the batch twins' split: side 0 = frozen reference, side 1 = live feed
    val ev = Tables.load(spark, sfDir, "events").select(
      (col("event_id") % 2).as("side"),
      floor(col("value") * 1000).cast("long").as("vm"))
    val ref = ev.where(col("side") === 0).groupBy("vm").count()
      .as[(Long, Long)].collect().toMap
    val liveVals = ev.where(col("side") === 1).select("vm").as[Long].collect()
    val cvmBatch = graft.llm.Governance.driftCvm(spark, sfDir).collect()(0)
    val w1Batch = graft.llm.Governance.driftWasserstein(spark, sfDir).collect()(0)
    val mem = MemoryStream[Long]
    def run(): Unit = {
      val q = StreamIngest.cdfDriftMonitorStream(
        mem.toDS().toDF("vm"), ref, s"$root/state", s"$root/out", s"$root/ck")
      q.processAllAvailable(); q.stop()
    }
    // live side arrives across TWO triggers, then a no-op replay
    val (h1, h2) = liveVals.splitAt(liveVals.length / 3)
    mem.addData(h1.toIndexedSeq: _*); run()
    mem.addData(h2.toIndexedSeq: _*); run()
    run()
    val out = spark.read.parquet(s"$root/out").orderBy("batch_id").collect()
    val last = out.last
    assert(last.getAs[Long]("n_live") == liveVals.length.toLong,
      s"state must accumulate exactly once: ${out.toSeq}")
    // bit-equality with the batch statistics over the same split — the
    // whole point of raw mergeable counts in state + derive-at-emit
    assert(last.getAs[Long]("cvm_e6") == cvmBatch.getAs[Long]("cvm_e6"),
      s"stream CvM ${last.getAs[Long]("cvm_e6")} != batch ${cvmBatch.getAs[Long]("cvm_e6")}")
    assert(last.getAs[Long]("w1_e6") == w1Batch.getAs[Long]("w1_e6"),
      s"stream W1 ${last.getAs[Long]("w1_e6")} != batch ${w1Batch.getAs[Long]("w1_e6")}")
    // mid-stream verdicts are partial-history statistics, monotone batch ids
    assert(out.map(_.getAs[Long]("batch_id")).toSeq == out.map(_.getAs[Long]("batch_id")).toSeq.sorted)
  }

  test("streaming vshape: V completes across a trigger boundary, monotone series emit nothing") {
    implicit val sqlCtx = spark.sqlContext
    import StreamIngest.{BarClose, VHit}
    // A: 100 > 90 > 80 (DOWN x2) then 85 < 95 (UP x2) -> V of depth 20 on day 5
    val t1 = Seq(BarClose("A", 1L, 100L), BarClose("A", 2L, 90L), BarClose("A", 3L, 80L),
      BarClose("B", 1L, 10L), BarClose("B", 2L, 20L))
    val t2 = Seq(BarClose("A", 4L, 85L), BarClose("A", 5L, 95L),
      BarClose("B", 3L, 30L), BarClose("B", 4L, 40L)) // B monotone up: no V
    def run(name: String, batches: Seq[Seq[BarClose]]): Seq[(String, Long, Long, Long)] = {
      val mem = MemoryStream[BarClose]
      val q = StreamIngest.streamingVshape(mem.toDS())
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      q.stop()
      spark.table(name).as[VHit].collect()
        .map(h => (h.company, h.day, h.depth_c, h.rebound_c)).sorted.toSeq
    }
    val split = run("v_split", Seq(t1, t2))
    assert(split == Seq(("A", 5L, 20L, 15L)), s"got $split")
    // identical detection when all bars arrive in one trigger
    val whole = run("v_whole", Seq(t1 ++ t2))
    assert(whole == split, "pattern detection must not depend on trigger boundaries")
  }

  test("streaming obv: trigger-split invariant, late bars dropped, extremes tracked") {
    implicit val sqlCtx = spark.sqlContext
    import StreamIngest.{DayBar, ObvPoint}
    val t1 = Seq(DayBar("A", 1L, 100L, 10L), DayBar("A", 2L, 120L, 5L),
      DayBar("B", 1L, 50L, 7L))
    val t2 = Seq(DayBar("A", 3L, 110L, 8L), DayBar("A", 2L, 999L, 99L), // late dup: dropped
      DayBar("B", 2L, 40L, 3L))
    def run(name: String, batches: Seq[Seq[DayBar]]): Map[String, (Long, Long, Long, Long, Long)] = {
      val mem = MemoryStream[DayBar]
      val q = StreamIngest.streamingObv(mem.toDS())
        .writeStream.format("memory").queryName(name).outputMode("update").start()
      batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      q.stop()
      spark.table(name).as[ObvPoint].collect()
        .groupBy(_.company).map { case (k, v) =>
          val last = v.maxBy(_.n_days)
          k -> ((last.last_day, last.obv, last.obv_min, last.obv_max, last.n_days))
        }
    }
    val split = run("obv_split", Seq(t1, t2))
    // A: day1 obv 0; day2 close up -> +5; day3 close down -> -8 => -3;
    //    the day-2 replay (999) must be ignored
    assert(split("A") == ((3L, -3L, -3L, 5L, 3L)))
    // B: day1 obv 0; day2 close down -> -3
    assert(split("B") == ((2L, -3L, -3L, 0L, 2L)))
    // identical state when the same ordered bars arrive in ONE trigger
    val whole = run("obv_whole", Seq(t1.take(2) ++ Seq(t1(2), t2(0), t2(2))))
    assert(whole == split, "obv must not depend on trigger boundaries")
  }

  test("streaming heavy hitters accumulate MG state across triggers") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamIngest.Tok]
    val q = StreamIngest.streamingHeavyHitters(mem.toDS())
      .writeStream.format("memory").queryName("shh").outputMode("update").start()
    // trigger 1: 'hot' dominates
    mem.addData((1 to 10).map(_ => StreamIngest.Tok("en", "hot")) ++
      Seq(StreamIngest.Tok("en", "a"), StreamIngest.Tok("en", "b")): _*)
    q.processAllAvailable()
    val t1 = spark.table("shh").as[StreamIngest.HeavyHitter].collect()
    assert(t1.exists(h => h.token == "hot" && h.n_tokens == 12L))
    // trigger 2: more 'hot' — state must CARRY, not restart per batch
    mem.addData((1 to 5).map(_ => StreamIngest.Tok("en", "hot")): _*)
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("shh").as[StreamIngest.HeavyHitter].collect()
    val last = rows.filter(_.n_tokens == 17L)
    assert(last.nonEmpty, s"second trigger must see cumulative n=17, got ${rows.toSeq}")
    val hot = last.find(_.token == "hot").get
    // MG law over the WHOLE history: true 15, undercount ≤ n/(k+1)
    // (= 0 at k=40 with 3 distinct tokens — no eviction, so est is exact)
    assert(hot.est_count <= 15L && 15L - hot.est_count <= 17L / (graft.llm.TextStats.MgK + 1),
      s"est ${hot.est_count} violates the MG bound")
  }

  test("streaming bitmap distinct counts exactly once under redelivery across triggers") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamIngest.IdKeyed]
    val q = StreamIngest.streamingBitmapDistinct(mem.toDS())
      .writeStream.format("memory").queryName("sbm").outputMode("update").start()
    // 300 distinct ids split across two triggers with a 100-id overlap: the
    // count must be EXACT (bit idempotence absorbs the redelivery)
    val ids = (0L until 300L).map(i => StreamIngest.IdKeyed("g", i))
    mem.addData(ids.take(200): _*)
    q.processAllAvailable()
    mem.addData(ids.drop(100): _*)
    q.processAllAvailable()
    q.stop()
    val last = spark.table("sbm").as[StreamIngest.BitmapCount].collect()
      .filter(_.n_rows == 400L)
    assert(last.nonEmpty, "second trigger must see cumulative n_rows = 400")
    assert(last.head.n_distinct == 300L, "exact distinct despite 100 redelivered ids")
  }

  test("transformWithState rolling spend carries composite state across triggers") {
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[StreamIngest.Purchase]
      val q = StreamIngest.streamingRollingSpend(mem.toDS())
        .writeStream.format("memory").queryName("srs").outputMode("update").start()
      mem.addData(StreamIngest.Purchase("u1", 100L), StreamIngest.Purchase("u1", 200L))
      q.processAllAvailable()
      // second trigger: the last-3 window must span the boundary
      // (100, 200 | 300, 400 -> window 200, 300, 400)
      mem.addData(StreamIngest.Purchase("u1", 300L), StreamIngest.Purchase("u1", 400L))
      q.processAllAvailable()
      q.stop()
      val out = spark.table("srs").as[StreamIngest.RollingSpend].collect()
      val first = out.find(_.n == 2L).get
      assert(first.total_mc == 300L && first.last3_mc == 300L)
      val second = out.find(_.n == 4L).get
      assert(second.total_mc == 1000L, "cumulative total crosses triggers")
      assert(second.last3_mc == 900L, "rolling window spans the trigger boundary")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("streaming KMV sketch equals the batch sketch over the full history") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamIngest.Keyed]
    val q = StreamIngest.streamingKmvDistinct(mem.toDS())
      .writeStream.format("memory").queryName("skmv").outputMode("update").start()
    // 400 distinct keys arrive split across two triggers with overlap —
    // trigger boundaries must not change the accumulated sketch
    val all = (0 until 400).map(i => StreamIngest.Keyed("g", s"k$i"))
    mem.addData(all.take(250): _*)
    q.processAllAvailable()
    mem.addData(all.drop(200): _*) // 50-key overlap re-arrives
    q.processAllAvailable()
    q.stop()
    val last = spark.table("skmv").as[StreamIngest.KmvEstimate].collect()
      .filter(_.n_rows == 450L)
    assert(last.nonEmpty, "second trigger must see cumulative n_rows = 450")
    val got = last.head
    // batch twin over the full distinct history
    val batch = all.map(k => Portable.md5Int(k.key, graft.analytics.PortableSketch.HexLen))
      .foldLeft(graft.analytics.PortableSketch.MinKAgg.zero)(
        graft.analytics.PortableSketch.MinKAgg.reduce)
    assert(got.sketch_n == batch.length.toLong)
    assert(got.kth_hash == batch.last)
    val k = graft.analytics.PortableSketch.K
    val expectEst =
      if (batch.length < k) batch.length.toDouble
      else (k - 1) / (batch.last.toDouble / graft.analytics.PortableSketch.Scale)
    assert(got.est_ndv == expectEst)
    assert(math.abs(got.est_ndv - 400.0) / 400.0 < 0.3, s"estimate ${got.est_ndv} far from 400")
  }

  test("streaming vector scoring matches the batch ranking (broadcast corpus)") {
    // the ANN serving loop under streaming: quantized corpus broadcast,
    // each micro-batch of query vectors scored with the native int_dot and
    // top-1 picked per query — per-batch results must equal the batch answer
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.graftx.IntDotProduct
    val corpus = Seq(
      (10L, Array(1L, 0L, 0L)), (11L, Array(0L, 1L, 0L)), (12L, Array(3L, 3L, 3L)))
      .toDF("vec_id", "x")
    val mem = MemoryStream[(Long, Array[Long])]
    val queries = mem.toDF().toDF("q_id", "qx")
    val scored = queries.join(broadcast(corpus))
      .select(col("q_id"), col("vec_id"), IntDotProduct(col("x"), col("qx")).as("dot"))
    val top = scored
      .groupBy("q_id")
      .agg(max(struct(col("dot"), col("vec_id"))).as("best"))
      .select(col("q_id"), col("best.vec_id").as("vec_id"), col("best.dot").as("dot"))
    val q = top.writeStream.format("memory").queryName("vecscore")
      .outputMode("complete").start()
    mem.addData((1L, Array(5L, 0L, 0L)), (2L, Array(0L, 0L, 9L)))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("vecscore").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == Map(1L -> (12L, 15L), 2L -> (12L, 27L)))
  }

  test("observed metrics surface per-batch counts without a second aggregation pass") {
    // Dataset.observe rides accumulator-style on the existing plan — the
    // production hook for ingest-rate / drop-rate dashboards that would
    // otherwise cost a separate aggregation job per batch
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Long)]
    val df = mem.toDF().toDF("k", "v")
      .observe("ingest_metrics", count(lit(1)).as("n_rows"), sum(col("v")).as("sum_v"))
    val q = df.groupBy("k").agg(sum("v").as("sv"))
      .writeStream.format("memory").queryName("obs").outputMode("complete").start()
    mem.addData(("a", 1L), ("a", 2L), ("b", 3L))
    q.processAllAvailable()
    val m = q.lastProgress.observedMetrics.get("ingest_metrics")
    q.stop()
    assert(m != null, "no observed metrics on the last progress")
    assert(m.getAs[Long]("n_rows") == 3L && m.getAs[Long]("sum_v") == 6L)
  }

  test("batch sessionization matches hand-computed sessions") {
    val ev = Seq(
      (1L, Timestamp.valueOf("2024-01-01 00:00:00"), 7L, "click", 1.0, "{}"),
      (2L, Timestamp.valueOf("2024-01-01 00:10:00"), 7L, "view", 1.0, "{}"),
      (3L, Timestamp.valueOf("2024-01-01 01:00:00"), 7L, "click", 1.0, "{}"),
      (4L, Timestamp.valueOf("2024-01-01 00:00:00"), 8L, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    ev.write.mode("overwrite").parquet("/tmp/graft_test_sess/events.parquet")
    val out = analytics.Analytics.sessionization(spark, "/tmp/graft_test_sess")
      .orderBy("user_id", "session_seq").collect()
    assert(out.length == 3)
    assert(out(0).getLong(2) == 2L && out(0).getLong(3) == 600L) // user 7 session 1
    assert(out(1).getLong(2) == 1L)                              // user 7 session 2
    assert(out(2).getLong(2) == 1L)                              // user 8
  }

  test("streaming depth monitor: split-invariant, scalar-replay-equal, drops late snapshots") {
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val window = 4
    def lvl(p: Long, v: Long) = StreamIngest.DepthLevel(p, v)
    // deterministic 3-level books for two instruments, all functions of i
    def snap(c: String, i: Long) = StreamIngest.DepthSnap(c, i,
      Seq(lvl(100000000000L - i, 1 + (i * 13) % 7),
        lvl(99000000000L - i, 2 + i % 5), lvl(98000000000L - i, 3 + i % 3)),
      Seq(lvl(101000000000L + i, 1 + (i * 17) % 7),
        lvl(102000000000L + i, 2 + (i + 1) % 5), lvl(103000000000L + i, 3 + (i + 2) % 3)))
    val all = (0 until 160).map(i => snap(if (i % 2 == 0) "A" else "B", i.toLong))
    def run(name: String, chunks: Seq[Seq[StreamIngest.DepthSnap]]): Seq[StreamIngest.DepthRead] = {
      val mem = MemoryStream[StreamIngest.DepthSnap]
      val q = StreamIngest.streamingDepthMonitor(mem.toDS(), window)
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      chunks.foreach { c => mem.addData(c: _*); q.processAllAvailable() }
      q.stop()
      spark.table(name).as[StreamIngest.DepthRead].collect().toSeq
        .sortBy(r => (r.company, r.seq))
    }
    try {
      val oneTrigger = run("sdepth1", Seq(all))
      val manyTriggers = run("sdepthN", all.grouped(23).toSeq)
      assert(oneTrigger.length == all.length, "every in-order snapshot must emit")
      assert(oneTrigger == manyTriggers,
        s"trigger split changed the answer:\n$oneTrigger\nvs\n$manyTriggers")
      // independent scalar replay of the same semantics
      val expect = all.groupBy(_.company).toSeq.flatMap { case (c, ss) =>
        var recent = List.empty[(Long, Long)]
        ss.sortBy(_.seq).map { s =>
          val bv = s.bids.map(_.vol).sum; val av = s.asks.map(_.vol).sum
          val (b1, a1) = (s.bids.head, s.asks.head)
          recent = (recent :+ ((bv, av))).takeRight(window)
          val (tb, ta) = (recent.map(_._1).sum, recent.map(_._2).sum)
          StreamIngest.DepthRead(c, s.seq, bv, av, 1000000L * bv / (bv + av),
            (b1.priceE9 * a1.vol + a1.priceE9 * b1.vol) / (a1.vol + b1.vol),
            1000000L * tb / (tb + ta))
        }
      }.sortBy(r => (r.company, r.seq))
      assert(oneTrigger == expect, "stream diverged from the scalar replay")

      // LATE-SNAPSHOT DROP LAW: a snapshot arriving in a later trigger with
      // seq ≤ the last accepted one is dropped — stale books never publish —
      // and the trailing window is unperturbed by the dropped row
      val late = run("sdepthLate", Seq(
        Seq(snap("A", 0), snap("A", 2), snap("A", 4)),
        Seq(snap("A", 3), snap("A", 6)), // 3 is late: already accepted 4
        Seq(snap("A", 1))))              // wholly-late trigger: nothing
      assert(late.map(_.seq) == Seq(0L, 2L, 4L, 6L),
        s"late snapshots must drop, got ${late.map(_.seq)}")
      val inOrder = run("sdepthInOrder", Seq(Seq(snap("A", 0), snap("A", 2),
        snap("A", 4), snap("A", 6))))
      assert(late == inOrder,
        "the accepted subsequence must read exactly as if the late rows never arrived")

      // malformed (empty-side) snapshots drop WITHOUT advancing the clock
      val malformed = run("sdepthBad", Seq(
        Seq(snap("A", 0), StreamIngest.DepthSnap("A", 5, Nil, Seq(lvl(1L, 1L)))),
        Seq(snap("A", 3))))
      assert(malformed.map(_.seq) == Seq(0L, 3L),
        "an empty-side snapshot must not advance the sequence clock")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("streaming VPIN: trigger-split invariant and equal to a scalar replay") {
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val (bucketVol, window) = (25L, 5)
    // deterministic synthetic ticks: two instruments, integer price walk,
    // volumes 1..7 — all pure functions of i
    val all = (0 until 240).map { i =>
      StreamIngest.Tick(if (i % 2 == 0) "A" else "B", i.toLong,
        10000L + (i * i * 31) % 97, 1L + (i * 13) % 7)
    }
    def run(name: String, chunks: Seq[Seq[StreamIngest.Tick]]): Seq[StreamIngest.VpinBucket] = {
      val mem = MemoryStream[StreamIngest.Tick]
      val q = StreamIngest.streamingVpin(mem.toDS(), bucketVol, window)
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      chunks.foreach { c => mem.addData(c: _*); q.processAllAvailable() }
      q.stop()
      spark.table(name).as[StreamIngest.VpinBucket].collect().toSeq
        .sortBy(b => (b.company, b.bucket))
    }
    try {
      val oneTrigger = run("svpin1", Seq(all))
      val manyTriggers = run("svpinN", all.grouped(37).toSeq)
      // trigger boundaries are invisible: identical buckets, flows, readings
      assert(oneTrigger.nonEmpty, "synthetic ticks must complete buckets")
      assert(oneTrigger == manyTriggers,
        s"trigger split changed the answer:\n$oneTrigger\nvs\n$manyTriggers")
      // independent scalar replay of the same volume-clock semantics
      val expect = all.groupBy(_.company).toSeq.flatMap { case (c, ts) =>
        var prevC = Option.empty[Long]
        var (bkt, cum, buy, sell) = (0L, 0L, 0L, 0L)
        var recent = List.empty[Long]
        ts.sortBy(_.seq).flatMap { t =>
          val side = prevC match {
            case Some(p) if t.cents > p => 1
            case Some(p) if t.cents < p => -1
            case _ => 0
          }
          prevC = Some(t.cents)
          var v = t.volume
          val rows = scala.collection.mutable.ArrayBuffer[StreamIngest.VpinBucket]()
          while (v > 0) {
            val take = math.min(v, bucketVol - cum)
            cum += take; v -= take
            if (side == 1) buy += take else if (side == -1) sell += take
            if (cum == bucketVol) {
              val imb = math.abs(buy - sell)
              recent = (recent :+ imb).takeRight(window)
              rows += StreamIngest.VpinBucket(c, bkt, buy, sell, imb,
                recent.sum * 1000000L / (recent.size.toLong * bucketVol))
              bkt += 1; cum = 0; buy = 0; sell = 0
            }
          }
          rows
        }
      }.sortBy(b => (b.company, b.bucket))
      assert(oneTrigger == expect, "stream diverged from the scalar replay")
      // volume-clock law: classified flow never exceeds the bucket volume
      oneTrigger.foreach(b => assert(b.buy_v + b.sell_v <= bucketVol, b.toString))
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }
}
