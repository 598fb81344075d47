package graft.streaming

import graft.ingest.{Ingest, Schemas}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/** Streaming variant of the consumer pipeline (SURVEY.md §3 E2): the durable
  * queues + manual-ack consumer (`from_rabbitmq_to_clickhouse.py:179-204`)
  * become a checkpointed file stream + idempotent fan-out — upgrading the
  * reference's at-least-once (ack-after-insert, duplicate on redelivery,
  * `:172-173`) to exactly-once:
  *
  *  - S7 queue consume  → `readStream.text` + `checkpointLocation` (the WAL
  *    replaces acks; a crashed batch replays)
  *  - K2 multiplexed insert → `foreachBatch` 4-way fan-out; each table is
  *    partitioned by `ingest_batch = batchId` and written with DYNAMIC
  *    partition overwrite, so a replayed batch overwrites its own partition
  *    instead of appending duplicates (idempotent sink = exactly-once)
  *  - K3 queue declaration → idempotent table-path creation is implicit in
  *    the parquet writer
  *
  * At 100 TB the same plan holds: the batch partition column doubles as the
  * compaction unit, and each micro-batch is one append-only parquet commit
  * per table — no small-file row-at-a-time inserts (the reference's
  * batch-size-1 anti-pattern, SURVEY.md §6).
  */
object StreamIngest {

  /** Start the ingest stream: JSON frames under `srcDir` → four validated
    * parquet tables under `tablesDir/<table>`. Blocking-drain via
    * Trigger.AvailableNow (tests, replay); omit for continuous micro-batches.
    *
    * `maxFilesPerTrigger` is the RATE LIMIT the reference's producer applies
    * to its upstream API (sleep-and-retry polling,
    * `from_parser_to_rabbitmq.py:47-77`): each micro-batch admits at most
    * that many source files, so a backlog drains in bounded, checkpointed
    * steps instead of one giant catch-up batch — backpressure at the source
    * boundary, with Spark's own task retry standing in for the reference's
    * per-request retry loop. Composes with AvailableNow (the trigger drains
    * the WHOLE backlog but still in rate-limited batches — Spark guarantees
    * the option is honored across its sub-batches).
    */
  def start(
      spark: SparkSession,
      srcDir: String,
      tablesDir: String,
      checkpointDir: String,
      availableNow: Boolean = true,
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    val reader = spark.readStream
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    val raw = reader.text(srcDir)
    val writer = raw.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // 4 typed tables + the quarantine side table (frames any gate
        // dropped, with route + reason — replayable after a parser fix);
        // every sink shares the idempotent (batch-partition, dynamic
        // overwrite) exactly-once discipline
        val tables = Ingest.demux(batch) + ("_quarantine" -> Ingest.quarantine(batch))
        tables.foreach { case (table, df) =>
          df.withColumn("ingest_batch", lit(batchId))
            .write
            .partitionBy("ingest_batch")
            .option("partitionOverwriteMode", "dynamic")
            .mode("overwrite")
            .parquet(s"$tablesDir/$table")
        }
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer).start()
  }

  /** Watermarked tumbling-window aggregate over a streaming candle table —
    * the streaming form of A4/A1 (1-minute buy/sell pressure). Late rows
    * beyond the 10-minute watermark are dropped (an upgrade: the reference
    * has no late-data story at all, SURVEY.md §1.2).
    */
  def windowedPressure(trades: DataFrame): DataFrame =
    trades
      .withWatermark("timestamp", "10 minutes")
      .groupBy(col("company_id"), window(col("timestamp"), "1 minute"))
      .agg(
        sum(when(col("side") === "buy", col("volume")).otherwise(0L)).as("buy_volume"),
        sum(when(col("side") === "sell", col("volume")).otherwise(0L)).as("sell_volume"))
      .select(
        col("company_id"),
        col("window.start").as("window_start"),
        col("buy_volume"), col("sell_volume"))

  /** Streaming OHLCV bar builder: tick trades → 1-hour candles (the
    * reference's core derived table, built by its broker API upstream —
    * here from first principles). open/close are `min_by`/`max_by` on
    * (event time, price, volume): the wire schema carries no unique event
    * id, so the value columns join the ordering key — equal-timestamp ties
    * then either resolve deterministically (different prices order totally)
    * or are indistinguishable (identical rows → identical result). The
    * watermark finalizes bars and drops stragglers.
    */
  def ohlcvBars(trades: DataFrame, barWidth: String = "1 hour"): DataFrame =
    trades
      .withWatermark("timestamp", "10 minutes")
      .groupBy(col("company_id"), window(col("timestamp"), barWidth))
      .agg(
        min_by(col("price"), struct(col("timestamp"), col("price"), col("volume"))).as("open"),
        max(col("price")).as("high"),
        min(col("price")).as("low"),
        max_by(col("price"), struct(col("timestamp"), col("price"), col("volume"))).as("close"),
        sum(col("volume")).as("volume"))
      .select(
        col("company_id"), col("window.start").as("bar_start"),
        col("open"), col("high"), col("low"), col("close"), col("volume"))

  /** Watermarked stream-stream interval join: each trade picks up the book
    * snapshots of its instrument from the preceding `lookback`. Both sides
    * carry watermarks so the join state is BOUNDED — matched-and-expired
    * buffers are evicted, the requirement for any unbounded-input join at
    * scale (an unwatermarked stream-stream join accumulates state forever).
    */
  def tradesWithQuotes(
      trades: DataFrame,
      books: DataFrame,
      lookback: String = "5 minutes",
      joinType: String = "inner"): DataFrame = {
    val t = trades.withWatermark("timestamp", "10 minutes")
    val b = books
      .select(
        col("company_id").as("b_company_id"), col("timestamp").as("b_ts"),
        col("bid_price"), col("ask_price"))
      .withWatermark("b_ts", "10 minutes")
    t.join(b,
      col("company_id") === col("b_company_id") &&
        col("b_ts") >= col("timestamp") - expr(s"INTERVAL $lookback") &&
        col("b_ts") <= col("timestamp"),
      joinType)
      .select(col("company_id"), col("timestamp"), col("price"), col("volume"),
        col("side"), col("b_ts"), col("bid_price"), col("ask_price"))
  }

  /** LEFT OUTER variant of [[tradesWithQuotes]]: a trade with NO in-window
    * book snapshot still emits (null quote columns) — but only once the
    * watermark passes its event time, because until then a matching
    * snapshot could still arrive. That deferred null-emission is the
    * defining semantics of a watermarked outer stream-stream join: the
    * engine holds the unmatched row in the join state buffer and releases
    * it exactly when the time-bound condition proves no future match is
    * possible, keeping state bounded by the same eviction the inner join
    * uses. Audit pipelines want this shape ("every trade, quoted or not");
    * the inner twin is the enrichment shape.
    */
  def tradesWithQuotesOuter(trades: DataFrame, books: DataFrame): DataFrame =
    tradesWithQuotes(trades, books, joinType = "left_outer")

  /** Streaming exact deduplication: the reference's at-least-once delivery
    * keeps redelivered rows (`from_rabbitmq_to_clickhouse.py:172-173`); here
    * replayed records collapse via `dropDuplicatesWithinWatermark` on the
    * full record identity. Within-watermark, not plain `dropDuplicates`, on
    * purpose: the dedup state evicts once the watermark passes a key, so
    * state is bounded by the lateness horizon — the only formulation that
    * survives an unbounded stream (plain dropDuplicates grows state with
    * every distinct key forever). A redelivery later than the watermark
    * re-emits — the at-least-once floor every bounded-state system shares.
    */
  def dedupedTrades(trades: DataFrame, lateness: String = "10 minutes"): DataFrame =
    trades
      .withWatermark("timestamp", lateness)
      .dropDuplicatesWithinWatermark(
        "company_id", "timestamp", "price", "volume", "side")

  // ---------------------------------------------------------------------------
  // Stateful sessionization (flatMapGroupsWithState)
  // ---------------------------------------------------------------------------

  case class Event(user_id: Long, ts: java.sql.Timestamp, event_type: String)
  case class SessionState(start: Long, last: Long, n: Int)
  case class Session(user_id: Long, start_ts: java.sql.Timestamp, end_ts: java.sql.Timestamp, n_events: Int)

  val SessionGapMs: Long = 30 * 60 * 1000L

  /** Custom per-key state: emit a session when the event-time gap exceeds 30
    * minutes (emits closed sessions as new events arrive; the final open
    * session flushes on state timeout).
    */
  def sessionize(events: org.apache.spark.sql.Dataset[Event]): org.apache.spark.sql.Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(Session(userId, new java.sql.Timestamp(s.start), new java.sql.Timestamp(s.last), s.n))
          } else {
            val sorted = rows.toSeq.sortBy(_.ts.getTime)
            var cur = state.getOption
            val closed = Seq.newBuilder[Session]
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.last <= SessionGapMs =>
                  cur = Some(s.copy(last = t, n = s.n + 1))
                case Some(s) =>
                  closed += Session(userId, new java.sql.Timestamp(s.start), new java.sql.Timestamp(s.last), s.n)
                  cur = Some(SessionState(t, t, 1))
                case None =>
                  cur = Some(SessionState(t, t, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.last + SessionGapMs)
            }
            closed.result().iterator
          }
      }
  }

  /** Native session windows on the stream — the ENGINE-maintained twin of
    * [[sessionize]]: `session_window(ts, gap)` keeps per-key candidate
    * windows in the state store, MERGES any that come to overlap as
    * out-of-order events arrive (the custom fold above would mis-split
    * those — it assumes in-order arrival within a key), and the watermark
    * finalizes a session only once no event can extend it. Append mode
    * therefore emits each session exactly once, with no timeout plumbing.
    *
    * Boundary semantics: an event at exactly `last + gap` MERGES — its
    * [ts, ts+gap) window touches the session's end and Spark merges
    * touching windows (pinned in StreamingSpec; the custom `sessionize`'s
    * `<= gap` fold agrees, so the two variants are interchangeable at the
    * boundary). Output window end = last event + gap, the native
    * convention.
    *
    * 100 TB shape: state is per OPEN session (merged, watermark-evicted),
    * keyed and shuffled once by user — the same bound the batch
    * `session_window_native` query's shuffle has, but incremental.
    */
  def sessionizeNative(events: org.apache.spark.sql.Dataset[Event]): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("start_ts"),
        col("session_window.end").as("end_ts"), col("n_events"))

  /** Online data selection (the streaming face of
    * [[graft.llm.Curation.dsirSelect]]): score each incoming document's
    * domain fit with the broadcast DSIR weight vector and admit those at or
    * above `minScore` — data selection at INGEST time rather than as a
    * post-hoc batch sweep. One stateless compiled projection per row (the
    * 256-long model rides the closure): no shuffle, no state store, so it
    * runs at source speed under any trigger, and the score is bit-equal to
    * the batch aggregate's (same tokenizer, bucket hash and integer sum —
    * StreamingSpec pins the equality against dsirSelect's rows).
    */
  def dsirAdmission(docs: DataFrame, weights: Array[Long], minScore: Long): DataFrame =
    docs
      .withColumn("dsir_score", graft.llm.Curation.dsirScoreUdf(weights)(col("text")))
      .where(col("dsir_score") >= minScore)

  /** The full train→serve DSIR loop as one runnable stream: weights trained
    * in THIS job ([[graft.llm.Curation.dsirWeightVector]] — a batch aggregate
    * over the reference corpus) ride the scoring UDF's closure into a
    * checkpointed document stream whose admitted rows land through the
    * idempotent (batch-partition, dynamic overwrite) sink — the same
    * composition [[graft.llm.Similarity.appendIvfIndex]] gives index
    * build→append.
    *
    * Determinism across recovery: admission is a PURE function of
    * (weights, text) — no state store — and a replayed batch overwrites its
    * own `ingest_batch` partition, so the admitted SET after any
    * stop/restart cycle equals the single-run set row for row (StreamingSpec
    * pins this with a drain → extend → resume-from-checkpoint cycle).
    * 100 TB posture: the 256-long model is closure-broadcast once per query,
    * scoring is one compiled map pass — source-speed admission under any
    * trigger, rate-limitable via `maxFilesPerTrigger`.
    */
  def dsirAdmitStream(
      spark: SparkSession,
      srcDir: String,
      outDir: String,
      checkpointDir: String,
      weights: Array[Long],
      minScore: Long,
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    val reader = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL("doc_id BIGINT, text STRING"))
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    dsirAdmission(reader.json(srcDir), weights, minScore)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.withColumn("ingest_batch", lit(batchId))
          .write
          .partitionBy("ingest_batch")
          .option("partitionOverwriteMode", "dynamic")
          .mode("overwrite")
          .parquet(outDir)
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Streaming near-dup ADMISSION against a persisted minhash index — the
    * ingest-time face of [[graft.llm.Dedup.incrementalDedup]]: each
    * micro-batch's documents are sketched ([[graft.llm.Dedup.uncappedSketch]]
    * — per-doc state is corpus-independent, which is what makes the index
    * appendable from a stream at all), probed against (a) the standing
    * corpus index at `indexPath`, (b) every prior batch's admissions (the
    * stream's own index under `streamIdxDir`), and (c) smaller-id documents
    * of the SAME batch; any doc whose verified Jaccard against an indexed
    * doc reaches 0.8 is rejected. Survivors land in `outDir` and their
    * bucket + sketch rows are appended to the stream index — both writes
    * partitioned by `ingest_batch` with dynamic overwrite, so a replayed
    * batch overwrites its own partitions and the admitted set AND index
    * state after any stop/restart equal the single-run state (the
    * [[dsirAdmitStream]] exactly-once discipline, extended to a sink that
    * future batches READ).
    *
    * 100 TB posture: per-batch cost is the batch's sketching plus its
    * band-bucket collision fan-out against the index — never a corpus
    * rescan; the corpus is touched only through indexed buckets/sketches.
    * Within-batch dedup is greedy by doc id (a doc is rejected if similar
    * to ANY smaller-id batch doc) — deterministic under replay.
    */
  def dedupAdmitStream(
      spark: SparkSession,
      srcDir: String,
      outDir: String,
      streamIdxDir: String,
      indexPath: String,
      checkpointDir: String,
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    import graft.llm.Dedup
    val shSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, sh ARRAY<BIGINT>, n_sh BIGINT")
    val bkSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, bh BIGINT")
    // existence-CHECKED empty fallbacks, not exception-driven: a Try around
    // spark.read still surfaces the analysis failure to the streaming
    // ExecutionListenerBus, which logs an ERROR stack trace per first batch
    // (the round-10 CI-noise wart) even though the Try swallows it
    def emptyOf(schema: org.apache.spark.sql.types.StructType): DataFrame =
      spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    def readOr(path: String, schema: org.apache.spark.sql.types.StructType): DataFrame =
      if (!new java.io.File(path).exists()) emptyOf(schema)
      else spark.read.schema(schema).parquet(path).select(
        schema.fieldNames.map(col): _*)
    val reader = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL("doc_id BIGINT, text STRING"))
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    reader.json(srcDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val sk = Dedup.uncappedSketch(batch).cache()
        val probe = Dedup.sketchBuckets(sk)
          .select(col("bh").as("pbh"), col("doc_id").as("pid"))
        // stream-index reads EXCLUDE this batch id: on a replay the stream
        // index already holds batch b's own first-run admissions, and
        // probing against them would self-match every doc (J = 1) and
        // reject the whole batch — the filter keeps replay exactly-once
        // the Try backstop fires ONLY for the pathological dir-with-no-
        // parquet case (an all-rejected batch writes just _SUCCESS) — the
        // common first-batch path is the silent existence check
        def readStreamIdx(path: String, schema: org.apache.spark.sql.types.StructType): DataFrame =
          if (!new java.io.File(path).exists()) emptyOf(schema)
          else scala.util.Try(spark.read.parquet(path)
            .where(col("ingest_batch") < lit(batchId))
            .select(schema.fieldNames.map(col): _*))
            .getOrElse(emptyOf(schema))
        // indexed side: corpus index ∪ prior-batch stream index (any id
        // rejects) tagged slf=false; this batch itself (only SMALLER ids
        // reject — greedy-by-id within the batch) tagged slf=true
        val idxBuckets = readOr(indexPath + "/buckets", bkSchema)
          .unionByName(readStreamIdx(streamIdxDir + "/buckets", bkSchema))
          .withColumn("slf", lit(false))
          .unionByName(Dedup.sketchBuckets(sk).withColumn("slf", lit(true)))
        val idxSketch = readOr(indexPath + "/sketch", shSchema)
          .unionByName(readStreamIdx(streamIdxDir + "/sketch", shSchema))
          .unionByName(sk.select("doc_id", "sh", "n_sh"))
        val cand = probe
          .join(idxBuckets, col("pbh") === col("bh") &&
            (!col("slf") && col("doc_id") =!= col("pid") ||
              col("slf") && col("doc_id") < col("pid")))
          .select(col("pid"), col("doc_id").as("oid")).distinct()
        val rejected = cand
          .join(sk.select(col("doc_id").as("pid"), col("sh").as("sh_p"), col("n_sh").as("np")), "pid")
          .join(idxSketch.select(col("doc_id").as("oid"), col("sh").as("sh_o"), col("n_sh").as("no")), "oid")
          .select(col("pid"),
            (size(array_intersect(col("sh_p"), col("sh_o"))) /
              (col("np") + col("no") - size(array_intersect(col("sh_p"), col("sh_o"))))
                .cast("double")).as("j"))
          .where(col("j") >= 0.8)
          .select(col("pid").as("doc_id")).distinct()
        val admitted = batch.join(rejected, Seq("doc_id"), "left_anti").cache()
        def landPartitioned(df: DataFrame, path: String): Unit = {
          df.withColumn("ingest_batch", lit(batchId))
            .write.partitionBy("ingest_batch")
            .option("partitionOverwriteMode", "dynamic")
            .mode("overwrite").parquet(path)
          ()
        }
        landPartitioned(admitted, outDir)
        val admSk = sk.join(rejected, Seq("doc_id"), "left_anti").cache()
        landPartitioned(Dedup.sketchBuckets(admSk), streamIdxDir + "/buckets")
        landPartitioned(admSk.select("doc_id", "sh", "n_sh"), streamIdxDir + "/sketch")
        admSk.unpersist(blocking = true)
        admitted.unpersist(blocking = true)
        sk.unpersist(blocking = true)
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Streaming as-of enrichment: a mixed click/purchase event stream where
    * every CLICK picks up the latest same-user PURCHASE at-or-before its
    * event time, AS KNOWN AT INGEST TIME — the purchase reference GROWS
    * with the stream (prior batches' purchases land in a batch-partitioned
    * table; this batch's own purchases join from memory). The join itself
    * is the NATIVE merge exec ([[org.apache.spark.sql.graftx.AsOf.join]]):
    * micro-batches are plain DataFrames, so the same custom physical
    * operator serves the batch and streaming paths.
    *
    * Disciplines (both proven by StreamingSpec):
    *  - Replay exactly-once: reference reads EXCLUDE this batch id
    *    (`ingest_batch < batchId`) — on replay the table already holds the
    *    batch's own first-run purchases, and reading them would double the
    *    in-memory copies (a same-(user,ts) dedup would hide it, but a
    *    purchase pair split across the copies would not); both sinks are
    *    dynamic-overwrite partitioned on the batch id.
    *  - Late purchases never retro-update enriched clicks: enrichment is
    *    as-of INGEST time, the only deterministic, replay-stable semantics
    *    a forward-only stream can offer (a retro-correcting view is the
    *    CDC incremental-view family's job, off the landed tables).
    *
    * 100 TB: per-batch cost is batch-clicks + reference-size on the USER
    * key — the reference relation is purchase-granular, partition-pruned
    * nothing (it must see all prior purchases), so at production scale the
    * reference read is the bucketed/compacted purchases table, not a full
    * history rescan of raw events; the merge itself holds one row of state.
    */
  def asofEnrichStream(
      spark: SparkSession,
      srcDir: String,
      outDir: String,
      refDir: String,
      checkpointDir: String,
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    import org.apache.spark.sql.graftx.AsOf
    val evSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "user_id BIGINT, event_id BIGINT, ts BIGINT, event_type STRING, value DOUBLE")
    val refSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "user_id BIGINT, ts BIGINT, pval DOUBLE")
    val reader = spark.readStream.schema(evSchema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    reader.json(srcDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val purch = batch.where(col("event_type") === "purchase")
          .groupBy("user_id", "ts")
          .agg(max_by(col("value"), col("event_id")).as("pval"))
          .cache()
        // existence-checked, not Try-swallowed: a failed analysis inside the
        // batch thread logs an ExecutionListenerBus ERROR even when caught
        def emptyRef = spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), refSchema)
        val priorRef =
          if (!new java.io.File(refDir).exists()) emptyRef
          else scala.util.Try(spark.read.parquet(refDir)
            .where(col("ingest_batch") < lit(batchId))
            .select(refSchema.fieldNames.map(col): _*))
            .getOrElse(emptyRef)
        // re-aggregate the union: a later batch CAN repeat a (user, ts)
        // already in the reference — max keeps the pick deterministic
        val ref = priorRef.unionByName(purch)
          .groupBy(col("user_id").as("p_user"), col("ts").as("p_ts"))
          .agg(max(col("pval")).as("pval"))
        val clicks = batch.where(col("event_type") === "click")
          .select("user_id", "event_id", "ts")
        val enriched = AsOf.join(clicks, ref,
          Seq(col("user_id")), Seq(col("p_user")), col("ts"), col("p_ts"))
          .select("user_id", "event_id", "ts", "p_ts", "pval")
        def land(df: DataFrame, path: String): Unit = {
          df.withColumn("ingest_batch", lit(batchId))
            .write.partitionBy("ingest_batch")
            .option("partitionOverwriteMode", "dynamic")
            .mode("overwrite").parquet(path)
          ()
        }
        land(enriched, outDir)
        land(purch, refDir)
        purch.unpersist(blocking = true)
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
  }

  case class Tok(lang: String, token: String)
  case class MgStreamState(buf: graft.llm.MgBuf, n_tokens: Long)
  case class HeavyHitter(lang: String, token: String, est_count: Long, n_tokens: Long)

  /** Continuous heavy-hitter tracking: a Misra-Gries sketch PER KEY kept as
    * `mapGroupsWithState` state, refreshed every trigger — the streaming
    * twin of [[graft.llm.TextStats.heavyHitters]], sharing its exact update
    * rule ([[graft.llm.TextStats.MgAgg]].reduce) so the batch-pinned MG law
    * (support > n/(k+1) present; undercount ≤ n/(k+1)) holds over the FULL
    * stream history, not per micro-batch. State per key is 2k scalars + one
    * counter forever — the bounded-state property that makes frequency
    * tracking over an unbounded token stream possible at all (an exact
    * streaming groupBy(token) would grow state with the vocabulary).
    * Update output mode: each trigger re-emits the keys it touched.
    */
  def streamingHeavyHitters(toks: org.apache.spark.sql.Dataset[Tok]): org.apache.spark.sql.Dataset[HeavyHitter] = {
    import toks.sparkSession.implicits._
    import graft.llm.{MgBuf, TextStats}
    toks.groupByKey(_.lang)
      .flatMapGroupsWithState[MgStreamState, HeavyHitter](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (lang: String, rows: Iterator[Tok], state: GroupState[MgStreamState]) =>
          var st = state.getOption.getOrElse(
            MgStreamState(MgBuf(new Array[String](TextStats.MgK), new Array[Long](TextStats.MgK)), 0L))
          var buf = st.buf
          var n = st.n_tokens
          rows.foreach { t => buf = TextStats.MgAgg.reduce(buf, t.token); n += 1 }
          state.update(MgStreamState(buf, n))
          buf.keys.zip(buf.counts).filter(_._1 != null)
            .sortBy { case (tok, c) => (-c, tok) }
            .map { case (tok, c) => HeavyHitter(lang, tok, c, n) }
            .iterator
      }
  }

  case class Keyed(grp: String, key: String)
  case class KmvEstimate(grp: String, sketch_n: Long, kth_hash: Long,
      est_ndv: Double, n_rows: Long)
  case class KmvStreamState(sketch: Array[Long], n_rows: Long)

  /** Streaming KMV distinct-count monitor: the portable sketch
    * ([[graft.analytics.PortableSketch.MinKAgg]]) maintained as per-group
    * `mapGroupsWithState` state — the live NDV estimate an ingest monitor
    * publishes per trigger. The state is the same ≤ K-long sorted array the
    * batch aggregate uses and the update rule is literally `MinKAgg.reduce`,
    * so cross-trigger accumulation equals the batch sketch over the full
    * history for ANY trigger boundary pattern (mergeable-summaries law,
    * StreamingSpec-pinned) — and therefore also equals the DuckDB-replayable
    * batch estimate. Per-key state is K longs + a counter, forever.
    */
  def streamingKmvDistinct(
      rows: org.apache.spark.sql.Dataset[Keyed]): org.apache.spark.sql.Dataset[KmvEstimate] = {
    import rows.sparkSession.implicits._
    import graft.analytics.PortableSketch
    rows.groupByKey(_.grp)
      .mapGroupsWithState[KmvStreamState, KmvEstimate](
        GroupStateTimeout.NoTimeout()) {
        (grp: String, it: Iterator[Keyed], state: GroupState[KmvStreamState]) =>
          var st = state.getOption.getOrElse(KmvStreamState(Array.emptyLongArray, 0L))
          var sk = st.sketch
          var n = st.n_rows
          it.foreach { r =>
            sk = PortableSketch.MinKAgg.reduce(sk, graft.Portable.md5Int(r.key, PortableSketch.HexLen))
            n += 1
          }
          state.update(KmvStreamState(sk, n))
          val k = PortableSketch.K
          val est =
            if (sk.length < k) sk.length.toDouble
            else (k - 1) / (sk.last.toDouble / PortableSketch.Scale)
          KmvEstimate(grp, sk.length.toLong, if (sk.isEmpty) 0L else sk.last, est, n)
      }
  }

  case class IdKeyed(grp: String, id: Long)
  case class BitmapCount(grp: String, n_distinct: Long, n_rows: Long)
  case class BitmapStreamState(bits: Array[Long], n_rows: Long)

  /** Streaming EXACT distinct monitor over a bounded id domain: the bitmap
    * aggregate ([[graft.analytics.Mining.BitmapAgg]]) as per-group
    * `mapGroupsWithState` state — the update rule is literally
    * `BitmapAgg.reduce`, so cross-trigger accumulation equals the batch
    * bitmap over the full history for ANY trigger pattern (same
    * mergeable-summaries law as [[streamingKmvDistinct]], but EXACT: this
    * is the live-WAU monitor when ids are bounded, with state
    * O(domain/64) longs per group forever — redeliveries are absorbed by
    * bit idempotence, so at-least-once upstreams still count exactly once).
    */
  def streamingBitmapDistinct(
      rows: org.apache.spark.sql.Dataset[IdKeyed]): org.apache.spark.sql.Dataset[BitmapCount] = {
    import rows.sparkSession.implicits._
    import graft.analytics.Mining
    rows.groupByKey(_.grp)
      .mapGroupsWithState[BitmapStreamState, BitmapCount](
        GroupStateTimeout.NoTimeout()) {
        (grp: String, it: Iterator[IdKeyed], state: GroupState[BitmapStreamState]) =>
          var st = state.getOption.getOrElse(BitmapStreamState(Array.emptyLongArray, 0L))
          var bits = st.bits
          var n = st.n_rows
          it.foreach { r =>
            bits = Mining.BitmapAgg.reduce(bits, r.id)
            n += 1
          }
          state.update(BitmapStreamState(bits, n))
          BitmapCount(grp, Mining.BitmapAgg.finish(bits), n)
      }
  }

  case class ItemDay(item: Long, day: Long)
  case class TrendStreamState(wins: Array[Long], counts: Array[Long])
  case class TrendScore(item: Long, score: Long, last_win: Long, n_events: Long)

  /** decay-window cap: the score weight is `(2^20) >> age`, which is
    * already zero at age 21 — so 21 windows (ages 0..20) are exactly the
    * ones that can still contribute; anything older is evicted. (A 41-cap
    * kept 20 extra all-zero-weight buckets per item: double the state and
    * an inflated n_events for no score contribution.)
    */
  val TrendMaxWins = 21

  /** Streaming time-decayed trending — the live twin of
    * [[graft.analytics.Mining.trendingDecay]]: per-item event counts kept
    * PER HALF-LIFE WINDOW as `mapGroupsWithState` state (≤ [[TrendMaxWins]]
    * (win, count) pairs per item forever — older windows have decayed to
    * zero weight and are evicted), with the exponential decay applied AT
    * READ TIME against the item's newest window:
    * `score = Σ count_w · (2^20 >> (max_win − w))`. Keeping raw counts in
    * state rather than a pre-decayed accumulator is what makes the monitor
    * EXACT under any trigger split and any arrival order (a decayed running
    * sum loses carry bits differently depending on where the batch
    * boundaries fall; per-window counts are order-free integers, decay is a
    * pure function of the final state — the mergeable-summaries discipline
    * of [[streamingKmvDistinct]] applied to decayed counters).
    */
  def streamingTrending(
      rows: org.apache.spark.sql.Dataset[ItemDay],
      halfLifeDays: Long = graft.analytics.Mining.TrendHalfLifeD):
      org.apache.spark.sql.Dataset[TrendScore] = {
    import rows.sparkSession.implicits._
    rows.groupByKey(_.item)
      .mapGroupsWithState[TrendStreamState, TrendScore](
        GroupStateTimeout.NoTimeout()) {
        (item: Long, it: Iterator[ItemDay], state: GroupState[TrendStreamState]) =>
          val st = state.getOption.getOrElse(
            TrendStreamState(Array.emptyLongArray, Array.emptyLongArray))
          val m = scala.collection.mutable.LongMap[Long]()
          st.wins.indices.foreach(i => m(st.wins(i)) = st.counts(i))
          it.foreach { e =>
            val w = e.day / halfLifeDays
            m(w) = m.getOrElse(w, 0L) + 1L
          }
          val maxWin = m.keys.max
          val kept = m.filter { case (w, _) => maxWin - w < TrendMaxWins }.toArray.sortBy(_._1)
          state.update(TrendStreamState(kept.map(_._1), kept.map(_._2)))
          val score = kept.map { case (w, c) => c * ((1L << 20) >> (maxWin - w)) }.sum
          TrendScore(item, score, maxWin, kept.map(_._2).sum)
      }
  }

  /** chi2 drift verdict threshold in milli (9 df at alpha=0.05 ≈ 16.919;
    * the monitor compares against the caller-supplied critical value)
    */
  case class DriftVerdict(batch_id: Long, n_live: Long, chi2_milli: Long, drifted: Boolean)

  /** Streaming distribution-drift monitor — the live twin of
    * [[graft.llm.Governance.driftChi2]]: each micro-batch's per-type counts
    * merge into an ACCUMULATING live contingency held in a table-log table
    * (txn = batch id via `commitOnceOverwrite`, so a crash-replayed batch
    * merges exactly once), and the chi-square of accumulated-live vs the
    * frozen reference distribution is emitted per batch with the drift
    * verdict. State and verdicts are both type-domain-bounded relations;
    * the only fact-scale work per trigger is one map-side-combined count
    * aggregate. Chi2 uses the SAME rational cell form as the batch twin —
    * `(o·N − rt·ct)² / (rt·ct·N)`, floor-milli integerized per cell before
    * the (bounded, type-ordered) summation — computed driver-side over the
    * collected ≤|types|×2 contingency, so batch and stream agree exactly.
    */
  def driftMonitorStream(
      events: DataFrame,
      refCounts: Map[String, Long],
      stateTable: String,
      outDir: String,
      checkpointDir: String,
      critMilli: Long = 16919L): StreamingQuery = {
    val spark = events.sparkSession
    import spark.implicits._
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val bc = batch.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
        val prior =
          if (graft.sources.TableLog.versions(stateTable).nonEmpty)
            graft.sources.TableLog.read(spark, stateTable)
          else spark.createDataset(Seq.empty[(String, Long)]).toDF("event_type", "n")
        val merged = prior.unionByName(bc)
          .groupBy("event_type").agg(sum(col("n")).as("n"))
        // exactly-once state growth: a replayed batch's txn id is already
        // committed and the merge is skipped — the state table never
        // double-counts
        graft.sources.TableLog.commitOnceOverwrite(
          merged, stateTable, s"drift_b$batchId")
        val live = graft.sources.TableLog.read(spark, stateTable)
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        val verdict = chi2Milli(refCounts, live)
        Seq(DriftVerdict(batchId, live.values.sum, verdict, verdict > critMilli))
          .toDF()
          .withColumn("_batch", lit(batchId))
          .write.partitionBy("_batch")
          .option("partitionOverwriteMode", "dynamic")
          .mode("overwrite").parquet(outDir)
      }
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** the batch twin's rational chi2 on a bounded contingency: per-cell
    * `(o·N − rt·ct)² / (rt·ct·N)` floor-milli BEFORE summation, cells
    * visited in type order — a pure deterministic function of the counts
    */
  private[graft] def chi2Milli(ref: Map[String, Long], live: Map[String, Long]): Long = {
    val types = (ref.keySet ++ live.keySet).toSeq.sorted
    val rt = ref.values.sum
    val lt = live.values.sum
    val n = rt + lt
    if (rt == 0L || lt == 0L) return 0L
    types.map { t =>
      val cells = Seq((ref.getOrElse(t, 0L), rt), (live.getOrElse(t, 0L), lt))
      val ct = cells.map(_._1).sum
      if (ct == 0L) 0L
      else cells.map { case (o, rowTot) =>
        val num = o * n - rowTot * ct
        math.floor(num.toDouble * num / (rowTot.toDouble * ct * n) * 1000).toLong
      }.sum
    }.sum
  }

  /** LOG-TO-LOG maintained rollup — the full engine-storage streaming
    * composition: a DSv2 change-feed stream over one table-log table
    * ([[graft.sources.TableChangeSource]], offsets = commit versions) folds
    * signed per-status deltas into a SECOND table-log table via
    * [[graft.sources.TableLog.commitOnceOverwrite]] (txn = batch id). End
    * to end this is exactly-once across BOTH logs: the source resumes from
    * the checkpointed version, and a crash-replayed batch's txn is already
    * committed downstream so the merge is a no-op — the reference's
    * queue→warehouse consumer (`from_rabbitmq_to_clickhouse.py:190-197`)
    * played entirely against the engine's own storage layer, with the
    * downstream additionally versioned (time travel over rollup history).
    * Groups whose rows all died net to zero and drop, matching the direct
    * aggregate of the source's live snapshot at every point.
    */
  /** CONTINUOUS GDPR-erasure propagation: the streaming twin of
    * [[graft.llm.Erasure.propagate]] — the governed table's change feed
    * drives the serving index's tombstone sidecar through the DSv2 source,
    * so the right to be forgotten reaches the index within one trigger of
    * the `deleteWhere`, not at the next polling run.
    *
    * Semantics are [[graft.llm.Erasure.applyNet]]'s per batch: only the
    * NET effect of the batch's commits marks (compaction/overwrite/rollback
    * churn marks nothing; an insert landing on an excluded id resurrects),
    * at `to` = the batch's max commit version — deterministic under replay,
    * so a re-delivered batch appends byte-identical marks that collapse in
    * the read-side groupBy: exactly-once in effect, no txn machinery
    * needed.
    *
    * 100 TB shape: the `columns` option prunes the per-file read to the ID
    * COLUMN alone (the follower never pays the documents' text/embedding
    * bytes), per-trigger admission bounds each batch to
    * `versionsPerTrigger` commits' touched files, and sidecar appends cost
    * ∝ the batch's net deletes.
    */
  def erasurePropagationStream(
      spark: SparkSession,
      table: String,
      indexPath: String,
      checkpointDir: String,
      idCol: String = "doc_id",
      versionsPerTrigger: Int = 1): StreamingQuery =
    spark.readStream.format("graft.sources.TableChangeSource")
      .option("table", table)
      .option("columns", idCol)
      .option("versionsPerTrigger", versionsPerTrigger.toString)
      .load()
      .writeStream.option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val b = batch.cache()
        val head = b.agg(max(col("_commit_version"))).collect().head
        if (!head.isNullAt(0))
          graft.llm.Erasure.applyNet(spark, b, indexPath, idCol, head.getLong(0))
        b.unpersist(blocking = true)
        ()
      }
      .trigger(Trigger.AvailableNow()).start()

  def logToLogRollup(
      spark: SparkSession,
      srcTable: String,
      dstTable: String,
      checkpointDir: String,
      versionsPerTrigger: Int = 1): StreamingQuery = {
    import spark.implicits._
    spark.readStream.format("graft.sources.TableChangeSource")
      .option("table", srcTable)
      .option("versionsPerTrigger", versionsPerTrigger.toString)
      // project at the file read: streaming scans get no pruning pushdown
      .option("columns", "o_orderstatus,o_totalprice")
      .load()
      .writeStream.option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val delta = batch.withColumn("sgn",
            when(col("_change_type") === "insert", 1L).otherwise(-1L))
          .groupBy(col("o_orderstatus"))
          .agg(sum(col("sgn")).as("n_live"),
            sum(col("sgn") * floor(col("o_totalprice") * 100).cast("long"))
              .as("cents"))
        val prior =
          if (graft.sources.TableLog.versions(dstTable).nonEmpty)
            graft.sources.TableLog.read(spark, dstTable)
          else spark.createDataset(Seq.empty[(String, Long, Long)])
            .toDF("o_orderstatus", "n_live", "cents")
        val merged = prior.unionByName(delta)
          .groupBy("o_orderstatus")
          .agg(sum(col("n_live")).as("n_live"), sum(col("cents")).as("cents"))
          .where(col("n_live") > 0)
        graft.sources.TableLog.commitOnceOverwrite(merged, dstTable, s"l2l_b$batchId")
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
  }

  case class CdfDriftVerdict(
      batch_id: Long, n_live: Long, cvm_e6: Long, w1_e6: Long, cvm_reject_95: Boolean)

  /** Streaming CDF drift monitor — the live twin of
    * [[graft.llm.Governance.driftCvm]] / `driftWasserstein`: each
    * micro-batch's quantized milli-value counts merge into an ACCUMULATING
    * live histogram held in a table-log table (txn = batch id via
    * `commitOnceOverwrite` → exactly-once growth under replay; RAW counts in
    * state, the statistics derived at emit time — the mergeable-summaries
    * discipline, a pre-derived statistic would not merge), and both CDF
    * statistics of accumulated-live vs the frozen reference histogram are
    * emitted per batch with the CvM α=0.05 verdict. The integer arithmetic
    * is the batch twins' EXACTLY (cross-multiplied CDF gaps, arbitrary-
    * precision sums standing in for DECIMAL(38), one floor division),
    * computed driver-side over the collected value-domain-bounded
    * histograms — so stream and batch agree bit-for-bit, which the spec
    * pins. Per trigger the only fact-scale work is one map-side-combined
    * count aggregate.
    */
  def cdfDriftMonitorStream(
      values: DataFrame,
      refHist: Map[Long, Long],
      stateTable: String,
      outDir: String,
      checkpointDir: String): StreamingQuery = {
    val spark = values.sparkSession
    import spark.implicits._
    values.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val bc = batch.groupBy(col("vm")).agg(count(lit(1)).as("n"))
        val prior =
          if (graft.sources.TableLog.versions(stateTable).nonEmpty)
            graft.sources.TableLog.read(spark, stateTable)
          else spark.createDataset(Seq.empty[(Long, Long)]).toDF("vm", "n")
        val merged = prior.unionByName(bc)
          .groupBy("vm").agg(sum(col("n")).as("n"))
        graft.sources.TableLog.commitOnceOverwrite(
          merged, stateTable, s"cdfdrift_b$batchId")
        val live = graft.sources.TableLog.read(spark, stateTable)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
        val (cvm, w1) = cvmW1E6(refHist, live)
        Seq(CdfDriftVerdict(batchId, live.values.sum, cvm, w1, cvm > 461000L))
          .toDF()
          .withColumn("_batch", lit(batchId))
          .write.partitionBy("_batch")
          .option("partitionOverwriteMode", "dynamic")
          .mode("overwrite").parquet(outDir)
      }
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** the batch twins' exact integer CDF statistics on two value histograms:
    * (cvm_e6, w1_e6) with cross-multiplied gaps and floor division — a pure
    * deterministic function of the counts, visited in value order
    */
  private[graft] def cvmW1E6(
      ref: Map[Long, Long], live: Map[Long, Long]): (Long, Long) = {
    val na = ref.values.sum
    val nb = live.values.sum
    if (na == 0L || nb == 0L) return (0L, 0L)
    val vms = (ref.keySet ++ live.keySet).toSeq.sorted
    var cuma = 0L
    var cumb = 0L
    var cvmNum = BigInt(0)
    var w1Num = BigInt(0)
    vms.zipWithIndex.foreach { case (vm, i) =>
      val ca = ref.getOrElse(vm, 0L)
      val cb = live.getOrElse(vm, 0L)
      cuma += ca; cumb += cb
      val gap = BigInt(cuma) * nb - BigInt(cumb) * na
      cvmNum += BigInt(ca + cb) * gap * gap
      // the last histogram point has no successor and contributes no W1 mass
      if (i + 1 < vms.length) w1Num += gap.abs * BigInt(vms(i + 1) - vm)
    }
    val n = BigInt(na) + BigInt(nb)
    ((cvmNum * 1000000 / (BigInt(na) * nb * n * n)).toLong,
      (w1Num * 1000 / (BigInt(na) * nb)).toLong)
  }

  case class DayBar(company: String, day: Long, close_c: Long, vol: Long)
  case class ObvStreamState(lastDay: Long, lastClose: Long, obv: Long,
      obvMin: Long, obvMax: Long, nDays: Long)
  case class ObvPoint(company: String, last_day: Long, obv: Long,
      obv_min: Long, obv_max: Long, n_days: Long)

  /** Streaming OBV monitor — the live twin of
    * [[graft.analytics.Indicators.obv]]: per-instrument
    * [prevClose, obv, running extremes] scalars under `mapGroupsWithState`
    * over COMPLETED daily bars (the [[ohlcvBars]] output grain) — O(1)
    * state per instrument forever, exactly the segment a per-symbol ticker
    * plant keeps. Bars must arrive in day order across triggers (the bar
    * builder emits completed windows in order); within a batch the iterator
    * is sorted before folding, so ANY trigger split of an ordered bar
    * stream produces identical state. A late or duplicate bar
    * (day ≤ lastDay) is dropped deterministically rather than corrupting
    * the accumulation — at-least-once redelivery of the latest bar is a
    * no-op.
    */
  def streamingObv(bars: org.apache.spark.sql.Dataset[DayBar]):
      org.apache.spark.sql.Dataset[ObvPoint] = {
    import bars.sparkSession.implicits._
    bars.groupByKey(_.company)
      .mapGroupsWithState[ObvStreamState, ObvPoint](GroupStateTimeout.NoTimeout()) {
        (company: String, it: Iterator[DayBar], state: GroupState[ObvStreamState]) =>
          var st = state.getOption.getOrElse(
            ObvStreamState(Long.MinValue, 0L, 0L, 0L, 0L, 0L))
          it.toSeq.sortBy(_.day).foreach { b =>
            if (b.day > st.lastDay) {
              val signed =
                if (st.nDays == 0L) 0L
                else if (b.close_c > st.lastClose) b.vol
                else if (b.close_c < st.lastClose) -b.vol
                else 0L
              val obv = st.obv + signed
              st = ObvStreamState(b.day, b.close_c, obv,
                math.min(st.obvMin, obv), math.max(st.obvMax, obv), st.nDays + 1L)
            }
          }
          state.update(st)
          ObvPoint(company, st.lastDay, st.obv, st.obvMin, st.obvMax, st.nDays)
      }
  }

  case class BarClose(company: String, day: Long, close_c: Long)
  case class VState(lastDay: Long, lastClose: Long, preDown: Long,
      trough: Long, downRun: Long, upRun: Long)
  case class VHit(company: String, day: Long, depth_c: Long, rebound_c: Long)

  /** Streaming V-shape pattern detector — the LIVE row-pattern-matching
    * twin of the batch `a15_vshape_patterns` (MATCH_RECOGNIZE
    * `PATTERN (DOWN{2,} UP{2,})`): per instrument, six scalars of state
    * (last close, pre-decline peak, trough, down/up run lengths) under
    * `flatMapGroupsWithState`; a V EMITS the moment its second consecutive
    * up-step lands after ≥2 down-steps — depth = peak − trough and the
    * rebound so far, both exact cents. In-order bars split across ANY
    * trigger boundary produce identical hits (state carries the partial
    * pattern); a duplicate/late bar (day ≤ last) is dropped. O(1) state
    * per instrument forever — the pattern memory a CEP engine keeps,
    * without holding any window of rows.
    */
  def streamingVshape(bars: org.apache.spark.sql.Dataset[BarClose]):
      org.apache.spark.sql.Dataset[VHit] = {
    import bars.sparkSession.implicits._
    bars.groupByKey(_.company)
      .flatMapGroupsWithState[VState, VHit](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (company: String, it: Iterator[BarClose], state: GroupState[VState]) =>
          var st = state.getOption.getOrElse(VState(Long.MinValue, 0L, 0L, 0L, 0L, 0L))
          val hits = scala.collection.mutable.ArrayBuffer[VHit]()
          it.toSeq.sortBy(_.day).foreach { b =>
            if (b.day > st.lastDay) {
              if (st.lastDay == Long.MinValue) {
                st = VState(b.day, b.close_c, 0L, 0L, 0L, 0L)
              } else if (b.close_c < st.lastClose) {
                // a down-step extends (or starts) the decline; a decline
                // after a partial rebound restarts the pattern
                val pre = if (st.downRun == 0L || st.upRun > 0L) st.lastClose else st.preDown
                val dr = if (st.upRun > 0L) 1L else st.downRun + 1L
                st = VState(b.day, b.close_c, pre, b.close_c, dr, 0L)
              } else if (b.close_c > st.lastClose && st.downRun >= 2L) {
                val up = st.upRun + 1L
                if (up == 2L) {
                  hits += VHit(company, b.day, st.preDown - st.trough,
                    b.close_c - st.trough)
                  st = VState(b.day, b.close_c, 0L, 0L, 0L, 0L)
                } else st = st.copy(lastDay = b.day, lastClose = b.close_c, upRun = up)
              } else {
                // up without a qualifying decline, or a flat step: reset
                st = VState(b.day, b.close_c, 0L, 0L, 0L, 0L)
              }
            }
          }
          state.update(st)
          hits.iterator
      }
  }

  case class Purchase(user: String, mc: Long)
  case class RollingSpend(user: String, n: Long, total_mc: Long, last3_mc: Long)

  /** [[streamingRollingSpend]]'s processor on Spark 4's `transformWithState`
    * API (the arbitrary-state successor of mapGroupsWithState): composite
    * per-key state — two ValueStates (count, total) plus a ListState holding
    * the last-3 purchase window — something the single-state-object
    * mapGroupsWithState forces into one monolithic case class, with no
    * per-component TTL. Requires the RocksDB state store provider.
    */
  class RollingSpendProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, Purchase, RollingSpend] {
    import org.apache.spark.sql.streaming.{ListState, TTLConfig, TimeMode, ValueState}
    import org.apache.spark.sql.{Encoders, streaming}
    @transient private var count: ValueState[Long] = _
    @transient private var total: ValueState[Long] = _
    @transient private var recent: ListState[Long] = _
    override def init(outputMode: streaming.OutputMode, timeMode: TimeMode): Unit = {
      count = getHandle.getValueState[Long]("count", Encoders.scalaLong, TTLConfig.NONE)
      total = getHandle.getValueState[Long]("total", Encoders.scalaLong, TTLConfig.NONE)
      recent = getHandle.getListState[Long]("recent", Encoders.scalaLong, TTLConfig.NONE)
    }
    override def handleInputRows(key: String, rows: Iterator[Purchase],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[RollingSpend] = {
      var n = if (count.exists()) count.get() else 0L
      var t = if (total.exists()) total.get() else 0L
      var window = if (recent.exists()) recent.get().toList else Nil
      rows.foreach { p =>
        n += 1; t += p.mc
        window = (window :+ p.mc).takeRight(3)
      }
      count.update(n); total.update(t)
      recent.put(window.toArray)
      Iterator.single(RollingSpend(key, n, t, window.sum))
    }
  }

  /** Per-user purchase monitor on `transformWithState`: cumulative count +
    * total plus a rolling last-3 window that spans trigger boundaries.
    * State is O(1) per user (two longs + ≤3 window entries) forever; the
    * StreamingSpec pins cross-trigger carryover of all three components.
    */
  def streamingRollingSpend(
      rows: org.apache.spark.sql.Dataset[Purchase]): org.apache.spark.sql.Dataset[RollingSpend] = {
    import rows.sparkSession.implicits._
    rows.groupByKey(_.user)
      .transformWithState(new RollingSpendProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  /** Streaming materialized view: maintain a windowed derived aggregate
    * from a stream — each micro-batch lands in the base table and refreshes
    * exactly the windows it touched ([[graft.operators.IncrementalAgg]]
    * under `foreachBatch`).
    *
    * Exactly-once: the base append is partitioned by (window, _batch) and
    * written with dynamic overwrite, so a replayed batch overwrites its own
    * partitions instead of duplicating (the [[start]] discipline); the
    * refresh then RECOMPUTES the touched windows from the full base, which
    * makes it idempotent by construction — replaying batch N yields the
    * same aggregate table state, byte for byte of content.
    *
    * Scale notes (100 TB posture): per-trigger cost is O(rows in touched
    * windows), not table size; the derived table is always a consistent
    * full aggregate of the base (no eventual-consistency window beyond the
    * trigger), and `_batch` doubles as the compaction unit for
    * [[graft.sources.Compaction]].
    *
    * @param agg base rows → aggregate rows; must carry `windowCol` through
    *            and ignore the `_batch` bookkeeping column
    */
  def maintainRollup(
      stream: DataFrame,
      windowCol: String,
      baseDir: String,
      aggDir: String,
      checkpointDir: String,
      agg: DataFrame => DataFrame,
      availableNow: Boolean = true): StreamingQuery = {
    val spark = stream.sparkSession
    val writer = stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.withColumn("_batch", lit(batchId))
          .write
          .partitionBy(windowCol, "_batch")
          .option("partitionOverwriteMode", "dynamic")
          .mode("overwrite")
          .parquet(baseDir)
        val touched = batch.select(windowCol).distinct()
          .collect().map(_.get(0)).toSeq
        graft.operators.IncrementalAgg.refreshWindows(
          spark, touched, windowCol, baseDir, aggDir, agg)
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer).start()
  }

  /** Streaming CDC apply: fold each micro-batch of change rows (key, version,
    * op, payload) into a VERSIONED table — [[graft.operators.Merge]] per
    * batch (latest-wins upsert / delete / insert), committed through
    * [[graft.sources.TableLog.commitOnceOverwrite]] with the batch id as the
    * transaction: a crash-replayed batch re-runs the same deterministic
    * merge and the txn-tagged manifest dedupes the outcome — end-to-end
    * exactly-once without relying on the sink being append-only. Every batch
    * leaves a time-travelable snapshot version. Each version rewrites the
    * full (small) dim snapshot here; a fact-sized target narrows the rewrite
    * to touched partitions (the [[graft.operators.IncrementalAgg]]
    * discipline) with the SAME commit protocol.
    */
  def cdcApply(
      spark: SparkSession,
      srcDir: String,
      table: String,
      checkpointDir: String,
      schemaDdl: String,
      keyCols: Seq[String],
      versionCols: Seq[String],
      opCol: String,
      payloadCols: Seq[String]): StreamingQuery = {
    val changes = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL(schemaDdl))
      .json(srcDir)
    changes.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val base =
          if (graft.sources.TableLog.versions(table).nonEmpty)
            graft.sources.TableLog.read(s, table)
          else batch.select((keyCols ++ payloadCols).map(col): _*).limit(0)
        val merged = graft.operators.Merge(
          base, batch, keyCols, versionCols, opCol, payloadCols)
        graft.sources.TableLog.commitOnceOverwrite(merged, table, s"stream_batch_$batchId")
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
  }

  // ---------------------------------------------------------------------
  // Streaming VPIN — volume-clock order-flow toxicity monitor
  // ---------------------------------------------------------------------

  case class Tick(company: String, seq: Long, cents: Long, volume: Long)
  case class VpinBucket(company: String, bucket: Long, buy_v: Long,
      sell_v: Long, abs_imb: Long, vpin_ppm: Long)
  case class VpinCur(bucket: Long, cumVol: Long, buyV: Long, sellV: Long)

  /** [[streamingVpin]]'s processor: the live twin of the batch
    * [[graft.analytics.Indicators]] VPIN, reformulated for an unbounded
    * stream — the batch estimator sizes buckets from TOTAL volume (total/50),
    * which a stream can never know, so the streaming monitor runs a FIXED
    * volume clock (`bucketVol` per bucket, the Easley/López de Prado/O'Hara
    * production form) and reads VPIN over the trailing `window` completed
    * buckets.
    *
    * State per instrument is O(1) forever: previous trade price (tick-rule
    * classifier), the current bucket's [cum volume, buy volume, sell
    * volume], and a ≤window list of completed-bucket |imbalance|s — the
    * mergeable-summaries discipline (CLAUDE.md): raw per-bucket counts in
    * state, the decayed/derived reading (vpin_ppm) computed at emit time,
    * so trigger boundaries cannot change any answer. A tick spanning a
    * bucket boundary SPLITS its volume at the boundary (both sides keep
    * their share), which is what makes the volume clock exact rather than
    * approximately-V buckets.
    */
  class VpinProcessor(bucketVol: Long, window: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, Tick, VpinBucket] {
    import org.apache.spark.sql.streaming.{ListState, TTLConfig, TimeMode, ValueState}
    import org.apache.spark.sql.{Encoders, streaming}
    @transient private var prevCents: ValueState[Long] = _
    @transient private var cur: ValueState[VpinCur] = _
    @transient private var doneImb: ListState[Long] = _
    override def init(outputMode: streaming.OutputMode, timeMode: TimeMode): Unit = {
      prevCents = getHandle.getValueState[Long]("prevCents", Encoders.scalaLong, TTLConfig.NONE)
      cur = getHandle.getValueState[VpinCur]("cur", Encoders.product[VpinCur], TTLConfig.NONE)
      doneImb = getHandle.getListState[Long]("doneImb", Encoders.scalaLong, TTLConfig.NONE)
    }
    override def handleInputRows(key: String, rows: Iterator[Tick],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[VpinBucket] = {
      var st = if (cur.exists()) cur.get() else VpinCur(0L, 0L, 0L, 0L)
      var recent = if (doneImb.exists()) doneImb.get().toList else Nil
      var prev = if (prevCents.exists()) Some(prevCents.get()) else None
      val out = scala.collection.mutable.ArrayBuffer[VpinBucket]()
      // per-batch sort by seq: the event-time order the batch twin uses
      // (a production feed is per-key ordered; MemoryStream within a batch
      // is not guaranteed to be)
      rows.toSeq.sortBy(_.seq).foreach { t =>
        // tick rule: up-tick = buy, down-tick = sell, flat/first = neutral
        // (neutral volume still advances the volume clock, as in the batch)
        val side = prev match {
          case Some(p) if t.cents > p => 1
          case Some(p) if t.cents < p => -1
          case _                      => 0
        }
        prev = Some(t.cents)
        var v = t.volume
        while (v > 0) {
          val take = math.min(v, bucketVol - st.cumVol)
          st = VpinCur(st.bucket, st.cumVol + take,
            st.buyV + (if (side == 1) take else 0L),
            st.sellV + (if (side == -1) take else 0L))
          v -= take
          if (st.cumVol == bucketVol) {
            val imb = math.abs(st.buyV - st.sellV)
            recent = (recent :+ imb).takeRight(window)
            // exact integer ppm over the trailing window of FULL buckets
            val vpin = recent.sum * 1000000L / (recent.size.toLong * bucketVol)
            out += VpinBucket(key, st.bucket, st.buyV, st.sellV, imb, vpin)
            st = VpinCur(st.bucket + 1, 0L, 0L, 0L)
          }
        }
      }
      prev.foreach(prevCents.update)
      cur.update(st)
      doneImb.put(recent.toArray)
      out.iterator
    }
  }

  /** Live order-flow toxicity monitor: one output row per COMPLETED volume
    * bucket carrying that bucket's signed flow and the trailing-window VPIN
    * reading. Exactly the rows a batch replay of the same tick sequence
    * produces — trigger boundaries are invisible (StreamingSpec pins
    * 1-trigger vs N-trigger equality).
    */
  def streamingVpin(
      ticks: org.apache.spark.sql.Dataset[Tick],
      bucketVol: Long,
      window: Int): org.apache.spark.sql.Dataset[VpinBucket] = {
    import ticks.sparkSession.implicits._
    ticks.groupByKey(_.company)
      .transformWithState(new VpinProcessor(bucketVol, window),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
  }

  // ---------------------------------------------------------------------
  // Streaming depth monitor — live depth-imbalance / microprice readout
  // ---------------------------------------------------------------------

  case class DepthLevel(priceE9: Long, vol: Long)
  case class DepthSnap(company: String, seq: Long,
      bids: Seq[DepthLevel], asks: Seq[DepthLevel])
  case class DepthRead(company: String, seq: Long, bid_vol: Long,
      ask_vol: Long, imb_ppm: Long, micro_e9: Long, trail_imb_ppm: Long)
  case class DepthVols(b: Long, a: Long)

  /** [[streamingDepthMonitor]]'s processor: the live twin of the batch
    * depth-ladder readouts ([[graft.ingest.IngestPack.bookDepthImbalance]] /
    * `book_microprice`). Per-instrument state is O(window) forever: the
    * last ACCEPTED snapshot sequence (the monotonic book clock) plus the
    * trailing `window` snapshots' raw (bid_vol, ask_vol) pairs — the
    * mergeable-summaries discipline: raw volumes in state, the derived
    * ppm readings computed at emit time, so trigger boundaries cannot
    * change any answer.
    *
    * Ordering law: a LATE snapshot (seq ≤ the last accepted seq) is
    * DROPPED — a book snapshot is a replacement, not an increment, so
    * applying one out of order would publish a stale book as fresh. Within
    * a batch, rows sort by seq first (the batch twin's event order), so
    * lateness is judged against the true clock, not arrival order.
    * Malformed snapshots (an empty side, zero top-of-book volume — no
    * quotable microprice) are dropped WITHOUT advancing the clock.
    */
  class DepthMonitorProcessor(window: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, DepthSnap, DepthRead] {
    import org.apache.spark.sql.streaming.{ListState, TTLConfig, TimeMode, ValueState}
    import org.apache.spark.sql.{Encoders, streaming}
    @transient private var lastSeq: ValueState[Long] = _
    @transient private var trail: ListState[DepthVols] = _
    override def init(outputMode: streaming.OutputMode, timeMode: TimeMode): Unit = {
      lastSeq = getHandle.getValueState[Long]("lastSeq", Encoders.scalaLong, TTLConfig.NONE)
      trail = getHandle.getListState[DepthVols]("trail", Encoders.product[DepthVols], TTLConfig.NONE)
    }
    override def handleInputRows(key: String, rows: Iterator[DepthSnap],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[DepthRead] = {
      var last = if (lastSeq.exists()) lastSeq.get() else Long.MinValue
      var recent = if (trail.exists()) trail.get().toList else Nil
      val out = scala.collection.mutable.ArrayBuffer[DepthRead]()
      rows.toSeq.sortBy(_.seq).foreach { s =>
        val valid = s.bids.nonEmpty && s.asks.nonEmpty &&
          s.bids.head.vol + s.asks.head.vol > 0
        if (s.seq > last && valid) {
          last = s.seq
          val bv = s.bids.map(_.vol).sum
          val av = s.asks.map(_.vol).sum
          val (b1, a1) = (s.bids.head, s.asks.head)
          // microprice: top prices weighted by the OPPOSITE side's volume
          val micro = (b1.priceE9 * a1.vol + a1.priceE9 * b1.vol) / (a1.vol + b1.vol)
          recent = (recent :+ DepthVols(bv, av)).takeRight(window)
          val (tb, ta) = (recent.map(_.b).sum, recent.map(_.a).sum)
          out += DepthRead(key, s.seq, bv, av,
            1000000L * bv / (bv + av), micro, 1000000L * tb / (tb + ta))
        }
      }
      lastSeq.update(last)
      trail.put(recent.toArray)
      out.iterator
    }
  }

  /** Live depth monitor: one output row per accepted book snapshot carrying
    * its full-ladder volume imbalance, top-of-book microprice, and the
    * trailing-`window` smoothed imbalance. Exactly the rows a batch replay
    * of the same ordered snapshot sequence produces — trigger boundaries
    * are invisible (StreamingSpec pins 1-trigger vs N-trigger equality),
    * and a snapshot arriving after a newer one has been accepted is
    * dropped, never applied stale.
    */
  def streamingDepthMonitor(
      snaps: org.apache.spark.sql.Dataset[DepthSnap],
      window: Int): org.apache.spark.sql.Dataset[DepthRead] = {
    import snaps.sparkSession.implicits._
    snaps.groupByKey(_.company)
      .transformWithState(new DepthMonitorProcessor(window),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
  }
}
