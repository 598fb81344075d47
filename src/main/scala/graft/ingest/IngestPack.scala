package graft.ingest

import graft.{Q, QueryPack, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Oracle-verifiable ingest queries: the consumer pipeline (F1–F3, P2, P3,
  * P7, P8) driven end-to-end over the driver testdata. Messages are
  * synthesized deterministically from the TPC-H-ish tables (including
  * deliberately corrupted rows exercising every drop path), run through the
  * REAL `Normalize`/`Ingest` code, and the surviving rows are aggregated; the
  * DuckDB oracle computes the expected outcome directly from the source
  * tables — so a semantics drift in any gate flips the compare.
  */
object IngestPack extends QueryPack {

  /** Bucket decode for the synthetic `FIGI<key>` ids shared by the e2e
    * packs (and [[graft.analytics.Analytics.bookLiquidity]]): strip the
    * 4-char prefix, parse the key, pmod into `mod` buckets. ONE definition —
    * an id-format change otherwise has to be hunted through every pack.
    */
  private[graft] def figiBucket(c: Column, mod: Int): Column =
    pmod(substring(c, 5, 18).try_cast("long"), lit(mod))

  /** Candle wire messages derived from lineitem. Two corruption channels:
    * l_linenumber = 3 → unparseable timestamp (F3 drop)
    * l_linenumber = 4 → close omitted       (F2 drop; json drops null fields)
    */
  private def candleMessages(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.loadSpread(s, dir, "lineitem")
    val flat = li.select(
      concat(lit("FIGI"), col("l_partkey")).as("company_id"),
      when(col("l_linenumber") === 3, lit("not-a-timestamp"))
        .otherwise(date_format(col("l_shipdate"), Schemas.TsFormat)).as("timestamp"),
      col("l_extendedprice").as("open"),
      (col("l_extendedprice") + col("l_quantity")).as("high"),
      (col("l_extendedprice") - col("l_quantity")).as("low"),
      when(col("l_linenumber") === 4, lit(null).cast("double"))
        .otherwise(col("l_extendedprice")).as("close"),
      col("l_quantity").cast("long").as("volume"))
    Normalize.serialize(flat)
  }

  private def tradeMessages(s: SparkSession, dir: String): DataFrame =
    Normalize.serialize(Tables.loadSpread(s, dir, "orders").select(
      concat(lit("FIGI"), col("o_custkey")).as("company_id"),
      date_format(col("o_orderdate"), Schemas.TsFormat).as("timestamp"),
      col("o_totalprice").as("price"),
      col("o_orderkey").as("volume"),
      when(col("o_orderkey") % 2 === 0, "buy").otherwise("sell").as("side")))

  private def bookMessages(s: SparkSession, dir: String): DataFrame =
    Normalize.serialize(Tables.loadSpread(s, dir, "customer").select(
      concat(lit("FIGI"), col("c_custkey")).as("company_id"),
      lit("2024-01-01 00:00:00").as("timestamp"),
      col("c_acctbal").as("bid_price"),
      col("c_custkey").as("bid_volume"),
      (col("c_acctbal") + lit(1.0)).as("ask_price"),
      (col("c_custkey") + lit(1L)).as("ask_volume")))

  private def companyMessages(s: SparkSession, dir: String): DataFrame =
    Normalize.serialize(Tables.loadSpread(s, dir, "part").select(
      concat(lit("FIGI"), col("p_partkey")).as("company_id"),
      col("p_name").as("name"),
      col("p_brand").as("ticker"),
      col("p_type").as("sector")))

  /** frames no classifier field matches → 'unknown' route (F1 drop) */
  private def unknownMessages(s: SparkSession, dir: String): DataFrame =
    Normalize.serialize(Tables.load(s, dir, "region").select(
      col("r_regionkey").as("blob"), col("r_name").as("label")))

  /** Memoized-per-dir SESSION-cached wire-frame stream (the Graph-pack
    * shared-base discipline): SIX e2e queries (demux counts, quarantine,
    * candles/trades/order-book/companies e2e) consume the same mixed frame
    * stream, and building it is five table scans + five `to_json`
    * serializations — without the memo every consumer re-serialized the
    * whole stream (guide §2.4: share the expensive base once). Each query
    * still pays its OWN `from_json` parse — that is the operator under
    * test; only the synthetic producer side is shared.
    *
    * FOOTPRINT: this is the largest memo in the engine (the fully
    * serialized five-table JSON stream — tens of MB per sf0.1 dir, scaling
    * with the data dir). It lives for the session like every [[graft.Memo]]
    * entry; a long-lived JVM exercising many dirs releases it (and every
    * other memo) through [[graft.Memo.releaseAll]].
    */
  private val allMessagesCache = graft.Memo.base()

  private[graft] def allMessages(s: SparkSession, dir: String): DataFrame =
    allMessagesCache(dir) { d =>
      Seq(candleMessages(s, d), tradeMessages(s, d), bookMessages(s, d),
        companyMessages(s, d), unknownMessages(s, d)).reduce(_ union _)
    }

  /** F1+F2+F3 end-to-end drop accounting over the mixed frame stream. */
  def demuxCounts(s: SparkSession, dir: String): DataFrame =
    Ingest.dropStats(allMessages(s, dir))

  private val demuxCountsSql =
    """SELECT 'candles' AS route, count(*) AS n_received,
      |       count(*) FILTER (WHERE l_linenumber NOT IN (3, 4)) AS n_kept,
      |       count(*) FILTER (WHERE l_linenumber IN (3, 4)) AS n_dropped
      |FROM lineitem
      |UNION ALL
      |SELECT 'trades', count(*), count(*), 0 FROM orders
      |UNION ALL
      |SELECT 'order_book', count(*), count(*), 0 FROM customer
      |UNION ALL
      |SELECT 'companies', count(*), count(*), 0 FROM part
      |UNION ALL
      |SELECT 'unknown', count(*), 0, count(*) FROM region""".stripMargin

  /** Quarantine accounting over the mixed frame stream — the drop side of
    * [[demuxCounts]] in full: every dropped frame lands with its route and
    * FIRST failed gate. The oracle recomputes each (route, reason) bucket
    * from the corruption channels directly, so a gate misfiring (wrong
    * reason, wrong precedence, silently keeping a bad frame) flips the hash.
    */
  def quarantineCounts(s: SparkSession, dir: String): DataFrame =
    Ingest.quarantine(allMessages(s, dir))
      .groupBy("route", "reason")
      .agg(count(lit(1)).as("n_frames"))

  private val quarantineCountsSql =
    """SELECT 'candles' AS route, 'bad_timestamp' AS reason, count(*) AS n_frames
      |FROM lineitem WHERE l_linenumber = 3
      |UNION ALL
      |SELECT 'candles', 'missing_required', count(*) FROM lineitem WHERE l_linenumber = 4
      |UNION ALL
      |SELECT 'unknown', 'unknown_type', count(*) FROM region""".stripMargin

  /** Candle path end-to-end: corrupted frames dropped, survivors re-typed and
    * aggregated per company bucket with exact decimal sums + wire-format
    * timestamp bounds.
    */
  def candlesE2e(s: SparkSession, dir: String): DataFrame = {
    val candles = Ingest.demux(allMessages(s, dir))("candles")
    candles
      .groupBy(figiBucket(col("company_id"), 10).as("bucket"))
      .agg(
        count(lit(1)).as("n_candles"),
        sum(col("close").cast("decimal(12,2)")).cast("double").as("sum_close"),
        sum(col("volume")).as("sum_volume"),
        date_format(min(col("timestamp")), Schemas.TsFormat).as("min_ts"),
        date_format(max(col("timestamp")), Schemas.TsFormat).as("max_ts"))
  }

  private val candlesE2eSql =
    """SELECT l_partkey % 10 AS bucket, count(*) AS n_candles,
      |       CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_close,
      |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_volume,
      |       strftime(min(l_shipdate), '%Y-%m-%d %H:%M:%S') AS min_ts,
      |       strftime(max(l_shipdate), '%Y-%m-%d %H:%M:%S') AS max_ts
      |FROM lineitem WHERE l_linenumber NOT IN (3, 4)
      |GROUP BY 1""".stripMargin

  /** P2 quotation fold on synthesized units/nano (negative pairs included):
    * per-row IEEE-double and lossless-decimal folds, bit-compared.
    */
  def quotationFold(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.load(s, dir, "part")
    val sign  = when(col("p_partkey") % 5 === 0, -1L).otherwise(1L)
    val units = (sign * (col("p_partkey") % 1000)).as("units")
    val nano  = (sign * ((col("p_partkey") * 7919) % 1000000000)).cast("int").as("nano")
    p.select(col("p_partkey"), units, nano)
      .select(
        col("p_partkey"),
        Quotation.toDouble(col("units"), col("nano")).as("price"),
        Quotation.toDecimal(col("units"), col("nano")).cast("double").as("price_dec"))
  }

  private val quotationFoldSql =
    """WITH q AS (
      |  SELECT p_partkey,
      |         (CASE WHEN p_partkey % 5 = 0 THEN -1 ELSE 1 END) * (p_partkey % 1000) AS units,
      |         (CASE WHEN p_partkey % 5 = 0 THEN -1 ELSE 1 END) * ((p_partkey * 7919) % 1000000000) AS nano
      |  FROM part)
      |SELECT p_partkey,
      |       CAST(units AS DOUBLE) + CAST(nano AS DOUBLE) / 1e9 AS price,
      |       CAST(CAST(units AS DECIMAL(28,9))
      |            + CAST(nano AS DECIMAL(18,0)) * CAST(0.000000001 AS DECIMAL(10,9)) AS DOUBLE) AS price_dec
      |FROM q""".stripMargin

  /** P3 wire round-trip: format to 'yyyy-MM-dd HH:mm:ss', reparse, compare
    * against the second-truncated original — pins the truncation semantics.
    */
  def tsRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    ev.select(
        date_format(col("ts"), "yyyy-MM-dd").as("day"),
        date_format(col("ts"), Schemas.TsFormat).as("wire"),
        col("ts"))
      .withColumn("reparsed", expr(s"try_to_timestamp(wire, '${Schemas.TsFormat}')"))
      .groupBy("day")
      .agg(
        count(lit(1)).as("n_events"),
        sum(when(col("reparsed") === date_trunc("second", col("ts")), 1L).otherwise(0L))
          .as("n_roundtrip_ok"),
        sum(when(col("ts") =!= date_trunc("second", col("ts")), 1L).otherwise(0L))
          .as("n_subsecond"))
  }

  private val tsRoundtripSql =
    """WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS tsv FROM events)
      |SELECT strftime(tsv, '%Y-%m-%d') AS day, count(*) AS n_events,
      |       CAST(sum(CASE WHEN strptime(strftime(tsv, '%Y-%m-%d %H:%M:%S'), '%Y-%m-%d %H:%M:%S')
      |                     = date_trunc('second', tsv) THEN 1 ELSE 0 END) AS BIGINT) AS n_roundtrip_ok,
      |       CAST(sum(CASE WHEN tsv <> date_trunc('second', tsv) THEN 1 ELSE 0 END) AS BIGINT) AS n_subsecond
      |FROM e GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------------------
  // Typed producer→consumer round trips for the remaining three routes:
  // API-shaped nested records (Quotation structs, direction enums, depth-N
  // book arrays) run through the REAL producer projections (Normalize P2/P4/
  // P5/P6), serialize to wire frames, pass the full consumer demux, and the
  // survivors aggregate — so a bug in the enum mapping
  // (`from_parser_to_rabbitmq.py:104`), the top-of-book indexing (`:189-192`)
  // or either quotation fold flips the DuckDB compare.
  // ---------------------------------------------------------------------------

  /** API trades from orders: Quotation price, direction 1 (buy) iff even key */
  // loadSpread: the serialize→demux chain (to_json + from_json per frame)
  // otherwise runs entirely inside the one-row-group scan's single task
  private def apiTrades(s: SparkSession, dir: String): DataFrame =
    Tables.loadSpread(s, dir, "orders").select(
      concat(lit("FIGI"), col("o_custkey")).as("figi"),
      date_format(col("o_orderdate"), Schemas.TsFormat).as("time"),
      struct(
        (col("o_orderkey") % 1000).as("units"),
        ((col("o_orderkey") * 7919) % 1000000000).cast("int").as("nano")).as("price"),
      (col("o_orderkey") % 97 + 1).as("quantity"),
      (col("o_orderkey") % 2 + 1).cast("int").as("direction"))

  def tradesE2e(s: SparkSession, dir: String): DataFrame = {
    val wire = Normalize.serialize(Normalize.projectTrades(apiTrades(s, dir)))
    Ingest.demux(wire)("trades")
      .groupBy("side")
      .agg(
        count(lit(1)).as("n_trades"),
        sum(floor(col("price") * 1e9).cast("long")).as("sum_price_e9"),
        sum(col("volume")).as("sum_volume"),
        date_format(min(col("timestamp")), Schemas.TsFormat).as("min_ts"),
        date_format(max(col("timestamp")), Schemas.TsFormat).as("max_ts"))
  }

  private val tradesE2eSql =
    """WITH t AS (
      |  SELECT strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS wire_ts,
      |         CAST(o_orderkey % 1000 AS DOUBLE)
      |           + CAST((o_orderkey * 7919) % 1000000000 AS DOUBLE) / 1e9 AS price,
      |         o_orderkey % 97 + 1 AS volume,
      |         CASE WHEN o_orderkey % 2 = 0 THEN 'buy' ELSE 'sell' END AS side
      |  FROM orders)
      |SELECT side, count(*) AS n_trades,
      |       CAST(sum(CAST(floor(price * 1e9) AS BIGINT)) AS BIGINT) AS sum_price_e9,
      |       CAST(sum(volume) AS BIGINT) AS sum_volume,
      |       min(wire_ts) AS min_ts, max(wire_ts) AS max_ts
      |FROM t GROUP BY side""".stripMargin

  /** API order books from customer: depth-3 bid/ask arrays whose DEEPER
    * levels carry different values than level 1, so a wrong array index
    * (P5 must take element 1 = best) cannot hash-match.
    */
  private[graft] def apiBooks(s: SparkSession, dir: String): DataFrame = {
    // loadSpread: see apiTrades — depth-ladder struct building + wire
    // round-trips are per-row-heavy on a single-task scan otherwise
    val c = Tables.loadSpread(s, dir, "customer")
    def q(u: Column, n: Column): Column =
      struct(u.cast("long").as("units"), n.cast("int").as("nano"))
    def lvl(u: Column, n: Column, qty: Column): Column =
      struct(q(u, n).as("price"), qty.cast("long").as("quantity"))
    val k = col("c_custkey")
    c.select(
      concat(lit("FIGI"), k).as("figi"),
      date_format(
        expr("timestampadd(MINUTE, CAST((c_custkey % 96) * 15 AS INT), TIMESTAMP '2024-02-01 00:00:00')"),
        Schemas.TsFormat).as("time"),
      array(
        lvl(k % 500 + 100, (k * 31) % 1000000000, k % 50 + 1),
        lvl(k % 500 + 99, (k * 17) % 1000000000, k % 50 + 7),
        lvl(k % 500 + 98, (k * 13) % 1000000000, k % 50 + 13)).as("bids"),
      array(
        lvl(k % 500 + 101, (k * 37) % 1000000000, k % 60 + 1),
        lvl(k % 500 + 102, (k * 19) % 1000000000, k % 60 + 7),
        lvl(k % 500 + 103, (k * 11) % 1000000000, k % 60 + 13)).as("asks"))
  }

  def orderBookE2e(s: SparkSession, dir: String): DataFrame = {
    val wire = Normalize.serialize(Normalize.projectOrderBook(apiBooks(s, dir)))
    Ingest.demux(wire)("order_book")
      .groupBy(figiBucket(col("company_id"), 8).as("bucket"))
      .agg(
        count(lit(1)).as("n_snapshots"),
        sum(floor(col("bid_price") * 1e9).cast("long")).as("sum_bid_e9"),
        sum(floor(col("ask_price") * 1e9).cast("long")).as("sum_ask_e9"),
        sum(col("bid_volume")).as("sum_bid_vol"),
        sum(col("ask_volume")).as("sum_ask_vol"),
        date_format(max(col("timestamp")), Schemas.TsFormat).as("max_ts"))
  }

  private val orderBookE2eSql =
    """WITH b AS (
      |  SELECT c_custkey % 8 AS bucket,
      |         CAST(c_custkey % 500 + 100 AS DOUBLE)
      |           + CAST((c_custkey * 31) % 1000000000 AS DOUBLE) / 1e9 AS bid_price,
      |         CAST(c_custkey % 500 + 101 AS DOUBLE)
      |           + CAST((c_custkey * 37) % 1000000000 AS DOUBLE) / 1e9 AS ask_price,
      |         c_custkey % 50 + 1 AS bid_volume,
      |         c_custkey % 60 + 1 AS ask_volume,
      |         strftime(TIMESTAMP '2024-02-01 00:00:00'
      |           + (c_custkey % 96) * INTERVAL 15 MINUTE, '%Y-%m-%d %H:%M:%S') AS wire_ts
      |  FROM customer)
      |SELECT bucket, count(*) AS n_snapshots,
      |       CAST(sum(CAST(floor(bid_price * 1e9) AS BIGINT)) AS BIGINT) AS sum_bid_e9,
      |       CAST(sum(CAST(floor(ask_price * 1e9) AS BIGINT)) AS BIGINT) AS sum_ask_e9,
      |       CAST(sum(bid_volume) AS BIGINT) AS sum_bid_vol,
      |       CAST(sum(ask_volume) AS BIGINT) AS sum_ask_vol,
      |       max(wire_ts) AS max_ts
      |FROM b GROUP BY bucket""".stripMargin

  /** Depth-weighted book stats with a COLUMN-PRESENCE guard: uses the
    * `bids`/`asks` ladder arrays when the frame carries them (the depth
    * wire, [[Normalize.projectOrderBookDepth]]), and falls back to the
    * flat top-of-book columns otherwise — the same consumer runs
    * unchanged on pre-depth snapshots, which is what lets the depth
    * upgrade be a schema-widening commit instead of a migration.
    * Per-row integerization (floor(price·1e9) per LEVEL, long volumes)
    * keeps every emitted number in exact integer space.
    */
  private[graft] def depthStats(df: DataFrame): DataFrame = {
    val hasLadder = df.columns.contains("bids") && df.columns.contains("asks")
    def vol(lc: String, flat: String): Column =
      if (hasLadder)
        aggregate(col(lc), lit(0L), (a, x) => a + x.getField("volume"))
      else col(flat)
    def notional(lc: String, flatP: String, flatV: String): Column =
      if (hasLadder)
        aggregate(col(lc), lit(0L), (a, x) =>
          a + floor(x.getField("price") * 1e9).cast("long") * x.getField("volume"))
      else floor(col(flatP) * 1e9).cast("long") * col(flatV)
    df.withColumn("bid_depth_vol", vol("bids", "bid_volume"))
      .withColumn("ask_depth_vol", vol("asks", "ask_volume"))
      .withColumn("bid_notional_e9", notional("bids", "bid_price", "bid_volume"))
      .withColumn("ask_notional_e9", notional("asks", "ask_price", "ask_volume"))
  }

  /** S5+ stretch: per-bucket DEPTH-LADDER imbalance over the 3-level book
    * wire — total bid/ask volume across all levels, volume imbalance in
    * ppm (integer div, non-negative so Spark `DIV` == DuckDB `//`), and
    * exact ladder notionals (per-row long integerization, DECIMAL(38,0)
    * sums, ONE final integer division — the exact-statistic discipline).
    * The oracle replays all three levels from the fixture's arithmetic,
    * so a wrong level index, a dropped level, or a fallback that ignored
    * the ladder flips every number.
    */
  def bookDepthImbalance(s: SparkSession, dir: String): DataFrame = {
    val depth = Normalize.projectOrderBookDepth(apiBooks(s, dir))
    depthStats(depth)
      .groupBy(figiBucket(col("company_id"), 8).as("bucket"))
      .agg(
        count(lit(1)).as("n_books"),
        sum(col("bid_depth_vol")).as("bid_vol"),
        sum(col("ask_depth_vol")).as("ask_vol"),
        sum(col("bid_notional_e9").cast("decimal(30,0)")).as("_bn"),
        sum(col("ask_notional_e9").cast("decimal(30,0)")).as("_an"))
      .selectExpr(
        "bucket", "n_books", "bid_vol", "ask_vol",
        "CAST((1000000 * bid_vol) DIV (bid_vol + ask_vol) AS BIGINT) AS imb_ppm",
        "CAST(_bn DIV 1000000 AS BIGINT) AS bid_notional_e3",
        "CAST(_an DIV 1000000 AS BIGINT) AS ask_notional_e3")
  }

  private val bookDepthImbalanceSql = {
    def lvl(uOff: Int, mul: Int, vOff: Int) =
      s"CAST(floor((CAST(c_custkey % 500 + $uOff AS DOUBLE) + " +
        s"CAST((c_custkey * $mul) % 1000000000 AS DOUBLE) / 1e9) * 1e9) AS BIGINT)" +
        s" * (c_custkey % 50 + $vOff)"
    def lvlA(uOff: Int, mul: Int, vOff: Int) =
      s"CAST(floor((CAST(c_custkey % 500 + $uOff AS DOUBLE) + " +
        s"CAST((c_custkey * $mul) % 1000000000 AS DOUBLE) / 1e9) * 1e9) AS BIGINT)" +
        s" * (c_custkey % 60 + $vOff)"
    s"""WITH b AS (
       |  SELECT c_custkey % 8 AS bucket,
       |         (c_custkey % 50 + 1) + (c_custkey % 50 + 7) + (c_custkey % 50 + 13) AS bvol,
       |         (c_custkey % 60 + 1) + (c_custkey % 60 + 7) + (c_custkey % 60 + 13) AS avol,
       |         ${lvl(100, 31, 1)} + ${lvl(99, 17, 7)} + ${lvl(98, 13, 13)} AS bnot,
       |         ${lvlA(101, 37, 1)} + ${lvlA(102, 19, 7)} + ${lvlA(103, 11, 13)} AS anot
       |  FROM customer)
       |SELECT bucket, count(*) AS n_books,
       |       CAST(sum(bvol) AS BIGINT) AS bid_vol,
       |       CAST(sum(avol) AS BIGINT) AS ask_vol,
       |       CAST((1000000 * CAST(sum(bvol) AS BIGINT))
       |            // CAST(sum(bvol) + sum(avol) AS BIGINT) AS BIGINT) AS imb_ppm,
       |       CAST(sum(bnot) // 1000000 AS BIGINT) AS bid_notional_e3,
       |       CAST(sum(anot) // 1000000 AS BIGINT) AS ask_notional_e3
       |FROM b GROUP BY bucket""".stripMargin
  }

  /** Per-book MICROSTRUCTURE readouts in exact integer space, with the same
    * COLUMN-PRESENCE guard as [[depthStats]]: microprice numerator/denominator
    * from the top of book (present in every snapshot generation), per-side
    * ladder VWAP notionals and a ladder price SPAN (level 1 → deepest) when
    * the `bids`/`asks` arrays exist; a flat-only snapshot degrades to a
    * 1-level ladder (span 0, notional = top price × top volume) instead of
    * failing — the schema-widening upgrade story, at query level.
    * Every emitted component is a long (floor(price·1e9) per level), so
    * downstream aggregation stays in the exact-statistic discipline.
    */
  private[graft] def microStats(df: DataFrame): DataFrame = {
    val hasLadder = df.columns.contains("bids") && df.columns.contains("asks")
    def e9(c: Column): Column = floor(c * 1e9).cast("long")
    def lvlE9(side: String, i: Int): Column =
      e9(element_at(col(side), i).getField("price"))
    // level 1 → DEEPEST level (index -1, whatever the wire's depth), CASE-
    // guarded so a 0/1-level ladder reads as zero span instead of an ANSI
    // element_at error
    def span(side: String): Column =
      if (hasLadder) when(size(col(side)) >= 2,
        abs(lvlE9(side, -1) - lvlE9(side, 1))).otherwise(lit(0L))
      else lit(0L)
    val withDepth =
      if (hasLadder) depthStats(df)
      else df
        .withColumn("bid_depth_vol", col("bid_volume"))
        .withColumn("ask_depth_vol", col("ask_volume"))
        .withColumn("bid_notional_e9", e9(col("bid_price")) * col("bid_volume"))
        .withColumn("ask_notional_e9", e9(col("ask_price")) * col("ask_volume"))
    withDepth
      .withColumn("micro_num_e9",
        e9(col("bid_price")) * col("ask_volume") +
          e9(col("ask_price")) * col("bid_volume"))
      .withColumn("micro_den", col("bid_volume") + col("ask_volume"))
      .withColumn("bid_span_e9", span("bids"))
      .withColumn("ask_span_e9", span("asks"))
  }

  /** S5++ microstructure: per-bucket MICROPRICE (top-of-book prices weighted
    * by opposite-side volume — the standard fair-value estimator), per-side
    * ladder VWAPs, their weighted MID, and the ladder SLOPE (price span per
    * unit of resting depth — the liquidity readout depth data exists for).
    * Exact-statistic discipline throughout: per-row long integerization,
    * DECIMAL(38,0) sums, final integer divisions on non-negative operands
    * (Spark `DIV` == DuckDB `//`). The oracle replays all three levels from
    * the fixture arithmetic — a wrong level index, a swapped weighting side
    * (microprice weights by the OPPOSITE side), or a fallback that ignored
    * the ladder flips every emitted number.
    */
  def bookMicroprice(s: SparkSession, dir: String): DataFrame = {
    val depth = Normalize.projectOrderBookDepth(apiBooks(s, dir))
    microStats(depth)
      .groupBy(figiBucket(col("company_id"), 8).as("bucket"))
      .agg(
        count(lit(1)).as("n_books"),
        sum(col("micro_num_e9").cast("decimal(38,0)")).as("_mn"),
        sum(col("micro_den")).as("_md"),
        sum(col("bid_notional_e9").cast("decimal(38,0)")).as("_bn"),
        sum(col("ask_notional_e9").cast("decimal(38,0)")).as("_an"),
        sum(col("bid_depth_vol")).as("_bv"),
        sum(col("ask_depth_vol")).as("_av"),
        sum(col("bid_span_e9") + col("ask_span_e9")).as("_span"))
      .selectExpr(
        "bucket", "n_books",
        "CAST(_mn DIV _md AS BIGINT) AS micro_e9",
        "CAST(_bn DIV _bv AS BIGINT) AS bid_vwap_e9",
        "CAST(_an DIV _av AS BIGINT) AS ask_vwap_e9",
        "CAST((_bn DIV _bv + _an DIV _av) DIV 2 AS BIGINT) AS wmid_e9",
        "CAST(_span DIV (_bv + _av) AS BIGINT) AS span_per_vol_e9")
  }

  private val bookMicropriceSql = {
    // folded level price as the oracle sees it (same IEEE ops as
    // Quotation.toDouble + floor(x*1e9)); uOff/mul pin the fixture level
    def pe9(uOff: Int, mul: Int) =
      s"CAST(floor((CAST(c_custkey % 500 + $uOff AS DOUBLE) + " +
        s"CAST((c_custkey * $mul) % 1000000000 AS DOUBLE) / 1e9) * 1e9) AS BIGINT)"
    s"""WITH b AS (
       |  SELECT c_custkey % 8 AS bucket,
       |         c_custkey % 50 + 1 AS bvol1, c_custkey % 60 + 1 AS avol1,
       |         (c_custkey % 50 + 1) + (c_custkey % 50 + 7) + (c_custkey % 50 + 13) AS bvol,
       |         (c_custkey % 60 + 1) + (c_custkey % 60 + 7) + (c_custkey % 60 + 13) AS avol,
       |         ${pe9(100, 31)} AS b1, ${pe9(99, 17)} AS b2, ${pe9(98, 13)} AS b3,
       |         ${pe9(101, 37)} AS a1, ${pe9(102, 19)} AS a2, ${pe9(103, 11)} AS a3
       |  FROM customer),
       |r AS (
       |  SELECT bucket,
       |         b1 * avol1 + a1 * bvol1 AS mnum, bvol1 + avol1 AS mden,
       |         b1 * (c2) + b2 * (c7) + b3 * (c13) AS bnot,
       |         a1 * (d2) + a2 * (d7) + a3 * (d13) AS anot,
       |         bvol, avol,
       |         greatest(b3 - b1, b1 - b3) + greatest(a3 - a1, a1 - a3) AS span
       |  FROM (SELECT *, bvol1 AS c2, bvol1 + 6 AS c7, bvol1 + 12 AS c13,
       |               avol1 AS d2, avol1 + 6 AS d7, avol1 + 12 AS d13 FROM b))
       |SELECT bucket, count(*) AS n_books,
       |       CAST(sum(CAST(mnum AS HUGEINT)) // CAST(sum(mden) AS HUGEINT) AS BIGINT) AS micro_e9,
       |       CAST(sum(CAST(bnot AS HUGEINT)) // CAST(sum(bvol) AS HUGEINT) AS BIGINT) AS bid_vwap_e9,
       |       CAST(sum(CAST(anot AS HUGEINT)) // CAST(sum(avol) AS HUGEINT) AS BIGINT) AS ask_vwap_e9,
       |       CAST((sum(CAST(bnot AS HUGEINT)) // CAST(sum(bvol) AS HUGEINT)
       |             + sum(CAST(anot AS HUGEINT)) // CAST(sum(avol) AS HUGEINT)) // 2 AS BIGINT) AS wmid_e9,
       |       CAST(CAST(sum(span) AS HUGEINT) // CAST(sum(bvol) + sum(avol) AS HUGEINT) AS BIGINT) AS span_per_vol_e9
       |FROM r GROUP BY bucket""".stripMargin
  }

  def companiesE2e(s: SparkSession, dir: String): DataFrame = {
    val api = Tables.load(s, dir, "part").select(
      concat(lit("FIGI"), col("p_partkey")).as("figi"),
      col("p_name").as("name"),
      col("p_brand").as("ticker"),
      col("p_type").as("sector"))
    val wire = Normalize.serialize(Normalize.projectCompanies(api))
    Ingest.demux(wire)("companies")
      .groupBy("sector")
      .agg(
        count(lit(1)).as("n_companies"),
        countDistinct(col("ticker")).as("n_tickers"),
        min(col("name")).as("first_name"))
  }

  private val companiesE2eSql =
    """SELECT p_type AS sector, count(*) AS n_companies,
      |       count(DISTINCT p_brand) AS n_tickers,
      |       min(p_name) AS first_name
      |FROM part GROUP BY p_type""".stripMargin

  /** API candles from lineitem with integer-derived quotation components
    * (exactly reproducible in the oracle's arithmetic, unlike decomposing a
    * double price).
    */
  private[graft] def apiCandles(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.loadSpread(s, dir, "lineitem")
    def q(u: Column, n: Column): Column =
      struct(u.cast("long").as("units"), n.cast("int").as("nano"))
    li.select(
      concat(lit("FIGI"), col("l_partkey") % 200).as("figi"),
      date_format(col("l_shipdate"), Schemas.TsFormat).as("time"),
      q(col("l_partkey") % 900, (col("l_orderkey") * 7919) % 1000000000).as("open"),
      q(col("l_partkey") % 900 + 10, (col("l_orderkey") * 104729) % 1000000000).as("high"),
      q(col("l_partkey") % 900 - 10, (col("l_orderkey") * 1299709) % 1000000000).as("low"),
      q(col("l_partkey") % 900 + 1, (col("l_orderkey") * 15485863) % 1000000000).as("close"),
      col("l_quantity").cast("long").as("volume"))
  }

  /** E1 grid ingest end-to-end: API candles → [[BatchIngest.ingestCandles]]
    * (30-day-window-partitioned Parquet) → read back with a WINDOW-range
    * predicate (partition pruning — the batch replacement for the
    * reference's manual chunk loop) → aggregate. The oracle recomputes the
    * same projection, window assignment and range from lineitem directly.
    */
  /** one materialized grid table per data dir per JVM: query CONSTRUCTION
    * must be read-only (the `audit`/`perf` verbs and tests build plans
    * repeatedly without running them), so the wipe + ingest side effects run
    * once behind this memo and every later call just reads the written table.
    */
  private val gridIngested = graft.Scratch.fixture[String]("graft_grid", "candles")

  def gridCandles(s: SparkSession, dir: String): DataFrame = {
    val out = gridIngested(dir) { root =>
      val path = root + "/candles"
      // self-contained verification run: the fixture wipes `candles` so window
      // dirs left by a DIFFERENT grid layout (older code, other tests) cannot
      // leak into the read-back — dynamic overwrite only replaces its own
      // windows by design
      BatchIngest.ingestCandles(
        apiCandles(s, dir), "1995-01-01", "2002-01-01", path, gridBuckets = 1)
      path
    }
    val table = s.read.parquet(out)
    table
      .where(col("window") >= lit("1996-01-01").cast("date") &&
        col("window") < lit("1997-01-20").cast("date"))
      .groupBy(figiBucket(col("company_id"), 10).as("bucket"))
      .agg(
        count(lit(1)).as("n_candles"),
        sum(floor(col("close") * 1e9).cast("long")).as("sum_close_e9"),
        sum(col("volume")).as("sum_volume"),
        countDistinct(col("window")).as("n_windows"),
        date_format(min(col("timestamp")), "yyyy-MM-dd").as("min_day"),
        date_format(max(col("timestamp")), "yyyy-MM-dd").as("max_day"))
  }

  private val gridCandlesSql =
    """WITH c AS (
      |  SELECT (l_partkey % 200) % 10 AS bucket,
      |         CAST(l_shipdate AS DATE) AS d,
      |         CAST(l_partkey % 900 + 1 AS DOUBLE)
      |           + CAST((l_orderkey * 15485863) % 1000000000 AS DOUBLE) / 1e9 AS close,
      |         CAST(l_quantity AS BIGINT) AS volume,
      |         DATE '1970-01-01'
      |           + (CAST(floor(date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) / 30.0) AS INT) * 30)
      |             * INTERVAL 1 DAY AS win
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '2002-01-01')
      |SELECT bucket, count(*) AS n_candles,
      |       CAST(sum(CAST(floor(close * 1e9) AS BIGINT)) AS BIGINT) AS sum_close_e9,
      |       CAST(sum(volume) AS BIGINT) AS sum_volume,
      |       count(DISTINCT win) AS n_windows,
      |       strftime(min(d), '%Y-%m-%d') AS min_day,
      |       strftime(max(d), '%Y-%m-%d') AS max_day
      |FROM c
      |WHERE win >= DATE '1996-01-01' AND win < DATE '1997-01-20'
      |GROUP BY bucket""".stripMargin

  /** S5 snapshot-cadence semantics over the event stream: the latest update
    * per (entity, 15-minute bucket) — [[graft.operators.Snapshot.atCadence]]
    * — then per-entity accounting. `floor(value*1000)` keeps the value
    * aggregation in exact integer space (a double→decimal cast could round
    * differently at 0.5-ulp boundaries across engines).
    */
  def bookSnapshotCadence(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.Tables.load(s, dir, "events")
    graft.operators.Snapshot
      .atCadence(ev, Seq("user_id"), "ts", 15, col("event_id"))
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_snapshots"),
        sum(floor(col("value") * 1000).cast("long")).as("sum_v3"),
        date_format(min(col("snapshot_ts")), Schemas.TsFormat).as("first_snap"),
        date_format(max(col("snapshot_ts")), Schemas.TsFormat).as("last_snap"))
  }

  private val bookSnapshotCadenceSql =
    """WITH e AS (
      |  SELECT user_id, event_id, value, CAST(ts AS TIMESTAMP) AS tsv,
      |         TIMESTAMP '1970-01-01'
      |           + (CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 900) AS BIGINT) * 900)
      |             * INTERVAL 1 SECOND AS snapshot_ts
      |  FROM events),
      |r AS (
      |  SELECT user_id, value, snapshot_ts,
      |         row_number() OVER (PARTITION BY user_id, snapshot_ts
      |                            ORDER BY tsv DESC, event_id DESC) AS rn
      |  FROM e)
      |SELECT user_id, count(*) AS n_snapshots,
      |       CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS sum_v3,
      |       strftime(min(snapshot_ts), '%Y-%m-%d %H:%M:%S') AS first_snap,
      |       strftime(max(snapshot_ts), '%Y-%m-%d %H:%M:%S') AS last_snap
      |FROM r WHERE rn = 1
      |GROUP BY user_id""".stripMargin

  /** one incrementally-maintained rollup per data dir per JVM (the
    * gridCandles memo discipline: construction is read-only after the first
    * materialization)
    */
  private val incrRollup = graft.Scratch.fixture[String]("graft_incragg")

  /** monthly (window, status) rollup — the aggregate both refreshes and the
    * oracle share
    */
  private def rollupAgg(b: DataFrame): DataFrame =
    b.groupBy("win", "o_orderstatus")
      .agg(
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("sum_price"))

  /** Incrementally-maintained monthly rollup of orders
    * ([[graft.operators.IncrementalAgg]]): the base arrives in two appends
    * split MID-MONTH (1998-06-15), so the straddled window is refreshed
    * twice and the second refresh must recompute it from both halves —
    * exactly the partial-window hazard that silently corrupts delta-merge
    * maintenance. The oracle aggregates the source directly; green means
    * the incremental table equals the from-scratch answer row for row.
    */
  def incrementalRollup(s: SparkSession, dir: String): DataFrame = {
    val aggDir = incrRollup(dir) { root =>
      val orders = Tables.load(s, dir, "orders")
        .withColumn("win", date_format(col("o_orderdate"), "yyyy-MM"))
      val cut = lit("1998-06-15").cast("timestamp")
      graft.operators.IncrementalAgg.appendAndRefresh(
        orders.where(col("o_orderdate") < cut),
        "win", s"$root/base", s"$root/agg", rollupAgg)
      graft.operators.IncrementalAgg.appendAndRefresh(
        orders.where(col("o_orderdate") >= cut),
        "win", s"$root/base", s"$root/agg", rollupAgg)
      s"$root/agg"
    }
    s.read.parquet(aggDir)
      .select(col("win"), col("o_orderstatus"), col("n_orders"), col("sum_price"))
  }

  private val incrementalRollupSql =
    """SELECT strftime(o_orderdate, '%Y-%m') AS win, o_orderstatus,
      |       count(*) AS n_orders,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders GROUP BY 1, 2""".stripMargin

  /** CSV wire-format ingest e2e — the second wire format next to the JSON
    * frame path: orders rendered as CSV lines (with a deliberately
    * malformed numeric field on every 83rd key), parsed back through
    * `from_csv` in PERMISSIVE mode, corrupt rows dropped by the
    * required-field gate, survivors aggregated. The oracle computes the
    * survivor set directly — a parser that drops too much or coerces
    * garbage to a value flips the gate.
    *
    * Scale notes (100 TB posture): parse is a narrow per-row projection
    * (one `from_csv`, no per-field re-parse — the csv struct is consumed
    * whole); drop accounting rides the same single aggregate.
    */
  def csvE2e(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.loadSpread(s, dir, "orders")
    val line = concat_ws(",",
      col("o_orderkey"),
      col("o_orderstatus"),
      // corrupt the numeric field on every 83rd key
      when(col("o_orderkey") % 83 === 0, lit("xx"))
        .otherwise(col("o_totalprice").cast("string")))
    val parsed = o.select(line.as("line"))
      .select(from_csv(col("line"),
        org.apache.spark.sql.types.StructType.fromDDL(
          "k LONG, status STRING, price DOUBLE"),
        Map.empty[String, String]).as("r"))
      .select(col("r.k").as("k"), col("r.status").as("status"), col("r.price").as("price"))
    parsed
      .groupBy("status")
      .agg(
        count(lit(1)).as("n_received"),
        sum(when(col("price").isNull, 1L).otherwise(0L)).as("n_dropped"),
        sum(when(col("price").isNotNull, col("k"))).as("key_sum"),
        sum(col("price").cast("decimal(18,2)")).cast("double").as("sum_price"))
  }

  private val csvE2eSql =
    """SELECT o_orderstatus AS status, count(*) AS n_received,
      |       CAST(count(*) FILTER (WHERE o_orderkey % 83 = 0) AS BIGINT) AS n_dropped,
      |       CAST(sum(o_orderkey) FILTER (WHERE o_orderkey % 83 <> 0) AS BIGINT) AS key_sum,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) FILTER (WHERE o_orderkey % 83 <> 0) AS DOUBLE) AS sum_price
      |FROM orders GROUP BY o_orderstatus""".stripMargin

  /** one ORC materialization per data dir per JVM (the gridCandles memo
    * discipline: query construction stays read-only after the first run)
    */
  private val orcWritten = graft.Scratch.fixture[String]("graft_orc", "candles")

  /** ORC round-trip e2e — the third sink/source format next to Parquet and
    * the CSV/JSON wire paths: the SAME normalized candle relation written as
    * ORC, read back and aggregated. The oracle recomputes from lineitem
    * directly, so what's under test is type fidelity through the ORC
    * writer/reader (timestamps, quotation-fold doubles, longs). At scale the
    * format is a sink choice, not a plan change — both are columnar splittable
    * sources to the scan planner.
    */
  def orcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = orcWritten(dir) { root =>
      val path = root + "/candles"
      Normalize.projectCandles(apiCandles(s, dir))
        .withColumn("timestamp", to_timestamp(col("timestamp"), Schemas.TsFormat))
        .write.mode("overwrite").orc(path)
      path
    }
    s.read.orc(out)
      .groupBy(figiBucket(col("company_id"), 10).as("bucket"))
      .agg(
        count(lit(1)).as("n_candles"),
        // floor-integerized, NOT a DECIMAL cast: double→DECIMAL(18,9)
        // rounds half-up per value, and at sf0.1 row counts a couple of
        // values land on rounding boundaries where the engines disagree
        // by 1e-9 — floor of an exact product is tie-free (CLAUDE.md
        // arbitrary-double-sum rule, caught by the sf0.1 self-check)
        sum(floor(col("close") * 1e9).cast("long")).as("sum_close_e9"),
        sum(col("volume")).as("sum_volume"),
        date_format(min(col("timestamp")), Schemas.TsFormat).as("min_ts"),
        date_format(max(col("timestamp")), Schemas.TsFormat).as("max_ts"))
  }

  private val orcRoundtripSql =
    """WITH c AS (
      |  SELECT (l_partkey % 200) % 10 AS bucket,
      |         l_shipdate AS ts,
      |         CAST(l_partkey % 900 + 1 AS DOUBLE)
      |           + CAST((l_orderkey * 15485863) % 1000000000 AS DOUBLE) / 1e9 AS close,
      |         CAST(l_quantity AS BIGINT) AS volume
      |  FROM lineitem)
      |SELECT bucket, count(*) AS n_candles,
      |       CAST(sum(CAST(floor(close * 1e9) AS BIGINT)) AS BIGINT) AS sum_close_e9,
      |       CAST(sum(volume) AS BIGINT) AS sum_volume,
      |       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS min_ts,
      |       strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS max_ts
      |FROM c GROUP BY bucket""".stripMargin

  override val all: Seq[Q] = Seq(
    Q("ingest_demux_counts", demuxCounts, Some(demuxCountsSql)),
    Q("ingest_quarantine", quarantineCounts, Some(quarantineCountsSql)),
    Q("ingest_csv_e2e", csvE2e, Some(csvE2eSql)),
    Q("ingest_orc_e2e", orcRoundtrip, Some(orcRoundtripSql)),
    Q("incremental_rollup", incrementalRollup, Some(incrementalRollupSql)),
    Q("ingest_grid_candles", gridCandles, Some(gridCandlesSql)),
    Q("ingest_candles_e2e", candlesE2e, Some(candlesE2eSql)),
    Q("ingest_trades_e2e", tradesE2e, Some(tradesE2eSql)),
    Q("ingest_order_book_e2e", orderBookE2e, Some(orderBookE2eSql)),
    Q("ingest_companies_e2e", companiesE2e, Some(companiesE2eSql)),
    Q("ingest_quotation_fold", quotationFold, Some(quotationFoldSql)),
    Q("ingest_ts_roundtrip", tsRoundtrip, Some(tsRoundtripSql)),
    Q("book_snapshot_cadence", bookSnapshotCadence, Some(bookSnapshotCadenceSql)),
    Q("book_depth_imbalance", bookDepthImbalance, Some(bookDepthImbalanceSql)),
    Q("book_microprice", bookMicroprice, Some(bookMicropriceSql)))
}
