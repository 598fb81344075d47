package graft.ingest

import org.apache.spark.sql.types._

/** Single source of truth for the four-table investment schema — replacing the
  * reference's 3-way duplication across producer dicts, consumer validation
  * lists and INSERT column lists (SURVEY.md §1.2; reference
  * `app/for_clickhouse/from_rabbitmq_to_clickhouse.py:56,72,86,101` for the
  * column lists, `:122-140` for the required-field sets).
  */
object Schemas {

  /** wire format for timestamps — second precision, timezone dropped
    * (`from_parser_to_rabbitmq.py:59`)
    */
  val TsFormat = "yyyy-MM-dd HH:mm:ss"

  // -------------------------------------------------------------------------
  // Message (wire) schemas: what from_json parses off the queue. Timestamps
  // are still strings here; Ingest's shared classification converts them
  // (`typed`) and validates them (`reason`); `Ingest.parseTable` is the
  // per-table reference the tests compare it against.
  // -------------------------------------------------------------------------

  val candlesMsg: StructType = StructType(Seq(
    StructField("company_id", StringType),
    StructField("timestamp", StringType),
    StructField("open", DoubleType),
    StructField("high", DoubleType),
    StructField("low", DoubleType),
    StructField("close", DoubleType),
    StructField("volume", LongType)))

  val tradesMsg: StructType = StructType(Seq(
    StructField("company_id", StringType),
    StructField("timestamp", StringType),
    StructField("price", DoubleType),
    StructField("volume", LongType),
    StructField("side", StringType)))

  val orderBookMsg: StructType = StructType(Seq(
    StructField("company_id", StringType),
    StructField("timestamp", StringType),
    StructField("bid_price", DoubleType),
    StructField("bid_volume", LongType),
    StructField("ask_price", DoubleType),
    StructField("ask_volume", LongType)))

  val companiesMsg: StructType = StructType(Seq(
    StructField("company_id", StringType),
    StructField("name", StringType),
    StructField("ticker", StringType),
    StructField("sector", StringType)))

  val msgSchema: Map[String, StructType] = Map(
    "candles" -> candlesMsg,
    "trades" -> tradesMsg,
    "order_book" -> orderBookMsg,
    "companies" -> companiesMsg)

  /** per-table required fields (`from_rabbitmq_to_clickhouse.py:122-140`) */
  val required: Map[String, Seq[String]] = Map(
    "candles" -> Seq("company_id", "timestamp", "open", "high", "low", "close", "volume"),
    "trades" -> Seq("company_id", "timestamp", "price", "volume", "side"),
    "order_book" -> Seq("company_id", "timestamp", "bid_price", "bid_volume", "ask_price", "ask_volume"),
    "companies" -> Seq("company_id", "name", "ticker", "sector"))

  /** tables carrying a timestamp column (companies is the static dim) */
  val timestamped: Set[String] = Set("candles", "trades", "order_book")

  // -------------------------------------------------------------------------
  // Broker-API (producer input) shapes — the nested protobuf-ish records the
  // producer normalizes (SURVEY.md §2.2 P1/P4/P5; `from_parser_to_rabbitmq.py:
  // 57-65,99-105,189-200,153-160`). Prices are Quotation{units,nano} pairs.
  // -------------------------------------------------------------------------

  val quotation: StructType = StructType(Seq(
    StructField("units", LongType),
    StructField("nano", IntegerType)))

  val apiCandle: StructType = StructType(Seq(
    StructField("figi", StringType),
    StructField("time", StringType),
    StructField("open", quotation),
    StructField("high", quotation),
    StructField("low", quotation),
    StructField("close", quotation),
    StructField("volume", LongType)))

  val apiTrade: StructType = StructType(Seq(
    StructField("figi", StringType),
    StructField("time", StringType),
    StructField("price", quotation),
    StructField("quantity", LongType),
    StructField("direction", IntegerType)))

  private val bookLevel = StructType(Seq(
    StructField("price", quotation),
    StructField("quantity", LongType)))

  val apiOrderBook: StructType = StructType(Seq(
    StructField("figi", StringType),
    StructField("time", StringType),
    StructField("bids", ArrayType(bookLevel)),
    StructField("asks", ArrayType(bookLevel))))

  val apiShare: StructType = StructType(Seq(
    StructField("figi", StringType),
    StructField("name", StringType),
    StructField("ticker", StringType),
    StructField("sector", StringType)))
}
