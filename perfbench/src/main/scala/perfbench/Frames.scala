package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

/** What the ingest pipeline must produce from a frame sequence: rows kept
  * per table and frames quarantined per (route, reason). Filled in by
  * [[FrameGen]] as it emits frames, so it is exact by construction.
  */
final class Truth {
  val kept: mutable.Map[String, Long] = mutable.TreeMap.empty[String, Long]
  val quarantined: mutable.Map[(String, String), Long] =
    mutable.TreeMap.empty[(String, String), Long]
  var frames: Long = 0L
  var bytes: Long = 0L

  private[perfbench] def keep(table: String): Unit =
    kept(table) = kept.getOrElse(table, 0L) + 1
  private[perfbench] def drop(route: String, reason: String): Unit =
    quarantined((route, reason)) = quarantined.getOrElse((route, reason), 0L) + 1
}

/** Seeded wire-frame generator: the reference producer's four message
  * shapes (candles, trades, order_book, companies) mixed with the
  * consumer's drop channels — malformed JSON, unknown shape, a missing
  * required field, an unparseable timestamp. Frame `i` of a seed is the
  * same on every run; frame timestamps derive from the frame index, never
  * from the wall clock.
  */
final class FrameGen(seed: Long) {
  private val rng = new SplittableRandom(seed)
  private var index = 0L
  val truth = new Truth

  private val Companies = 40
  private val BaseEpochSec = 1704153600L // 2024-01-02 00:00:00 UTC
  private val tsFormat = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss").withZone(java.time.ZoneOffset.UTC)

  private def company(): String = f"C${rng.nextInt(Companies)}%03d"
  private def ts(): String = tsFormat.format(java.time.Instant.ofEpochSecond(BaseEpochSec + index))
  private def price(): String = {
    val cents = 5000 + rng.nextInt(500000)
    s"${cents / 100}.${"%02d".format(cents % 100)}"
  }
  private def qty(): Long = 1L + rng.nextInt(5000)

  /** one frame as an ordered field list (values already JSON-encoded) */
  private def fields(table: String): Seq[(String, String)] = table match {
    case "candles" =>
      Seq("company_id" -> q(company()), "timestamp" -> q(ts()), "open" -> price(),
        "high" -> price(), "low" -> price(), "close" -> price(), "volume" -> qty().toString)
    case "trades" =>
      Seq("company_id" -> q(company()), "timestamp" -> q(ts()), "price" -> price(),
        "volume" -> qty().toString, "side" -> q(if (rng.nextBoolean()) "buy" else "sell"))
    case "order_book" =>
      Seq("company_id" -> q(company()), "timestamp" -> q(ts()), "bid_price" -> price(),
        "bid_volume" -> qty().toString, "ask_price" -> price(), "ask_volume" -> qty().toString)
    case "companies" =>
      val c = company()
      Seq("company_id" -> q(c), "name" -> q(s"Company $c"), "ticker" -> q(s"T$c"),
        "sector" -> q(Seq("tech", "energy", "retail", "finance")(rng.nextInt(4))))
  }

  private def q(s: String): String = "\"" + s + "\""
  private def render(fs: Seq[(String, String)]): String =
    fs.map { case (k, v) => q(k) + ":" + v }.mkString("{", ",", "}")

  /** a required field whose absence keeps the frame on its route: never the
    * field the consumer routes on
    */
  private val droppable = Map(
    "candles" -> Seq("company_id", "close", "volume"),
    "trades" -> Seq("company_id", "price", "volume"),
    "order_book" -> Seq("company_id", "ask_price", "ask_volume"),
    "companies" -> Seq("ticker", "sector"))

  private val timestamped = Seq("candles", "trades", "order_book")

  def next(): String = {
    val roll = rng.nextInt(1000)
    val frame =
      if (roll < 300) { truth.keep("candles"); render(fields("candles")) }
      else if (roll < 650) { truth.keep("trades"); render(fields("trades")) }
      else if (roll < 850) { truth.keep("order_book"); render(fields("order_book")) }
      else if (roll < 900) { truth.keep("companies"); render(fields("companies")) }
      else if (roll < 925) {
        truth.drop("unknown", "unknown_type")
        // broken at the first field, so no parser can salvage a routing field
        render(fields("trades")).replaceFirst(":", " ")
      } else if (roll < 950) {
        truth.drop("unknown", "unknown_type")
        render(Seq("company_id" -> q(company()), "timestamp" -> q(ts()),
          "heartbeat" -> rng.nextInt(100).toString))
      } else if (roll < 975) {
        val t = (timestamped :+ "companies")(rng.nextInt(4))
        val gone = droppable(t)(rng.nextInt(droppable(t).size))
        truth.drop(t, "missing_required")
        render(fields(t).filterNot(_._1 == gone))
      } else {
        val t = timestamped(rng.nextInt(3))
        truth.drop(t, "bad_timestamp")
        render(fields(t).map {
          case ("timestamp", _) => "timestamp" -> q("not-a-time")
          case kv => kv
        })
      }
    index += 1
    truth.frames += 1
    truth.bytes += frame.getBytes(java.nio.charset.StandardCharsets.UTF_8).length + 1
    frame
  }

  def take(n: Int): Array[String] = Array.fill(n)(next())
}
