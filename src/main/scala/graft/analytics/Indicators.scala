package graft.analytics

import graft.{Memo, Q, QueryPack, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Technical-indicator pack over the synthetic tick-trade stream — the
  * screening layer of the reference's invest-analytics domain (the candles
  * the reference ingests exist to FEED indicators like these; its declared
  * analyses at `from_parser_to_rabbitmq.py:228-240` stop at volatility /
  * predictability, this pack carries the standard chartist family).
  *
  * Everything reduces the fact ONCE to the per-(instrument, day) close
  * series in exact integer cents (the [[Analytics.candleResample]] trade
  * derivation at daily grain), then computes per-instrument on the
  * calendar-bounded series:
  *
  *  - OBV: signed cumulative volume — pure integer window sums.
  *  - Bollinger: the ±2σ band test done WITHOUT sqrt — compare
  *    (n·c − Σx)² against 4·(n·Σx² − (Σx)²), exact int64 both sides, so
  *    band verdicts replay with no float anywhere.
  *  - RSI (Cutler's SMA variant): gain/loss window sums → integer-ppm
  *    ratio. Chosen over Wilder's recursive smoothing precisely because it
  *    is all-integer (the recursive variant would need the fold-replay
  *    treatment MACD below gets).
  *  - MACD(12,26,9): three chained EMA folds in ONE compiled pass with
  *    [e12, e26, signal] state, bit-identical to DuckDB's `list_reduce`
  *    over 3-element lists (the CLAUDE.md sequential-fold rule at state
  *    width 3); outputs integerized floor-1e6.
  *
  * 100 TB shape: the only fact-scale work is the (instrument, day) partial
  * aggregate — one shuffle keyed by instrument×day, map-side combined.
  * Every window/fold after that runs on the instrument-count × calendar
  * domain (bounded), partitioned by instrument; per-key fold state is the
  * key's own series, the same bound any segment-scan engine needs.
  */
object Indicators extends QueryPack {

  /** Memoized-per-dir CACHED bar/close relations: thirteen indicator
    * queries all start from the same tick→(instrument, day) aggregate, so
    * the first query pays the fact scan and every later one reuses the
    * ~instrument×calendar-sized cached relation — the in-session analogue
    * of the materialized bar table a production deployment keeps (the
    * `ordersVersioned` memoization discipline). Both are tiny [[Memo]]
    * entries: re-cached after a `clearCache()`, dropped by `releaseAll`.
    */
  private val closesCache = Memo.base()
  private val barsCache = Memo.base()

  /** trades → per-(company, day) close (cents, max_by total order) + volume */
  private def dailyCloses(s: SparkSession, dir: String): DataFrame =
    closesCache(dir)(_ => buildDailyCloses(s, dir))

  private def buildDailyCloses(s: SparkSession, dir: String): DataFrame = {
    // loadSpread, not load: the per-row projection (timestampadd +
    // date_format string + struct max_by partials) dominates the one-row-
    // group single-task scan — measured 4.3 s plain vs 2.2 s spread at
    // sf0.1 (the CLAUDE.md loadSpread rule's per-row-expensive case; the
    // narrow exchange is ~20 MB)
    val li = Tables.loadSpread(s, dir, "lineitem")
    li.select(
        concat(lit("FIGI"), col("l_partkey") % 20).as("company_id"),
        expr("timestampadd(SECOND, CAST(l_orderkey % 86400 AS INT), l_shipdate)").as("ts"),
        (col("l_extendedprice").cast("decimal(12,2)") * 100).cast("long").as("cents"),
        col("l_quantity").cast("long").as("volume"),
        (col("l_orderkey") * 10 + col("l_linenumber")).as("eid"))
      .groupBy(col("company_id"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(
        // cents joins the pick order: the testdata carries DUPLICATE
        // (orderkey, linenumber) pairs at sf0.1, so (ts, eid) alone ties
        // with different prices and the close pick is ambiguous across
        // engines — found by the deep gate, invisible at sf0.01
        max_by(col("cents"), struct(col("ts"), col("eid"), col("cents"))).as("close_c"),
        sum(col("volume")).as("vol"))
  }

  /** shared oracle CTE chain: tick derivation → daily closes */
  private val closesCtes =
    """t AS (
      |  SELECT 'FIGI' || (l_partkey % 20) AS company_id,
      |         l_shipdate + (l_orderkey % 86400) * INTERVAL 1 SECOND AS tsv,
      |         CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
      |         CAST(l_quantity AS BIGINT) AS volume,
      |         l_orderkey * 10 + l_linenumber AS eid
      |  FROM lineitem),
      |dd AS (
      |  SELECT company_id, strftime(tsv, '%Y-%m-%d') AS day, cents, volume,
      |         row_number() OVER (PARTITION BY company_id, strftime(tsv, '%Y-%m-%d')
      |                            ORDER BY tsv DESC, eid DESC, cents DESC) AS rn_d
      |  FROM t),
      |closes AS (
      |  SELECT company_id, day,
      |         CAST(max(CASE WHEN rn_d = 1 THEN cents END) AS BIGINT) AS close_c,
      |         CAST(sum(volume) AS BIGINT) AS vol
      |  FROM dd GROUP BY 1, 2)""".stripMargin

  // -------------------------------------------------------------------------
  // OBV — on-balance volume
  // -------------------------------------------------------------------------

  /** Per-instrument OBV profile: volume flows signed by the close-to-close
    * direction, accumulated over the series; emitted as the final OBV plus
    * its running extremes (the divergence readout: price up + OBV down =
    * distribution). All integer, two window passes (lag, cumsum) on the
    * instrument-partitioned daily series.
    */
  def obv(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("company_id")).orderBy(col("day"))
    val cum = Window.partitionBy(col("company_id")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dailyCloses(s, dir)
      .withColumn("prev_c", lag(col("close_c"), 1).over(w))
      .withColumn("signed_vol",
        when(col("prev_c").isNull, 0L)
          .when(col("close_c") > col("prev_c"), col("vol"))
          .when(col("close_c") < col("prev_c"), -col("vol"))
          .otherwise(0L))
      .withColumn("obv", sum(col("signed_vol")).over(cum))
      .groupBy(col("company_id"))
      .agg(
        count(lit(1)).as("n_days"),
        max_by(col("obv"), col("day")).as("obv_final"),
        min(col("obv")).as("obv_min"),
        max(col("obv")).as("obv_max"))
      .orderBy(col("company_id"))
  }

  private val obvSql =
    s"""WITH $closesCtes,
      |sv AS (
      |  SELECT company_id, day, vol,
      |         lag(close_c) OVER (PARTITION BY company_id ORDER BY day) AS prev_c,
      |         close_c
      |  FROM closes),
      |ob AS (
      |  SELECT company_id, day,
      |         CAST(sum(CASE WHEN prev_c IS NULL THEN 0
      |                       WHEN close_c > prev_c THEN vol
      |                       WHEN close_c < prev_c THEN -vol ELSE 0 END)
      |              OVER (PARTITION BY company_id ORDER BY day
      |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |              AS BIGINT) AS obv
      |  FROM sv)
      |SELECT company_id, CAST(count(*) AS BIGINT) AS n_days,
      |       CAST(max(CASE WHEN rn = 1 THEN obv END) AS BIGINT) AS obv_final,
      |       CAST(min(obv) AS BIGINT) AS obv_min,
      |       CAST(max(obv) AS BIGINT) AS obv_max
      |FROM (SELECT *, row_number() OVER (PARTITION BY company_id ORDER BY day DESC) AS rn
      |      FROM ob)
      |GROUP BY company_id
      |ORDER BY company_id""".stripMargin

  // -------------------------------------------------------------------------
  // Bollinger bands — sqrt-free integer band verdicts
  // -------------------------------------------------------------------------

  /** band window length (trading days) */
  val BollW = 20

  /** Per-instrument Bollinger accounting over full [[BollW]]-day windows:
    * how often the close breaks the ±2σ band, plus the widest band seen.
    * The break test `|c − x̄| > 2σ` is evaluated in EXACT int64 as
    * `(n·c − Σx)² > 4·(n·Σx² − (Σx)²)` (multiply through by n² — no sqrt,
    * no division, no float), so the verdict can never straddle an ulp.
    * Operand bound: cents ≤ 1e7, n = 20 → dev ≤ 2e8, dev² ≤ 4e16 « 2^63.
    */
  def bollinger(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("company_id")).orderBy(col("day"))
      .rowsBetween(-(BollW - 1), Window.currentRow)
    dailyCloses(s, dir)
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("sx", sum(col("close_c")).over(w))
      .withColumn("sx2", sum(col("close_c") * col("close_c")).over(w))
      .where(col("n") === BollW)
      .select(col("company_id"),
        (col("n") * col("close_c") - col("sx")).as("dev_n"),
        (col("n") * col("sx2") - col("sx") * col("sx")).as("var_n2"))
      .groupBy(col("company_id"))
      .agg(
        count(lit(1)).as("n_windows"),
        sum(when(col("dev_n") > 0 && col("dev_n") * col("dev_n") > lit(4L) * col("var_n2"), 1L)
          .otherwise(0L)).as("n_above"),
        sum(when(col("dev_n") < 0 && col("dev_n") * col("dev_n") > lit(4L) * col("var_n2"), 1L)
          .otherwise(0L)).as("n_below"),
        max(col("var_n2")).as("max_var_n2"))
      .orderBy(col("company_id"))
  }

  private val bollingerSql =
    s"""WITH $closesCtes,
      |wd AS (
      |  SELECT company_id,
      |         CAST(count(*) OVER w AS BIGINT) AS n,
      |         CAST(sum(close_c) OVER w AS BIGINT) AS sx,
      |         CAST(sum(close_c * close_c) OVER w AS BIGINT) AS sx2,
      |         close_c
      |  FROM closes
      |  WINDOW w AS (PARTITION BY company_id ORDER BY day
      |               ROWS BETWEEN ${BollW - 1} PRECEDING AND CURRENT ROW)),
      |f AS (
      |  SELECT company_id, n * close_c - sx AS dev_n,
      |         n * sx2 - sx * sx AS var_n2
      |  FROM wd WHERE n = $BollW)
      |SELECT company_id, CAST(count(*) AS BIGINT) AS n_windows,
      |       CAST(sum(CASE WHEN dev_n > 0 AND dev_n * dev_n > 4 * var_n2
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_above,
      |       CAST(sum(CASE WHEN dev_n < 0 AND dev_n * dev_n > 4 * var_n2
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_below,
      |       CAST(max(var_n2) AS BIGINT) AS max_var_n2
      |FROM f GROUP BY company_id
      |ORDER BY company_id""".stripMargin

  // -------------------------------------------------------------------------
  // RSI — Cutler's (SMA) variant, all-integer ppm
  // -------------------------------------------------------------------------

  /** RSI lookback (trading days of gain/loss history) */
  val RsiW = 14

  /** overbought / oversold cuts in ppm (the chartist 70/30) */
  val RsiHi = 700000L
  val RsiLo = 300000L

  /** Per-instrument RSI regime accounting over full [[RsiW]]-gap windows:
    * RSI = 1e6·Σgain div (Σgain + Σloss) on integer cent moves (Cutler's
    * simple-average form — exactly replayable where Wilder's recursive
    * smoothing would need a fold), with overbought (≥ [[RsiHi]]) /
    * oversold (≤ [[RsiLo]]) day counts and the latest window's value.
    * Flat windows (Σgain + Σloss = 0) emit NULL and count in neither tail.
    */
  def rsi(s: SparkSession, dir: String): DataFrame = {
    val lw = Window.partitionBy(col("company_id")).orderBy(col("day"))
    val w = Window.partitionBy(col("company_id")).orderBy(col("day"))
      .rowsBetween(-(RsiW - 1), Window.currentRow)
    dailyCloses(s, dir)
      .withColumn("diff", col("close_c") - lag(col("close_c"), 1).over(lw))
      .where(col("diff").isNotNull)
      .withColumn("gain", when(col("diff") > 0, col("diff")).otherwise(0L))
      .withColumn("loss", when(col("diff") < 0, -col("diff")).otherwise(0L))
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("sg", sum(col("gain")).over(w))
      .withColumn("sl", sum(col("loss")).over(w))
      .where(col("n") === RsiW)
      .withColumn("rsi_ppm",
        when(col("sg") + col("sl") > 0,
          expr("sg * 1000000 div (sg + sl)")))
      .groupBy(col("company_id"))
      .agg(
        count(lit(1)).as("n_windows"),
        sum(when(col("rsi_ppm") >= RsiHi, 1L).otherwise(0L)).as("n_overbought"),
        sum(when(col("rsi_ppm") <= RsiLo, 1L).otherwise(0L)).as("n_oversold"),
        max_by(col("rsi_ppm"), col("day")).as("last_rsi_ppm"))
      .orderBy(col("company_id"))
  }

  private val rsiSql =
    s"""WITH $closesCtes,
      |df AS (
      |  SELECT company_id, day,
      |         close_c - lag(close_c) OVER (PARTITION BY company_id ORDER BY day) AS diff
      |  FROM closes),
      |gl AS (
      |  SELECT company_id, day,
      |         CASE WHEN diff > 0 THEN diff ELSE 0 END AS gain,
      |         CASE WHEN diff < 0 THEN -diff ELSE 0 END AS loss
      |  FROM df WHERE diff IS NOT NULL),
      |wd AS (
      |  SELECT company_id, day,
      |         CAST(count(*) OVER w AS BIGINT) AS n,
      |         CAST(sum(gain) OVER w AS BIGINT) AS sg,
      |         CAST(sum(loss) OVER w AS BIGINT) AS sl
      |  FROM gl
      |  WINDOW w AS (PARTITION BY company_id ORDER BY day
      |               ROWS BETWEEN ${RsiW - 1} PRECEDING AND CURRENT ROW)),
      |r AS (
      |  SELECT company_id, day,
      |         CASE WHEN sg + sl > 0 THEN sg * 1000000 // (sg + sl) END AS rsi_ppm
      |  FROM wd WHERE n = $RsiW)
      |SELECT company_id, CAST(count(*) AS BIGINT) AS n_windows,
      |       CAST(sum(CASE WHEN rsi_ppm >= $RsiHi THEN 1 ELSE 0 END) AS BIGINT) AS n_overbought,
      |       CAST(sum(CASE WHEN rsi_ppm <= $RsiLo THEN 1 ELSE 0 END) AS BIGINT) AS n_oversold,
      |       CAST(max(CASE WHEN rn = 1 THEN rsi_ppm END) AS BIGINT) AS last_rsi_ppm
      |FROM (SELECT *, row_number() OVER (PARTITION BY company_id ORDER BY day DESC) AS rn
      |      FROM r)
      |GROUP BY company_id
      |ORDER BY company_id""".stripMargin

  // -------------------------------------------------------------------------
  // MACD(12, 26, 9) — three chained EMA folds, one pass, bit-exact replay
  // -------------------------------------------------------------------------

  /** One left-to-right pass with [e12, e26, signal] state: both EMAs seed
    * at the first close, the signal EMA seeds at the first MACD (= 0).
    * Operation order matches the oracle's `list_reduce` over 3-element
    * lists exactly — α·x + (1−α)·e with α spelled as the SAME int/int
    * division both engines evaluate as one correctly-rounded double op —
    * so the smoothed doubles are bit-identical (the [[ema]]/Holt rule at
    * state width 3; the signal step reads the ROUND-UPDATED e12/e26).
    */
  private val macdFold = udf { (vs: Seq[Double]) =>
    if (vs.isEmpty) Array(Double.NaN, Double.NaN)
    else {
      var e12 = vs.head; var e26 = vs.head; var sig = 0.0
      vs.tail.foreach { c =>
        e12 = 2.0 / 13 * c + (1 - 2.0 / 13) * e12
        e26 = 2.0 / 27 * c + (1 - 2.0 / 27) * e26
        sig = 2.0 / 10 * (e12 - e26) + (1 - 2.0 / 10) * sig
      }
      Array(e12 - e26, sig)
    }
  }

  /** Per-instrument MACD snapshot at the end of the series: the MACD line
    * (EMA12 − EMA26 of the close), its 9-day signal EMA, and the histogram
    * (their difference), floor-1e6-integerized from bit-identical folds.
    * The fold runs as a compiled per-key pass over the key's own sorted
    * series (collect → array_sort → fold — the [[Analytics.ema]] shape).
    */
  def macd(s: SparkSession, dir: String): DataFrame = {
    dailyCloses(s, dir)
      .groupBy(col("company_id"))
      .agg(
        count(lit(1)).as("n_days"),
        macdFold(expr(
          "transform(array_sort(collect_list(struct(day, close_c))), r -> CAST(r.close_c AS DOUBLE))"))
          .as("st"))
      .select(col("company_id"), col("n_days"),
        expr("CAST(floor(st[0] * 1000000) AS BIGINT)").as("macd_e6"),
        expr("CAST(floor(st[1] * 1000000) AS BIGINT)").as("signal_e6"),
        expr("CAST(floor((st[0] - st[1]) * 1000000) AS BIGINT)").as("hist_e6"))
      .orderBy(col("company_id"))
  }

  private val macdSql =
    s"""WITH $closesCtes,
      |folded AS (
      |  SELECT company_id, CAST(count(*) AS BIGINT) AS n_days,
      |         list_reduce(
      |           list([CAST(close_c AS DOUBLE), CAST(close_c AS DOUBLE), 0] ORDER BY day),
      |           (a, x) -> [2 / 13 * x[1] + (1 - 2 / 13) * a[1],
      |                      2 / 27 * x[1] + (1 - 2 / 27) * a[2],
      |                      2 / 10 * ((2 / 13 * x[1] + (1 - 2 / 13) * a[1])
      |                                - (2 / 27 * x[1] + (1 - 2 / 27) * a[2]))
      |                        + (1 - 2 / 10) * a[3]]) AS st
      |  FROM closes GROUP BY company_id)
      |SELECT company_id, n_days,
      |       CAST(floor((st[1] - st[2]) * 1000000) AS BIGINT) AS macd_e6,
      |       CAST(floor(st[3] * 1000000) AS BIGINT) AS signal_e6,
      |       CAST(floor((st[1] - st[2] - st[3]) * 1000000) AS BIGINT) AS hist_e6
      |FROM folded
      |ORDER BY company_id""".stripMargin

  // -------------------------------------------------------------------------
  // ATR — average true range over daily H/L/C bars
  // -------------------------------------------------------------------------

  /** trades → per-(company, day) high/low/close bars in exact cents
    * (memoized + cached per dir like [[dailyCloses]])
    */
  private def dailyBars(s: SparkSession, dir: String): DataFrame =
    barsCache(dir)(_ => buildDailyBars(s, dir))

  private def buildDailyBars(s: SparkSession, dir: String): DataFrame = {
    // loadSpread: same per-row-expensive projection as [[buildDailyCloses]]
    val li = Tables.loadSpread(s, dir, "lineitem")
    li.select(
        concat(lit("FIGI"), col("l_partkey") % 20).as("company_id"),
        expr("timestampadd(SECOND, CAST(l_orderkey % 86400 AS INT), l_shipdate)").as("ts"),
        (col("l_extendedprice").cast("decimal(12,2)") * 100).cast("long").as("cents"),
        (col("l_orderkey") * 10 + col("l_linenumber")).as("eid"))
      .groupBy(col("company_id"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(
        max(col("cents")).as("high_c"),
        min(col("cents")).as("low_c"),
        // same duplicate-(orderkey, linenumber) tie-break as [[dailyCloses]];
        // the open picks the EARLIEST tick under the same full order
        min_by(col("cents"), struct(col("ts"), col("eid"), col("cents"))).as("open_c"),
        max_by(col("cents"), struct(col("ts"), col("eid"), col("cents"))).as("close_c"))
  }

  private val barsCtes =
    """t AS (
      |  SELECT 'FIGI' || (l_partkey % 20) AS company_id,
      |         l_shipdate + (l_orderkey % 86400) * INTERVAL 1 SECOND AS tsv,
      |         CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
      |         l_orderkey * 10 + l_linenumber AS eid
      |  FROM lineitem),
      |dd AS (
      |  SELECT company_id, strftime(tsv, '%Y-%m-%d') AS day, cents,
      |         row_number() OVER (PARTITION BY company_id, strftime(tsv, '%Y-%m-%d')
      |                            ORDER BY tsv DESC, eid DESC, cents DESC) AS rn_d,
      |         row_number() OVER (PARTITION BY company_id, strftime(tsv, '%Y-%m-%d')
      |                            ORDER BY tsv ASC, eid ASC, cents ASC) AS rn_o
      |  FROM t),
      |bars AS (
      |  SELECT company_id, day,
      |         CAST(max(cents) AS BIGINT) AS high_c,
      |         CAST(min(cents) AS BIGINT) AS low_c,
      |         CAST(max(CASE WHEN rn_o = 1 THEN cents END) AS BIGINT) AS open_c,
      |         CAST(max(CASE WHEN rn_d = 1 THEN cents END) AS BIGINT) AS close_c
      |  FROM dd GROUP BY 1, 2)""".stripMargin

  /** Per-instrument ATR profile over full [[RsiW]]-day windows: the true
    * range `max(H−L, |H−Cprev|, |L−Cprev|)` is exact integer cents, and
    * Cutler-style SMA smoothing keeps the average integer too (floor
    * division by the window length — same every engine). Emits window
    * count, the latest ATR, and the single widest true range (the
    * stop-loss sizing readout).
    */
  def atr(s: SparkSession, dir: String): DataFrame = {
    val lw = Window.partitionBy(col("company_id")).orderBy(col("day"))
    val w = Window.partitionBy(col("company_id")).orderBy(col("day"))
      .rowsBetween(-(RsiW - 1), Window.currentRow)
    dailyBars(s, dir)
      .withColumn("prev_c", lag(col("close_c"), 1).over(lw))
      .where(col("prev_c").isNotNull)
      .withColumn("tr", greatest(
        col("high_c") - col("low_c"),
        abs(col("high_c") - col("prev_c")),
        abs(col("low_c") - col("prev_c"))))
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("str", sum(col("tr")).over(w))
      .where(col("n") === RsiW)
      .withColumn("atr_c", expr(s"str div $RsiW"))
      .groupBy(col("company_id"))
      .agg(
        count(lit(1)).as("n_windows"),
        max_by(col("atr_c"), col("day")).as("last_atr_c"),
        max(col("tr")).as("max_tr_c"))
      .orderBy(col("company_id"))
  }

  private val atrSql =
    s"""WITH $barsCtes,
      |tr AS (
      |  SELECT company_id, day,
      |         greatest(high_c - low_c, abs(high_c - prev_c), abs(low_c - prev_c)) AS tr
      |  FROM (SELECT *, lag(close_c) OVER (PARTITION BY company_id ORDER BY day) AS prev_c
      |        FROM bars)
      |  WHERE prev_c IS NOT NULL),
      |wd AS (
      |  SELECT company_id, day, tr,
      |         CAST(count(*) OVER w AS BIGINT) AS n,
      |         CAST(sum(tr) OVER w AS BIGINT) AS str
      |  FROM tr
      |  WINDOW w AS (PARTITION BY company_id ORDER BY day
      |               ROWS BETWEEN ${RsiW - 1} PRECEDING AND CURRENT ROW)),
      |a AS (SELECT company_id, day, tr, str // $RsiW AS atr_c FROM wd WHERE n = $RsiW)
      |SELECT company_id, CAST(count(*) AS BIGINT) AS n_windows,
      |       CAST(max(CASE WHEN rn = 1 THEN atr_c END) AS BIGINT) AS last_atr_c,
      |       CAST(max(tr) AS BIGINT) AS max_tr_c
      |FROM (SELECT *, row_number() OVER (PARTITION BY company_id ORDER BY day DESC) AS rn
      |      FROM a)
      |GROUP BY company_id
      |ORDER BY company_id""".stripMargin

  // -------------------------------------------------------------------------
  // Stochastic oscillator — %K / %D in integer ppm
  // -------------------------------------------------------------------------

  /** stochastic regime cuts in ppm (the chartist 80/20) */
  val StochHi = 800000L
  val StochLo = 200000L

  /** Per-instrument stochastic-oscillator accounting: %K = position of the
    * close inside the [[RsiW]]-day high-low range as integer ppm, %D = the
    * 3-day SMA of %K (an integer floor-mean of integer ppms; NULL %K days
    * — flat ranges — are skipped by sum identically in both engines).
    * Emits overbought/oversold day counts and the latest pair — the
    * momentum-reversal readout RSI's gain/loss ratio smooths away.
    */
  def stochastic(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("company_id")).orderBy(col("day"))
      .rowsBetween(-(RsiW - 1), Window.currentRow)
    val d3 = Window.partitionBy(col("company_id")).orderBy(col("day"))
      .rowsBetween(-2, Window.currentRow)
    dailyBars(s, dir)
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("hh", max(col("high_c")).over(w))
      .withColumn("ll", min(col("low_c")).over(w))
      .where(col("n") === RsiW)
      .withColumn("k_ppm",
        when(col("hh") > col("ll"),
          expr("(close_c - ll) * 1000000 div (hh - ll)")))
      .withColumn("nk", count(lit(1)).over(d3))
      .withColumn("ksum", sum(col("k_ppm")).over(d3))
      .withColumn("d_ppm", when(col("nk") === 3, expr("ksum div 3")))
      .groupBy(col("company_id"))
      .agg(
        count(lit(1)).as("n_windows"),
        sum(when(col("k_ppm") >= StochHi, 1L).otherwise(0L)).as("n_overbought"),
        sum(when(col("k_ppm") <= StochLo, 1L).otherwise(0L)).as("n_oversold"),
        max_by(col("k_ppm"), col("day")).as("last_k_ppm"),
        max_by(col("d_ppm"), col("day")).as("last_d_ppm"))
      .orderBy(col("company_id"))
  }

  private val stochasticSql =
    s"""WITH $barsCtes,
      |wd AS (
      |  SELECT company_id, day, close_c,
      |         CAST(count(*) OVER w AS BIGINT) AS n,
      |         CAST(max(high_c) OVER w AS BIGINT) AS hh,
      |         CAST(min(low_c) OVER w AS BIGINT) AS ll
      |  FROM bars
      |  WINDOW w AS (PARTITION BY company_id ORDER BY day
      |               ROWS BETWEEN ${RsiW - 1} PRECEDING AND CURRENT ROW)),
      |k AS (
      |  SELECT company_id, day,
      |         CASE WHEN hh > ll THEN (close_c - ll) * 1000000 // (hh - ll) END AS k_ppm
      |  FROM wd WHERE n = $RsiW),
      |kd AS (
      |  SELECT company_id, day, k_ppm,
      |         CASE WHEN CAST(count(*) OVER d AS BIGINT) = 3
      |              THEN CAST(sum(k_ppm) OVER d AS BIGINT) // 3 END AS d_ppm
      |  FROM k
      |  WINDOW d AS (PARTITION BY company_id ORDER BY day
      |               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW))
      |SELECT company_id, CAST(count(*) AS BIGINT) AS n_windows,
      |       CAST(sum(CASE WHEN k_ppm >= $StochHi THEN 1 ELSE 0 END) AS BIGINT) AS n_overbought,
      |       CAST(sum(CASE WHEN k_ppm <= $StochLo THEN 1 ELSE 0 END) AS BIGINT) AS n_oversold,
      |       CAST(max(CASE WHEN rn = 1 THEN k_ppm END) AS BIGINT) AS last_k_ppm,
      |       CAST(max(CASE WHEN rn = 1 THEN d_ppm END) AS BIGINT) AS last_d_ppm
      |FROM (SELECT *, row_number() OVER (PARTITION BY company_id ORDER BY day DESC) AS rn
      |      FROM kd)
      |GROUP BY company_id
      |ORDER BY company_id""".stripMargin

  // -------------------------------------------------------------------------
  // Beta vs the equal-weight market — integer sufficient statistics
  // -------------------------------------------------------------------------

  /** return clamp in basis points (±1000% per day): keeps every beta
    * sufficient statistic inside int64 at ANY series length and makes the
    * estimator outlier-robust — a winsorized beta, documented as such
    */
  val BetaClampBp = 100000L

  /** Per-instrument beta against the equal-weight market portfolio:
    * day-over-day returns in integer basis points — `floor(Δc·1e4 / prev)`
    * in BOTH engines (floor, never `div`: the numerator goes negative, and
    * Spark `div` truncates where DuckDB `//` floors), clamped to
    * ±[[BetaClampBp]]; the market return is the floor-MEAN bp over the
    * instruments trading that day; then
    * `beta = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)` with every sufficient
    * statistic an EXACT int64 (clamped bp keep n·Σxy « 2^63 at any
    * calendar length) and the final slope one `floor(num/den·1e6)` double
    * sequence — int64→double is IEEE round-to-nearest in both engines, so
    * the quotient replays. The systematic-risk readout of the CAPM
    * decomposition.
    *
    * 100 TB shape: fact → (instrument, day) closes immediately; returns
    * and the market relation are calendar-bounded; the market join is a
    * broadcast. Nothing after the first aggregate scales with rows.
    */
  /** clamped floor-bp day-over-day returns (shared by beta/Sharpe/event
    * study): floor (never `div` — the numerator goes negative), ±clamp
    */
  private def bpReturns(s: SparkSession, dir: String): DataFrame = {
    val lw = Window.partitionBy(col("company_id")).orderBy(col("day"))
    dailyCloses(s, dir)
      .withColumn("prev_c", lag(col("close_c"), 1).over(lw))
      .where(col("prev_c").isNotNull && col("prev_c") > 0)
      .select(col("company_id"), col("day"),
        expr(s"""least(greatest(
               |  CAST(floor(CAST((close_c - prev_c) * 10000 AS DOUBLE) / prev_c) AS BIGINT),
               |  ${-BetaClampBp}L), ${BetaClampBp}L)""".stripMargin).as("r_bp"))
  }

  /** equal-weight market: per-day floor-mean bp over trading instruments */
  private def marketMean(rets: DataFrame): DataFrame =
    rets.groupBy(col("day"))
      .agg(expr("CAST(floor(CAST(sum(r_bp) AS DOUBLE) / count(*)) AS BIGINT)").as("m_bp"))

  /** per-instrument CAPM slope from exact int64 sufficient statistics */
  private def betaStats(rets: DataFrame, mkt: DataFrame): DataFrame =
    rets.join(broadcast(mkt), "day")
      .groupBy(col("company_id"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("m_bp")).as("sx"),
        sum(col("r_bp")).as("sy"),
        sum(col("m_bp") * col("m_bp")).as("sxx"),
        sum(col("m_bp") * col("r_bp")).as("sxy"))
      .select(col("company_id"), col("n"),
        expr("""CASE WHEN n * sxx - sx * sx > 0 THEN
               |  CAST(floor(CAST(n * sxy - sx * sy AS DOUBLE)
               |             / CAST(n * sxx - sx * sx AS DOUBLE) * 1000000) AS BIGINT)
               |END""".stripMargin).as("beta_e6"))

  def beta(s: SparkSession, dir: String): DataFrame = {
    val rets = bpReturns(s, dir)
    betaStats(rets, marketMean(rets)).orderBy(col("company_id"))
  }

  /** shared oracle CTE chain: closes → clamped bp returns → market mean →
    * beta sufficient stats — composed verbatim by [[betaSql]] and
    * [[eventStudySql]] (the shared-constant oracle discipline)
    */
  private val retsCtes =
    s"""$closesCtes,
      |rets AS (
      |  SELECT company_id, day,
      |         least(greatest(
      |           CAST(floor(CAST((close_c - prev_c) * 10000 AS DOUBLE) / prev_c) AS BIGINT),
      |           -$BetaClampBp), $BetaClampBp) AS r_bp
      |  FROM (SELECT *, lag(close_c) OVER (PARTITION BY company_id ORDER BY day) AS prev_c
      |        FROM closes)
      |  WHERE prev_c IS NOT NULL AND prev_c > 0),
      |mkt AS (
      |  SELECT day, CAST(floor(CAST(sum(r_bp) AS DOUBLE) / count(*)) AS BIGINT) AS m_bp
      |  FROM rets GROUP BY day),
      |bst AS (
      |  SELECT company_id, CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(m_bp) AS BIGINT) AS sx,
      |         CAST(sum(r_bp) AS BIGINT) AS sy,
      |         CAST(sum(m_bp * m_bp) AS BIGINT) AS sxx,
      |         CAST(sum(m_bp * r_bp) AS BIGINT) AS sxy
      |  FROM rets JOIN mkt USING (day) GROUP BY company_id),
      |betas AS (
      |  SELECT company_id, n,
      |         CASE WHEN n * sxx - sx * sx > 0 THEN
      |           CAST(floor(CAST(n * sxy - sx * sy AS DOUBLE)
      |                      / CAST(n * sxx - sx * sx AS DOUBLE) * 1000000) AS BIGINT)
      |         END AS beta_e6
      |  FROM bst)""".stripMargin

  private val betaSql =
    s"""WITH $retsCtes
      |SELECT company_id, n, beta_e6
      |FROM betas
      |ORDER BY company_id""".stripMargin

  // -------------------------------------------------------------------------
  // Sharpe ratio — risk-adjusted return, engine-exact sqrt discipline
  // -------------------------------------------------------------------------

  /** Per-instrument per-day Sharpe ratio on the clamped bp returns of
    * [[beta]]: mean/std collapses to `Σr / sqrt(n·Σr² − (Σr)²)` (the n's
    * cancel), which is exactly TWO correctly-rounded IEEE ops — one sqrt
    * of an exact int64 (int64→double is round-to-nearest in both engines,
    * IEEE sqrt is correctly rounded) and one division — then a ×1e6
    * multiply and floor, all in the same fixed sequence in both engines,
    * so even this ratio-of-moments hash-gates. Zero-variance series emit
    * NULL. (Per-day, not annualized: the √252 convention is a constant
    * factor readers can apply.)
    */
  def sharpe(s: SparkSession, dir: String): DataFrame = {
    bpReturns(s, dir)
      .groupBy(col("company_id"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("r_bp")).as("sr"),
        sum(col("r_bp") * col("r_bp")).as("srr"))
      .select(col("company_id"), col("n"), col("sr"),
        expr("""CASE WHEN n * srr - sr * sr > 0 THEN
               |  CAST(floor(CAST(sr AS DOUBLE)
               |             / sqrt(CAST(n * srr - sr * sr AS DOUBLE)) * 1000000) AS BIGINT)
               |END""".stripMargin).as("sharpe_e6"))
      .orderBy(col("company_id"))
  }

  private val sharpeSql =
    s"""WITH $closesCtes,
      |rets AS (
      |  SELECT company_id,
      |         least(greatest(
      |           CAST(floor(CAST((close_c - prev_c) * 10000 AS DOUBLE) / prev_c) AS BIGINT),
      |           -$BetaClampBp), $BetaClampBp) AS r_bp
      |  FROM (SELECT *, lag(close_c) OVER (PARTITION BY company_id ORDER BY day) AS prev_c
      |        FROM closes)
      |  WHERE prev_c IS NOT NULL AND prev_c > 0),
      |st AS (
      |  SELECT company_id, CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(r_bp) AS BIGINT) AS sr,
      |         CAST(sum(r_bp * r_bp) AS BIGINT) AS srr
      |  FROM rets GROUP BY company_id)
      |SELECT company_id, n, sr,
      |       CASE WHEN n * srr - sr * sr > 0 THEN
      |         CAST(floor(CAST(sr AS DOUBLE)
      |                    / sqrt(CAST(n * srr - sr * sr AS DOUBLE)) * 1000000) AS BIGINT)
      |       END AS sharpe_e6
      |FROM st
      |ORDER BY company_id""".stripMargin

  // -------------------------------------------------------------------------
  // Event study — cumulative abnormal return around the volume spike
  // -------------------------------------------------------------------------

  /** event-window half-width (trading-day index positions, not calendar) */
  val EventHalfW = 5L

  /** Market-model event study (MacKinlay's CAR methodology on the exact
    * arithmetic stack): each instrument's EVENT is its maximum-volume day
    * (ties → earliest); the expected return under the market model is
    * `floor(beta_e6 · m_bp / 1e6)` (product ≤ 1e11 — exact in double; one
    * power-of-ten division; floor — all engine-exact), the abnormal return
    * is `r_bp − expected`, and the emitted CAR sums abnormal returns over
    * the ±[[EventHalfW]] trading-day index window. In-sample beta is used
    * deliberately (a frozen-dataset audit, not a forecast — same stance as
    * the decayed-trending aging rule). "Did the volume spike carry
    * information beyond market beta" is THE canonical event-study readout.
    *
    * 100 TB shape: everything after the closes aggregate runs on the
    * instrument×calendar relation; event picks are per-instrument argmax
    * (min_by on a total order), window membership is an integer index
    * band — no self-join, no calendar explosion.
    */
  def eventStudy(s: SparkSession, dir: String): DataFrame = {
    val rets = bpReturns(s, dir)
    val mkt = marketMean(rets)
    val betas = betaStats(rets, mkt).where(col("beta_e6").isNotNull)
    val ord = Window.partitionBy(col("company_id")).orderBy(col("day"))
    val pos = rets.withColumn("pos", row_number().over(ord).cast("long"))
    val vol = dailyCloses(s, dir).select(col("company_id"), col("day"), col("vol"))
    val events = pos.join(vol, Seq("company_id", "day"))
      .groupBy(col("company_id"))
      .agg(min_by(struct(col("pos"), col("day")), struct(-col("vol"), col("day")))
        .as("ev"))
      .select(col("company_id"), col("ev.pos").as("ev_pos"), col("ev.day").as("event_day"))
    pos.join(broadcast(mkt), "day")
      .join(broadcast(betas.select(col("company_id"), col("beta_e6"))), "company_id")
      .join(broadcast(events), "company_id")
      .where(abs(col("pos") - col("ev_pos")) <= EventHalfW)
      .withColumn("ar_bp",
        col("r_bp") - expr("CAST(floor(CAST(beta_e6 * m_bp AS DOUBLE) / 1000000) AS BIGINT)"))
      .groupBy(col("company_id"), col("event_day"))
      .agg(
        count(lit(1)).as("n_window_days"),
        sum(col("ar_bp")).as("car_bp"),
        max(abs(col("ar_bp"))).as("max_abs_ar_bp"))
      .orderBy(col("company_id"))
  }

  private val eventStudySql =
    s"""WITH $retsCtes,
      |pos AS (
      |  SELECT company_id, day, r_bp,
      |         CAST(row_number() OVER (PARTITION BY company_id ORDER BY day) AS BIGINT) AS pos
      |  FROM rets),
      |ev AS (
      |  SELECT company_id,
      |         CAST(max(CASE WHEN rn = 1 THEN pos END) AS BIGINT) AS ev_pos,
      |         max(CASE WHEN rn = 1 THEN day END) AS event_day
      |  FROM (
      |    SELECT p.company_id, p.pos, p.day,
      |           row_number() OVER (PARTITION BY p.company_id
      |                              ORDER BY c.vol DESC, p.day) AS rn
      |    FROM pos p JOIN closes c ON c.company_id = p.company_id AND c.day = p.day)
      |  GROUP BY company_id),
      |win AS (
      |  SELECT p.company_id, e.event_day,
      |         p.r_bp - CAST(floor(CAST(b.beta_e6 * m.m_bp AS DOUBLE) / 1000000) AS BIGINT) AS ar_bp
      |  FROM pos p
      |  JOIN mkt m ON m.day = p.day
      |  JOIN betas b ON b.company_id = p.company_id AND b.beta_e6 IS NOT NULL
      |  JOIN ev e ON e.company_id = p.company_id
      |  WHERE abs(p.pos - e.ev_pos) <= $EventHalfW)
      |SELECT company_id, event_day,
      |       CAST(count(*) AS BIGINT) AS n_window_days,
      |       CAST(sum(ar_bp) AS BIGINT) AS car_bp,
      |       CAST(max(abs(ar_bp)) AS BIGINT) AS max_abs_ar_bp
      |FROM win GROUP BY company_id, event_day
      |ORDER BY company_id""".stripMargin

  // -------------------------------------------------------------------------
  // Pairs-trading monitor — correlation-ranked pair + spread band breaches
  // -------------------------------------------------------------------------

  /** Statistical-arbitrage screening: rank every instrument PAIR by
    * |return correlation| and audit the top pair's close-price spread for
    * ±2σ band breaches — the entry/exit signal of a pairs strategy.
    *
    * Correlation is integerized engine-exact: with num = n·Σxy − ΣxΣy and
    * d_i = n·Σx² − (Σx)², `corr_e6 = floor(num / (sqrt(dA)·sqrt(dB)) ·
    * 1e6)` is two correctly-rounded sqrts of exact int64, a multiply, a
    * divide, a ×1e6 and a floor — one fixed IEEE sequence in both engines
    * (sqrt(dA)·sqrt(dB), never sqrt(dA·dB): the PRODUCT overflows int64).
    * The winning pair (|corr| desc, then lexicographic pair) has its
    * spread  close_a − close_b  tested per day against the full-series
    * ±2σ band with the sqrt-free integer form (the Bollinger trick):
    * (n·s − Σs)² > 4·(n·Σs² − (Σs)²). Emits the chosen pair, its
    * correlation, and the breach accounting — all integer after the corr
    * pick.
    *
    * 100 TB shape: returns collapse to instrument×calendar immediately;
    * the pair relation is C(instruments, 2) × common days — bounded by
    * the universe, not the fact; at a large universe the pair join keys on
    * day and the ranking is one TakeOrdered. Spread audit touches only the
    * ONE chosen pair's series.
    */
  def pairsSpread(s: SparkSession, dir: String): DataFrame = {
    val rets = bpReturns(s, dir)
    val a = rets.select(col("company_id").as("ca"), col("day"), col("r_bp").as("ra"))
    val b = rets.select(col("company_id").as("cb"), col("day"), col("r_bp").as("rb"))
    val stats = a.join(b, Seq("day")).where(col("ca") < col("cb"))
      .groupBy(col("ca"), col("cb"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("ra")).as("sx"), sum(col("rb")).as("sy"),
        sum(col("ra") * col("ra")).as("sxx"),
        sum(col("rb") * col("rb")).as("syy"),
        sum(col("ra") * col("rb")).as("sxy"))
      .where(expr("n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0"))
      .select(col("ca"), col("cb"), col("n"),
        expr("""CAST(floor(CAST(n * sxy - sx * sy AS DOUBLE)
               |  / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
               |     * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) * 1000000) AS BIGINT)"""
          .stripMargin).as("corr_e6"))
    val top = stats
      .orderBy(abs(col("corr_e6")).desc, col("ca"), col("cb")).limit(1)
    val closes = dailyCloses(s, dir).select(col("company_id"), col("day"), col("close_c"))
    val spread = closes.select(col("company_id").as("ca"), col("day"),
        col("close_c").as("cla"))
      .join(closes.select(col("company_id").as("cb"), col("day"), col("close_c").as("clb")),
        Seq("day"))
      .join(broadcast(top), Seq("ca", "cb"))
      .select(col("ca"), col("cb"), col("n"), col("corr_e6"), col("day"),
        // spread in whole DOLLARS (negative-safe floor, never div): cents²
        // sums would blow n·Σsp² past 2^63 on a decade of trading days
        expr("CAST(floor(CAST(cla - clb AS DOUBLE) / 100) AS BIGINT)").as("sp"))
    spread.groupBy(col("ca"), col("cb"), col("n"), col("corr_e6"))
      .agg(
        count(lit(1)).as("n_spread_days"),
        sum(col("sp")).as("ssp"),
        sum(col("sp") * col("sp")).as("ssp2"))
      .crossJoin(broadcast(spread.select(col("day"), col("sp"))))
      .select(col("ca"), col("cb"), col("n"), col("corr_e6"),
        col("n_spread_days"),
        (col("n_spread_days") * col("sp") - col("ssp")).as("dev_n"),
        (col("n_spread_days") * col("ssp2") - col("ssp") * col("ssp")).as("var_n2"))
      .groupBy(col("ca").as("company_a"), col("cb").as("company_b"),
        col("corr_e6"), col("n_spread_days"))
      .agg(
        sum(when(col("dev_n") * col("dev_n") > lit(4L) * col("var_n2"), 1L)
          .otherwise(0L)).as("n_breach_days"))
      .orderBy(col("company_a"))
  }

  private val pairsSpreadSql =
    s"""WITH $retsCtes,
      |pst AS (
      |  SELECT a.company_id AS ca, b.company_id AS cb,
      |         CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(a.r_bp) AS BIGINT) AS sx, CAST(sum(b.r_bp) AS BIGINT) AS sy,
      |         CAST(sum(a.r_bp * a.r_bp) AS BIGINT) AS sxx,
      |         CAST(sum(b.r_bp * b.r_bp) AS BIGINT) AS syy,
      |         CAST(sum(a.r_bp * b.r_bp) AS BIGINT) AS sxy
      |  FROM rets a JOIN rets b ON a.day = b.day AND a.company_id < b.company_id
      |  GROUP BY 1, 2),
      |corr AS (
      |  SELECT ca, cb, n,
      |         CAST(floor(CAST(n * sxy - sx * sy AS DOUBLE)
      |           / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
      |              * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) * 1000000) AS BIGINT) AS corr_e6
      |  FROM pst
      |  WHERE n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0),
      |top AS (SELECT * FROM corr ORDER BY abs(corr_e6) DESC, ca, cb LIMIT 1),
      |sp AS (
      |  SELECT t.ca, t.cb, t.n, t.corr_e6, x.day,
      |         CAST(floor(CAST(x.close_c - y.close_c AS DOUBLE) / 100) AS BIGINT) AS sp
      |  FROM top t
      |  JOIN closes x ON x.company_id = t.ca
      |  JOIN closes y ON y.company_id = t.cb AND y.day = x.day),
      |spagg AS (
      |  SELECT ca, cb, n, corr_e6,
      |         CAST(count(*) AS BIGINT) AS n_spread_days,
      |         CAST(sum(sp) AS BIGINT) AS ssp,
      |         CAST(sum(sp * sp) AS BIGINT) AS ssp2
      |  FROM sp GROUP BY 1, 2, 3, 4)
      |SELECT g.ca AS company_a, g.cb AS company_b, g.corr_e6, g.n_spread_days,
      |       CAST(sum(CASE WHEN (g.n_spread_days * s.sp - g.ssp)
      |                          * (g.n_spread_days * s.sp - g.ssp)
      |                        > 4 * (g.n_spread_days * g.ssp2 - g.ssp * g.ssp)
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_breach_days
      |FROM spagg g CROSS JOIN sp s
      |GROUP BY 1, 2, 3, 4
      |ORDER BY company_a""".stripMargin

  // -------------------------------------------------------------------------
  // Amihud illiquidity — price impact per unit volume
  // -------------------------------------------------------------------------

  /** Amihud (2002) illiquidity: the average of |daily return| per unit of
    * daily volume — the standard price-impact proxy when no order-book
    * depth is available. Per day `illq = |r_bp|·1e3 div vol` (integer:
    * clamped bp × 1e3 ≤ 1e8 — no overflow at any volume), per instrument
    * the floor-mean plus the worst day. Ranks instruments by how violently
    * price moves per traded unit — the liquidity screen a position-sizing
    * rule consumes beside [[atr]]'s volatility.
    *
    * 100 TB shape: bp returns and volumes are both per-(instrument, day)
    * aggregates of the one fact shuffle; everything after is
    * instrument×calendar-scale.
    */
  def amihud(s: SparkSession, dir: String): DataFrame = {
    val rets = bpReturns(s, dir)
    val vol = dailyCloses(s, dir).select(col("company_id"), col("day"), col("vol"))
    rets.join(vol, Seq("company_id", "day"))
      .where(col("vol") > 0)
      .withColumn("illq", expr("(abs(r_bp) * 1000) div vol"))
      .groupBy(col("company_id"))
      .agg(
        count(lit(1)).as("n_days"),
        sum(col("illq")).as("sum_illq"),
        max(col("illq")).as("max_illq"))
      .select(col("company_id"), col("n_days"),
        expr("sum_illq div n_days").as("mean_illq"),
        col("max_illq"))
      .orderBy(col("company_id"))
  }

  private val amihudSql =
    s"""WITH $retsCtes,
      |j AS (
      |  SELECT r.company_id, (abs(r.r_bp) * 1000) // c.vol AS illq
      |  FROM rets r JOIN closes c ON c.company_id = r.company_id AND c.day = r.day
      |  WHERE c.vol > 0)
      |SELECT company_id, CAST(count(*) AS BIGINT) AS n_days,
      |       CAST(sum(illq) AS BIGINT) // CAST(count(*) AS BIGINT) AS mean_illq,
      |       CAST(max(illq) AS BIGINT) AS max_illq
      |FROM j GROUP BY company_id
      |ORDER BY company_id""".stripMargin

  // -------------------------------------------------------------------------
  // TCA — execution slippage vs the VWAP benchmark
  // -------------------------------------------------------------------------

  /** Transaction-cost analysis against the per-(instrument, month) VWAP
    * benchmark — the execution-quality report a trading desk reviews: each
    * trade's deviation from VWAP in basis points, and how the book splits
    * above/below the benchmark. The whole chain is a FIXED correctly-
    * rounded double sequence: S = Σ(price·vol) and V = Σvol are exact
    * int64 partial aggregates; int64→double is IEEE round-to-nearest in
    * both engines EVEN past 2^53, so `vwap = S/V`, the above/below double
    * compare, and `dev_bp = floor((p/vwap − 1)·1e4)` all replay bit-exactly
    * with NO int64 cross-product anywhere (a `p·V − S` formulation would
    * overflow once monthly volume nears 1e12).
    *
    * 100 TB shape: ONE fact-scale aggregate builds (S, V) per group, then
    * a second pass re-joins the broadcast benchmark — the fact shuffles
    * once on its natural (instrument, month) key; everything emitted is
    * group-sized.
    */
  def tcaSlippage(s: SparkSession, dir: String): DataFrame = {
    // spread + ONE scan: the r13 shape evaluated the trade projection
    // (concat + timestampadd + date_format + decimal per row, single-task
    // on the one-row-group scan) TWICE — once to build the broadcast
    // benchmark, once as probe side. The group VWAP now rides in as two
    // window sums over the SAME key the final aggregate groups on, so the
    // whole query is one scan + one exchange (guide §2.4: window keyed
    // like the following aggregation needs no second shuffle); the sums
    // feeding vwap are identical longs, so every double is bit-identical.
    val li = Tables.loadSpread(s, dir, "lineitem")
    val trades = li.select(
      concat(lit("FIGI"), col("l_partkey") % 20).as("company_id"),
      date_format(expr("timestampadd(SECOND, CAST(l_orderkey % 86400 AS INT), l_shipdate)"),
        "yyyy-MM").as("month"),
      (col("l_extendedprice").cast("decimal(12,2)") * 100).cast("long").as("p"),
      col("l_quantity").cast("long").as("v"))
    val w = Window.partitionBy("company_id", "month")
    trades
      .withColumn("s_pv", sum(col("p") * col("v")).over(w))
      .withColumn("v_tot", sum(col("v")).over(w))
      .withColumn("vwap", expr("CAST(s_pv AS DOUBLE) / CAST(v_tot AS DOUBLE)"))
      .withColumn("pd", col("p").cast("double"))
      .withColumn("dev_bp",
        expr("CAST(floor((pd / vwap - 1) * 10000) AS BIGINT)"))
      .groupBy(col("company_id"), col("month"))
      .agg(
        count(lit(1)).as("n_trades"),
        sum(when(col("pd") > col("vwap"), 1L).otherwise(0L)).as("n_above_vwap"),
        sum(when(col("pd") < col("vwap"), 1L).otherwise(0L)).as("n_below_vwap"),
        max(col("dev_bp")).as("max_dev_bp"),
        min(col("dev_bp")).as("min_dev_bp"))
      .orderBy(col("company_id"), col("month"))
  }

  private val tcaSlippageSql =
    """WITH t AS (
      |  SELECT 'FIGI' || (l_partkey % 20) AS company_id,
      |         strftime(l_shipdate + (l_orderkey % 86400) * INTERVAL 1 SECOND, '%Y-%m') AS month,
      |         CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS p,
      |         CAST(l_quantity AS BIGINT) AS v
      |  FROM lineitem),
      |bench AS (
      |  SELECT company_id, month,
      |         CAST(sum(p * v) AS BIGINT) AS s_pv,
      |         CAST(sum(v) AS BIGINT) AS v_tot
      |  FROM t GROUP BY 1, 2),
      |d AS (
      |  SELECT t.company_id, t.month,
      |         CAST(p AS DOUBLE) AS pd,
      |         CAST(s_pv AS DOUBLE) / CAST(v_tot AS DOUBLE) AS vwap,
      |         CAST(floor((CAST(p AS DOUBLE) / (CAST(s_pv AS DOUBLE) / CAST(v_tot AS DOUBLE)) - 1)
      |                    * 10000) AS BIGINT) AS dev_bp
      |  FROM t JOIN bench USING (company_id, month))
      |SELECT company_id, month,
      |       CAST(count(*) AS BIGINT) AS n_trades,
      |       CAST(sum(CASE WHEN pd > vwap THEN 1 ELSE 0 END) AS BIGINT) AS n_above_vwap,
      |       CAST(sum(CASE WHEN pd < vwap THEN 1 ELSE 0 END) AS BIGINT) AS n_below_vwap,
      |       CAST(max(dev_bp) AS BIGINT) AS max_dev_bp,
      |       CAST(min(dev_bp) AS BIGINT) AS min_dev_bp
      |FROM d GROUP BY 1, 2
      |ORDER BY company_id, month""".stripMargin

  // -------------------------------------------------------------------------
  // Cross-sectional momentum factor — winner-loser spread backtest
  // -------------------------------------------------------------------------

  /** momentum portfolio width (instruments long and short each month) */
  val MomK = 5

  /** Cross-sectional momentum backtest (the Jegadeesh-Titman factor on the
    * exact stack): each month, instruments rank by their TRAILING
    * 3-month bp-return sum (signal months only — the formation window
    * never sees the holding month); the top [[MomK]] form the winner
    * portfolio, the bottom [[MomK]] the losers, and the month's factor
    * return is the floor-mean winner minus floor-mean loser CURRENT-month
    * return. Positive average spread = momentum exists in this market.
    * All integer: monthly returns are negative-safe floor-bp, signals are
    * int sums, portfolio means are floor-divisions by the fixed K.
    *
    * 100 TB shape: the fact collapses to (instrument, month) closes in one
    * shuffle; ranks/spreads run on the instrument×month relation.
    */
  def momentumFactor(s: SparkSession, dir: String): DataFrame = {
    val lw = Window.partitionBy(col("company_id")).orderBy(col("month"))
    val monthly = dailyCloses(s, dir)
      .groupBy(col("company_id"), col("day").substr(1, 7).as("month"))
      .agg(max_by(col("close_c"), col("day")).as("close_c"))
      .withColumn("prev_c", lag(col("close_c"), 1).over(lw))
      .where(col("prev_c").isNotNull && col("prev_c") > 0)
      .withColumn("r_bp",
        expr("CAST(floor(CAST((close_c - prev_c) * 10000 AS DOUBLE) / prev_c) AS BIGINT)"))
    val sig = monthly
      .withColumn("n_sig", count(lit(1)).over(lw.rowsBetween(-3, -1)))
      .withColumn("mom_bp", sum(col("r_bp")).over(lw.rowsBetween(-3, -1)))
      .where(col("n_sig") === 3)
    val ranked = sig
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("month")).orderBy(col("mom_bp").desc, col("company_id"))))
      .withColumn("n_inst", count(lit(1)).over(Window.partitionBy(col("month"))))
      .where(col("n_inst") >= 2 * MomK)
    ranked.groupBy(col("month"), col("n_inst"))
      .agg(
        sum(when(col("rk") <= MomK, col("r_bp")).otherwise(0L)).as("w_sum"),
        sum(when(col("rk") > col("n_inst") - MomK, col("r_bp")).otherwise(0L)).as("l_sum"))
      .select(col("month"), col("n_inst").as("n_instruments"),
        expr(s"CAST(floor(CAST(w_sum AS DOUBLE) / $MomK) AS BIGINT)").as("winner_mean_bp"),
        expr(s"CAST(floor(CAST(l_sum AS DOUBLE) / $MomK) AS BIGINT)").as("loser_mean_bp"),
        expr(s"CAST(floor(CAST(w_sum AS DOUBLE) / $MomK) AS BIGINT) - CAST(floor(CAST(l_sum AS DOUBLE) / $MomK) AS BIGINT)")
          .as("spread_bp"))
      .orderBy(col("month"))
  }

  private val momentumFactorSql =
    s"""WITH $closesCtes,
      |mo AS (
      |  SELECT company_id, substr(day, 1, 7) AS month,
      |         CAST(max(CASE WHEN rn = 1 THEN close_c END) AS BIGINT) AS close_c
      |  FROM (SELECT *, row_number() OVER (PARTITION BY company_id, substr(day, 1, 7)
      |                                     ORDER BY day DESC) AS rn
      |        FROM closes)
      |  GROUP BY 1, 2),
      |r AS (
      |  SELECT company_id, month, close_c,
      |         CAST(floor(CAST((close_c - prev_c) * 10000 AS DOUBLE) / prev_c) AS BIGINT) AS r_bp
      |  FROM (SELECT *, lag(close_c) OVER (PARTITION BY company_id ORDER BY month) AS prev_c
      |        FROM mo)
      |  WHERE prev_c IS NOT NULL AND prev_c > 0),
      |sig AS (
      |  SELECT company_id, month, r_bp,
      |         CAST(count(*) OVER w AS BIGINT) AS n_sig,
      |         CAST(sum(r_bp) OVER w AS BIGINT) AS mom_bp
      |  FROM r
      |  WINDOW w AS (PARTITION BY company_id ORDER BY month
      |               ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)),
      |rk AS (
      |  SELECT month, r_bp,
      |         row_number() OVER (PARTITION BY month ORDER BY mom_bp DESC, company_id) AS rk,
      |         CAST(count(*) OVER (PARTITION BY month) AS BIGINT) AS n_inst
      |  FROM sig WHERE n_sig = 3)
      |SELECT month, n_inst AS n_instruments,
      |       CAST(floor(CAST(sum(CASE WHEN rk <= $MomK THEN r_bp ELSE 0 END) AS DOUBLE) / $MomK) AS BIGINT) AS winner_mean_bp,
      |       CAST(floor(CAST(sum(CASE WHEN rk > n_inst - $MomK THEN r_bp ELSE 0 END) AS DOUBLE) / $MomK) AS BIGINT) AS loser_mean_bp,
      |       CAST(floor(CAST(sum(CASE WHEN rk <= $MomK THEN r_bp ELSE 0 END) AS DOUBLE) / $MomK) AS BIGINT)
      |         - CAST(floor(CAST(sum(CASE WHEN rk > n_inst - $MomK THEN r_bp ELSE 0 END) AS DOUBLE) / $MomK) AS BIGINT) AS spread_bp
      |FROM rk WHERE n_inst >= ${2 * MomK}
      |GROUP BY month, n_inst
      |ORDER BY month""".stripMargin

  // -------------------------------------------------------------------------
  // Volatility regimes — vol clustering without GARCH
  // -------------------------------------------------------------------------

  /** Volatility-regime classification — the "volatility clusters" stylized
    * fact read without any GARCH estimation: per instrument, the rolling
    * [[RsiW]]-day sum of |bp returns| is an integer realized-vol proxy;
    * each full-window day classifies HIGH when that proxy strictly exceeds
    * the instrument's own ceil-rank median proxy (the pinned `rn·2 ≥ n`
    * rule — an integer threshold, so the split is exact), and the report
    * counts high days, the LONGEST high run (gaps-and-islands), and
    * regime transitions. Clustered vol ⇒ long runs and few transitions vs
    * the ~n/2 alternations independence would give.
    */
  def volRegimes(s: SparkSession, dir: String): DataFrame = {
    val lw = Window.partitionBy(col("company_id")).orderBy(col("day"))
    val vol = bpReturns(s, dir)
      .withColumn("a", abs(col("r_bp")))
      .withColumn("n_w", count(lit(1)).over(lw.rowsBetween(-(RsiW - 1), Window.currentRow)))
      .withColumn("rv", sum(col("a")).over(lw.rowsBetween(-(RsiW - 1), Window.currentRow)))
      .where(col("n_w") === RsiW)
    val med = vol
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("company_id")).orderBy(col("rv"), col("day"))).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("company_id"))))
      .groupBy(col("company_id"))
      .agg(min(when(col("rn") * 2 >= col("n"), col("rv"))).as("med_rv"))
    val flagged = vol.join(broadcast(med), "company_id")
      .withColumn("hi", when(col("rv") > col("med_rv"), 1L).otherwise(0L))
      .withColumn("island", sum(lit(1L) - col("hi")).over(
        lw.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("flip",
        when(lag(col("hi"), 1).over(lw).isNotNull &&
          lag(col("hi"), 1).over(lw) =!= col("hi"), 1L).otherwise(0L))
    val runs = flagged.groupBy(col("company_id"), col("island"))
      .agg(sum(col("hi")).as("run"))
      .groupBy(col("company_id"))
      .agg(max(col("run")).as("longest_high_run"))
    flagged.groupBy(col("company_id"))
      .agg(
        count(lit(1)).as("n_days"),
        sum(col("hi")).as("n_high_days"),
        sum(col("flip")).as("n_transitions"))
      .join(broadcast(runs), "company_id")
      .select(col("company_id"), col("n_days"), col("n_high_days"),
        col("longest_high_run"), col("n_transitions"))
      .orderBy(col("company_id"))
  }

  private val volRegimesSql =
    s"""WITH $retsCtes,
      |v AS (
      |  SELECT company_id, day,
      |         CAST(count(*) OVER w AS BIGINT) AS n_w,
      |         CAST(sum(abs(r_bp)) OVER w AS BIGINT) AS rv
      |  FROM rets
      |  WINDOW w AS (PARTITION BY company_id ORDER BY day
      |               ROWS BETWEEN ${RsiW - 1} PRECEDING AND CURRENT ROW)),
      |f AS (SELECT company_id, day, rv FROM v WHERE n_w = $RsiW),
      |med AS (
      |  SELECT company_id, CAST(min(CASE WHEN rn * 2 >= n THEN rv END) AS BIGINT) AS med_rv
      |  FROM (SELECT company_id, rv,
      |               CAST(row_number() OVER (PARTITION BY company_id ORDER BY rv, day) AS BIGINT) AS rn,
      |               CAST(count(*) OVER (PARTITION BY company_id) AS BIGINT) AS n
      |        FROM f)
      |  GROUP BY company_id),
      |hi AS (
      |  SELECT f.company_id, f.day,
      |         CASE WHEN f.rv > m.med_rv THEN 1 ELSE 0 END AS hi
      |  FROM f JOIN med m ON m.company_id = f.company_id),
      |g AS (
      |  SELECT company_id, day, hi,
      |         CAST(sum(1 - hi) OVER (PARTITION BY company_id ORDER BY day
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS island,
      |         CASE WHEN lag(hi) OVER (PARTITION BY company_id ORDER BY day) IS NOT NULL
      |                   AND lag(hi) OVER (PARTITION BY company_id ORDER BY day) <> hi
      |              THEN 1 ELSE 0 END AS flip
      |  FROM hi),
      |runs AS (
      |  SELECT company_id, CAST(max(run) AS BIGINT) AS longest_high_run
      |  FROM (SELECT company_id, island, CAST(sum(hi) AS BIGINT) AS run
      |        FROM g GROUP BY 1, 2)
      |  GROUP BY company_id)
      |SELECT g.company_id,
      |       CAST(count(*) AS BIGINT) AS n_days,
      |       CAST(sum(g.hi) AS BIGINT) AS n_high_days,
      |       CAST(max(r.longest_high_run) AS BIGINT) AS longest_high_run,
      |       CAST(sum(g.flip) AS BIGINT) AS n_transitions
      |FROM g JOIN runs r ON r.company_id = g.company_id
      |GROUP BY g.company_id
      |ORDER BY g.company_id""".stripMargin

  // -------------------------------------------------------------------------
  // Drawdown duration — the time axis a8_max_drawdown's depth misses
  // -------------------------------------------------------------------------

  /** Per-instrument underwater-spell accounting: a day is underwater when
    * its close sits strictly below the running maximum; consecutive
    * underwater days group into spells by the gaps-and-islands rule
    * (island id = running count of at-the-high days). Emits total and
    * LONGEST underwater duration — the recovery-time readout
    * [[Analytics.maxDrawdown]]'s depth metric cannot give. All integer,
    * three window passes on the instrument-partitioned series.
    */
  def drawdownDuration(s: SparkSession, dir: String): DataFrame = {
    val ord = Window.partitionBy(col("company_id")).orderBy(col("day"))
    val run = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dailyCloses(s, dir)
      .withColumn("runmax", max(col("close_c")).over(run))
      .withColumn("uw", when(col("close_c") < col("runmax"), 1L).otherwise(0L))
      .withColumn("island", sum(lit(1L) - col("uw")).over(run))
      .groupBy(col("company_id"), col("island"))
      .agg(sum(col("uw")).as("spell"))
      .groupBy(col("company_id"))
      .agg(
        sum(col("spell")).as("n_underwater_days"),
        max(col("spell")).as("max_underwater_days"))
      .orderBy(col("company_id"))
  }

  private val drawdownDurationSql =
    s"""WITH $closesCtes,
      |r AS (
      |  SELECT company_id, day, close_c,
      |         CAST(max(close_c) OVER (PARTITION BY company_id ORDER BY day
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS runmax
      |  FROM closes),
      |u AS (
      |  SELECT company_id, day,
      |         CASE WHEN close_c < runmax THEN 1 ELSE 0 END AS uw
      |  FROM r),
      |isl AS (
      |  SELECT company_id, uw,
      |         CAST(sum(1 - uw) OVER (PARTITION BY company_id ORDER BY day
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS island
      |  FROM u),
      |sp AS (
      |  SELECT company_id, island, CAST(sum(uw) AS BIGINT) AS spell
      |  FROM isl GROUP BY 1, 2)
      |SELECT company_id,
      |       CAST(sum(spell) AS BIGINT) AS n_underwater_days,
      |       CAST(max(spell) AS BIGINT) AS max_underwater_days
      |FROM sp GROUP BY company_id
      |ORDER BY company_id""".stripMargin

  // -------------------------------------------------------------------------
  // VPIN — volume-synchronized probability of informed trading
  // -------------------------------------------------------------------------

  /** VPIN (Easley/López de Prado/O'Hara): order-flow toxicity measured on
    * the VOLUME clock, not the wall clock — ticks are cut into 50
    * equal-volume buckets and toxicity is the mean absolute buy/sell
    * imbalance per bucket. The distinct plan shape here is the volume-clock
    * bucketing itself: bucket id = exclusive-cumulative-volume `div` V —
    * a window cumsum plus integer division, no sequential loop, no
    * straddle-splitting (each tick lands wholly in the bucket its first
    * unit falls in; the spill re-joins the last bucket, so ΣbucketVol is
    * exactly the instrument's total). Tick signs come from the windowed
    * tick rule (up = buy, down = sell, zero-tick = neutral — the carry-
    * forward variant would be a sequential fold; the neutral variant stays
    * one `lag`). All integer end-to-end: the ppm quotient runs in
    * DECIMAL(38,0)/HUGEINT so `Σimb · 1e6` cannot overflow int64 at corpus
    * scale (the TextStats wide-intermediate discipline).
    *
    * Window order appends (cents, volume) after (ts, eid): the testdata
    * carries duplicate (orderkey, linenumber) pairs at sf0.1, and rows
    * tying on the FULL key are interchangeable for both the sign sequence
    * (equal cents) and the bucket cut (equal volume), so the result is
    * deterministic across engines.
    *
    * 100 TB shape: one shuffle partitioned by instrument; per-instrument
    * window state is a cumsum, bucket aggregation is 50 rows/instrument.
    */
  def vpin(s: SparkSession, dir: String): DataFrame = {
    val ticks = Tables.load(s, dir, "lineitem").select(
      concat(lit("FIGI"), col("l_partkey") % 20).as("company_id"),
      expr("timestampadd(SECOND, CAST(l_orderkey % 86400 AS INT), l_shipdate)").as("ts"),
      (col("l_extendedprice").cast("decimal(12,2)") * 100).cast("long").as("cents"),
      col("l_quantity").cast("long").as("volume"),
      (col("l_orderkey") * 10 + col("l_linenumber")).as("eid"))
    val ord = Window.partitionBy(col("company_id"))
      .orderBy(col("ts"), col("eid"), col("cents"), col("volume"))
    val cumExcl = ord.rowsBetween(Window.unboundedPreceding, -1)
    val whole = Window.partitionBy(col("company_id"))
    val bucketed = ticks
      .withColumn("prev_c", lag(col("cents"), 1).over(ord))
      .withColumn("side",
        when(col("prev_c").isNull, 0)
          .when(col("cents") > col("prev_c"), 1)
          .when(col("cents") < col("prev_c"), -1)
          .otherwise(0))
      .withColumn("cum_before", coalesce(sum(col("volume")).over(cumExcl), lit(0L)))
      .withColumn("bkt_vol", greatest(expr("sum(volume) OVER (PARTITION BY company_id) div 50"), lit(1L)))
      .withColumn("bucket", least(expr("cum_before div bkt_vol"), lit(49L)))
    val perBucket = bucketed.groupBy(col("company_id"), col("bucket"))
      .agg(
        sum(when(col("side") === 1, col("volume")).otherwise(0L)).as("buy_v"),
        sum(when(col("side") === -1, col("volume")).otherwise(0L)).as("sell_v"),
        max(col("bkt_vol")).as("bkt_vol"))
    perBucket.groupBy(col("company_id"))
      .agg(
        count(lit(1)).as("n_buckets"),
        max(col("bkt_vol")).as("bucket_vol"),
        expr("""CAST(CAST(sum(abs(buy_v - sell_v)) AS DECIMAL(38,0)) * 1000000
               | div (count(1) * max(bkt_vol)) AS BIGINT)""".stripMargin).as("vpin_ppm"),
        max(abs(col("buy_v") - col("sell_v"))).as("max_imb"))
      .orderBy(col("company_id"))
  }

  private val vpinSql =
    """WITH t AS (
      |  SELECT 'FIGI' || (l_partkey % 20) AS company_id,
      |         l_shipdate + (l_orderkey % 86400) * INTERVAL 1 SECOND AS tsv,
      |         CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
      |         CAST(l_quantity AS BIGINT) AS volume,
      |         l_orderkey * 10 + l_linenumber AS eid
      |  FROM lineitem),
      |sgn AS (
      |  SELECT company_id, cents, volume,
      |         lag(cents) OVER w AS prev_c,
      |         CAST(coalesce(sum(volume) OVER (PARTITION BY company_id
      |           ORDER BY tsv, eid, cents, volume
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before,
      |         CAST(sum(volume) OVER (PARTITION BY company_id) AS BIGINT) AS tot_vol
      |  FROM t WINDOW w AS (PARTITION BY company_id ORDER BY tsv, eid, cents, volume)),
      |b AS (
      |  SELECT company_id, volume,
      |         CASE WHEN prev_c IS NULL THEN 0
      |              WHEN cents > prev_c THEN 1
      |              WHEN cents < prev_c THEN -1 ELSE 0 END AS side,
      |         greatest(tot_vol // 50, 1) AS bkt_vol,
      |         least(cum_before // greatest(tot_vol // 50, 1), 49) AS bucket
      |  FROM sgn),
      |pb AS (
      |  SELECT company_id, bucket,
      |         CAST(sum(CASE WHEN side = 1 THEN volume ELSE 0 END) AS BIGINT) AS buy_v,
      |         CAST(sum(CASE WHEN side = -1 THEN volume ELSE 0 END) AS BIGINT) AS sell_v,
      |         CAST(max(bkt_vol) AS BIGINT) AS bkt_vol
      |  FROM b GROUP BY 1, 2)
      |SELECT company_id,
      |       count(*) AS n_buckets,
      |       CAST(max(bkt_vol) AS BIGINT) AS bucket_vol,
      |       CAST(CAST(sum(abs(buy_v - sell_v)) AS HUGEINT) * 1000000
      |            // (count(*) * max(bkt_vol)) AS BIGINT) AS vpin_ppm,
      |       CAST(max(abs(buy_v - sell_v)) AS BIGINT) AS max_imb
      |FROM pb GROUP BY 1
      |ORDER BY company_id""".stripMargin

  // -------------------------------------------------------------------------
  // Realized-variance signature — RV across sampling frequencies in one pass
  // -------------------------------------------------------------------------

  /** RV signature plot: realized variance of each instrument sampled at
    * 5-minute, 15-minute, and 1-hour grids — the microstructure-noise
    * diagnostic (noise inflates RV as the grid refines; a flat signature
    * certifies the grid is safe for vol estimation). The distinct plan
    * shape is MULTI-RESOLUTION IN ONE SCAN: `explode` fans each tick to
    * the three granularities (a Generate, ×3 rows, no extra scan), then
    * ONE groupBy lands every (instrument, granularity, bucket) close and
    * one instrument×granularity-partitioned lag builds the returns at all
    * frequencies together — vs the naive 3-scan 3-shuffle union.
    *
    * Numerics: bucket ids are integer `unix_micros div (g·1e6)`; simple
    * returns r = Δc/c (two exact longs, ONE IEEE division — log returns
    * would hit libm); each r² contribution floors to 1e9 fixed point so
    * the sum is order-independent, and the sum runs in DECIMAL(38,0)/
    * HUGEINT (the wide-intermediate discipline — r is unbounded above, so
    * Σ⌊r²·1e9⌋ has no a-priori int64 bound) before one exact cast back.
    *
    * 100 TB shape: one fact scan, one shuffle on (instrument, g, bucket)
    * with map-side combine; everything after is bucket-domain-sized.
    */
  def rvSignature(s: SparkSession, dir: String): DataFrame = {
    // loadSpread: the ×3 explode + bucket arithmetic + max_by partials are
    // per-row-expensive — measured 6.2 s plain vs 1.7 s spread at sf0.1
    val ticks = Tables.loadSpread(s, dir, "lineitem").select(
      concat(lit("FIGI"), col("l_partkey") % 20).as("company_id"),
      expr("timestampadd(SECOND, CAST(l_orderkey % 86400 AS INT), l_shipdate)").as("ts"),
      (col("l_extendedprice").cast("decimal(12,2)") * 100).cast("long").as("cents"),
      (col("l_orderkey") * 10 + col("l_linenumber")).as("eid"))
    val multi = ticks
      .withColumn("g", explode(array(lit(300L), lit(900L), lit(3600L))))
      .withColumn("bucket", expr("unix_micros(CAST(ts AS TIMESTAMP)) div (g * 1000000)"))
    val closes = multi.groupBy(col("company_id"), col("g"), col("bucket"))
      .agg(max_by(col("cents"), struct(col("ts"), col("eid"), col("cents"))).as("close_c"))
    val w = Window.partitionBy(col("company_id"), col("g")).orderBy(col("bucket"))
    closes
      .withColumn("prev_c", lag(col("close_c"), 1).over(w))
      .withColumn("r", (col("close_c") - col("prev_c")).cast("double") / col("prev_c"))
      .withColumn("contrib", floor(col("r") * col("r") * lit(1e9)).cast("long"))
      .groupBy(col("company_id"), col("g").as("granularity_s"))
      .agg(
        sum(col("contrib").cast("decimal(38,0)")).cast("long").as("rv_e9"),
        count(col("prev_c")).as("n_rets"))
      .orderBy(col("company_id"), col("granularity_s"))
  }

  private val rvSignatureSql =
    """WITH t AS (
      |  SELECT 'FIGI' || (l_partkey % 20) AS company_id,
      |         l_shipdate + (l_orderkey % 86400) * INTERVAL 1 SECOND AS tsv,
      |         CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
      |         l_orderkey * 10 + l_linenumber AS eid
      |  FROM lineitem),
      |gx AS (
      |  SELECT t.*, CAST(gs.g AS BIGINT) AS g,
      |         CAST(epoch_us(tsv) AS BIGINT) // (CAST(gs.g AS BIGINT) * 1000000) AS bucket
      |  FROM t CROSS JOIN (VALUES (300), (900), (3600)) gs(g)),
      |r1 AS (
      |  SELECT company_id, g, bucket, cents,
      |         row_number() OVER (PARTITION BY company_id, g, bucket
      |                            ORDER BY tsv DESC, eid DESC, cents DESC) AS rn
      |  FROM gx),
      |b AS (
      |  SELECT company_id, g, bucket,
      |         CAST(max(CASE WHEN rn = 1 THEN cents END) AS BIGINT) AS close_c
      |  FROM r1 GROUP BY 1, 2, 3),
      |rr AS (
      |  SELECT company_id, g, close_c,
      |         lag(close_c) OVER (PARTITION BY company_id, g ORDER BY bucket) AS prev_c
      |  FROM b)
      |SELECT company_id, g AS granularity_s,
      |       CAST(sum(CAST(floor((close_c - prev_c) / prev_c
      |                           * ((close_c - prev_c) / prev_c)
      |                           * 1000000000) AS BIGINT)) AS BIGINT) AS rv_e9,
      |       count(prev_c) AS n_rets
      |FROM rr GROUP BY 1, 2
      |ORDER BY company_id, granularity_s""".stripMargin

  // -------------------------------------------------------------------------
  // Roll's implied spread — serial autocovariance of returns
  // -------------------------------------------------------------------------

  /** Roll (1984) implied effective spread per instrument: bid-ask bounce
    * makes consecutive price changes negatively autocorrelated, and the
    * spread is `2·√(−cov(r_t, r_{t−1}))`. On the clamped bp returns the
    * autocovariance numerator `n·Σxy − Σx·Σy` is an EXACT int64 (emitted
    * raw), and the spread replays cross-engine as a fixed sequence of
    * correctly-rounded IEEE ops: int64→double, one divide by n², floor,
    * one sqrt (correctly rounded), floor, ×2 — the [[sharpe]] sqrt
    * discipline. Positive-autocovariance series (no detectable bounce)
    * emit NULL spread, the standard Roll convention.
    *
    * 100 TB shape: returns are calendar-bounded after the one fact
    * aggregate; the lag pair join is a window on the instrument partition;
    * the clamp keeps n·Σxy « 2^63 at any calendar length.
    */
  def rollSpread(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("company_id")).orderBy(col("day"))
    bpReturns(s, dir)
      .withColumn("r_prev", lag(col("r_bp"), 1).over(w))
      .where(col("r_prev").isNotNull)
      .groupBy(col("company_id"))
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(col("r_bp")).as("sx"),
        sum(col("r_prev")).as("sy"),
        sum(col("r_bp") * col("r_prev")).as("sxy"))
      .select(col("company_id"), col("n_pairs"),
        (col("n_pairs") * col("sxy") - col("sx") * col("sy")).as("acov_num"),
        expr("""CASE WHEN n_pairs * sxy - sx * sy < 0 THEN
               |  CAST(2 * floor(sqrt(CAST(floor(
               |        CAST(-(n_pairs * sxy - sx * sy) AS DOUBLE)
               |        / (n_pairs * n_pairs)) AS DOUBLE))) AS BIGINT)
               |END""".stripMargin).as("spread_bp"))
      .orderBy(col("company_id"))
  }

  private val rollSpreadSql =
    s"""WITH $retsCtes,
      |pr AS (
      |  SELECT company_id, r_bp,
      |         lag(r_bp) OVER (PARTITION BY company_id ORDER BY day) AS r_prev
      |  FROM rets),
      |st AS (
      |  SELECT company_id, CAST(count(*) AS BIGINT) AS n_pairs,
      |         CAST(sum(r_bp) AS BIGINT) AS sx,
      |         CAST(sum(r_prev) AS BIGINT) AS sy,
      |         CAST(sum(r_bp * r_prev) AS BIGINT) AS sxy
      |  FROM pr WHERE r_prev IS NOT NULL GROUP BY company_id)
      |SELECT company_id, n_pairs,
      |       CAST(n_pairs * sxy - sx * sy AS BIGINT) AS acov_num,
      |       CASE WHEN n_pairs * sxy - sx * sy < 0 THEN
      |         CAST(2 * floor(sqrt(CAST(floor(
      |               CAST(-(n_pairs * sxy - sx * sy) AS DOUBLE)
      |               / (n_pairs * n_pairs)) AS DOUBLE))) AS BIGINT)
      |       END AS spread_bp
      |FROM st
      |ORDER BY company_id""".stripMargin

  // -------------------------------------------------------------------------
  // Tick-rule trade classification — carry-forward sign test
  // -------------------------------------------------------------------------

  /** shared intraday tick projection (the [[vpin]] derivation): total order
    * (ts, eid, cents, volume) makes the sign sequence deterministic —
    * full-key-tied ticks are interchangeable for every consumer below
    */
  private def tickSeries(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem").select(
      concat(lit("FIGI"), col("l_partkey") % 20).as("company_id"),
      expr("timestampadd(SECOND, CAST(l_orderkey % 86400 AS INT), l_shipdate)").as("ts"),
      (col("l_extendedprice").cast("decimal(12,2)") * 100).cast("long").as("cents"),
      col("l_quantity").cast("long").as("volume"),
      (col("l_orderkey") * 10 + col("l_linenumber")).as("eid"))

  /** Lee-Ready tick test (the quote-free half): an uptick is a buy, a
    * downtick a sell, and a ZERO tick inherits the last non-zero direction
    * — the carry-forward is `last(sign, ignoreNulls)` over the running
    * frame, DuckDB's `last_value(... IGNORE NULLS)`. Ticks before the
    * first price change stay unclassified (no direction exists yet).
    */
  private def classifiedTicks(s: SparkSession, dir: String): DataFrame = {
    val ord = Window.partitionBy(col("company_id"))
      .orderBy(col("ts"), col("eid"), col("cents"), col("volume"))
    val carry = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tickSeries(s, dir)
      .withColumn("dp", col("cents") - lag(col("cents"), 1).over(ord))
      .withColumn("s_raw",
        when(col("dp") > 0, 1L).when(col("dp") < 0, -1L)
          .otherwise(lit(null).cast("long")))
      .withColumn("side", last(col("s_raw"), ignoreNulls = true).over(carry))
  }

  /** Per-instrument tick-rule summary: buy/sell/unclassified counts and the
    * signed-volume order-flow imbalance. Differs from [[vpin]]'s bucket
    * classifier exactly where the estimators differ: VPIN leaves neutral
    * ticks neutral (volume-clock buckets need no carry), the tick RULE
    * carries direction through zero ticks. All integer; one instrument-
    * partitioned window pass over the tick series.
    */
  def tickRule(s: SparkSession, dir: String): DataFrame =
    classifiedTicks(s, dir)
      .groupBy(col("company_id"))
      .agg(
        count(lit(1)).as("n_ticks"),
        count(when(col("side") === 1, 1)).as("n_buys"),
        count(when(col("side") === -1, 1)).as("n_sells"),
        count(when(col("side").isNull, 1)).as("n_unclassified"),
        coalesce(sum(col("side") * col("volume")), lit(0L)).as("flow"))
      .orderBy(col("company_id"))

  private val tickRuleSql =
    s"""WITH $closesCtes,
      |cl AS (
      |  SELECT company_id, tsv, eid, cents, volume,
      |         cents - lag(cents) OVER
      |           (PARTITION BY company_id ORDER BY tsv, eid, cents, volume) AS dp
      |  FROM t),
      |sd AS (
      |  SELECT company_id, volume,
      |         last_value(CASE WHEN dp > 0 THEN 1 WHEN dp < 0 THEN -1 END IGNORE NULLS)
      |           OVER (PARTITION BY company_id ORDER BY tsv, eid, cents, volume
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS side
      |  FROM cl)
      |SELECT company_id, count(*) AS n_ticks,
      |       count(CASE WHEN side = 1 THEN 1 END) AS n_buys,
      |       count(CASE WHEN side = -1 THEN 1 END) AS n_sells,
      |       count(CASE WHEN side IS NULL THEN 1 END) AS n_unclassified,
      |       CAST(coalesce(sum(side * volume), 0) AS BIGINT) AS flow
      |FROM sd GROUP BY company_id
      |ORDER BY company_id""".stripMargin

  // -------------------------------------------------------------------------
  // Kyle's lambda — price impact per unit of order flow
  // -------------------------------------------------------------------------

  /** Kyle (1985) lambda per instrument: the slope of same-day clamped bp
    * returns on daily NET signed order flow (tick-rule signs × volume) —
    * how many bp one unit of imbalance moves the price. Identical
    * sufficient-statistic + floor(num/den·1e6) double sequence as
    * [[beta]], so the slope hash-gates. Degenerate (zero-variance-flow)
    * instruments emit NULL.
    *
    * 100 TB shape: the tick window and the daily flow aggregate are one
    * instrument-partitioned pass; the regression runs on the calendar-
    * bounded (instrument, day) relation. The bp clamp bounds the return
    * side; at production volumes the flow side wants the same ±clamp (or
    * DECIMAL(38) stats, the [[vpin]] route) once daily |flow| × calendar
    * length approaches 2^31·√n — documented, not yet needed at any test SF.
    */
  def kyleLambda(s: SparkSession, dir: String): DataFrame = {
    val flow = classifiedTicks(s, dir)
      .groupBy(col("company_id"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(coalesce(sum(col("side") * col("volume")), lit(0L)).as("q"))
    bpReturns(s, dir)
      .join(flow, Seq("company_id", "day"))
      .groupBy(col("company_id"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("q")).as("sq"),
        sum(col("r_bp")).as("sr"),
        sum(col("q") * col("q")).as("sqq"),
        sum(col("q") * col("r_bp")).as("srq"))
      .select(col("company_id"), col("n"),
        expr("""CASE WHEN n * sqq - sq * sq > 0 THEN
               |  CAST(floor(CAST(n * srq - sq * sr AS DOUBLE)
               |             / CAST(n * sqq - sq * sq AS DOUBLE) * 1000000) AS BIGINT)
               |END""".stripMargin).as("lambda_e6"))
      .orderBy(col("company_id"))
  }

  private val kyleLambdaSql =
    s"""WITH $retsCtes,
      |cl2 AS (
      |  SELECT company_id, tsv, eid, cents, volume,
      |         cents - lag(cents) OVER
      |           (PARTITION BY company_id ORDER BY tsv, eid, cents, volume) AS dp
      |  FROM t),
      |sd2 AS (
      |  SELECT company_id, strftime(tsv, '%Y-%m-%d') AS day, volume,
      |         last_value(CASE WHEN dp > 0 THEN 1 WHEN dp < 0 THEN -1 END IGNORE NULLS)
      |           OVER (PARTITION BY company_id ORDER BY tsv, eid, cents, volume
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS side
      |  FROM cl2),
      |fl AS (
      |  SELECT company_id, day,
      |         CAST(coalesce(sum(side * volume), 0) AS BIGINT) AS q
      |  FROM sd2 GROUP BY 1, 2),
      |ks AS (
      |  SELECT company_id, CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(q) AS BIGINT) AS sq,
      |         CAST(sum(r_bp) AS BIGINT) AS sr,
      |         CAST(sum(q * q) AS BIGINT) AS sqq,
      |         CAST(sum(q * r_bp) AS BIGINT) AS srq
      |  FROM rets JOIN fl USING (company_id, day) GROUP BY company_id)
      |SELECT company_id, n,
      |       CASE WHEN n * sqq - sq * sq > 0 THEN
      |         CAST(floor(CAST(n * srq - sq * sr AS DOUBLE)
      |                    / CAST(n * sqq - sq * sq AS DOUBLE) * 1000000) AS BIGINT)
      |       END AS lambda_e6
      |FROM ks
      |ORDER BY company_id""".stripMargin

  // -------------------------------------------------------------------------
  // Candlestick pattern census
  // -------------------------------------------------------------------------

  /** Candlestick pattern census over the daily OHLC bars — the classic
    * single- and two-bar patterns, each an EXACT integer predicate on cents
    * (body = |C−O|, range = H−L, shadows against max/min(O, C)):
    * doji (body ≤ 10% of a positive range), hammer (lower shadow ≥ 2×body,
    * upper ≤ body, non-zero body), marubozu (body spans the whole range),
    * and bullish/bearish engulfing (this bar's body strictly reverses and
    * contains the previous bar's). Counts per instrument; no floats, no
    * thresholds in double space — the census hash-gates bit-exactly.
    *
    * 100 TB shape: the bar relation is instrument×calendar-sized (built by
    * the shared fact-reducing aggregate); one lag window partitioned by
    * instrument + one aggregate. Pattern logic never touches tick scale.
    */
  def candlePatterns(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("company_id").orderBy("day")
    val body = abs(col("close_c") - col("open_c"))
    val rng = col("high_c") - col("low_c")
    val upper = col("high_c") - greatest(col("open_c"), col("close_c"))
    val lower = least(col("open_c"), col("close_c")) - col("low_c")
    dailyBars(s, dir)
      .withColumn("prev_open", lag(col("open_c"), 1).over(w))
      .withColumn("prev_close", lag(col("close_c"), 1).over(w))
      .groupBy(col("company_id"))
      .agg(
        count(lit(1)).as("n_days"),
        sum(when(rng > 0 && body * 10 <= rng, 1L).otherwise(0L)).as("n_doji"),
        sum(when(body > 0 && lower >= body * 2 && upper <= body, 1L)
          .otherwise(0L)).as("n_hammer"),
        sum(when(rng > 0 && body === rng, 1L).otherwise(0L)).as("n_marubozu"),
        sum(when(col("prev_close") < col("prev_open") && col("close_c") > col("open_c")
          && col("open_c") <= col("prev_close") && col("close_c") >= col("prev_open"),
          1L).otherwise(0L)).as("n_bull_engulf"),
        sum(when(col("prev_close") > col("prev_open") && col("close_c") < col("open_c")
          && col("open_c") >= col("prev_close") && col("close_c") <= col("prev_open"),
          1L).otherwise(0L)).as("n_bear_engulf"))
  }

  private val candlePatternsSql =
    s"""WITH $barsCtes,
      |lb AS (
      |  SELECT company_id,
      |         high_c, low_c, open_c, close_c,
      |         abs(close_c - open_c) AS body,
      |         high_c - low_c AS rng,
      |         high_c - greatest(open_c, close_c) AS upper,
      |         least(open_c, close_c) - low_c AS lower,
      |         lag(open_c) OVER (PARTITION BY company_id ORDER BY day) AS prev_open,
      |         lag(close_c) OVER (PARTITION BY company_id ORDER BY day) AS prev_close
      |  FROM bars)
      |SELECT company_id,
      |       CAST(count(*) AS BIGINT) AS n_days,
      |       CAST(sum(CASE WHEN rng > 0 AND body * 10 <= rng THEN 1 ELSE 0 END) AS BIGINT) AS n_doji,
      |       CAST(sum(CASE WHEN body > 0 AND lower >= body * 2 AND upper <= body
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_hammer,
      |       CAST(sum(CASE WHEN rng > 0 AND body = rng THEN 1 ELSE 0 END) AS BIGINT) AS n_marubozu,
      |       CAST(sum(CASE WHEN prev_close < prev_open AND close_c > open_c
      |                      AND open_c <= prev_close AND close_c >= prev_open
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_bull_engulf,
      |       CAST(sum(CASE WHEN prev_close > prev_open AND close_c < open_c
      |                      AND open_c >= prev_close AND close_c <= prev_open
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_bear_engulf
      |FROM lb GROUP BY 1""".stripMargin

  // -------------------------------------------------------------------------
  // Historical VaR / expected shortfall
  // -------------------------------------------------------------------------

  /** Historical 95% Value-at-Risk + expected shortfall per instrument over
    * the clamped bp daily returns: VaR = the ceil-rank 5th-percentile return
    * (`rank = (n+19) div 20`, the verified DuckDB `quantile_disc` rule kept
    * in pure integers — no double ceil), ES/CVaR = the mean of the tail at
    * or below VaR. The tail sum and count are exact int64; the single mean
    * divides via `floor(double)` in both engines (sum magnitudes ≪ 2^53),
    * the documented negative-operand-safe form (`div` truncates toward
    * zero, `//` floors — they differ exactly where loss tails live).
    *
    * 100 TB shape: returns come from the shared instrument×calendar close
    * relation; the rank pass is one instrument-partitioned window over that
    * bounded relation and the tail re-join is against a 20-row VaR dim.
    */
  def varEs(s: SparkSession, dir: String): DataFrame = {
    val r = bpReturns(s, dir)
    val ranked = r
      .withColumn("rn",
        row_number().over(Window.partitionBy("company_id").orderBy(col("r_bp"))))
      .withColumn("n",
        count(lit(1)).over(Window.partitionBy("company_id")))
    val varq = ranked.where(col("rn") === expr("(n + 19) div 20"))
      .select(col("company_id"), col("n").cast("long").as("n_days"),
        col("r_bp").as("var95_bp"))
    val tail = r.join(broadcast(varq.select(col("company_id"), col("var95_bp"))),
        Seq("company_id"))
      .where(col("r_bp") <= col("var95_bp"))
      .groupBy(col("company_id"))
      .agg(count(lit(1)).as("n_tail"), sum(col("r_bp")).as("tail_sum_bp"))
    varq.join(tail, "company_id")
      .select(col("company_id"), col("n_days"), col("var95_bp"),
        col("n_tail"), col("tail_sum_bp"),
        expr("CAST(floor(CAST(tail_sum_bp AS DOUBLE) / n_tail) AS BIGINT)").as("es_bp"))
  }

  private val varEsSql =
    s"""WITH $closesCtes,
      |rets AS (
      |  SELECT company_id, day,
      |         least(greatest(
      |           CAST(floor(CAST((close_c - prev_c) * 10000 AS DOUBLE) / prev_c) AS BIGINT),
      |           -$BetaClampBp), $BetaClampBp) AS r_bp
      |  FROM (SELECT *, lag(close_c) OVER (PARTITION BY company_id ORDER BY day) AS prev_c
      |        FROM closes)
      |  WHERE prev_c IS NOT NULL AND prev_c > 0),
      |q AS (
      |  SELECT company_id,
      |         CAST(max(n) AS BIGINT) AS n_days,
      |         CAST(max(CASE WHEN rn = (n + 19) // 20 THEN r_bp END) AS BIGINT) AS var95_bp
      |  FROM (SELECT company_id, r_bp,
      |               row_number() OVER (PARTITION BY company_id ORDER BY r_bp) AS rn,
      |               count(*) OVER (PARTITION BY company_id) AS n
      |        FROM rets)
      |  GROUP BY 1),
      |tl AS (
      |  SELECT r.company_id,
      |         CAST(count(*) AS BIGINT) AS n_tail,
      |         CAST(sum(r_bp) AS BIGINT) AS tail_sum_bp
      |  FROM rets r JOIN q USING (company_id)
      |  WHERE r_bp <= var95_bp GROUP BY 1)
      |SELECT company_id, n_days, var95_bp, n_tail, tail_sum_bp,
      |       CAST(floor(CAST(tail_sum_bp AS DOUBLE) / n_tail) AS BIGINT) AS es_bp
      |FROM q JOIN tl USING (company_id)""".stripMargin

  // -------------------------------------------------------------------------
  // Ichimoku cloud
  // -------------------------------------------------------------------------

  /** Ichimoku Kinkō Hyō state census — every line is a midpoint of rolling
    * extremes, so the whole system stays EXACT by carrying lines at ×2 / ×4
    * scale instead of dividing: tenkan×2 = maxH₉+minL₉, kijun×2 =
    * maxH₂₆+minL₂₆, senkou A×4 = tenkan×2+kijun×2 and senkou B×2 =
    * maxH₅₂+minL₅₂ (both displaced 26 days forward), price-vs-cloud compares
    * 4·close against {A×4, 2·B×2}. Emits per instrument the full-window day
    * count, days above/below/inside the cloud, tenkan/kijun bullish
    * crossovers, and the latest ×2 lines — all integer cents, hash-gated.
    *
    * 100 TB shape: six rolling-extreme frames share ONE instrument-
    * partitioned ordered window over the calendar-sized bar relation; the
    * census is a single aggregate. Nothing tick-scaled enters a window.
    */
  def ichimoku(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("company_id").orderBy("day")
    def roll(c: Column, n: Int, f: Column => Column) =
      f(c).over(w.rowsBetween(-(n - 1), 0))
    val lined = dailyBars(s, dir)
      .withColumn("rn", row_number().over(w))
      .withColumn("tenkan2",
        roll(col("high_c"), 9, max) + roll(col("low_c"), 9, min))
      .withColumn("kijun2",
        roll(col("high_c"), 26, max) + roll(col("low_c"), 26, min))
      .withColumn("senb2",
        roll(col("high_c"), 52, max) + roll(col("low_c"), 52, min))
    val disp = lined
      .withColumn("cloud_a4", lag(col("tenkan2") + col("kijun2"), 26).over(w))
      .withColumn("cloud_b2", lag(col("senb2"), 26).over(w))
      .withColumn("prev_t2", lag(col("tenkan2"), 1).over(w))
      .withColumn("prev_k2", lag(col("kijun2"), 1).over(w))
      .where(col("rn") >= 52 + 26) // full senkou-B window + displacement
    disp.groupBy(col("company_id"))
      .agg(
        count(lit(1)).as("n_days"),
        sum(when(col("close_c") * 4 > greatest(col("cloud_a4"), col("cloud_b2") * 2), 1L)
          .otherwise(0L)).as("n_above_cloud"),
        sum(when(col("close_c") * 4 < least(col("cloud_a4"), col("cloud_b2") * 2), 1L)
          .otherwise(0L)).as("n_below_cloud"),
        sum(when(col("prev_t2") <= col("prev_k2") && col("tenkan2") > col("kijun2"), 1L)
          .otherwise(0L)).as("n_tk_cross_up"),
        max_by(col("tenkan2"), col("day")).as("last_tenkan2"),
        max_by(col("kijun2"), col("day")).as("last_kijun2"))
  }

  private val ichimokuSql =
    s"""WITH $barsCtes,
      |lined AS (
      |  SELECT company_id, day, close_c,
      |         row_number() OVER wd AS rn,
      |         max(high_c) OVER (wd ROWS BETWEEN 8 PRECEDING AND CURRENT ROW)
      |           + min(low_c) OVER (wd ROWS BETWEEN 8 PRECEDING AND CURRENT ROW) AS tenkan2,
      |         max(high_c) OVER (wd ROWS BETWEEN 25 PRECEDING AND CURRENT ROW)
      |           + min(low_c) OVER (wd ROWS BETWEEN 25 PRECEDING AND CURRENT ROW) AS kijun2,
      |         max(high_c) OVER (wd ROWS BETWEEN 51 PRECEDING AND CURRENT ROW)
      |           + min(low_c) OVER (wd ROWS BETWEEN 51 PRECEDING AND CURRENT ROW) AS senb2
      |  FROM bars
      |  WINDOW wd AS (PARTITION BY company_id ORDER BY day)),
      |disp AS (
      |  SELECT company_id, day, close_c, rn, tenkan2, kijun2,
      |         lag(tenkan2 + kijun2, 26) OVER wd AS cloud_a4,
      |         lag(senb2, 26) OVER wd AS cloud_b2,
      |         lag(tenkan2, 1) OVER wd AS prev_t2,
      |         lag(kijun2, 1) OVER wd AS prev_k2
      |  FROM lined
      |  WINDOW wd AS (PARTITION BY company_id ORDER BY day))
      |SELECT company_id,
      |       CAST(count(*) AS BIGINT) AS n_days,
      |       CAST(sum(CASE WHEN close_c * 4 > greatest(cloud_a4, cloud_b2 * 2)
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_above_cloud,
      |       CAST(sum(CASE WHEN close_c * 4 < least(cloud_a4, cloud_b2 * 2)
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_below_cloud,
      |       CAST(sum(CASE WHEN prev_t2 <= prev_k2 AND tenkan2 > kijun2
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_tk_cross_up,
      |       CAST(max(CASE WHEN rd = 1 THEN tenkan2 END) AS BIGINT) AS last_tenkan2,
      |       CAST(max(CASE WHEN rd = 1 THEN kijun2 END) AS BIGINT) AS last_kijun2
      |FROM (SELECT *, row_number() OVER (PARTITION BY company_id ORDER BY day DESC) AS rd
      |      FROM disp WHERE rn >= ${52 + 26})
      |GROUP BY 1""".stripMargin

  override val all: Seq[Q] = Seq(
    Q("ind_ichimoku", ichimoku, Some(ichimokuSql)),
    Q("ind_var_es", varEs, Some(varEsSql)),
    Q("ind_candle_patterns", candlePatterns, Some(candlePatternsSql)),
    Q("ind_obv", obv, Some(obvSql)),
    Q("ind_bollinger", bollinger, Some(bollingerSql)),
    Q("ind_rsi", rsi, Some(rsiSql)),
    Q("ind_macd", macd, Some(macdSql)),
    Q("ind_atr", atr, Some(atrSql)),
    Q("ind_stochastic", stochastic, Some(stochasticSql)),
    Q("ind_beta", beta, Some(betaSql)),
    Q("ind_sharpe", sharpe, Some(sharpeSql)),
    Q("ind_event_study", eventStudy, Some(eventStudySql)),
    Q("ind_pairs_spread", pairsSpread, Some(pairsSpreadSql)),
    Q("ind_tca_slippage", tcaSlippage, Some(tcaSlippageSql)),
    Q("ind_amihud", amihud, Some(amihudSql)),
    Q("ind_momentum_factor", momentumFactor, Some(momentumFactorSql)),
    Q("ind_vol_regimes", volRegimes, Some(volRegimesSql)),
    Q("ind_vpin", vpin, Some(vpinSql)),
    Q("ind_rv_signature", rvSignature, Some(rvSignatureSql)),
    Q("ind_drawdown", drawdownDuration, Some(drawdownDurationSql)),
    Q("ind_roll_spread", rollSpread, Some(rollSpreadSql)),
    Q("ind_tick_rule", tickRule, Some(tickRuleSql)),
    Q("ind_kyle_lambda", kyleLambda, Some(kyleLambdaSql)))
}
